"""Registry view loading (contract.load_views) under session-config drift."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from processor_post_timeseries_spark.contract import TABLES, load_views

# hour()/to_date()/string casts read the session tz at query time, so
# they shift even though the views' own NTZ casts were resolved at load
Q = """SELECT event_id, unix_micros(ts) AS us, hour(ts) AS h, to_date(ts) AS d,
          CAST(ts AS STRING) AS s
   FROM events ORDER BY event_id"""


def _sf_dir(tmp_path):
    base = dt.datetime(2024, 3, 9, 22, 30)
    events = pa.table(
        {
            "event_id": pa.array(range(6), pa.int64()),
            "ts": pa.array([base + dt.timedelta(hours=3 * i) for i in range(6)], pa.timestamp("us")),
        }
    )
    for t in TABLES:
        table = events if t == "events" else pa.table({"id": pa.array([1], pa.int64())})
        pq.write_table(table, tmp_path / f"{t}.parquet")
    return str(tmp_path)


def test_cached_views_stay_utc_after_session_tz_change(spark, tmp_path):
    sf_dir = _sf_dir(tmp_path)
    try:
        load_views(spark, sf_dir)
        first = spark.sql(Q).collect()
        # a caller that moves the session tz between queries must not
        # shift the timestamps served through the view cache
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        load_views(spark, sf_dir)  # cache hit: same sf_dir
        second = spark.sql(Q).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert len(first) == 6 and first == second
    assert first[0]["h"] == 22 and str(first[1]["d"]) == "2024-03-10"


def test_views_reload_after_files_rewritten_in_place(spark, tmp_path):
    sf_dir = _sf_dir(tmp_path)
    load_views(spark, sf_dir)
    assert spark.table("events").count() == 6
    # regenerate events under the same sf_dir, bigger and in many row
    # groups: a view still planned over the old file's listing would
    # split it by the old length and silently drop the row groups past it
    ts = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(100, 300), pa.int64()),
                "ts": pa.array([ts] * 200, pa.timestamp("us")),
            }
        ),
        tmp_path / "events.parquet",
        row_group_size=10,
    )
    load_views(spark, sf_dir)
    rows = spark.sql("SELECT event_id FROM events ORDER BY 1").collect()
    assert [r[0] for r in rows] == list(range(100, 300))


def test_scratch_dir_falls_back_when_shm_is_small(monkeypatch, tmp_path):
    """A /dev/shm without room for the scratch artifacts (Docker's 64 MiB
    default) sends them to the platform temp dir instead."""
    import shutil
    import tempfile

    from processor_post_timeseries_spark import contract

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    usage = shutil.disk_usage(str(tmp_path))

    def small_shm(path):
        return usage._replace(free=64 << 20) if str(path) == "/dev/shm" else usage

    monkeypatch.setattr(shutil, "disk_usage", small_shm)
    p = contract._scratch_dir("fallback_probe", "/some/sf")
    assert p.startswith(str(tmp_path / "pts_contract_scratch"))
    assert os.path.isdir(p)

    def no_shm(path):
        raise FileNotFoundError(path)

    monkeypatch.setattr(shutil, "disk_usage", no_shm)
    assert contract._scratch_root() == str(tmp_path)

    monkeypatch.setattr(shutil, "disk_usage", lambda path: usage._replace(free=8 << 30))
    assert contract._scratch_root() == "/dev/shm"
