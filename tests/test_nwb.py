"""NWB (HDF5) adapter seam: full read path when h5py is present
(fixture mirrors /root/reference/scripts/generate_test_nwb.py — a 2-D
samples×channels ElectricalSeries under /acquisition), documented
NotImplementedError when absent."""

from __future__ import annotations

import numpy as np
import pytest

from processor_post_timeseries_spark.sources import nwb


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-nwb", master="local[4]")


def test_absent_h5py_raises_documented_error(spark, tmp_path):
    if nwb.h5py is not None:
        pytest.skip("h5py installed — absence path not reachable")
    with pytest.raises(NotImplementedError, match="h5py"):
        nwb.nwb_series_info(str(tmp_path / "x.nwb"))
    with pytest.raises(NotImplementedError, match="h5py"):
        nwb.read_nwb_chunks(spark, str(tmp_path / "x.nwb"))


@pytest.fixture()
def nwb_file(tmp_path):
    h5py = pytest.importorskip("h5py")
    path = str(tmp_path / "fixture.nwb")
    n, c, rate = 1000, 2, 250.0
    t = np.arange(n) / rate
    data = np.column_stack(
        [100.0 * np.sin(2 * np.pi * 10.0 * t), 150.0 * np.cos(2 * np.pi * 25.0 * t)]
    )
    with h5py.File(path, "w") as f:
        grp = f.create_group("acquisition/ElectricalSeries")
        d = grp.create_dataset("data", data=data)
        # unit 'uv' = identity scaling: these tests assert raw passthrough
        # (the reference's default unit is 'volts' -> x1e6)
        d.attrs["unit"] = "uv"
        st = grp.create_dataset("starting_time", data=0.0)
        st.attrs["rate"] = rate
        grp.create_dataset("timestamps", data=t)
    return path, n, c, rate, data


def test_info_and_distributed_chunk_scan(spark, nwb_file):
    path, n, c, rate, data = nwb_file
    info = nwb.nwb_series_info(path)
    assert (info["n_samples"], info["n_channels"], info["rate_hz"]) == (n, c, rate)
    assert info["has_explicit_timestamps"]

    chunks = nwb.read_nwb_chunks(spark, path, samples_per_task=300).collect()
    # 2 channels x ceil(1000/300)=4 slices
    assert len(chunks) == 8
    ch0 = sorted((r for r in chunks if r["doc_id"] == "ch-00000"), key=lambda r: r["start_pos"])
    rebuilt = np.concatenate([np.asarray(r["values"]) for r in ch0])
    np.testing.assert_allclose(rebuilt, data[:, 0])
    # explicit timestamps ride along in µs
    assert ch0[0]["ts_us"][1] == round(1_000_000 / rate)


def test_reference_scaling_and_session_start(spark, tmp_path):
    """Reference parity (reader.py:246-271, :39/:118/:136): values are
    (raw * conversion * channel_conversion[ch] + offset) * unit->uV and
    timestamps get session_start_time added before the us conversion."""
    h5py = pytest.importorskip("h5py")
    from datetime import datetime, timezone

    path = str(tmp_path / "scaled.nwb")
    n, rate = 200, 100.0
    t = np.arange(n) / rate
    raw = np.column_stack([np.arange(n, dtype="float64"), np.arange(n, dtype="float64") * -1.0])
    conversion, offset, chconv = 0.5e-6, 0.001, [1.0, 2.0]
    start_iso = "2020-01-01T00:00:00+00:00"
    with h5py.File(path, "w") as f:
        f.create_dataset("session_start_time", data=start_iso)
        grp = f.create_group("acquisition/ElectricalSeries")
        d = grp.create_dataset("data", data=raw)
        d.attrs["conversion"] = conversion
        d.attrs["offset"] = offset
        d.attrs["unit"] = "volts"
        grp.create_dataset("channel_conversion", data=chconv)
        st = grp.create_dataset("starting_time", data=0.0)
        st.attrs["rate"] = rate
        grp.create_dataset("timestamps", data=t)

    info = nwb.nwb_series_info(path)
    sst = datetime.fromisoformat(start_iso).timestamp()
    assert info["has_channel_conversion"] and info["unit"] == "volts"
    assert info["session_start_secs"] == sst
    assert sst == datetime(2020, 1, 1, tzinfo=timezone.utc).timestamp()

    chunks = nwb.read_nwb_chunks(spark, path, samples_per_task=64).collect()
    for ch in (0, 1):
        rows = sorted(
            (r for r in chunks if r["doc_id"] == f"ch-{ch:05d}"),
            key=lambda r: r["start_pos"],
        )
        got = np.concatenate([np.asarray(r["values"]) for r in rows])
        want = (raw[:, ch] * conversion * chconv[ch] + offset) * 1e6
        np.testing.assert_allclose(got, want, rtol=1e-12)
        got_ts = np.concatenate([np.asarray(r["ts_us"]) for r in rows])
        want_ts = np.round((t + sst) * 1e6).astype(np.int64)
        np.testing.assert_array_equal(got_ts, want_ts)


def test_chunks_reassemble_to_sequences(spark, nwb_file):
    path, n, c, _rate, data = nwb_file
    chunks = nwb.read_nwb_chunks(spark, path, samples_per_task=256)
    seqs = {r["doc_id"]: r for r in nwb.nwb_chunks_to_sequences(chunks, scale=10.0).collect()}
    assert set(seqs) == {"ch-00000", "ch-00001"}
    assert seqs["ch-00000"]["n_tok"] == n
    expect = np.round(data[:, 1] * 10.0).astype(np.int64)
    got = np.asarray(seqs["ch-00001"]["tokens"], dtype=np.int64)
    # rounding convention: Spark round() is HALF_UP on .5 while numpy is
    # HALF_EVEN; sine samples land on exact .5 essentially never, but
    # compare with tolerance 1 at the rare boundary to stay robust
    assert int(np.abs(got - expect).max()) <= 1


def test_chunks_to_sequences_carries_ts_in_start_pos_order(spark):
    # hand-built chunk rows, shuffled: ch-00000 has explicit timestamps,
    # ch-00001 is an implicit-rate series (ts_us NULL in every chunk)
    rows = [
        ("ch-00000", "f.nwb", 3, [3.0, 4.0], [3000, 4000]),
        ("ch-00001", "f.nwb", 2, [1.2], None),
        ("ch-00000", "f.nwb", 0, [0.0, 1.0, 2.0], [0, 1000, 2000]),
        ("ch-00001", "f.nwb", 0, [0.6, 0.8], None),
    ]
    chunks = spark.createDataFrame(rows, nwb.NWB_CHUNK_SCHEMA)
    seqs = {r["doc_id"]: r for r in nwb.nwb_chunks_to_sequences(chunks, scale=10.0).collect()}
    assert list(seqs["ch-00000"]["tokens"]) == [0, 10, 20, 30, 40]
    assert list(seqs["ch-00000"]["ts"]) == [0, 1000, 2000, 3000, 4000]
    assert seqs["ch-00000"]["n_tok"] == 5
    assert list(seqs["ch-00001"]["tokens"]) == [6, 8, 12]
    assert seqs["ch-00001"]["ts"] is None
