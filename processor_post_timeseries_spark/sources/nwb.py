"""NWB (HDF5) ingestion seam — the reference's front-door input
(``/root/reference/processor/main.py:28-34`` opens an ``.nwb`` file;
``reader.py:227-274`` wraps its acquisition ElectricalSeries).

Optional-dependency adapter: ``h5py`` is NOT installed in this sandbox
(verified), so every entry point degrades to the same documented
``NotImplementedError`` convention ``functions/multimodal.py`` uses,
and the unit tests skip cleanly. On a real cluster with ``h5py``
available the reader is fully distributed:

* the DRIVER opens the file once, only to enumerate shape — channels,
  sample count, rate, explicit-timestamps presence (an O(bytes-of-
  metadata) read, never data);
* a plan DataFrame of ``(channel_idx, start, end)`` slice tasks is
  built (``samples_per_task`` rows each) and ``mapInPandas`` workers
  each open the file THEMSELVES and read only their slice — HDF5
  supports unlimited concurrent readers, so scan parallelism =
  slices, exactly how a 100 TB NWB store should be chunked;
* the scan emits REFERENCE-SCALED values — per-channel affine
  ``(raw·conversion·channel_conversion+offset)·unit->µV``
  (``reader.py:246-271``) — and explicit ``timestamps`` (NWB seconds)
  ride along per-slice with ``session_start_time`` added before the µs
  conversion (``reader.py:39,118,136``), and ``nwb_chunks_to_sequences``
  carries them as the ``ts`` column ``operators/irregular.py`` reads;
  implicit-rate series synthesize nothing (``ts`` is NULL) —
  downstream operators use the implicit-index model (SURVEY §1.3).

The emitted chunk schema is the engine's sequence shape with
``start_pos`` offsets, so ``operators/incremental.py`` can fold chunks
into tiers without ever holding a whole channel in one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

try:  # optional dependency — see module docstring
    import h5py  # type: ignore
except ImportError:  # pragma: no cover - exercised when h5py is absent
    h5py = None

NWB_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),  # "ch-{idx:05d}"
        T.StructField("source", T.StringType(), False),  # file path
        T.StructField("start_pos", T.LongType(), False),  # 0-based sample offset
        T.StructField("values", T.ArrayType(T.DoubleType()), False),
        T.StructField("ts_us", T.ArrayType(T.LongType()), True),  # explicit ts only
    ]
)

_ERR = (
    "NWB ingestion requires h5py, which is not installed in this "
    "environment; install the 'nwb' extra on a real cluster"
)

# volts -> microvolts conversion the reference fixes its channel unit to
# (reference/processor/reader.py:11-18, applied at :271)
UNIT_TO_UV = {
    "volts": 1e6,
    "v": 1e6,
    "millivolts": 1e3,
    "mv": 1e3,
    "microvolts": 1.0,
    "uv": 1.0,
}


def _require_h5py() -> None:
    if h5py is None:
        raise NotImplementedError(_ERR)


def _find_series(f):
    """First acquisition group holding a 2-D ``data`` dataset (the NWB
    ElectricalSeries layout: samples × channels, ``reader.py:41``)."""
    acq = f.get("acquisition")
    if acq is None:
        raise ValueError("no /acquisition group — not an NWB file?")
    for name, grp in acq.items():
        if hasattr(grp, "get") and grp.get("data") is not None:
            return name, grp
    raise ValueError("no ElectricalSeries-like group under /acquisition")


def _series_scaling(f, grp) -> dict:
    """Scaling + session-time metadata the reference applies to every
    chunk (``reader.py:246-271`` affine, ``reader.py:39,118,136``
    session-start offset): conversion, per-channel conversion, offset,
    unit->µV factor, and session_start_time seconds (NWB 2.x stores it
    as an ISO-8601 root dataset; absent -> 0.0)."""
    import numpy as np

    data = grp["data"]
    conversion = float(data.attrs.get("conversion", 1.0))
    offset = float(data.attrs.get("offset", 0.0))
    unit = data.attrs.get("unit", "volts")
    if isinstance(unit, bytes):
        unit = unit.decode()
    unit = str(unit).lower()
    if unit not in UNIT_TO_UV:
        raise ValueError(
            f"Unknown unit {unit!r} - expected one of: {list(UNIT_TO_UV)}"
        )
    chconv = grp.get("channel_conversion")
    chconv_arr = (
        np.asarray(chconv[:], dtype="float64") if chconv is not None else None
    )
    session_start_secs = 0.0
    sst = f.get("session_start_time")
    if sst is not None:
        from datetime import datetime, timezone

        v = sst[()]
        if isinstance(v, bytes):
            v = v.decode()
        dt = datetime.fromisoformat(str(v))
        if dt.tzinfo is None:
            # a naive ISO string must not mean "worker-local time": the
            # reference gets a tz-aware datetime from pynwb, so its
            # .timestamp() is machine-independent — pin naive to UTC so
            # emitted µs timestamps are too
            dt = dt.replace(tzinfo=timezone.utc)
        session_start_secs = dt.timestamp()
    return {
        "conversion": conversion,
        "offset": offset,
        "unit": unit,
        "unit_to_uv": float(UNIT_TO_UV[unit]),
        "channel_conversion": chconv_arr,
        "session_start_secs": session_start_secs,
    }


def nwb_series_info(path: str) -> dict:
    """Driver-side metadata probe (no sample data read): shape, rate,
    explicit-timestamp presence, plus the scaling/session metadata the
    chunk scan applies. Mirrors the reference reader's constructor
    checks (``reader.py:36-58``)."""
    _require_h5py()
    with h5py.File(path, "r") as f:
        name, grp = _find_series(f)
        data = grp["data"]
        n_samples, n_channels = data.shape
        has_ts = grp.get("timestamps") is not None
        rate = None
        st = grp.get("starting_time")
        if st is not None and "rate" in st.attrs:
            rate = float(st.attrs["rate"])
        if rate is None and "rate" in data.attrs:
            rate = float(data.attrs["rate"])
        scaling = _series_scaling(f, grp)
        return {
            "series": name,
            "n_samples": int(n_samples),
            "n_channels": int(n_channels),
            "rate_hz": rate,
            "has_explicit_timestamps": bool(has_ts),
            "conversion": scaling["conversion"],
            "offset": scaling["offset"],
            "unit": scaling["unit"],
            "has_channel_conversion": scaling["channel_conversion"] is not None,
            "session_start_secs": scaling["session_start_secs"],
        }


def read_nwb_chunks(
    spark: SparkSession,
    path: str,
    samples_per_task: int = 1 << 20,
) -> DataFrame:
    """Distributed NWB scan -> chunk rows (NWB_CHUNK_SCHEMA). Each task
    opens the file independently and slices ``[start, end)`` of its
    channel column, emitting REFERENCE-SCALED values: ``(raw ·
    conversion · channel_conversion[ch] + offset) · unit->µV``
    (``reader.py:246-271``). Explicit timestamps ride along with the
    session-start offset added, in µs: ``(ts_secs +
    session_start_secs) · 1e6`` (``reader.py:118,136``)."""
    _require_h5py()
    import pandas as pd

    info = nwb_series_info(path)
    n, c = info["n_samples"], info["n_channels"]
    plan_rows = [
        (ch, start, min(start + samples_per_task, n))
        for ch in range(c)
        for start in range(0, n, samples_per_task)
    ]
    plan = spark.createDataFrame(plan_rows, "ch int, start long, end long")
    # one slice per task: partition count = slice count so every worker
    # owns whole slices (HDF5 readers are per-process; no shared handles)
    plan = plan.repartition(max(len(plan_rows), 1))

    def scan(batches):
        with h5py.File(path, "r") as f:
            _name, grp = _find_series(f)
            data = grp["data"]
            tsd = grp.get("timestamps")
            sc = _series_scaling(f, grp)
            uv, off, sst = sc["unit_to_uv"], sc["offset"], sc["session_start_secs"]
            chconv = sc["channel_conversion"]
            for pdf in batches:
                out = []
                for ch, start, end in zip(pdf["ch"], pdf["start"], pdf["end"]):
                    scale = sc["conversion"] * (
                        float(chconv[ch]) if chconv is not None else 1.0
                    )
                    vals = (
                        data[start:end, ch].astype("float64") * scale + off
                    ) * uv
                    ts = None
                    if tsd is not None:
                        ts = (
                            (tsd[start:end].astype("float64") + sst) * 1_000_000.0
                        ).round().astype("int64")
                    out.append(
                        (
                            f"ch-{ch:05d}",
                            path,
                            int(start),
                            vals,
                            ts,
                        )
                    )
                yield pd.DataFrame(
                    out, columns=[f.name for f in NWB_CHUNK_SCHEMA.fields]
                )

    return plan.mapInPandas(scan, schema=NWB_CHUNK_SCHEMA)


def nwb_chunks_to_sequences(chunks: DataFrame, scale: float = 1.0) -> DataFrame:
    """Chunk rows -> input_hint sequences (doc_id, tokens:array<int>,
    ts:array<long>, n_tok, source). ``scale`` is purely the TOKENIZATION
    quantization (µV -> int32 token grid) — the reference's physical
    scaling (conversion/channel_conversion/offset/unit) is already
    applied by the scan kernel, per channel. Chunks reassemble in
    ``start_pos`` order — the same ordered-assembly contract as
    ``operators/blocks.from_blocks``; ``ts`` is the explicit µs
    timestamps in the same order (the input of ``operators/irregular.py``),
    NULL for an implicit-rate series. One shuffle on doc_id."""
    from pyspark.sql import functions as F

    toks = F.transform(
        F.col("values"), lambda v: F.round(v * F.lit(scale)).cast("int")
    )
    chunk = F.struct("start_pos", toks.alias("tokens"), "ts_us")
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.sort_array(F.collect_list(chunk)).alias("_c"),
        )
        # flatten is NULL when any chunk's ts_us is NULL
        .select(
            "doc_id",
            F.flatten("_c.tokens").alias("tokens"),
            F.flatten("_c.ts_us").alias("ts"),
            "source",
        )
        .select("doc_id", "tokens", "ts", F.size("tokens").alias("n_tok"), "source")
    )
