"""Driver-contract queries: one per implemented operator (SURVEY.md §2),
each paired with an ANSI-SQL oracle DuckDB runs on the same parquet.

Determinism policy (so order-insensitive value hashes match exactly):
* times -> integer epoch micros (``unix_micros`` / ``epoch_us``), never
  raw timestamps (tz-naive vs tz-aware hashing hazards);
* float aggregates -> exact DECIMAL accumulation, then ``round(…, N)``
  cast to DOUBLE (sum order can't perturb a decimal);
* integer sums cast to BIGINT (DuckDB sums ints into HUGEINT);
* integer division via a dialect placeholder (Spark ``div`` / DuckDB
  ``//``) — never CAST(double AS BIGINT), which truncates on Spark but
  ROUNDS on DuckDB;
* regex char classes written ``[0-9]`` (single-quote escaping differs);
* forward-fill via the portable gaps-and-islands idiom (IGNORE NULLS
  window syntax diverges between the engines);
* ties in window orders broken by a unique id column;
* every computed column aliased identically on both sides.

Every query is registered through one helper, ``_query`` — the only
writer of ``_REGISTRY`` (name -> (run, oracle_sql | None)):

* ``@_query(name, oracle)`` over ``def _name(spark, sf_dir)``: the body
  builds the Spark side from the views;
* ``_query(name, sql=template)``: one SQL text for both engines, dialect
  placeholders substituted per engine — a single source of truth kills
  semantic drift (``oracle`` overrides the DuckDB side where the
  dialects cannot share a text).

The registered function calls ``load_views`` once, then the body; the
oracle is rendered through ``_DUCK_DIALECT`` (a no-op on oracles already
written for DuckDB). ``queries()`` / ``oracle_sql()`` are the public view.
A ``None`` oracle marks a non-SQL-expressible op (the correctness gate
then records a weaker rows-only check): only
``dedup_minhash_lsh64_parity`` has one (DuckDB has no xxhash64). Even
the iterative IVF index and the bit-level simhash are replayed exactly in
DuckDB (deterministic md5 seeds + quantized centroids make it possible).
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .functions import codec, legacy, multimodal, text
from .operators import (
    anomaly,
    asof,
    blocks,
    bpe,
    decontam,
    dedup,
    downsample,
    gapfill,
    heavy_hitters,
    incremental,
    interval,
    irregular,
    ordering,
    packing,
    quantiles,
    resample,
    rollup,
    sampling,
    segments,
    similarity,
    spans,
    trend,
)
from .plans import curation, legacy_export, legacy_import, lineage, pipeline, retention
from .sources import synth

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _table_stat(path: str) -> tuple[int, int]:
    """(total bytes, newest mtime_ns) of one table path: a parquet file
    or a directory of part files; (0, 0) when it cannot be read."""
    try:
        if os.path.isdir(path):
            stats = [
                os.stat(os.path.join(r, f))
                for r, _d, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            ]
        else:
            stats = [os.stat(path)]
    except OSError:
        return 0, 0
    return sum(st.st_size for st in stats), max((st.st_mtime_ns for st in stats), default=0)


# tables whose queries run heavy PER-ROW compute before any shuffle
# (text explodes / hash chains / Arrow-numpy kernels) — these gain 2-10x
# from spreading a single-split scan across cores. Tables whose queries
# immediately aggregate, window, or re-bucket by their own key
# (lineitem, orders, events, embeddings, …) reduce map-side or
# re-shuffle anyway; an extra round-robin exchange of full rows only
# slows them (measured at sf0.1: q1 +0.6 s, events window suite
# 8.1 s -> 11.4 s, ann_ivf_topk 1.46 s -> 2.39 s with a blanket
# repartition), so they are left to the scan.
_SPREAD_TABLES = frozenset({"documents"})


def load_views(spark: SparkSession, sf_dir: str) -> None:
    # Idempotent per (session, sf_dir, table files): a bench pass runs
    # every query back-to-back and each one loads the views — re-reading
    # 10 parquet footers and re-registering 10 views costs ~0.2-0.5 s of
    # pure driver overhead PER QUERY. Nothing else registers these view
    # names (grep: this is the only createOrReplaceTempView site), so
    # skipping the re-registration cannot change any result; pointing
    # the same session at a DIFFERENT sf_dir still reloads, and so do
    # files regenerated in place: the key carries the tables' total
    # bytes and newest mtime, or the views would keep serving plans over
    # the old files.
    # the caller supplies its own SparkSession — pin the tz so the
    # NTZ -> timestamp cast below is UTC wall-clock (matching DuckDB's
    # naive epoch_us) regardless of that session's defaults. Pinned on
    # every call, cache hit included: the queries' own timestamp
    # functions (hour, to_date, casts to string) read the session tz at
    # query time, so a caller that changes the tz between queries would
    # otherwise shift them.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    paths = {t: f"{sf_dir}/{t}.parquet" for t in TABLES}
    stats = {t: _table_stat(p) for t, p in paths.items()}
    key = "|".join(
        (sf_dir, str(sum(b for b, _m in stats.values())), str(max(m for _b, m in stats.values())))
    )
    try:
        if spark.conf.get("spark.pts.loadedViews") == key:
            return
    except Exception:
        pass
    par = max(spark.sparkContext.defaultParallelism, 1)
    try:  # "134217728b" -> bytes; unparsed forms ("128MB") -> default
        max_split = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes").lower().rstrip("b")
        )
    except Exception:
        max_split = 128 << 20
    for t, path in paths.items():
        df = spark.read.parquet(path)
        # parquet timestamps land as TIMESTAMP_NTZ in Spark 4; cast to
        # session-UTC timestamps so unix_micros() == DuckDB's epoch_us()
        for f in df.schema.fields:
            if isinstance(f.dataType, T.TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        # a single small parquet file scans as ONE task, serializing all
        # narrow compute (explodes, hash chains, Arrow kernels) on one
        # core while the other cores idle. Spread any non-dim table whose
        # scan would use < defaultParallelism splits; the round-robin
        # exchange moves only a few MB and is partition-invariant (every
        # registry query is certified order-insensitive). Tables big
        # enough to split on their own are left to the scan.
        sz = stats[t][0]
        est_splits = max(1, -(-sz // max_split))
        # >128 KiB: sf0.1's documents (0.6 MB compressed) carries ~2.4M
        # chars of text through hash/explode kernels — well worth
        # spreading; truly tiny slices (sf0.01 and below) stay put
        if t in _SPREAD_TABLES and (128 << 10) < sz and est_splits < par:
            df = df.repartition(par)
        df.createOrReplaceTempView(t)
    spark.conf.set("spark.pts.loadedViews", key)


_SPARK_DIALECT = {
    "{EPOCH_US}": "unix_micros",
    "{IDIV}": " div ",
    "{SEQ_GRID}": "explode(sequence(0, 43200))",
    "{DOW}": "(extract(DAYOFWEEK FROM ts) - 1)",  # 1-7 Sun-start -> 0-6
}
_DUCK_DIALECT = {
    "{EPOCH_US}": "epoch_us",
    "{IDIV}": "//",
    "{SEQ_GRID}": "unnest(range(0, 43201))",
    "{DOW}": "extract(dow FROM ts)",  # already 0-6 Sun-start
}


def _render(template: str, dialect: dict[str, str]) -> str:
    out = template
    for k, v in dialect.items():
        out = out.replace(k, v)
    return out


_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _query(name: str, oracle: str | None = None, *, sql: str | None = None):
    """Register query ``name`` (see the module docstring). Used as a
    decorator it returns the body unchanged; with ``sql`` it registers
    the shared text at once. Registering a name twice raises."""
    if name in _REGISTRY:
        raise ValueError(f"registry query {name!r} registered twice")
    oracle = sql if oracle is None else oracle
    duck_sql = None if oracle is None else _render(oracle, _DUCK_DIALECT)

    def register(body):
        def load_and_run(spark: SparkSession, sf_dir: str) -> DataFrame:
            load_views(spark, sf_dir)
            return body(spark, sf_dir)

        _REGISTRY[name] = (load_and_run, duck_sql)
        return body

    if sql is not None:
        spark_sql = _render(sql, _SPARK_DIALECT)
        return register(lambda spark, _sf_dir: spark.sql(spark_sql))
    return register


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _s) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: s for name, (_fn, s) in _REGISTRY.items() if s is not None}


# --------------------------------------------------------------------------
# W1 — sessionization: gap > threshold splits a stream into segments.
# Reference semantics: /root/reference/processor/reader.py:181-225
# (threshold 2×(1/rate) at :199). 30-minute gap on the events stream.
# --------------------------------------------------------------------------

_query("w1_sessionize_events", sql="""
WITH e AS (
  SELECT user_id, event_id, {EPOCH_US}(ts) AS ts_us FROM events
), d AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                   > 1800000000 THEN 1 ELSE 0 END AS brk
  FROM e
), s AS (
  SELECT user_id, ts_us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
  FROM d
)
SELECT user_id, CAST(seg_id AS BIGINT) AS seg_id,
       MIN(ts_us) AS seg_start_us, MAX(ts_us) AS seg_end_us,
       COUNT(*) AS n_samples
FROM s GROUP BY user_id, seg_id
""")

_query("w1_gap_count", sql="""
WITH e AS (
  SELECT user_id, event_id, {EPOCH_US}(ts) AS ts_us FROM events
), d AS (
  SELECT user_id,
         ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS delta
  FROM e
)
SELECT user_id,
       CAST(SUM(CASE WHEN delta > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
       MAX(delta) AS max_gap_us
FROM d WHERE delta IS NOT NULL
GROUP BY user_id
""")

# --------------------------------------------------------------------------
# A1 — channel extents (reference reader.channels min/max,
# /root/reference/processor/reader.py:146-175)
# --------------------------------------------------------------------------

_query("a1_channel_extents", sql="""
SELECT user_id,
       MIN({EPOCH_US}(ts)) AS start_us,
       MAX({EPOCH_US}(ts)) AS end_us,
       COUNT(*) AS n_samples,
       MIN(value) AS min_v,
       MAX(value) AS max_v
FROM events GROUP BY user_id
""")

# --------------------------------------------------------------------------
# A2 — sampling-rate inference: median delta of the first 10 samples
# (reference /root/reference/processor/utils.py:6-13, reader.py:85-106)
# --------------------------------------------------------------------------

_query("a2_rate_inference", sql="""
WITH first10 AS (
  SELECT user_id, ts_us FROM (
    SELECT user_id, {EPOCH_US}(ts) AS ts_us, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
  ) x WHERE rn <= 10
), deltas AS (
  SELECT user_id,
         ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS d
  FROM first10
)
SELECT user_id,
       CAST(median(d) AS DOUBLE) AS median_delta_us,
       CAST(ROUND(1e6 / NULLIF(median(d), 0), 9) AS DOUBLE) AS inferred_rate_hz
FROM deltas WHERE d IS NOT NULL GROUP BY user_id
""")

# --------------------------------------------------------------------------
# W5/A6 — tumbling tier aggregates + cascade (north-rule caggs).
# Cascade oracle computes the 1h tier DIRECT from raw: proves cascade
# composition == direct aggregation.
# --------------------------------------------------------------------------

_query("w5_tumbling_1m", sql="""
SELECT event_type,
       {EPOCH_US}(ts) {IDIV} 60000000 AS win_1m,
       MIN(value) AS min_v, MAX(value) AS max_v, COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_v
FROM events
GROUP BY event_type, {EPOCH_US}(ts) {IDIV} 60000000
""")

_W5_CASCADE_1H = """
WITH t1m AS (
  SELECT event_type,
         {EPOCH_US}(ts) {IDIV} 60000000 AS win_1m,
         MIN(value) AS min_v, MAX(value) AS max_v, COUNT(*) AS cnt,
         SUM(CAST(value AS DECIMAL(18,6))) AS sum_d
  FROM events
  GROUP BY event_type, {EPOCH_US}(ts) {IDIV} 60000000
)
SELECT event_type, win_1m {IDIV} 60 AS win_1h,
       MIN(min_v) AS min_v, MAX(max_v) AS max_v,
       CAST(SUM(cnt) AS BIGINT) AS cnt,
       CAST(ROUND(SUM(sum_d), 6) AS DOUBLE) AS sum_v,
       CAST(ROUND(SUM(sum_d) / SUM(cnt), 6) AS DOUBLE) AS mean_v
FROM t1m GROUP BY event_type, win_1m {IDIV} 60
"""

_W5_CASCADE_1H_ORACLE = """
SELECT event_type,
       epoch_us(ts) // 3600000000 AS win_1h,
       MIN(value) AS min_v, MAX(value) AS max_v,
       COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_v,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) / COUNT(*), 6) AS DOUBLE) AS mean_v
FROM events
GROUP BY event_type, epoch_us(ts) // 3600000000
"""

_query("w5_cascade_1h_from_1m", _W5_CASCADE_1H_ORACLE, sql=_W5_CASCADE_1H)

# --------------------------------------------------------------------------
# W2 — gap-fill onto a 1-minute grid with forward fill (north rule; the
# reference only detects gaps — this is the required inverse). Forward
# fill via gaps-and-islands (portable; IGNORE NULLS syntax diverges).
# --------------------------------------------------------------------------

_query("w2_gapfill_grid", sql="""
WITH b AS (
  SELECT user_id,
         MIN({EPOCH_US}(ts) {IDIV} 60000000) AS w0,
         MAX({EPOCH_US}(ts) {IDIV} 60000000) AS w1
  FROM events WHERE user_id < 30 GROUP BY user_id
), grid AS (
  SELECT user_id, w0 + g.win AS win
  FROM b JOIN (SELECT {SEQ_GRID} AS win) g ON g.win <= w1 - w0
), obs AS (
  SELECT user_id, {EPOCH_US}(ts) {IDIV} 60000000 AS win,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS v
  FROM events WHERE user_id < 30 GROUP BY user_id, {EPOCH_US}(ts) {IDIV} 60000000
), joined AS (
  SELECT g.user_id, g.win, o.v,
         COUNT(o.v) OVER (PARTITION BY g.user_id ORDER BY g.win
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.win = o.win
), filled AS (
  SELECT user_id, win, v,
         MAX(v) OVER (PARTITION BY user_id, grp) AS v_filled
  FROM joined
)
SELECT user_id,
       COUNT(*) AS n_grid,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(ROUND(SUM(CAST(COALESCE(v_filled, 0) AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_filled
FROM filled GROUP BY user_id
""")

# --------------------------------------------------------------------------
# W3/W4 — fixed-size chunking with per-chunk frame bounds
# (reference /root/reference/processor/writer.py:46-51)
# --------------------------------------------------------------------------

_query("w3_fixed_blocks", sql="""
WITH numbered AS (
  SELECT user_id, event_id, {EPOCH_US}(ts) AS ts_us,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
  FROM events
)
SELECT user_id, rn {IDIV} 25 AS block_no,
       MIN(ts_us) AS start_us, MAX(ts_us) AS end_us, COUNT(*) AS n
FROM numbered GROUP BY user_id, rn {IDIV} 25
""")

# --------------------------------------------------------------------------
# P1/P2 — affine scaling + unit normalization
# (reference /root/reference/processor/reader.py:246-271: data * conversion
# * channel_conversion + offset; unit map lookup at :11-18)
# --------------------------------------------------------------------------

_query("p1_affine_scale", sql="""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(18,4))
                      * CAST(1 + l_tax AS DECIMAL(18,4))), 4) AS DOUBLE) AS charged
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")

_query("p2_unit_normalization", sql="""
SELECT event_type,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))
                      * CASE lower(event_type)
                          WHEN 'click' THEN 1000000
                          WHEN 'view' THEN 1000
                          ELSE 1 END), 6) AS DOUBLE) AS normalized_uv
FROM events GROUP BY event_type
""")

# --------------------------------------------------------------------------
# P4 — timestamp arithmetic (µs ints at boundaries,
# reference /root/reference/processor/reader.py:166-171)
# --------------------------------------------------------------------------

_query("p4_timestamp_math", sql="""
SELECT event_id,
       {EPOCH_US}(ts) AS ts_us,
       {EPOCH_US}(ts) {IDIV} 1000000 AS ts_sec,
       ({EPOCH_US}(ts) {IDIV} 1000000) * 1000000 AS ts_us_trunc
FROM events WHERE event_id % 97 = 0
""")

# --------------------------------------------------------------------------
# P7/P8/P11 — key formatting, regex extract, string normalize
# (reference /root/reference/processor/writer.py:90-95, importer.py:70,99,
# timeseries_channel.py:26-33)
# --------------------------------------------------------------------------

_query("p7_key_format", sql="""
SELECT user_id,
       printf('channel-%05d_%d_%d', user_id, MIN({EPOCH_US}(ts)), MAX({EPOCH_US}(ts))) AS key
FROM events GROUP BY user_id
""")

_query("p8_regex_extract", sql="""
SELECT doc_id, regexp_extract(source, '([0-9]+)', 1) AS src_no
FROM documents
""")

_query("p11_string_normalize", sql="""
SELECT upper(trim(lang)) AS lang_norm, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY upper(trim(lang))
""")

# --------------------------------------------------------------------------
# P12 — JSON parse (reference JSON round-trip,
# /root/reference/processor/timeseries_channel.py:37-69)
# --------------------------------------------------------------------------

_P12_SPARK = """
SELECT event_type,
       CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
       MAX(CAST(get_json_object(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type
"""

_P12_DUCK = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type
"""

_query("p12_json_extract", _P12_DUCK, sql=_P12_SPARK)


# --------------------------------------------------------------------------
# F4/J1 — fuzzy tolerance theta-join: channel reconciliation analog
# (reference /root/reference/processor/importer.py:76-91 with ±2% rate
# band, /root/reference/processor/timeseries_channel.py:71-80)
# --------------------------------------------------------------------------

_query("j1_reconcile_theta", sql="""
SELECT n.n_name AS nation,
       COUNT(*) AS n_matched_pairs
FROM supplier s
JOIN customer c
  ON s.s_nationkey = c.c_nationkey
 AND c.c_acctbal <> 0
 AND abs(1 - s.s_acctbal / c.c_acctbal) < 0.02
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name
""")

_query("j1_create_set_anti", sql="""
SELECT c.c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")

_query("j2_key_bind_lookup", sql="""
SELECT p.p_brand,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_price
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""")

# --------------------------------------------------------------------------
# L1 — first-k sampling (reference limit-k prefixes,
# /root/reference/processor/utils.py:12, reader.py:85,104)
# --------------------------------------------------------------------------

_query("l1_first_k", sql="""
SELECT user_id, event_id, rn FROM (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) x WHERE rn <= 3
""")

# --------------------------------------------------------------------------
# Relational headliners (scan/filter/agg/join/sort/limit coverage)
# --------------------------------------------------------------------------

_query("q1_pricing_summary", sql="""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")

_query("q3_shipping_priority", sql="""
SELECT o.o_orderkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l.l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
       {EPOCH_US}(o.o_orderdate) AS orderdate_us
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""")


# ==========================================================================
# Batch 2 — training-data pipeline ops (dedup / similarity / text /
# multimodal) + engine-core parity via the char-code-token trick: tokens
# derived as ascii codes of documents.text let DuckDB reproduce the
# rollup/codec pipelines exactly.
# ==========================================================================

_DUCK_SHINGLES_CTE = """
words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM words WHERE len(w) >= 3
)
"""

# md5-family MinHash signature (16 hashes) and its 4 bands of 4 rows,
# replayed by every oracle that bands documents
_DUCK_MINHASH_MINS = ",\n         ".join(
    f"MIN(md5('{k}' || ':' || shingle)) AS h{k:02d}" for k in range(16)
)
_DUCK_MINHASH_BANDS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_no, md5({cols}) AS band_hash FROM sig".format(
        b=b, cols=" || '|' || ".join(f"h{b * 4 + i:02d}" for i in range(4))
    )
    for b in range(4)
)


@_query("dedup_exact", """
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
FROM documents GROUP BY md5(text)
""")
def _dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(spark.table("documents"))


@_query("dedup_ngram_jaccard", f"""
WITH {_DUCK_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
""")
def _dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(spark.table("documents"), threshold=0.5)


@_query("dedup_minhash_lsh", f"""
WITH {_DUCK_SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         {_DUCK_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
bands AS ({_DUCK_MINHASH_BANDS})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands_shared
FROM bands a JOIN bands b USING (band_no, band_hash)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""")
def _dedup_minhash_lsh(spark, sf_dir):
    # the oracle replays UNCAPPED banding, so disable the production
    # skew cap here — the certified semantics and the engine's must
    # be the same definition, not merely agree on friendly data.
    # hash_fn pinned to md5 (DuckDB-replayable); the xxh64 production
    # default is certified by dedup_minhash_lsh64_parity
    return dedup.lsh_candidate_pairs(
        spark.table("documents"),
        n_hashes=16,
        n_bands=4,
        max_bucket_size=None,
        hash_fn="md5",
    )


def _md5_byte(j: int) -> str:
    """DuckDB expression for byte j (0-based) of the hex md5 digest ``h``:
    the two hex digits at 2j+1, 2j+2."""
    hexd = "strpos('0123456789abcdef', substr(h, {p}, 1)) - 1"
    return f"(({hexd.format(p=2 * j + 1)}) * 16 + ({hexd.format(p=2 * j + 2)}))"


_SIMHASH_VOTES = ",\n         ".join(
    f"SUM(CASE WHEN ({_md5_byte(b // 8)} >> {b % 8}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)
_SIMHASH_PACKED = " + ".join(
    f"CASE WHEN v.v{b} > 0 THEN CAST({-(2**63) if b == 63 else 2**b} AS BIGINT) ELSE 0 END"
    for b in range(64)
)


@_query("dedup_simhash", f"""
WITH w AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE w <> ''
), fp AS (
  SELECT doc_id, md5(w) AS h FROM w
), v AS (
  SELECT doc_id,
         {_SIMHASH_VOTES}
  FROM fp GROUP BY doc_id
)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       COALESCE({_SIMHASH_PACKED}, 0) AS simhash
FROM documents d LEFT JOIN v ON v.doc_id = d.doc_id
""")
def _dedup_simhash(spark, sf_dir):
    """SimHash is md5-derived, so DuckDB can replay it bit-exactly: decode
    the first 8 md5 bytes per unique (doc, word) via hex-digit lookup
    (little-endian uint64, matching numpy's frombuffer), pivot 64 bit-vote
    sums in one grouped scan, and pack the sign bits into a signed BIGINT
    (bit 63 contributes INT64_MIN — two's-complement wrap, matching the
    engine's uint64 -> int64 view)."""
    return dedup.simhash64(spark.table("documents"))


@_query("ann_cosine_topk", """
WITH v AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
  FROM embeddings
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(range(1, len(q.embedding) + 1),
                        i -> CAST(q.embedding[i] AS DOUBLE) * c.embedding[i]))
               / (q.norm * c.norm), 6) AS cos_sim
  FROM v q JOIN v c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 20
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs
) x WHERE rank <= 5
""")
def _ann_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk_np(spark.table("embeddings"), k=5, n_queries=20)


def _duck_lsh_bucket_expr(n_planes: int = 8) -> str:
    """DuckDB replay of ``similarity.lsh_buckets``: md5-parity pseudo-plane
    sign sketch packed into an int bucket."""
    plane_terms = []
    for p in range(n_planes):
        sign = (
            f"CASE WHEN substr(md5('{p}' || ':' || CAST(i - 1 AS VARCHAR)), 1, 1) "
            "IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END"
        )
        plane_terms.append(
            "CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({sign}))) > 0 "
            f"THEN {2**p} ELSE 0 END"
        )
    return " + ".join(plane_terms)


@_query("ann_lsh_bucket_hist", f"""
SELECT CAST({_duck_lsh_bucket_expr()} AS INTEGER) AS bucket, COUNT(*) AS n_vecs
FROM embeddings GROUP BY 1
""")
def _ann_lsh_bucket_hist(spark, sf_dir):
    return (
        similarity.lsh_buckets(spark.table("embeddings"), n_planes=8)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


_EMB_COS_THRESHOLD = 0.35
_EMB_COS_PLANES = 4


@_query("dedup_embedding_cosine", f"""
WITH b AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm,
         CAST({_duck_lsh_bucket_expr(_EMB_COS_PLANES)} AS INTEGER) AS bucket
  FROM embeddings
)
SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
                      i -> CAST(a.embedding[i] AS DOUBLE) * c.embedding[i]))
             / (a.norm * c.norm), 6) AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE ROUND(list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * c.embedding[i]))
      / (a.norm * c.norm), 6) >= {_EMB_COS_THRESHOLD}
""")
def _dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup (task-mandate dedup family): sign-LSH
    bucket candidates, exact cosine >= threshold verification. The oracle
    replays the md5-parity planes, the bucket join, and the cosine.
    4 planes / 0.35 picked so the synthetic corpus yields a non-trivial
    pair set (34 at sf0.01) — a 0-row query certifies nothing."""
    # uncapped, matching the oracle's uncapped bucket join (the skew
    # cap is the production default, certified by the skew pytest)
    return dedup.embedding_near_dup_pairs(
        spark.table("embeddings"),
        threshold=_EMB_COS_THRESHOLD,
        n_planes=_EMB_COS_PLANES,
        max_bucket_size=None,
    )


@_query("text_token_counts", """
SELECT doc_id,
       CASE WHEN len(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), ' +')) END AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens
FROM documents
""")
def _text_token_counts(spark, sf_dir):
    t = F.col("text")
    return spark.table("documents").select(
        "doc_id",
        text.ws_token_count(t).alias("n_ws_tokens"),
        text.bpe_token_count(t).alias("n_bpe_tokens"),
    )


# functions/text.py's stopword list as the body of a SQL IN (...)
_STOP_LIST = "', '".join(text.STOPWORDS)


@_query("text_quality", f"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), ' +') AS words,
         string_split_regex(lower(text), ' +') AS lwords,
         len(text) - len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id,
         ROUND(list_sum(list_transform(words, w -> len(w)))
               / greatest(len(words), 1), 6) AS avg_word_len,
         ROUND(n_punct / greatest(len(text), 1), 6) AS punct_ratio,
         ROUND(len(list_filter(lwords, w -> w IN ('{_STOP_LIST}')))
               / greatest(len(lwords), 1), 6) AS stopword_ratio,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), ' +')) END AS n_ws
  FROM base
)
SELECT doc_id, avg_word_len, punct_ratio, stopword_ratio,
       ROUND((least(n_ws / 100.0, 1.0)
              + least(stopword_ratio * 5, 1.0)
              + (1.0 - least(punct_ratio * 4, 1.0))) / 3, 6) AS quality
FROM m
""")
def _text_quality(spark, sf_dir):
    t = F.col("text")
    return spark.table("documents").select(
        "doc_id",
        text.avg_word_len(t).alias("avg_word_len"),
        text.punct_ratio(t).alias("punct_ratio"),
        text.stopword_ratio(t).alias("stopword_ratio"),
        text.quality_score(t).alias("quality"),
    )


_LANG_CODES = sorted(text.LANG_MARKERS)
_LANG_HITS = ", ".join(
    "len(list_filter(string_split_regex(lower(text), ' +'), "
    "w -> w IN ('{}'))) AS h_{}".format("', '".join(text.LANG_MARKERS[c]), c)
    for c in _LANG_CODES
)
_LANG_MAX = "greatest(" + ", ".join(f"h_{c}" for c in _LANG_CODES) + ")"
_LANG_CASE = " ".join(f"WHEN h_{c} = m THEN '{c}'" for c in _LANG_CODES)


@_query("text_lang_id", f"""
WITH h AS (SELECT doc_id, {_LANG_HITS} FROM documents),
     s AS (SELECT doc_id, *, {_LANG_MAX} AS m FROM h)
SELECT doc_id, CASE WHEN m = 0 THEN 'und' {_LANG_CASE} END AS pred_lang
FROM s
""")
def _text_lang_id(spark, sf_dir):
    return spark.table("documents").select(
        "doc_id", text.lang_id(F.col("text")).alias("pred_lang")
    )


@_query("text_fingerprint", """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
FROM documents
""")
def _text_fingerprint(spark, sf_dir):
    return spark.table("documents").select(
        "doc_id", text.fingerprint(F.col("text")).alias("fingerprint")
    )


@_query("multimodal_inventory", """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       COUNT(*) AS n_media,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT sha256(text)) AS n_distinct_sha
FROM documents GROUP BY 1
""")
def _multimodal_inventory(spark, sf_dir):
    media = multimodal.media_from_documents(spark.table("documents"))
    return media.groupBy("modality").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.countDistinct("content_sha").alias("n_distinct_sha"),
    )


def _char_tokens_of(docs):
    """Any documents-shaped frame -> input_hint-shaped sequences with
    ascii-code tokens."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(
            F.filter(F.split("text", ""), lambda c: c != ""), lambda c: F.ascii(c)
        ).alias("tokens"),
        F.length("text").cast("int").alias("n_tok"),
        F.col("source"),
    ).filter(F.col("n_tok") > 0)


def _char_tokens_df(spark):
    """documents view -> input_hint-shaped sequences with ascii-code tokens."""
    return _char_tokens_of(spark.table("documents"))


@_query("rollup_tier_parity", """
WITH chars AS (
  SELECT doc_id, i, ascii(substr(text, CAST(i AS INTEGER), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE i <= length(text)
)
SELECT doc_id,
       CAST((i - 1) // 64 AS INTEGER) AS win_no,
       MIN(v) AS min_v, MAX(v) AS max_v,
       CAST(SUM(v) AS BIGINT) AS sum_v, COUNT(*) AS cnt,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_v
FROM chars GROUP BY doc_id, (i - 1) // 64
""")
def _rollup_tier_parity(spark, sf_dir):
    """Core engine parity: shuffle-free tier rollup vs direct SQL windows."""
    seq = _char_tokens_df(spark)
    tiers = rollup.rollup_all_tiers(seq, (("1s", 16), ("1m", 4)))
    return rollup.tier_points(tiers["1m"]).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "win_no",
        F.col("min_v"),
        F.col("max_v"),
        F.col("sum_v"),
        F.col("cnt"),
        F.col("mean_v"),
    )


@_query("codec_roundtrip", """
SELECT doc_id, length(text) AS n_tok, true AS ok
FROM documents WHERE length(text) > 0
""")
def _codec_roundtrip(spark, sf_dir):
    """Gorilla/DoD codec round-trip certified against an independent count."""
    seq = _char_tokens_df(spark)
    return seq.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tok").cast("bigint").alias("n_tok"),
        (codec.dod_decode(codec.dod_encode("tokens")) == F.col("tokens")).alias("ok"),
    )


@_query("blocks_roundtrip", """
SELECT doc_id, length(text) AS n_tok, true AS ok
FROM documents WHERE length(text) > 0
""")
def _blocks_roundtrip(spark, sf_dir):
    """Block cut + binary sink + reassembly == identity (north-rule
    per-row token-array equality)."""
    seq = _char_tokens_df(spark)
    back = blocks.from_blocks(blocks.to_blocks(seq, block_size=64))
    joined = seq.alias("a").join(back.alias("b"), "doc_id")
    return joined.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("a.n_tok").cast("bigint").alias("n_tok"),
        (F.col("a.tokens") == F.col("b.tokens")).alias("ok"),
    )


_S6_JSON_OBJECT = (
    "json_object('name', 'ch-' || CAST(user_id AS VARCHAR), "
    "'start', start_us, 'end', end_us, 'unit', 'uV', 'rate', rate, "
    "'type', 'CONTINUOUS', 'group', 'default', "
    "'lastAnnotation', CAST(0 AS BIGINT), "
    "'properties', [{{'key': 'src', 'value': 'events'}}, "
    "{{'key': 'uid', 'value': CAST(user_id AS VARCHAR)}}]{id_part})::VARCHAR"
)


@_query("s6_channel_metadata", f"""
WITH ext AS (
  SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
         COUNT(*) AS n
  FROM events GROUP BY user_id
), c AS (
  SELECT user_id, start_us, end_us,
         ROUND(n * 86400000000.0 / GREATEST(end_us - start_us, 1), 6) AS rate,
         CASE WHEN user_id % 2 = 0
              THEN 'N:channel:' || CAST(user_id AS VARCHAR) END AS cid
  FROM ext
)
SELECT user_id,
       printf('channel-%05d.metadata.json', user_id) AS meta_key,
       CASE WHEN cid IS NULL THEN {_S6_JSON_OBJECT.format(id_part="")}
            ELSE {_S6_JSON_OBJECT.format(id_part=", 'id', cid")} END AS channel_json,
       'ch-' || CAST(user_id AS VARCHAR) AS rt_name,
       'CONTINUOUS' AS rt_type,
       true AS rt_type_valid,
       rate AS rt_rate,
       CAST(0 AS BIGINT) AS rt_last_annotation,
       cid AS rt_id,
       2 AS rt_n_props,
       -1 AS rt_index
FROM c
""")
def _s6_channel_metadata(spark, sf_dir):
    """S6 sink + P12 round-trip parity: emit the reference's full channel
    metadata JSON (name/start/end/unit/rate/type/group/lastAnnotation/
    properties[, id] — id omitted when null, reference
    timeseries_channel.py:37-53), then parse it back through the
    from_dict-equivalent (channelType alias + defaulting) and certify the
    extracted fields. The oracle rebuilds the same JSON string byte-exact
    with DuckDB json_object."""
    ext = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
            F.count("*").alias("n"),
        )
    )
    # samples/day keeps the double in the plain-decimal print range
    # ([1e-3, 1e7)): Spark's Jackson and DuckDB's formatter agree there
    # but diverge on scientific notation (2.2E-5 vs 0.000022).
    # GREATEST(span,1): a single-sample channel would otherwise divide
    # by zero -> NULL rate, and the engines serialize a null field
    # differently (Spark omits it, json_object emits "rate":null)
    rate = F.round(
        F.col("n")
        * 86400000000.0
        / F.greatest(F.col("end_us") - F.col("start_us"), F.lit(1)),
        6,
    )
    props = F.array(
        F.struct(F.lit("src").alias("key"), F.lit("events").alias("value")),
        F.struct(
            F.lit("uid").alias("key"), F.col("user_id").cast("string").alias("value")
        ),
    )
    cid = F.when(
        F.col("user_id") % 2 == 0,
        F.concat(F.lit("N:channel:"), F.col("user_id").cast("string")),
    )
    j = legacy.channel_metadata_json(
        name=F.concat(F.lit(" ch-"), F.col("user_id").cast("string"), F.lit(" ")),
        start_us=F.col("start_us"),
        end_us=F.col("end_us"),
        rate=rate,
        group=F.lit("default"),
        channel_type=F.lit("continuous"),
        properties=props,
        id=cid,
    )
    with_json = ext.select(
        "user_id",
        legacy.legacy_metadata_key(F.col("user_id")).alias("meta_key"),
        j.alias("channel_json"),
    )
    p = legacy.channel_from_json(F.col("channel_json"))
    return with_json.select(
        "user_id",
        "meta_key",
        "channel_json",
        p["name"].alias("rt_name"),
        p["type"].alias("rt_type"),
        p["type_valid"].alias("rt_type_valid"),
        p["rate"].alias("rt_rate"),
        p["last_annotation"].alias("rt_last_annotation"),
        p["id"].alias("rt_id"),
        F.size(p["properties"]).alias("rt_n_props"),
        p["index"].alias("rt_index"),
    )


@_query("a2_rate_validation", """
WITH first10 AS (
  SELECT user_id, ts_us FROM (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
    FROM events
  ) x WHERE rn <= 10
), deltas AS (
  SELECT user_id,
         ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS d
  FROM first10
), inf AS (
  SELECT user_id,
         CAST(ROUND(1e6 / NULLIF(median(d), 0), 9) AS DOUBLE) AS inferred_rate_hz
  FROM deltas WHERE d IS NOT NULL GROUP BY user_id
), chans AS (
  SELECT user_id, inferred_rate_hz,
         ROUND(inferred_rate_hz * (1.0 + (user_id % 5 - 2) / 100.0), 9) AS declared_rate_hz
  FROM inf
)
SELECT user_id, declared_rate_hz, inferred_rate_hz,
       ROUND(abs(inferred_rate_hz - declared_rate_hz) * (1.0 / declared_rate_hz), 9) AS rate_error,
       CASE WHEN declared_rate_hz IS NULL OR declared_rate_hz <= 0 THEN false
            ELSE NOT (abs(inferred_rate_hz - declared_rate_hz) * (1.0 / declared_rate_hz) > 0.02)
       END AS rate_valid
FROM chans
""")
def _a2_rate_validation(spark, sf_dir):
    """Rate-vs-timestamps cross-validation (reference reader.py:82-106):
    inferred rate (A2 median-delta) against a declared rate synthesized
    at -2/-1/0/+1/+2 % of inferred per user-id bucket — so the strict
    ``error > 0.02`` boundary is exercised both ways: declared 2% HIGH
    gives error 0.0196 (valid), declared 2% LOW gives 0.0204 (invalid)."""
    ev = spark.table("events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    inf = segments.infer_rate_hz(ev, "user_id", "ts_us", tiebreak=["event_id"])
    declared = F.round(
        F.col("inferred_rate_hz")
        * (F.lit(1.0) + (F.col("user_id") % 5 - 2) / F.lit(100.0)),
        9,
    )
    chans = inf.withColumn("declared_rate_hz", declared)
    return segments.validate_rates(chans).select(
        "user_id",
        "declared_rate_hz",
        "inferred_rate_hz",
        F.round("rate_error", 9).alias("rate_error"),
        "rate_valid",
    )


# free space /dev/shm must have before the scratch artifacts go there: the
# artifact sets (legacy round trip + lineage_certify) take ~25 MB at sf0.1
# and grow with sf, while a container's /dev/shm is often 64 MiB (Docker's
# default) — a full tmpfs fails the query's write midway
_MIN_SHM_FREE_BYTES = 1 << 30


def _scratch_root() -> str:
    """tmpfs when it exists and has room (same rationale as bench.py's
    PTS_BENCH_OUT default: measure the compute path, not the single VM
    disk), else the platform temp dir."""
    try:
        if shutil.disk_usage("/dev/shm").free >= _MIN_SHM_FREE_BYTES:
            return "/dev/shm"
    except OSError:  # no /dev/shm
        pass
    return tempfile.gettempdir()


def _scratch_dir(name: str, sf_dir: str) -> str:
    """Bounded scratch space for contract queries that materialize files:
    one fixed directory per (query, sf) that each run wipes and reuses —
    tempfile.mkdtemp would leak a full artifact set per driver run. The
    returned DataFrame reads from it lazily, so deletion can only happen
    at the START of the next run, never at the end of this one."""
    p = os.path.join(
        f"{_scratch_root()}/pts_contract_scratch",
        f"{name}-{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p, exist_ok=True)
    return p


_S8_BLOCK = 64


@_query("s8_lineage_certify", f"""
SELECT source,
       CAST(SUM((length(text) + {_S8_BLOCK - 1}) // {_S8_BLOCK}) AS BIGINT) AS blocks_rows,
       true AS lineage_ok
FROM documents WHERE length(text) > 0
GROUP BY source
""")
def _s8_lineage_certify(spark, sf_dir):
    """S8/A5 driver-visible certification: run the resumable blocks
    pipeline on the char-token corpus, then prove the checkpoint table's
    lineage rows describe the durable bytes — per-partition row_count and
    xor-of-xxhash64 checksum recomputed from the written parquet must
    equal the checkpoint's, and the per-source row totals must equal the
    doc-derived expectation sum(ceil(n_tok/block_size)) (which DuckDB
    recomputes independently from documents)."""
    seq = _char_tokens_df(spark)
    out_dir = _scratch_dir("lineage_certify", sf_dir)
    cfg = pipeline.PipelineConfig(
        out_dir=out_dir, block_size=_S8_BLOCK, n_buckets=8,
        tiers=(("1s", 16), ("1m", 4)), resume=False,
    )
    pipeline.run_pipeline(spark, seq, cfg)
    audit = lineage.verify_lineage(
        spark, out_dir, "blocks", f"{out_dir}/blocks", pipeline.STAGE_KEYS["blocks"]
    )
    # partition_key is "<source>/<bucket>"
    return audit.groupBy(
        F.regexp_extract("partition_key", "^(.*)/[^/]*$", 1).alias("source")
    ).agg(
        F.sum("ck_rows").cast("bigint").alias("blocks_rows"),
        F.min("ok").alias("lineage_ok"),
    )


_A4_MAX_SIZE = 16_000  # bytes; ~0.8*16000/avg_entry docs per batch


@_query("a4_manifest_batches", f"""
WITH entries AS (
  SELECT doc_id,
         printf('up/%05d.bin.gz', doc_id) AS upload_key,
         source || '/' || CAST(doc_id AS VARCHAR) AS file_path
  FROM documents
), sample AS (
  SELECT SUM(len(upload_key) + len(file_path) + 36) AS s, COUNT(*) AS n
  FROM (SELECT * FROM entries ORDER BY doc_id LIMIT 100)
), bs AS (
  -- FLOOR before the cast: Python int() truncates, DuckDB CAST rounds
  SELECT GREATEST(1, CAST(FLOOR({_A4_MAX_SIZE} * 0.8 / (s / n)) AS BIGINT)) AS batch_size FROM sample
), pos AS (
  SELECT doc_id, upload_key,
         CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_pos
  FROM entries
)
SELECT global_pos // batch_size AS batch_no,
       COUNT(*) AS n_entries,
       MIN(global_pos) AS first_pos, MAX(global_pos) AS last_pos,
       MIN(upload_key) AS first_key, MAX(upload_key) AS last_key,
       batch_size
FROM pos, bs
GROUP BY global_pos // batch_size, batch_size
""")
def _a4_manifest_batches(spark, sf_dir):
    """A4 + L2 (import side): manifest batch sizing from the sampled mean
    entry size with 80% margin (reference import_client.py:161-190), and
    batch assignment that preserves global insertion order across batches
    (their test_import_client.py:279). The oracle recomputes the batch
    size and the order-preserving first/last key per batch from scratch;
    max_size is shrunk so the test corpus spans multiple batches."""
    entries = spark.table("documents").select(
        F.col("doc_id"),
        F.format_string("up/%05d.bin.gz", F.col("doc_id")).alias("upload_key"),
        F.concat_ws("/", F.col("source"), F.col("doc_id").cast("string")).alias(
            "file_path"
        ),
    )
    bs = lineage.calculate_batch_size(entries, "doc_id", max_size_bytes=_A4_MAX_SIZE)
    batched = lineage.assign_manifest_batches(entries, bs, "doc_id")
    return batched.groupBy("batch_no").agg(
        F.count("*").alias("n_entries"),
        F.min("global_pos").alias("first_pos"),
        F.max("global_pos").alias("last_pos"),
        F.min("upload_key").alias("first_key"),
        F.max("upload_key").alias("last_key"),
        F.lit(bs).cast("bigint").alias("batch_size"),
    )


@_query("p5_legacy_blocks", """
SELECT user_id,
       COUNT(*) AS n_samples,
       CAST(18 + 8 * COUNT(*)
            + 5 * GREATEST(1, (8 * COUNT(*) + 65534) // 65535) AS BIGINT) AS payload_bytes,
       true AS ok
FROM events GROUP BY user_id
""")
def _p5_legacy_blocks(spark, sf_dir):
    """P5 driver-visible certification: encode each channel's ordered
    values to the reference's legacy payload (big-endian float64, gzip
    level 0, mtime=0 — reference writer.py:73-99) and certify (a) decode
    round-trips bit-exactly and (b) the payload byte length equals the
    closed-form gzip-stored-block size 18 + 8n + 5*ceil(8n/65535), which
    DuckDB computes independently from the row counts."""
    vals = (
        spark.table("events")
        .groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.unix_micros("ts").alias("ts_us"),
                            F.col("event_id"),
                            F.col("value"),
                        )
                    )
                ),
                lambda s: s["value"],
            ).alias("values")
        )
    )
    enc = vals.withColumn("payload", legacy.legacy_encode("values"))
    return enc.select(
        "user_id",
        F.size("values").cast("bigint").alias("n_samples"),
        F.length("payload").cast("bigint").alias("payload_bytes"),
        (legacy.legacy_decode(F.col("payload")) == F.col("values")).alias("ok"),
    )


@_query("p14_size_parsing", """
WITH sized AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 7 = 0 THEN 'not-a-size'
              ELSE CAST(p_size AS VARCHAR)
                   || CASE WHEN p_partkey % 2 = 0 THEN '.5' ELSE '' END
                   || ' '
                   || CASE p_partkey % 5 WHEN 0 THEN 'B' WHEN 1 THEN 'KB'
                        WHEN 2 THEN 'MB' WHEN 3 THEN 'GB' ELSE 'TB' END
         END AS size_str
  FROM part
), parsed AS (
  SELECT p_partkey, size_str,
         CASE WHEN regexp_extract(upper(trim(size_str)),
                '^([0-9]+(?:\\.[0-9]+)?)\\s*(B|KB|MB|GB|TB)$', 1) <> ''
              THEN CAST(FLOOR(
                CAST(regexp_extract(upper(trim(size_str)),
                  '^([0-9]+(?:\\.[0-9]+)?)\\s*(B|KB|MB|GB|TB)$', 1) AS DOUBLE)
                * CASE regexp_extract(upper(trim(size_str)),
                    '^([0-9]+(?:\\.[0-9]+)?)\\s*(B|KB|MB|GB|TB)$', 2)
                    WHEN 'B' THEN 1 WHEN 'KB' THEN 1024 WHEN 'MB' THEN 1048576
                    WHEN 'GB' THEN 1073741824 ELSE 1099511627776 END) AS BIGINT)
         END AS n_bytes
  FROM sized
)
SELECT p_partkey, size_str, n_bytes,
       CASE WHEN n_bytes IS NOT NULL
            THEN CAST(GREATEST(FLOOR(n_bytes * 0.95 / 16), 1000) AS BIGINT)
       END AS n_samples
FROM parsed
""")
def _p14_size_parsing(spark, sf_dir):
    """P14 — human-readable size parsing + samples-for-size math
    (reference scripts/generate_test_nwb.py:27-61): size strings are
    synthesized from part.p_size with a per-row unit (and an invalid
    shape every 7th key, which parses to NULL — the declarative analog of
    the reference's ValueError), then bytes -> sample count with the 5%
    container-overhead rule and 1000-sample floor."""
    unit = (
        F.when(F.col("p_partkey") % 5 == 0, "B")
        .when(F.col("p_partkey") % 5 == 1, "KB")
        .when(F.col("p_partkey") % 5 == 2, "MB")
        .when(F.col("p_partkey") % 5 == 3, "GB")
        .otherwise("TB")
    )
    size_str = F.when(
        F.col("p_partkey") % 7 == 0, F.lit("not-a-size")
    ).otherwise(
        F.concat(
            F.col("p_size").cast("string"),
            F.when(F.col("p_partkey") % 2 == 0, ".5").otherwise(""),
            F.lit(" "),
            unit,
        )
    )
    parsed = spark.table("part").select(
        "p_partkey", size_str.alias("size_str")
    ).withColumn("n_bytes", synth.parse_size_col(F.col("size_str")))
    # explicit NULL gate: Spark's greatest() skips NULLs while other
    # engines may propagate them — don't rely on either behavior
    return parsed.withColumn(
        "n_samples",
        F.when(
            F.col("n_bytes").isNotNull(),
            F.greatest(F.floor(F.col("n_bytes") * 0.95 / 16), F.lit(1000)),
        ).cast("bigint"),
    )


_WINNOW_K, _WINNOW_W = 4, 5
_WINNOW_M = 1 << 24
# 24-bit hash: the first 6 hex digits of md5(gram)
_WINNOW_H24 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(gram), {p + 1}, 1)) - 1) * {16 ** (5 - p)}"
    for p in range(6)
)


@_query("text_winnow_fingerprints", f"""
WITH canon AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS c
  FROM documents
), grams AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         substr(c, CAST(i AS INTEGER), {_WINNOW_K}) AS gram
  FROM canon,
       (SELECT unnest(range(1, (SELECT COALESCE(MAX(len(c)), 0) FROM canon) + 1)) AS i) g
  WHERE i <= len(c) - {_WINNOW_K - 1}
), hashed AS (
  SELECT doc_id, pos, CAST({_WINNOW_H24} AS BIGINT) AS h
  FROM grams
), keyed AS (
  SELECT doc_id, pos, h * {_WINNOW_M} + ({_WINNOW_M - 1} - pos) AS key
  FROM hashed
), winmin AS (
  SELECT doc_id,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS kmin,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS wsz
  FROM keyed
)
SELECT DISTINCT doc_id,
       CAST({_WINNOW_M - 1} - kmin % {_WINNOW_M} AS INTEGER) AS pos,
       kmin // {_WINNOW_M} AS fp
FROM winmin WHERE wsz >= {_WINNOW_W}
""")
def _text_winnow_fingerprints(spark, sf_dir):
    """Winnowing rolling-hash fingerprints (Schleimer et al. SIGMOD'03):
    md5-prefix k-gram hashes + rightmost-min-per-window selection are
    both engine-portable, so DuckDB replays the exact fingerprint set."""
    return text.winnow_fingerprints(spark.table("documents"), k=_WINNOW_K, w=_WINNOW_W)


@_query("s5_legacy_roundtrip", """
SELECT user_id,
       COUNT(*) AS n_samples,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 6) AS DOUBLE) AS value_sum,
       MIN(epoch_us(ts)) AS start_us,
       MAX(epoch_us(ts)) AS end_us
FROM events GROUP BY user_id
""")
def _s5_legacy_roundtrip(spark, sf_dir):
    """S5/S7/S9 driver-visible certification: export the events table to
    the reference's loose-file artifact set (chunked .bin.gz + metadata
    sidecars), scan it back with the binaryFile source, decode, and
    re-synthesize sample timestamps — per channel the sample count and
    the decimal value sum must equal what DuckDB computes from the
    original table. Proves the legacy byte format, the key regex, and
    the index/rate timestamp rule survive a full disk round trip."""
    out = _scratch_dir("legacy_rt", sf_dir)
    legacy_export.export_legacy_channels(spark, spark.table("events"), out, chunk_size=50)
    back = legacy_import.legacy_samples(legacy_import.read_legacy_blocks(spark, out))
    return back.groupBy(F.col("channel_index").alias("user_id")).agg(
        F.count("*").alias("n_samples"),
        F.round(F.sum(F.col("value").cast("decimal(28,6)")), 6)
        .cast("double")
        .alias("value_sum"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


@_query("agg_sketches", """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_distinct,
       true AS hll_within_bound,
       true AS p50_within_bound,
       CAST(ROUND(CAST(median(value) AS DECIMAL(28,6)), 6) AS DOUBLE) AS p50_exact
FROM events GROUP BY event_type
""")
def _agg_sketches(spark, sf_dir):
    """Sketch aggregates with CERTIFIED error bounds: HyperLogLog++
    distinct counts (rsd 2%) and approx percentile must land within
    their documented error of the exact values — the exact values and
    the bound checks are what the oracle verifies (sketch internals are
    engine-specific; their GUARANTEES are not). At 100 TB the sketches
    are the only affordable form of these aggregates: HLL++ is O(1)
    memory per group vs a full distinct shuffle."""
    ev = spark.table("events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("p50_approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    return agg.select(
        "event_type",
        "exact_distinct",
        # 5 sigma of the 2% rsd — deterministic pass at these scales
        (
            F.abs(F.col("hll") - F.col("exact_distinct"))
            <= F.greatest(F.col("exact_distinct") * 0.1, F.lit(2.0))
        ).alias("hll_within_bound"),
        # percentile_approx with accuracy 10000 on these group sizes
        # must sit between the true min/max and within the exact
        # p50's neighborhood (10% of the value range)
        (
            (F.col("p50_approx") >= F.col("min_v"))
            & (F.col("p50_approx") <= F.col("max_v"))
            & (
                F.abs(F.col("p50_approx") - F.col("p50_exact"))
                <= (F.col("max_v") - F.col("min_v")) * 0.1
            )
        ).alias("p50_within_bound"),
        F.round(F.col("p50_exact").cast("decimal(28,6)"), 6)
        .cast("double")
        .alias("p50_exact"),
    )


# ==========================================================================
# Batch 3 — breadth: multidimensional aggs, pivot, window frames, set ops,
# distinct aggregation. All shared-text (dialects agree on these).
# ==========================================================================

_query("agg_grouping_sets", sql="""
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""")

_query("agg_pivot_status", sql="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O'
                           THEN CAST(l_extendedprice AS DECIMAL(18,4))
                           ELSE CAST(0 AS DECIMAL(18,4)) END), 4) AS DOUBLE) AS open_price
FROM lineitem GROUP BY l_returnflag
""")

_query("w6_running_frames", sql="""
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
       CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / COUNT(*) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS DOUBLE) AS moving_avg_5
FROM events WHERE user_id < 10
""")

_query("agg_count_distinct", sql="""
SELECT s.s_nationkey AS nationkey,
       COUNT(DISTINCT l.l_partkey) AS n_distinct_parts,
       COUNT(DISTINCT l.l_orderkey) AS n_distinct_orders
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
""")

_query("set_ops_union_except", sql="""
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
UNION
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
EXCEPT
SELECT n_nationkey AS nationkey FROM nation WHERE n_name = 'CHINA'
""")

_query("j_semi_exists", sql="""
SELECT p.p_brand, COUNT(*) AS n_parts
FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
GROUP BY p.p_brand
""")


_IVF_CLUSTERS, _IVF_NPROBE, _IVF_ITERS, _IVF_TOPK, _IVF_DEC = 8, 2, 3, 5, 6


def _ivf_oracle() -> str:
    """DuckDB replay of the whole IVF pipeline of ``ann_ivf_topk``."""

    def dot(a, b):
        return (
            f"list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> {a}[i] * {b}[i]))"
        )

    def d2(e, c):
        # same expression shape as the engine: ||c||^2 - 2 e.c
        return f"({dot(c, c)} - 2 * {dot(e, c)})"

    ctes = [
        """v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS norm
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT cid, c FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           list_transform(e, x -> round(x, {_IVF_DEC})) AS c
    FROM v
  ) WHERE cid < {_IVF_CLUSTERS}
)""",
        "g AS (SELECT unnest(range(1, (SELECT max(len(e)) FROM v) + 1)) AS i)",
    ]
    for t in range(1, _IVF_ITERS + 1):
        prev = f"c{t - 1}"
        ctes.append(
            f"""a{t} AS (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2("v.e", "c.c")}, c.cid) AS rnk
    FROM v, {prev} c
  ) WHERE rnk = 1
)"""
        )
        # mean per (cluster, dim), re-packed; empty clusters keep the
        # previous centroid (matches the engine's C[nz] update)
        ctes.append(
            f"""c{t} AS (
  SELECT p.cid, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(cv ORDER BY i) AS c FROM (
      SELECT a.cid, g.i, round(SUM(a.e[g.i]) / COUNT(*), {_IVF_DEC}) AS cv
      FROM a{t} a, g WHERE g.i <= len(a.e)
      GROUP BY a.cid, g.i
    ) GROUP BY cid
  ) m ON m.cid = p.cid
)"""
        )
    # the engine assigns the corpus against the FINAL centroids (after the
    # last update), not the ones the last iteration assigned with
    ctes.append(
        f"""af AS (
  SELECT vec_id, e, cid FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2("v.e", "c.c")}, c.cid) AS rnk
    FROM v, c{_IVF_ITERS} c
  ) WHERE rnk = 1
)"""
    )
    ctes.append(
        f"""probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2("v.e", "c.c")}, c.cid) AS rnk
    FROM v, c{_IVF_ITERS} c
  ) WHERE rnk <= {_IVF_NPROBE}
)"""
    )
    ctes.append(
        f"""pairs AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
         round({dot("q.e", "n.e")} / (q.norm * n.norm), 6) AS cos_sim
  FROM probes p
  JOIN v q ON q.vec_id = p.query_id
  JOIN af a ON a.cid = p.cid
  JOIN v n ON n.vec_id = a.vec_id
  WHERE p.query_id <> a.vec_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= {_IVF_TOPK}
"""
    )


@_query("ann_ivf_topk", _ivf_oracle())
def _ann_ivf_topk(spark, sf_dir):
    """IVF-ANN with a FULL DuckDB oracle: the index build is deterministic
    (md5-ordered seeds, Lloyd iterations with centroids quantized to 6 dp
    after every update), so the oracle replays the entire pipeline —
    seed -> 3×(assign, mean) -> nprobe probe -> in-cluster exact cosine —
    in SQL. Quantized centroids make the replay robust: cross-engine
    float sum-order drift (~1e-13) is far below the rounding quantum."""
    return similarity.ann_ivf_topk(
        spark.table("embeddings"), k=_IVF_TOPK, n_clusters=_IVF_CLUSTERS, nprobe=_IVF_NPROBE
    )


# ==========================================================================
# Batch 3 (round 2) — timeseries alignment / interval / resample /
# clustering / sampling operators beyond the reference inventory.
# ==========================================================================


_J3_TOL = 7_200_000_000  # 2 h in µs


@_query("j3_asof_align", f"""
WITH v AS (
  SELECT user_id, {{EPOCH_US}}(ts) AS ts_us, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY {{EPOCH_US}}(ts), event_id) AS v_idx
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id, {{EPOCH_US}}(ts) AS ts_us, event_id
  FROM events WHERE event_type = 'purchase'
), u AS (
  SELECT user_id, ts_us, event_id, 0 AS side FROM v
  UNION ALL
  SELECT user_id, ts_us, event_id, 1 AS side FROM p
), c AS (
  SELECT user_id, ts_us, event_id, side,
         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts_us, side, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vcnt
  FROM u
)
SELECT c.user_id, c.event_id, c.ts_us AS purchase_ts_us,
       CASE WHEN c.ts_us - v.ts_us <= {_J3_TOL} THEN v.event_id END AS view_event_id,
       CASE WHEN c.ts_us - v.ts_us <= {_J3_TOL} THEN v.value END AS view_value,
       CASE WHEN c.ts_us - v.ts_us <= {_J3_TOL} THEN v.ts_us END AS view_ts_us,
       CASE WHEN c.ts_us - v.ts_us <= {_J3_TOL} THEN c.ts_us - v.ts_us END AS lag_us
FROM c LEFT JOIN v ON v.user_id = c.user_id AND v.v_idx = c.vcnt
WHERE c.side = 1
""")
def _j3_asof_align(spark, sf_dir):
    """J3+ — backward as-of join (align purchases to the most recent view
    per user, 2 h tolerance). The engine runs the union-marker
    single-window plan (operators/asof.py); the oracle replays the same
    semantics with the portable cumulative-count idiom (the matching view
    is the vcnt-th view), so IGNORE-NULLS dialect drift never enters."""
    ev = spark.table("events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "event_type", "value"
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts_us", "event_id", "value"
    )
    out = asof.asof_join(
        left,
        right,
        by="user_id",
        ts="ts_us",
        right_cols={"event_id": "view_event_id", "value": "view_value"},
        tolerance_us=_J3_TOL,
        left_ts_alias="purchase_ts_us",
        right_ts_alias="view_ts_us",
        right_tiebreak="event_id",
    )
    return out.withColumn("lag_us", out["purchase_ts_us"] - out["view_ts_us"])


_J4_WIDTH = 21_600_000_000  # 6 h


@_query("j4_interval_join", f"""
WITH iv AS (
  SELECT event_id AS interval_id,
         epoch_us(ts) AS start_us,
         epoch_us(ts) + {_J4_WIDTH} AS end_us
  FROM events WHERE event_type = 'signup'
  ORDER BY ts, event_id LIMIT 20
)
SELECT iv.interval_id,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT e.user_id) AS n_users
FROM iv JOIN events e
  ON epoch_us(e.ts) >= iv.start_us AND epoch_us(e.ts) < iv.end_us
GROUP BY iv.interval_id
""")
def _j4_interval_join(spark, sf_dir):
    """J4+ — grid-bucketed range join (operators/interval.py): every
    event landing in one of the first-20 signup-anchored 6 h windows,
    aggregated per window. The oracle replays the containment predicate
    as a plain inequality join — same half-open [start, end) semantics,
    different physical plan."""
    ev = spark.table("events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    iv = (
        ev.filter(spark.table("events")["event_type"] == "signup")
        .orderBy("ts_us", "event_id")
        .limit(20)
        .select(
            F.col("event_id").alias("interval_id"),
            F.col("ts_us").alias("start_us"),
            (F.col("ts_us") + _J4_WIDTH).alias("end_us"),
        )
    )
    pts = ev.select("user_id", "value", "ts_us")
    j = interval.interval_join(pts, iv, "ts_us", "start_us", "end_us", grid_us=_J4_WIDTH)
    return j.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


_W7_STEP = 21_600_000_000  # 6 h


@_query("w7_resample_linear", f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS idx
  FROM events
), ext AS (
  SELECT user_id, MIN(ts_us) AS mn, MAX(ts_us) AS mx FROM e GROUP BY user_id
), grid AS (
  SELECT user_id,
         unnest(generate_series((mn + {_W7_STEP} - 1) // {_W7_STEP} * {_W7_STEP}, mx, {_W7_STEP})) AS gts
  FROM ext
), u AS (
  SELECT user_id, ts_us AS ts, 0 AS side FROM e
  UNION ALL
  SELECT user_id, gts AS ts, 1 AS side FROM grid
), c AS (
  SELECT user_id, ts, side,
         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, side
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_idx
  FROM u
)
SELECT c.user_id, c.ts AS grid_ts_us,
       CASE WHEN p.ts_us = c.ts THEN p.value
            ELSE CAST(ROUND(COALESCE(
                   p.value + (c.ts - p.ts_us) * (n.value - p.value)
                             / NULLIF(n.ts_us - p.ts_us, 0),
                   p.value), 6) AS DOUBLE)
       END AS v
FROM c
JOIN e p ON p.user_id = c.user_id AND p.idx = c.prev_idx
LEFT JOIN e n ON n.user_id = c.user_id AND n.idx = c.prev_idx + 1
WHERE c.side = 1
""")
def _w7_resample_linear(spark, sf_dir):
    """W7+ — linear-interpolation resampling onto a 6 h grid per user
    (operators/resample.py, single-window-pass plan). The oracle resolves
    the same brackets with the portable cumulative-count idiom and
    identical arithmetic/rounding, so values match bit-for-bit."""
    ev = spark.table("events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    return resample.resample_linear(
        ev, by="user_id", ts_col="ts_us", val_col="value",
        step_us=_W7_STEP, tiebreak="event_id",
    )


@_query("dedup_components", f"""
WITH RECURSIVE {_DUCK_SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         {_DUCK_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
bands AS ({_DUCK_MINHASH_BANDS}),
prs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM bands a JOIN bands b USING (band_no, band_hash)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS (SELECT u, v FROM prs UNION SELECT v AS u, u AS v FROM prs),
reach(u, lbl) AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
),
comp AS (SELECT u, MIN(lbl) AS comp_id FROM reach GROUP BY u),
sz AS (SELECT comp_id, COUNT(*) AS comp_size FROM comp GROUP BY comp_id)
SELECT comp.u AS doc_id, comp.comp_id, sz.comp_size
FROM comp JOIN sz USING (comp_id)
""")
def _dedup_components(spark, sf_dir):
    """Dedup cluster formation — connected components over the MinHash-LSH
    candidate pairs (operators/dedup.py duplicate_components, hash-min
    label propagation). The oracle computes the same components with a
    recursive transitive-closure CTE over identically-derived pairs, so
    cluster ids (min reachable doc_id) and sizes match exactly."""
    pairs = dedup.lsh_candidate_pairs(
        spark.table("documents"),
        n_hashes=16,
        n_bands=4,
        max_bucket_size=None,
        hash_fn="md5",  # DuckDB-replayable family for the oracle
    )
    return dedup.duplicate_components(pairs)


@_query("l2_stratified_sample", """
WITH s AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, doc_id, sample_rank FROM s WHERE sample_rank <= (n + 9) // 10
""")
def _l2_stratified_sample(spark, sf_dir):
    """L2+ — deterministic exact-quota stratified sample (operators/
    sampling.py): ceil(n/10) docs per language, picked by smallest
    md5(doc_id). Hash-rank sampling is partition-invariant, unlike
    df.sample(); the oracle replays the same rank and integer quota."""
    return sampling.stratified_sample(
        spark.table("documents"), strata_col="lang", id_col="doc_id", num=1, den=10
    )


@_query("l3_hash_sample", """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '20000000'
""")
def _l3_hash_sample(spark, sf_dir):
    """L3+ — stateless content-hash Bernoulli sample at rate 1/8
    (operators/sampling.py hash_sample): a pure pushed-down filter, no
    shuffle, membership stable under corpus growth. 1/8 divides the
    32-bit space exactly, so the oracle is a lexicographic hex-prefix
    compare (fixed-width lowercase hex orders like the integer)."""
    return sampling.hash_sample(
        spark.table("documents"), id_col="doc_id", num=1, den=8
    ).select("doc_id", "lang", "source", "n_chars")


@_query("w8_sliding_windows", """
WITH e AS (
  SELECT event_type, value,
         epoch_us(ts) // 3600000000 * 3600000000 AS hr_us
  FROM events
), x AS (
  SELECT event_type, value, unnest([hr_us, hr_us - 3600000000]) AS win_start_us
  FROM e
)
SELECT win_start_us, win_start_us + 7200000000 AS win_end_us, event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_value
FROM x GROUP BY win_start_us, event_type
""")
def _w8_sliding_windows(spark, sf_dir):
    """W8+ — sliding (hopping) window aggregates, 2 h windows every 1 h:
    Spark's native F.window(slideDuration=...) vs an oracle that derives
    each row's two covering epoch-aligned window starts arithmetically.
    Covers the overlap semantics tumbling (w5) can't express."""
    ev = spark.table("events")
    win = F.window(F.col("ts"), "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            F.unix_micros("w.end").alias("win_end_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@_query("text_ngram_topk", """
WITH w AS (
  SELECT source, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT source, unnest(list_transform(range(1, len(w)),
                                       i -> w[i] || ' ' || w[i+1])) AS gram
  FROM w WHERE len(w) >= 2
), c AS (
  SELECT source, gram, COUNT(*) AS n_occ FROM g GROUP BY source, gram
)
SELECT source, gram, n_occ, rank FROM (
  SELECT source, gram, n_occ,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_occ DESC, gram) AS rank
  FROM c
) WHERE rank <= 20
""")
def _text_ngram_topk(spark, sf_dir):
    """Text+ — corpus bigram frequency top-20 per source (functions/
    text.py ngram_freq_topk). Non-distinct occurrence counts (frequency,
    not shingle membership); deterministic (count desc, gram asc) rank."""
    return text.ngram_freq_topk(spark.table("documents"))


_HH_K, _HH_CAP = 5, 30


@_query("agg_heavy_hitters", f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS item FROM documents
), c AS (
  SELECT item, COUNT(*) AS n_occ FROM w WHERE item IS NOT NULL GROUP BY item
), t AS (
  SELECT item, n_occ, ROW_NUMBER() OVER (ORDER BY n_occ DESC, item) AS rank FROM c
), s AS (
  SELECT CAST(SUM(n_occ) AS BIGINT) AS n_total, COUNT(*) AS vocab FROM c
)
SELECT t.item, t.n_occ, t.rank,
       ((SELECT MIN(n_occ) FROM t WHERE rank <= {_HH_K}) > s.n_total / {_HH_CAP + 1}.0
        OR s.vocab <= {_HH_CAP}) AS certified
FROM t, s WHERE t.rank <= {_HH_K}
""")
def _agg_heavy_hitters(spark, sf_dir):
    """Agg+ — certified-exact heavy hitters (operators/heavy_hitters.py,
    Misra-Gries candidates -> exact recount -> certify-or-fallback). The
    oracle computes the true top-k AND the same certificate arithmetic
    from exact counts; the operator's output equals it whether the
    certificate held (sketch path) or not (exact fallback) — that
    equivalence is the contract."""
    # read the scan directly, NOT the (possibly spread) documents
    # view: Misra-Gries' candidate pass is itself a map-side partial
    # aggregation, so a round-robin pre-exchange of the input buys
    # nothing at any scale and only adds a shuffle + stage (guide
    # §2.3 "aggregate before you shuffle" — here: don't shuffle
    # before an aggregation that never needed it; measured +0.6 s
    # from the spread at sf0.1). Order-insensitive by construction.
    words = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    return heavy_hitters.heavy_hitters(words, "word", k=_HH_K, capacity=_HH_CAP)


@_query("retention_policy", """
WITH d AS (
  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day FROM events
), t AS (
  SELECT 'raw' AS tier, 7 AS keep UNION ALL SELECT 't1m', 21
), m AS (
  SELECT MAX(day) AS now_day FROM d
)
SELECT t.tier, d.day, (d.day > m.now_day - t.keep) AS kept
FROM d, t, m
""")
def _retention_policy(spark, sf_dir):
    """Retention+ — the keep/drop decision function the destructive
    partition-drop path executes (plans/retention.py). Inventory =
    (tier, day) grid derived from events; policy raw=7d, t1m=21d
    relative to the newest day. The oracle replays the half-open cutoff
    arithmetic exactly."""
    ev = spark.table("events")
    days = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    tiers = spark.createDataFrame([("raw",), ("t1m",)], "tier string")
    parts = days.crossJoin(tiers)
    now_day = days.agg(F.max("day")).collect()[0][0]
    return retention.retention_decisions(
        parts, retention.RetentionPolicy({"raw": 7, "t1m": 21}), int(now_day)
    )


_DECONTAM_N = 5


@_query("decontaminate", """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 3),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS shingle
  FROM words WHERE len(w) >= 5
), bg AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
), cg AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM cg GROUP BY doc_id
), hits AS (
  SELECT cg.doc_id, COUNT(*) AS n_hits FROM cg JOIN bg USING (shingle) GROUP BY cg.doc_id
)
SELECT s.doc_id, s.n_grams,
       COALESCE(h.n_hits, 0) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / s.n_grams, 6) AS contamination_ratio,
       (COALESCE(h.n_hits, 0) >= 1) AS contaminated
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
""")
def _decontaminate(spark, sf_dir):
    """Decontam+ — benchmark n-gram overlap (operators/decontam.py):
    docs with doc_id % 50 == 0 play the benchmark set, the rest are the
    corpus; 5-gram overlap, broadcast benchmark side. The oracle replays
    the distinct-shingle sets and the hit join in SQL."""
    docs = spark.table("documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return decontam.contamination_report(corpus, bench, n=_DECONTAM_N)


# W9+ — min/max downsampling (the M4 rendering reduction: per time
# bucket keep the extreme points, deterministic tie-break by ts then
# event id). One shared SQL text runs on both engines.
_query("w9_minmax_downsample", sql="""
WITH e AS (
  SELECT user_id, event_id, value, {EPOCH_US}(ts) AS ts_us,
         {EPOCH_US}(ts) {IDIV} 21600000000 AS bucket
  FROM events
), rmin AS (
  SELECT user_id, bucket, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                            ORDER BY value, ts_us, event_id) AS rn
  FROM e
), rmax AS (
  SELECT user_id, bucket, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                            ORDER BY value DESC, ts_us, event_id) AS rn
  FROM e
)
SELECT a.user_id, a.bucket,
       a.event_id AS min_event_id, a.value AS min_v,
       b.event_id AS max_event_id, b.value AS max_v
FROM rmin a JOIN rmax b
  ON a.user_id = b.user_id AND a.bucket = b.bucket
WHERE a.rn = 1 AND b.rn = 1
""")


@_query("w10_incremental_append", """
WITH chars AS (
  SELECT doc_id, i, ascii(substr(text, CAST(i AS INTEGER), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE i <= length(text)
)
SELECT doc_id,
       CAST((i - 1) // 16 AS INTEGER) AS win_no,
       MIN(v) AS min_v, MAX(v) AS max_v,
       CAST(SUM(v) AS BIGINT) AS sum_v, COUNT(*) AS cnt,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_v
FROM chars GROUP BY doc_id, (i - 1) // 16
""")
def _w10_incremental_append(spark, sf_dir):
    """W10+ — incremental tier maintenance (operators/incremental.py):
    ingest the first half of every doc's token stream, then APPEND the
    second half through append_tokens_to_tiers (boundary-window merge of
    the stored partial aggregates). The oracle computes the one-shot
    windows over the FULL stream — end-state equality certifies that the
    merge is lossless, including the phase-misaligned boundary window."""
    seq = _char_tokens_df(spark)
    first = seq.select(
        "doc_id",
        F.expr("slice(tokens, 1, n_tok div 2)").alias("tokens"),
        (F.expr("n_tok div 2")).cast("int").alias("n_tok"),
        "source",
    )
    delta = seq.select(
        "doc_id",
        F.expr("slice(tokens, n_tok div 2 + 1, n_tok - n_tok div 2)").alias("tokens"),
        "source",
        F.expr("n_tok div 2").cast("long").alias("offset"),
    )
    existing = rollup.tier1_from_tokens(first, window=16)
    merged = incremental.append_tokens_to_tiers(existing, delta, window=16)
    return rollup.tier_points(merged).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "win_no",
        "min_v",
        "max_v",
        "sum_v",
        "cnt",
        "mean_v",
    )


_PII_EMAIL, _PII_PHONE, _PII_IP = (pattern for pattern, _tag in text.PII_PATTERNS)


@_query("text_pii_scrub", f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@mail.example.com or 555-123-4567 at 10.0.0.' || (doc_id % 255) AS t
  FROM documents
), s1 AS (
  SELECT doc_id, t, regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1 FROM t
), s2 AS (
  SELECT doc_id, t, t1, regexp_replace(t1, '{_PII_PHONE}', '<PHONE>', 'g') AS t2 FROM s1
)
SELECT doc_id,
       md5(regexp_replace(t2, '{_PII_IP}', '<IP>', 'g')) AS scrub_md5,
       -- sequential counting, matching scrub_pii's actual substitutions:
       -- each pattern counts against the PREVIOUS pattern's output
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}'))
          + len(regexp_extract_all(t1, '{_PII_PHONE}'))
          + len(regexp_extract_all(t2, '{_PII_IP}')) AS BIGINT) AS n_pii
FROM s2
""")
def _text_pii_scrub(spark, sf_dir):
    """Text+ — PII redaction (functions/text.py scrub_pii / pii_hits).
    The synthetic corpus has no organic PII, so each doc gets a
    deterministic doc_id-derived email, phone and IP appended BEFORE
    scrubbing — the oracle injects identically and replays the same
    portable regex chain (DuckDB needs the explicit 'g' flag; Spark is
    global by default). Output is the scrubbed-text md5 + span count."""
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-123-4567 at 10.0.0."),
        (F.col("doc_id") % 255).cast("string"),
    )
    return spark.table("documents").select(
        "doc_id",
        F.md5(text.scrub_pii(t)).alias("scrub_md5"),
        text.pii_hits(t).cast("long").alias("n_pii"),
    )


# --------------------------------------------------------------------------
# §2.8 surface-completeness batch: analytic rank functions, date-part
# extraction (with the DOW dialect pinned), full outer join. Shared SQL
# templates — one text, both engines.
# --------------------------------------------------------------------------

_query("w11_rank_functions", sql="""
WITH e AS (
  SELECT user_id, event_id, value, {EPOCH_US}(ts) AS ts_us FROM events
)
SELECT user_id, event_id,
       NTILE(4) OVER w AS quartile,
       CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank,
       CAST(ROUND(CUME_DIST() OVER w, 6) AS DOUBLE) AS cume,
       DENSE_RANK() OVER (PARTITION BY user_id
                          ORDER BY CAST(FLOOR(value) AS INT)) AS dense_val_rank
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
""")

_query("p17_date_parts", sql="""
SELECT event_id,
       CAST(EXTRACT(YEAR FROM ts) AS INTEGER) AS y,
       CAST(EXTRACT(MONTH FROM ts) AS INTEGER) AS m,
       CAST(EXTRACT(DAY FROM ts) AS INTEGER) AS d,
       CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS h,
       CAST({DOW} AS INTEGER) AS dow_sun0,
       CAST(EXTRACT(QUARTER FROM ts) AS INTEGER) AS q
FROM events
""")

_query("j5_full_outer", sql="""
WITH buyers AS (
  SELECT user_id, COUNT(*) AS n_buy FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), err AS (
  SELECT user_id, COUNT(*) AS n_err FROM events
  WHERE event_type = 'error' GROUP BY user_id
)
SELECT COALESCE(b.user_id, e.user_id) AS user_id,
       COALESCE(b.n_buy, 0) AS n_buy,
       COALESCE(e.n_err, 0) AS n_err
FROM buyers b FULL OUTER JOIN err e ON b.user_id = e.user_id
""")


_SUBSEQ_PAT = "scan"


@_query("tok_subsequence_search", f"""
SELECT doc_id,
       CAST((length(text) - length(replace(text, '{_SUBSEQ_PAT}', ''))) // {len(_SUBSEQ_PAT)} AS BIGINT) AS n_occ,
       CAST(strpos(text, '{_SUBSEQ_PAT}') AS BIGINT) AS first_pos
FROM documents
WHERE strpos(text, '{_SUBSEQ_PAT}') > 0
""")
def _tok_subsequence_search(spark, sf_dir):
    """Tokens+ — contiguous token-subsequence search over the
    ``array<int>`` token streams (the token-level analog of
    ``decontaminate``: find exact token-pattern occurrences, e.g. a
    known eval prompt's token ids, inside training sequences). Pure JVM
    array expressions: exists/filter over a positions sequence with a
    slice equality — no explode, no shuffle beyond none. The char-token
    trick makes DuckDB the oracle: the token stream IS the text's ascii
    codes, so occurrences equal substring occurrences of 'scan'
    (pattern chosen with no self-overlap, so replace-based counting in
    the oracle equals sliding-window counting in the engine)."""
    seq = _char_tokens_df(spark)
    k = len(_SUBSEQ_PAT)
    # r6: the index rides INSIDE the zipped array (slice+zip idiom,
    # see functions/text.py word_ngram_array). The former
    # filter(sequence, i -> slice(tokens, i, k) == pat) re-evaluated
    # the tokens expression — itself transform(split(text)) after
    # projection collapse — once PER POSITION: O(n^2) per doc,
    # measured 60 s for this one query at sf0.1. Here tokens is
    # evaluated k+1 times per ROW and the filter lambda only
    # compares zipped struct fields. Output-identical: zipped
    # element i is (tokens[i..i+k-1], i), so the kept "i"s are
    # exactly the former 1-based match positions.
    t = F.col("tokens")
    m = F.size(t) - (k - 1)
    z = F.arrays_zip(
        *[F.slice(t, j + 1, m).alias(f"c{j}") for j in range(k)],
        F.sequence(F.lit(1), m).alias("i"),
    )
    match = lambda s: functools.reduce(  # noqa: E731
        lambda a, b: a & b,
        [s[f"c{j}"] == F.lit(ord(_SUBSEQ_PAT[j])) for j in range(k)],
    )
    positions = F.when(
        m > 0,
        F.transform(F.filter(z, match), lambda s: s["i"]),
    ).otherwise(F.array().cast("array<int>"))
    return (
        seq.withColumn("_pos", positions)
        .filter(F.size("_pos") > 0)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.size("_pos").cast("bigint").alias("n_occ"),
            F.array_min("_pos").cast("bigint").alias("first_pos"),
        )
    )


@_query("decontaminate_normalized", """
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS text
  FROM documents
), words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM norm
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 3),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS shingle
  FROM words WHERE len(w) >= 5
), bg AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
), cg AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM cg GROUP BY doc_id
), hits AS (
  SELECT cg.doc_id, COUNT(*) AS n_hits FROM cg JOIN bg USING (shingle) GROUP BY cg.doc_id
)
SELECT s.doc_id, s.n_grams,
       COALESCE(h.n_hits, 0) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / s.n_grams, 6) AS contamination_ratio,
       (COALESCE(h.n_hits, 0) >= 1) AS contaminated
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
""")
def _decontaminate_normalized(spark, sf_dir):
    """Decontam+ — normalized-text contamination (contamination_report
    with ``normalize=True``): lowercase + punctuation-strip + whitespace
    collapse applied to BOTH sides before 5-gramming, the standard eval
    decontamination convention (cosmetic edits can't hide an overlap).
    The oracle replays the identical regexp chain (DuckDB needs the
    explicit 'g' flag; Spark replaces globally by default)."""
    docs = spark.table("documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return decontam.contamination_report(corpus, bench, n=_DECONTAM_N, normalize=True)


@_query("dedup_minhash_lsh64_parity", None)
def _dedup_minhash_lsh64_parity(spark, sf_dir):
    """Dedup+ — certify the xxh64 production MinHash family against the
    md5 oracle family ON THE SF CORPUS: both bandings' candidate-pair
    sets are full-outer joined and reduced to one summary row
    (n_pairs_md5, n_pairs_xxh64, n_pairs_common, families_agree).
    Rows-only by necessity (DuckDB has no xxhash64), but the md5 side of
    the comparison is itself hash-certified by ``dedup_minhash_lsh``, so
    ``families_agree=true`` transitively certifies the xxh64 default.

    (Pair-set equality between independent uniform hash families is a
    property of the DATA — docs sharing a band must share all r minhash
    values, i.e. be near-identical in shingle space — not a coincidence
    of seeds; pytest pins it on adversarial fixtures too.)"""
    docs = spark.table("documents")
    pm = dedup.lsh_candidate_pairs(
        docs, n_hashes=16, n_bands=4, max_bucket_size=None, hash_fn="md5"
    ).select("doc_a", "doc_b", F.lit(1).alias("in_md5"))
    px = dedup.lsh_candidate_pairs(
        docs, n_hashes=16, n_bands=4, max_bucket_size=None, hash_fn="xxh64"
    ).select("doc_a", "doc_b", F.lit(1).alias("in_x64"))
    j = pm.join(px, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.sum(F.coalesce("in_md5", F.lit(0))).alias("n_pairs_md5"),
        F.sum(F.coalesce("in_x64", F.lit(0))).alias("n_pairs_xxh64"),
        F.sum(
            (F.col("in_md5").isNotNull() & F.col("in_x64").isNotNull()).cast("long")
        ).alias("n_pairs_common"),
    ).select(
        "n_pairs_md5",
        "n_pairs_xxh64",
        "n_pairs_common",
        (
            (F.col("n_pairs_md5") == F.col("n_pairs_common"))
            & (F.col("n_pairs_xxh64") == F.col("n_pairs_common"))
        ).alias("families_agree"),
    )


def _irregular_ts_seq(spark):
    """input_hint sequences + a deterministic irregular ``ts:array<long>``
    column (epoch-µs): ts[0]=0 and each later sample arrives after
    d(v) = 40000 µs when its token v is divisible by 11 (a GAP — beyond
    any 2×period threshold), else 800 + (v%7)*100 µs (normal jitter).
    Token-dependent, so segment boundaries differ per doc; replayable in
    SQL as a windowed prefix sum — and BUILT as one here too: posexplode
    -> per-doc window cumsum -> ordered collect back to an array. The
    window/aggregate pair is a physical barrier, so downstream queries
    that reference ``ts`` several times (a2's median expression does)
    reference the computed ATTRIBUTE instead of having projection
    collapse re-inline the construction per reference — the earlier
    in-row F.aggregate prefix sum was quadratic AND re-evaluated ~5x
    interpreted, which put the a2 oracle gate into the 15-minute range."""
    seq = _char_tokens_df(spark)
    e = seq.select("doc_id", F.posexplode("tokens").alias("pos", "v"))
    delta = (
        F.when(F.col("pos") == 0, F.lit(0))
        .when(F.col("v") % 11 == 0, F.lit(40000))
        .otherwise(F.lit(800) + (F.col("v") % 7) * 100)
        .cast("long")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tsdf = (
        e.select("doc_id", "pos", F.sum(delta).over(w).alias("_t"))
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_t"))),
                lambda s: s["_t"],
            ).alias("ts")
        )
    )
    # LEFT join + empty-array fill: a zero-token doc has no exploded rows
    # (absent from tsdf) but must keep ts=[] like the old in-row builder,
    # not vanish from the fixture
    return seq.join(tsdf, "doc_id", "left").withColumn(
        "ts", F.coalesce("ts", F.array().cast("array<long>"))
    )


_DUCK_IRREGULAR_SEG_CTE = """
chars AS (
  SELECT doc_id, i, ascii(substr(text, CAST(i AS INTEGER), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE i <= length(text)
), d AS (
  SELECT doc_id, i, v, CASE WHEN i = 1 THEN 0
         WHEN v % 11 = 0 THEN 40000
         ELSE 800 + (v % 7) * 100 END AS dlt
  FROM chars
), tsv AS (
  SELECT doc_id, i, v, CAST(SUM(dlt) OVER w AS BIGINT) AS ts_us
  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), flag AS (
  SELECT doc_id, i, ts_us,
         CASE WHEN ts_us - LAG(ts_us) OVER w > 4000 THEN 1 ELSE 0 END AS brk
  FROM tsv WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), seg AS (
  SELECT doc_id, i, ts_us, CAST(SUM(brk) OVER w AS BIGINT) AS seg_id
  FROM flag WINDOW w AS (PARTITION BY doc_id ORDER BY i)
)
"""


@_query("w12_irregular_segments", f"""
WITH {_DUCK_IRREGULAR_SEG_CTE}
SELECT CAST(doc_id AS VARCHAR) AS doc_id, seg_id,
       MIN(ts_us) AS seg_start_us,
       MAX(ts_us) + 1 AS seg_end_us,
       COUNT(*) AS n_samples
FROM seg GROUP BY doc_id, seg_id
""")
def _w12_irregular_segments(spark, sf_dir):
    """W12+ — explicit-timestamp sessionization (operators/irregular.py
    segments_from_ts_arrays): gap threshold 4000 µs = 2×(1/500 Hz), the
    reference's 2-period rule (reader.py:199); half-open [start, end) =
    last_ts+1 (reader.py:222-225). The engine segments INSIDE the array
    (zero-shuffle narrow map); the oracle replays it row-per-sample with
    lag/running-sum windows."""
    seq = _irregular_ts_seq(spark)
    out = irregular.segments_from_ts_arrays(seq)
    return out.select("doc_id", "seg_id", "seg_start_us", "seg_end_us", "n_samples")


@_query("w13_irregular_block_keys", f"""
WITH {_DUCK_IRREGULAR_SEG_CTE},
pos AS (
  SELECT doc_id, seg_id, i, ts_us,
         ROW_NUMBER() OVER (PARTITION BY doc_id, seg_id ORDER BY i) - 1 AS rp
  FROM seg
), blk AS (
  SELECT doc_id, seg_id, CAST(rp // 64 AS INTEGER) AS block_no,
         MIN(ts_us) AS start_us, MAX(ts_us) + 1 AS end_us,
         CAST(MIN(i) - 1 AS BIGINT) AS start_pos, COUNT(*) AS n
  FROM pos GROUP BY doc_id, seg_id, rp // 64
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, seg_id, block_no,
       start_us, end_us, start_pos, n,
       printf('%s_%012d_%012d.bin', CAST(doc_id AS VARCHAR), start_us, end_us) AS key
FROM blk
""")
def _w13_irregular_block_keys(spark, sf_dir):
    """W13+ — fixed-size blocks cut WITHIN explicit-ts segments, keyed
    by each chunk's real µs extents (operators/irregular.py
    block_bounds_from_ts_arrays; reference writer.py:46-51,90-95 with
    stored-timestamp bounds). block_size=64 so multi-block segments
    exist at certification scale."""
    seq = _irregular_ts_seq(spark)
    out = irregular.block_bounds_from_ts_arrays(seq, block_size=64)
    return out.select(
        "doc_id",
        "seg_id",
        "block_no",
        "start_us",
        "end_us",
        "start_pos",
        F.col("n").cast("bigint").alias("n"),
        "key",
    )


@_query("a2_irregular_rate", f"""
WITH {_DUCK_IRREGULAR_SEG_CTE}
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(MEDIAN(dlt) AS DOUBLE) AS median_delta_us,
       CAST(ROUND(1e6 / NULLIF(MEDIAN(dlt), 0), 9) AS DOUBLE) AS inferred_rate_hz
FROM d WHERE i BETWEEN 2 AND 10
GROUP BY doc_id
""")
def _a2_irregular_rate(spark, sf_dir):
    """A2+ for the array model — rate inference from stored timestamp
    arrays (operators/irregular.py rate_from_ts_arrays): median delta of
    the first 10 samples, rate = 1e6/median (reference utils.py:6-13),
    computed zero-shuffle inside the row. The oracle replays with
    MEDIAN() over the first nine deltas (i = 2..10) per doc."""
    seq = _irregular_ts_seq(spark)
    return irregular.rate_from_ts_arrays(seq)


_W14_STEP = 100_000


@_query("w14_irregular_resample", f"""
WITH {_DUCK_IRREGULAR_SEG_CTE},
e AS (
  SELECT doc_id, ts_us, v,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ts_us, i) AS idx
  FROM tsv
), ext AS (
  SELECT doc_id, MIN(ts_us) AS mn, MAX(ts_us) AS mx FROM e GROUP BY doc_id
), grid AS (
  SELECT doc_id,
         unnest(generate_series((mn + {_W14_STEP} - 1) // {_W14_STEP} * {_W14_STEP}, mx, {_W14_STEP})) AS gts
  FROM ext
), u AS (
  SELECT doc_id, ts_us AS ts, 0 AS side FROM e
  UNION ALL
  SELECT doc_id, gts AS ts, 1 AS side FROM grid
), c AS (
  SELECT doc_id, ts, side,
         SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY ts, side
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_idx
  FROM u
)
SELECT CAST(c.doc_id AS VARCHAR) AS doc_id, c.ts AS grid_ts_us,
       CASE WHEN p.ts_us = c.ts THEN CAST(p.v AS DOUBLE)
            ELSE CAST(ROUND(COALESCE(
                   p.v + (c.ts - p.ts_us) * (n.v - p.v)
                         / NULLIF(n.ts_us - p.ts_us, 0),
                   p.v), 6) AS DOUBLE)
       END AS v
FROM c
JOIN e p ON p.doc_id = c.doc_id AND p.idx = c.prev_idx
LEFT JOIN e n ON n.doc_id = c.doc_id AND n.idx = c.prev_idx + 1
WHERE c.side = 1
""")
def _w14_irregular_resample(spark, sf_dir):
    """W14+ — the explicit-ts stream resampled onto a 0.1 s grid:
    explode_ts_samples bridges the array model into resample_linear
    (single-window-pass plan, see w7). Timestamps are strictly
    increasing within a doc (deltas >= 800 µs), so position is a
    formality tiebreak. The oracle uses the same cumulative-count
    bracket idiom as w7 over the replayed timestamp prefix sums."""
    seq = _irregular_ts_seq(spark)
    flat = irregular.explode_ts_samples(seq)
    return resample.resample_linear(
        flat, by="doc_id", ts_col="ts_us", val_col="v",
        step_us=_W14_STEP, tiebreak="pos",
    )


_W15_WIN = 250_000


@_query("w15_irregular_tier", f"""
WITH {_DUCK_IRREGULAR_SEG_CTE}
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST((ts_us // {_W15_WIN}) * {_W15_WIN} AS BIGINT) AS win_us,
       CAST(MIN(v) AS INTEGER) AS min_v,
       CAST(MAX(v) AS INTEGER) AS max_v,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       COUNT(*) AS cnt,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_v
FROM tsv
GROUP BY doc_id, ts_us // {_W15_WIN}
""")
def _w15_irregular_tier(spark, sf_dir):
    """W15+ — REAL-TIME-window tier aggregates over explicit-ts streams
    (operators/irregular.py tier_from_ts_arrays): per (doc, 0.25 s
    window) min/max/sum/count/mean, computed with one batch-vectorized
    reduceat kernel over the concatenated Arrow batch (the rollup.py
    discipline: no per-doc Python). The oracle groups the replayed
    samples by ts_us // window."""
    seq = _irregular_ts_seq(spark)
    return irregular.tier_from_ts_arrays(seq, window_us=_W15_WIN).select(
        "doc_id", "win_us", "min_v", "max_v", "sum_v", "cnt", "mean_v"
    )


_SPAN_W, _SPAN_S = 32, 8


@_query("dedup_span_report", f"""
WITH w AS (
  SELECT doc_id, pos, md5(substr(text, CAST(pos AS INTEGER), {_SPAN_W})) AS whash
  FROM documents, (SELECT unnest(range(1, 100001, {_SPAN_S})) AS pos) g
  WHERE pos <= length(text) - {_SPAN_W - 1}
), shared AS (
  SELECT whash FROM (SELECT DISTINCT whash, doc_id FROM w) dw
  GROUP BY whash HAVING COUNT(*) > 1
), flagged AS (
  SELECT doc_id, COUNT(*) AS n_dup_windows
  FROM w JOIN shared USING (whash) GROUP BY doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_windows FROM w GROUP BY doc_id
)
SELECT s.doc_id, s.n_windows,
       COALESCE(f.n_dup_windows, 0) AS n_dup_windows,
       ROUND(COALESCE(f.n_dup_windows, 0) / s.n_windows, 6) AS dup_fraction
FROM sizes s LEFT JOIN flagged f ON f.doc_id = s.doc_id
""")
def _dedup_span_report(spark, sf_dir):
    """Dedup+ — span-level (sub-document) duplication
    (operators/spans.py): strided 32-char window hashing, windows whose
    content appears in >1 doc flagged, per-doc dup fraction. The Spark
    shape replaces the single-machine suffix array of exact-substring
    dedup with a linear scan + one hash shuffle. The oracle replays the
    identical strided md5 windows in SQL."""
    return spans.span_dup_report(spark.table("documents"), window=_SPAN_W, stride=_SPAN_S)


_RUNS_MIN_LEN = 24


@_query("dedup_exact_runs", f"""
WITH w AS (
  SELECT doc_id, pos, md5(substr(text, CAST(pos AS INTEGER), {_RUNS_MIN_LEN})) AS whash
  FROM documents, (SELECT unnest(range(1, 100001)) AS pos) g
  WHERE pos <= length(text) - {_RUNS_MIN_LEN - 1}
), shared AS (
  SELECT whash FROM (SELECT DISTINCT whash, doc_id FROM w) dw
  GROUP BY whash HAVING COUNT(*) > 1
), f AS (
  SELECT doc_id, pos FROM w WHERE whash IN (SELECT whash FROM shared)
), g2 AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM f
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS run_start,
       CAST(MAX(pos) - MIN(pos) + {_RUNS_MIN_LEN} AS BIGINT) AS run_len
FROM g2 GROUP BY doc_id, isl
""")
def _dedup_exact_runs(spark, sf_dir):
    """Dedup+ — EXACT shared-run extraction (operators/spans.py
    exact_duplicate_runs): the stride-1 verification pass that gives
    the suffix-array guarantee (Lee et al. ACL'22) — one row per
    maximal run (>= 24 chars) every window of which appears in more
    than one document, with precise 1-based start and length. The
    oracle replays the stride-1 md5 windows and the gaps-and-islands
    merge in SQL."""
    return spans.exact_duplicate_runs(spark.table("documents"), min_len=_RUNS_MIN_LEN)


_CURATION_Q = 0.55
_CURATION_TGT = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_CURATION_TGT_ROWS = ", ".join(f"('{s}', {p})" for s, p in _CURATION_TGT.items())


def _curation_oracle_sql(neardup: bool) -> str:
    """One generator for both curation oracles — the non-near-dup form
    and the full-DAG form with the LSH + recursive-components replay —
    so the shared stages cannot drift between them."""
    if neardup:
        nd_ctes = f""", sh3 AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM words WHERE len(w) >= 3
), sig AS (
  SELECT doc_id,
         {_DUCK_MINHASH_MINS}
  FROM sh3
  WHERE doc_id IN (SELECT doc_id FROM f1 WHERE NOT exact_dup)
  GROUP BY doc_id
), bands AS ({_DUCK_MINHASH_BANDS}), prs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM bands a JOIN bands b USING (band_no, band_hash)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), edges AS (SELECT u, v FROM prs UNION SELECT v AS u, u AS v FROM prs),
reach(u, lbl) AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
), neardup AS (
  SELECT u AS doc_id FROM (SELECT u, MIN(lbl) AS comp_id FROM reach GROUP BY u)
  WHERE u <> comp_id
)"""
        nd_case = "WHEN f1.doc_id IN (SELECT doc_id FROM neardup) THEN 'near_dup'\n            "
        nd_s3 = "AND f1.doc_id NOT IN (SELECT doc_id FROM neardup)\n    "
        recursive = "RECURSIVE "
    else:
        nd_ctes, nd_case, nd_s3, recursive = "", "", "", ""
    return f"""
WITH {recursive}corpus AS (
  SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n_tok
  FROM documents WHERE doc_id % 50 <> 0
), keeper AS (
  SELECT md5(text) AS h, MIN(doc_id) AS kid FROM corpus GROUP BY 1
), f1 AS (
  SELECT c.doc_id, c.source, c.text, c.n_tok, (c.doc_id <> k.kid) AS exact_dup
  FROM corpus c JOIN keeper k ON md5(c.text) = k.h
), words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
){nd_ctes}, sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 3),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS shingle
  FROM words WHERE len(w) >= 5
), bg AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
), contam AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN bg USING (shingle)
  WHERE sh.doc_id % 50 <> 0
), q AS (
  SELECT doc_id, ROUND((least(n_ws / 100.0, 1.0) + least(swr * 5, 1.0)
                        + (1.0 - least(pr * 4, 1.0))) / 3, 6) AS quality
  FROM (
    SELECT doc_id,
           CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), ' +')) END AS n_ws,
           ROUND(len(list_filter(string_split_regex(lower(text), ' +'),
                 x -> x IN ('{_STOP_LIST}')))
                 / greatest(len(string_split_regex(lower(text), ' +')), 1), 6) AS swr,
           ROUND((len(text) - len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                 / greatest(len(text), 1), 6) AS pr
    FROM corpus )
), s3 AS (
  SELECT f1.source, f1.n_tok FROM f1 JOIN q USING (doc_id)
  WHERE NOT f1.exact_dup
    {nd_s3}AND f1.doc_id NOT IN (SELECT doc_id FROM contam)
    AND q.quality >= {_CURATION_Q}
), avail AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tok_avail FROM s3 GROUP BY source
), j AS (
  SELECT COALESCE(a.source, tt.source) AS source,
         COALESCE(a.n_tok_avail, 0) AS n_tok_avail,
         CAST(COALESCE(tt.share, 0.0) AS DOUBLE) AS target_share
  FROM avail a FULL OUTER JOIN (VALUES {_CURATION_TGT_ROWS}) tt(source, share)
    ON tt.source = a.source
), t AS (
  SELECT MIN(n_tok_avail / target_share) AS T FROM j WHERE target_share > 0
), thr AS (
  SELECT source,
         CASE WHEN rate >= 1.0 THEN 'g'
              ELSE lpad(lower(hex(CAST(FLOOR(rate * 4294967296.0) AS BIGINT))), 8, '0')
         END AS thresh
  FROM (SELECT source,
               CAST(ROUND(CASE WHEN target_share > 0 AND n_tok_avail > 0
                               THEN LEAST(1.0, target_share * T / n_tok_avail)
                               ELSE 0.0 END, 9) AS DOUBLE) AS rate
        FROM j, t)
)
SELECT f1.doc_id, f1.source, f1.n_tok,
       CASE WHEN f1.exact_dup THEN 'exact_dup'
            {nd_case}WHEN f1.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
            WHEN q.quality < {_CURATION_Q} THEN 'low_quality'
            WHEN NOT (substring(md5(CAST(f1.doc_id AS VARCHAR)), 1, 8)
                      < COALESCE(thr.thresh, '0')) THEN 'mixture_out'
            ELSE 'kept' END AS stage
FROM f1 JOIN q USING (doc_id) LEFT JOIN thr ON thr.source = f1.source
"""


@_query("curation_keepset_neardup", _curation_oracle_sql(neardup=True))
def _curation_keepset_neardup(spark, sf_dir):
    """Curation+ FULL DAG — curation_keepset with the near-dup stage ON:
    MinHash-LSH candidate pairs (md5 family, uncapped like the
    dedup_minhash_lsh oracle) + connected components over the
    exact-dedup survivors; non-representative members (doc_id !=
    comp_id) drop at the near_dup stage, and the mixture availability is
    computed over the post-near-dup-post-quality survivors. The oracle
    replays the LSH banding AND the recursive transitive closure inside
    the same composed query — all five stages certified end to end."""
    docs = spark.table("documents")
    return curation.curate(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        min_quality=_CURATION_Q,
        targets=_CURATION_TGT,
        near_dup=True,
        hash_fn="md5",
        lsh_max_bucket_size=None,
    )


@_query("curation_keepset", _curation_oracle_sql(neardup=False))
def _curation_keepset(spark, sf_dir):
    """Curation+ — the END-TO-END corpus-curation DAG
    (plans/curation.py::curate): exact dedup -> benchmark
    decontamination -> quality floor -> domain-mixture draw, audited as
    one row per input doc with the FIRST stage that removed it (or
    'kept'). Docs with doc_id % 50 == 0 play the benchmark; the rest
    are the corpus. The oracle replays every stage — keeper-min digest
    groups, the 5-gram overlap, the quality formula, the full-outer
    mixture arithmetic, and the md5-prefix draw — in one SQL query, so
    the COMPOSITION (stage ordering, survivor-dependent mixture
    availability) is certified, not just each operator alone. The
    near-dup variant is curation_keepset_neardup."""
    docs = spark.table("documents")
    return curation.curate(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        min_quality=_CURATION_Q,
        targets=_CURATION_TGT,
    )


_PACK_CTX = 512


@_query("tok_pack_incremental", f"""
WITH seq AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST(length(text) AS BIGINT) AS n_tok
  FROM documents WHERE length(text) > 0
), o AS (
  SELECT source, doc_id, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
              AS BIGINT) AS "offset"
  FROM seq
)
SELECT source, doc_id, n_tok, "offset",
       "offset" // {_PACK_CTX} AS first_block,
       ("offset" + n_tok - 1) // {_PACK_CTX} AS last_block
FROM o WHERE doc_id >= '3'
""")
def _tok_pack_incremental(spark, sf_dir):
    """Tokens+ — INCREMENTAL packing (operators/packing.py
    pack_offsets_incremental): extend a packed corpus from only the
    per-source (total, max_doc_id) checkpoint, no history re-scan.
    Docs whose VARCHAR doc_id sorts below '3' play the already-packed
    corpus; the rest arrive as the append batch (a valid append:
    lexicographic split respects the packing order). The oracle replays
    the FULL-corpus cumsum and restricts to the batch — certifying
    incremental placement is bit-identical to re-packing everything."""
    seq = _char_tokens_df(spark)
    existing = seq.filter(F.col("doc_id") < "3")
    batch = seq.filter(F.col("doc_id") >= "3")
    return packing.pack_offsets_incremental(
        batch, packing.pack_totals(existing), ctx_len=_PACK_CTX
    )


_DUCK_Q8_CTE = """
xb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
  FROM embeddings
), sc AS (
  SELECT vec_id, x,
         COALESCE(list_max(list_transform(x, v -> abs(v))), 0) AS s
  FROM xb
), q8 AS (
  SELECT vec_id, s,
         CASE WHEN s = 0 THEN list_transform(x, v -> 0)
              ELSE list_transform(x, v -> CAST(round(127.0 * v / s) AS INTEGER))
         END AS q
  FROM sc
)"""


@_query("ann_quantize_roundtrip", f"""
WITH {_DUCK_Q8_CTE}
SELECT q8.vec_id,
       ROUND(q8.s, 9) AS scale,
       CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_l1,
       ROUND(list_max(list_transform(range(1, len(q) + 1),
             i -> abs(q[i] * q8.s / 127.0 - x[i]))), 6) AS max_abs_err
FROM q8 JOIN sc ON sc.vec_id = q8.vec_id
""")
def _ann_quantize_roundtrip(spark, sf_dir):
    """ANN+ — int8 embedding quantization + dequantization error
    (operators/similarity.py quantize_embeddings/dequantize_embeddings):
    per-vector (scale, L1 mass of q, max reconstruction error). The
    oracle replays the away-from-zero rounding and the q·scale/127
    inverse in SQL — certifying the exact quantized representation, not
    just its shape."""
    q8 = similarity.quantize_embeddings(spark.table("embeddings"))
    orig = spark.table("embeddings").select(
        "vec_id", F.col("embedding").alias("_x")
    )
    return q8.join(orig, "vec_id").select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, v: acc + F.abs(v)
        ).alias("q_l1"),
        F.round(
            F.array_max(
                F.zip_with(
                    "q",
                    "_x",
                    lambda a, b: F.abs(
                        a.cast("double") * F.col("scale") / F.lit(127.0)
                        - b.cast("double")
                    ),
                )
            ),
            6,
        ).alias("max_abs_err"),
    )


@_query("ann_cosine_topk_q8", f"""
WITH {_DUCK_Q8_CTE}, v AS (
  SELECT vec_id, q, sqrt(list_sum(list_transform(q, y -> CAST(y AS DOUBLE) * y))) AS qnorm
  FROM q8
), pairs AS (
  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         COALESCE(ROUND(list_sum(list_transform(range(1, len(a.q) + 1),
                        i -> CAST(a.q[i] AS DOUBLE) * c.q[i]))
               / NULLIF(a.qnorm * c.qnorm, 0), 6), 0.0) AS cos_sim_q8
  FROM v a JOIN v c ON a.vec_id <> c.vec_id
  WHERE a.vec_id < 20
)
SELECT query_id, neighbor_id, rank, cos_sim_q8 FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim_q8 DESC, neighbor_id) AS rank
  FROM pairs
) x WHERE rank <= 5
""")
def _ann_cosine_topk_q8(spark, sf_dir):
    """ANN+ — brute-force cosine top-k on the int8-QUANTIZED vectors
    (operators/similarity.py cosine_topk_q8): integer dot products, one
    double division, same rank/tiebreak contract as the float path. The
    per-vector scales cancel in the cosine ratio, so this is the 4×-
    smaller-shuffle production variant of ann_cosine_topk; the oracle
    replays quantization AND search."""
    return similarity.cosine_topk_q8(spark.table("embeddings"), k=5, n_queries=20)


@_query("text_repetition", """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1])) AS gram
  FROM words WHERE len(w) >= 2
), per AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(1.0 - COUNT(*) / SUM(c), 6) AS dup_fraction,
       ROUND(MAX(c) / SUM(c), 6) AS top_share
FROM per GROUP BY doc_id
""")
def _text_repetition(spark, sf_dir):
    """Text+ — within-doc repetition metrics (functions/text.py
    repetition_metrics): duplicate-bigram fraction and top-gram share,
    the MassiveText/Gopher repetition quality family. Computed entirely
    inside the row (zero shuffle); the oracle aggregates the exploded
    grams."""
    return text.repetition_metrics(spark.table("documents"))


@_query("tok_pack_manifest", f"""
WITH seq AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST(length(text) AS BIGINT) AS n_tok
  FROM documents WHERE length(text) > 0
), o AS (
  SELECT source, doc_id, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
              AS BIGINT) AS off
  FROM seq
), b AS (
  SELECT source, doc_id, n_tok, off,
         unnest(range(off // {_PACK_CTX}, (off + n_tok - 1) // {_PACK_CTX} + 1)) AS block_id
  FROM o
)
SELECT source, block_id, doc_id,
       GREATEST(block_id * {_PACK_CTX}, off) - off AS doc_start,
       GREATEST(block_id * {_PACK_CTX}, off) - block_id * {_PACK_CTX} AS block_off,
       LEAST((block_id + 1) * {_PACK_CTX}, off + n_tok)
         - GREATEST(block_id * {_PACK_CTX}, off) AS n_in_block
FROM b
""")
def _tok_pack_manifest(spark, sf_dir):
    """Tokens+ — sequence-packing manifest (operators/packing.py):
    concat-and-chunk each source's documents (doc_id order) into 512-
    token training blocks; one row per (block, contributing doc slice).
    The oracle replays the exclusive running sum and the block-range
    unnest in SQL. ONE wide op per side (the per-source cumsum window)."""
    seq = _char_tokens_df(spark)
    return packing.pack_manifest(seq, ctx_len=_PACK_CTX).select(
        "source", "block_id", "doc_id", "doc_start", "block_off", "n_in_block"
    )


_MIX_TGT = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_CASES = " ".join(f"WHEN source = '{s}' THEN {p}" for s, p in _MIX_TGT.items())


@_query("l4_mixture_rates", f"""
WITH avail AS (
  SELECT source, CAST(SUM(length(text)) AS BIGINT) AS n_tok_avail
  FROM documents GROUP BY source
), j AS (
  SELECT source, n_tok_avail,
         CAST(CASE {_MIX_CASES} ELSE 0.0 END AS DOUBLE) AS target_share
  FROM avail
), t AS (
  SELECT MIN(n_tok_avail / target_share) AS T FROM j WHERE target_share > 0
)
SELECT source, n_tok_avail, target_share,
       CAST(FLOOR(target_share * T) AS BIGINT) AS n_tok_take,
       CAST(ROUND(CASE WHEN target_share > 0
                       THEN LEAST(1.0, target_share * T / n_tok_avail)
                       ELSE 0.0 END, 9) AS DOUBLE) AS rate
FROM j, t
""")
def _l4_mixture_rates(spark, sf_dir):
    """L4+ — domain-mixture planning (operators/sampling.py
    mixture_rates): the largest corpus achievable at a fixed target
    source distribution without upsampling, and the per-source keep
    rates realizing it. Targets pin a skewed mix over three of the
    synthetic sources (the rest drop to rate 0); the oracle replays the
    min-ratio arithmetic in SQL."""
    seq = _char_tokens_df(spark)
    return sampling.mixture_rates(seq, _MIX_TGT)


@_query("l5_mixture_sample", f"""
WITH seq AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST(length(text) AS BIGINT) AS n_tok
  FROM documents
), avail AS (
  SELECT source, SUM(n_tok) AS n_tok_avail FROM seq GROUP BY source
), j AS (
  SELECT source, n_tok_avail,
         CAST(CASE {_MIX_CASES} ELSE 0.0 END AS DOUBLE) AS target_share
  FROM avail
), t AS (
  SELECT MIN(n_tok_avail / target_share) AS T FROM j WHERE target_share > 0
), r AS (
  SELECT source,
         CAST(ROUND(CASE WHEN target_share > 0
                         THEN LEAST(1.0, target_share * T / n_tok_avail)
                         ELSE 0.0 END, 9) AS DOUBLE) AS rate
  FROM j, t
), thr AS (
  SELECT source,
         CASE WHEN rate >= 1.0 THEN 'g'
              ELSE lpad(lower(hex(CAST(FLOOR(rate * 4294967296.0) AS BIGINT))), 8, '0')
         END AS thresh
  FROM r
)
SELECT seq.source, seq.doc_id, seq.n_tok
FROM seq JOIN thr ON thr.source = seq.source
WHERE substring(md5(seq.doc_id), 1, 8) < thr.thresh
""")
def _l5_mixture_sample(spark, sf_dir):
    """L5+ — mixture plan EXECUTION (operators/sampling.py
    apply_mixture): the l4 rates realized as a deterministic md5-prefix
    draw per source. The oracle replays planning + threshold + hash
    filter end-to-end; fixed-width lowercase hex compares like the
    32-bit integer, so both engines keep identical doc sets."""
    seq = _char_tokens_df(spark)
    rates = sampling.mixture_rates(seq, _MIX_TGT)
    return sampling.apply_mixture(seq.select("doc_id", "source", "n_tok"), rates)


@_query("tok_pack_blocks", f"""
WITH seq AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, text,
         CAST(length(text) AS BIGINT) AS n_tok
  FROM documents WHERE length(text) > 0
), o AS (
  SELECT source, doc_id, text, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
              AS BIGINT) AS off
  FROM seq
), b AS (
  SELECT source, doc_id, text, n_tok, off,
         unnest(range(off // {_PACK_CTX}, (off + n_tok - 1) // {_PACK_CTX} + 1)) AS block_id
  FROM o
), sl AS (
  SELECT source, block_id,
         GREATEST(block_id * {_PACK_CTX}, off) - block_id * {_PACK_CTX} AS block_off,
         substr(text,
                CAST(GREATEST(block_id * {_PACK_CTX}, off) - off + 1 AS INTEGER),
                CAST(LEAST((block_id + 1) * {_PACK_CTX}, off + n_tok)
                     - GREATEST(block_id * {_PACK_CTX}, off) AS INTEGER)) AS piece
  FROM b
)
SELECT source, block_id,
       CAST(SUM(length(piece)) AS BIGINT) AS n_tokens,
       md5(string_agg(piece, '' ORDER BY block_off)) AS block_md5
FROM sl GROUP BY source, block_id
""")
def _tok_pack_blocks(spark, sf_dir):
    """Tokens+ — packed-block MATERIALIZATION (operators/packing.py
    materialize_blocks): the l-manifest executed into real fixed-ctx
    token blocks. The char-token trick certifies content exactly: each
    block's tokens render back to text and the md5 must equal the
    oracle's ordered string_agg of the same substring slices."""
    seq = _char_tokens_df(spark)
    out = packing.materialize_blocks(seq, ctx_len=_PACK_CTX)
    rendered = F.array_join(F.transform("tokens", lambda t: F.char(t)), "")
    return out.select(
        "source", "block_id", "n_tokens", F.md5(rendered).alias("block_md5")
    )


# ==========================================================================
# Batch 5 — round-5 extensions: the multimodal decode seam EXECUTED in
# this env (pure-numpy BMP/WAV codecs, VERDICT r4 ask #4). Payloads are
# synthesized deterministically from doc_id so DuckDB replays the pixel /
# sample formulas directly; the Spark side round-trips real bytes through
# encode -> distributed decode.
# ==========================================================================

_MM_DOCS = 3000  # doc_id bound: ~1000 payloads per modality at any sf


@_query("multimodal_features", f"""
WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 0 AND doc_id < {_MM_DOCS}
), px AS (
  SELECT d.doc_id,
         (y.y // 4) * 4 + (x.x // 4) AS cell_no,
         (3 * y.y + 7 * x.x + d.doc_id) % 256 AS v
  FROM d, range(16) y(y), range(16) x(x)
)
SELECT doc_id, CAST(cell_no AS INTEGER) AS cell_no,
       CAST(SUM(v) AS BIGINT) AS gray_sum
FROM px GROUP BY doc_id, cell_no
""")
def _multimodal_features(spark, sf_dir):
    """Media+ — REAL image decode through the distributed seam: 16x16
    24-bit BMP payloads synthesized per doc (gray ramp
    v(y,x) = (3y + 7x + doc_id) % 256, R=G=B), decoded back by
    ``functions/multimodal.py::decode_image`` (Pillow when installed,
    else the pure-numpy BMP parser) inside ``extract_features``'s
    mapInPandas, 4x4 grid-mean features -> integer grid sums. Exactness:
    the f32 feature is k/(16*255) with k = cell pixel sum <= 4080; sums
    and /16 are exact in f32, so ROUND(f * 4080) recovers k exactly and
    the oracle recomputes k from the pixel formula. Reference parity:
    the reference treats attachments as opaque bytes
    (processor/importer.py); this certifies the byte->feature path a
    training pipeline adds on top."""
    docs = (
        spark.table("documents")
        .filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < _MM_DOCS))
        .select("doc_id")
    )

    def payloads(batches):
        y, x = np.mgrid[0:16, 0:16]
        base = 3 * y + 7 * x
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                v = ((base + int(d)) % 256).astype(np.uint8)
                payload = multimodal.encode_bmp(np.repeat(v[:, :, None], 3, axis=2))
                rows.append(
                    (
                        f"m-{int(d)}",
                        "image",
                        payload,
                        len(payload),
                        hashlib.sha256(payload).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in multimodal.MEDIA_SCHEMA.fields]
            )

    feats = multimodal.extract_features(docs.mapInPandas(payloads, multimodal.MEDIA_SCHEMA))
    return feats.select(
        F.regexp_replace("media_id", "^m-", "").cast("bigint").alias("doc_id"),
        F.posexplode("features").alias("cell_no", "f"),
    ).select(
        "doc_id",
        "cell_no",
        F.round(F.col("f") * F.lit(4080.0)).cast("bigint").alias("gray_sum"),
    )


@_query("multimodal_audio_energy", f"""
WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 1 AND doc_id < {_MM_DOCS}
), s AS (
  SELECT d.doc_id, i.i, ((7 * i.i + d.doc_id) % 201) - 100 AS v
  FROM d, range(1600) i(i)
)
SELECT doc_id, CAST(i // 100 AS INTEGER) AS chunk_no,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM s GROUP BY doc_id, i // 100
""")
def _multimodal_audio_energy(spark, sf_dir):
    """Media+ — REAL audio decode through the distributed seam:
    RIFF/WAVE PCM-16 payloads (1600 mono samples per doc,
    s[i] = ((7i + doc_id) % 201) - 100), decoded back by
    ``decode_wav_pcm16`` (the PyAV-free numpy parser) in a second
    mapInPandas stage, then 16 equal-chunk int64 energies — integer
    arithmetic end to end, so the oracle replays the sample formula
    exactly. (The normalized-RMS feature tail over the same decoder is
    pinned by pytest; energies are the SQL-replayable projection.)"""
    docs = (
        spark.table("documents")
        .filter((F.col("doc_id") % 3 == 1) & (F.col("doc_id") < _MM_DOCS))
        .select("doc_id")
    )
    wav_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def payloads(batches):
        i = np.arange(1600, dtype=np.int64)
        for pdf in batches:
            rows = [
                (
                    int(d),
                    multimodal.encode_wav_pcm16(
                        (((7 * i + int(d)) % 201) - 100).astype(np.int16)
                    ),
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("chunk_no", T.IntegerType(), False),
            T.StructField("energy", T.LongType(), False),
        ]
    )

    def energies(batches):
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                planar, _rate = multimodal.decode_wav_pcm16(payload)
                v = planar[0].astype(np.int64)
                e = (v * v).reshape(16, -1).sum(axis=1)
                rows.extend((int(d), c, int(e[c])) for c in range(16))
            yield pd.DataFrame(rows, columns=["doc_id", "chunk_no", "energy"])

    return docs.mapInPandas(payloads, wav_schema).mapInPandas(
        energies, out_schema
    )


@_query("multimodal_resize", f"""
WITH d AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 2 AND doc_id < {_MM_DOCS}
), px AS (
  SELECT d.doc_id, 6 * k.k + 10 * l.l + 4 + (d.doc_id % 40) AS v
  FROM d, range(1, 7) k(k), range(1, 7) l(l)
)
SELECT doc_id, CAST(SUM(3 * v) AS BIGINT) AS gray_total
FROM px GROUP BY doc_id
""")
def _multimodal_resize(spark, sf_dir):
    """Media+ — decode + bilinear resize certified: 16x16 BMPs whose
    gray is LINEAR in (y, x) (v = 3y + 5x + doc_id % 40, max 159 — no
    mod wrap), resized to 8x8 through ``resize_images``. On an affine
    ramp both resize paths are EXACT and identical at INTERIOR pixels —
    numpy bilinear (pixel-center) and Pillow's triangle-kernel BILINEAR
    are both symmetric weighted means of a linear function, yielding
    v(center) = 6k + 10l + 4 + doc_id % 40, an integer. At the image
    BORDER Pillow clamps + renormalizes its kernel (the weighted mean
    position shifts), so the certified projection is the gray sum over
    the interior 6x6 region only — exact under either codec path.
    One row per image; interior byte sum via an Arrow-batched
    mapInPandas over the raw RGB binary."""
    docs = (
        spark.table("documents")
        .filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") < _MM_DOCS))
        .select("doc_id")
    )

    def payloads(batches):
        y, x = np.mgrid[0:16, 0:16]
        base = 3 * y + 5 * x
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                v = (base + int(d) % 40).astype(np.uint8)
                payload = multimodal.encode_bmp(np.repeat(v[:, :, None], 3, axis=2))
                rows.append(
                    (
                        f"m-{int(d)}",
                        "image",
                        payload,
                        len(payload),
                        hashlib.sha256(payload).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in multimodal.MEDIA_SCHEMA.fields]
            )

    small = multimodal.resize_images(docs.mapInPandas(payloads, multimodal.MEDIA_SCHEMA), 8, 8)

    sum_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("gray_total", T.LongType(), False),
        ]
    )

    def interior_sums(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": [
                        int(m[2:]) for m in pdf["media_id"]
                    ],
                    "gray_total": [
                        int(
                            np.frombuffer(b, np.uint8)
                            .reshape(8, 8, 3)[1:7, 1:7]
                            .sum()
                        )
                        for b in pdf["rgb"]
                    ],
                }
            )

    return small.select("media_id", "rgb").mapInPandas(
        interior_sums, sum_schema
    )


# ==========================================================================
# Batch 5b — round-5 training-pipeline extensions: deterministic global
# training order, distributed BPE primitives, bloom-filter
# decontamination, embedding centroid outlier scoring.
# ==========================================================================


@_query("train_order_manifest", """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5('e0' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS position
FROM documents
""")
def _train_order_manifest(spark, sf_dir):
    """Order+ — deterministic global training-order manifest
    (operators/ordering.py shuffle_manifest): every doc's 1-based rank
    under ORDER BY (md5(epoch_salt || doc_id), doc_id) — the
    reproducible epoch shuffle a training job consumes. Two-phase
    md5-prefix-bucketed rank (the sampling.py machinery), so no global
    corpus-sized window; the oracle IS the single global window,
    certifying the two-phase decomposition equals it exactly."""
    return ordering.shuffle_manifest(spark.table("documents"), salt="e0")


@_query("bpe_pair_counts", """
SELECT ascii(substr(text, CAST(i AS INTEGER), 1)) AS left,
       ascii(substr(text, CAST(i AS INTEGER) + 1, 1)) AS right,
       COUNT(*) AS n_pairs
FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
WHERE i < length(text)
GROUP BY 1, 2
""")
def _bpe_pair_counts(spark, sf_dir):
    """BPE+ — adjacent-token-pair frequencies (operators/bpe.py
    pair_counts), the statistic every BPE training round maximizes.
    Char-token corpus, so the oracle counts 2-char windows of the raw
    text. One map-side-combined shuffle of |distinct pairs| rows."""
    seq = _char_tokens_df(spark)
    return bpe.pair_counts(seq)


def _bpe_oracle_sql(n_merges: int) -> str:
    """DuckDB replay of the full bpe_train loop: round r's merged token
    (Spark id 256+r) is rendered as chr(1+r) — codes 1..n_merges never
    occur in the corpus (charset is 32..121) — and greedy left-to-right
    pair merging IS string replace(). The argmax tie-break orders by
    the SAME mapped integer ids the engine uses."""
    mapped = (
        "CASE WHEN ascii({c}) BETWEEN 1 AND %d THEN 255 + ascii({c}) "
        "ELSE ascii({c}) END" % n_merges
    )
    ctes = [
        "t0 AS (SELECT doc_id, text AS s FROM documents WHERE length(text) > 1)"
    ]
    selects = []
    for r in range(n_merges):
        ctes.append(
            f"""p{r} AS (
  SELECT substr(s, CAST(i AS INTEGER), 1) AS l,
         substr(s, CAST(i AS INTEGER) + 1, 1) AS r, COUNT(*) AS c
  FROM t{r}, (SELECT unnest(range(1, 200001)) AS i) g
  WHERE i < length(s) GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""m{r} AS (
  SELECT l, r, c FROM p{r}
  ORDER BY c DESC, {mapped.format(c='l')} ASC, {mapped.format(c='r')} ASC
  LIMIT 1
)"""
        )
        ctes.append(
            f"""t{r + 1} AS (
  SELECT doc_id, replace(s, (SELECT l || r FROM m{r}), chr({r + 1})) AS s
  FROM t{r}
)"""
        )
        selects.append(
            f"SELECT {r} AS round, CAST({mapped.format(c='l')} AS INTEGER) AS left, "
            f"CAST({mapped.format(c='r')} AS INTEGER) AS right, "
            f"{256 + r} AS new_id, CAST(c AS BIGINT) AS n_pairs FROM m{r}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_encode_oracle_sql(n_merges: int) -> str:
    """Same round-by-round replay as ``_bpe_oracle_sql`` but the result
    is the ENCODED CORPUS, reported per doc as (n_tok, sum_tok) over the
    final merged rendering — merged char chr(1+r) maps back to token id
    256+r. t0 keeps 1-char docs (they pass through encoding unchanged;
    they contribute no pairs, so the merge table is identical)."""
    mapped = (
        "CASE WHEN ascii({c}) BETWEEN 1 AND %d THEN 255 + ascii({c}) "
        "ELSE ascii({c}) END" % n_merges
    )
    ctes = [
        "t0 AS (SELECT doc_id, text AS s FROM documents WHERE length(text) > 0)"
    ]
    for r in range(n_merges):
        ctes.append(
            f"""p{r} AS (
  SELECT substr(s, CAST(i AS INTEGER), 1) AS l,
         substr(s, CAST(i AS INTEGER) + 1, 1) AS r, COUNT(*) AS c
  FROM t{r}, (SELECT unnest(range(1, 200001)) AS i) g
  WHERE i < length(s) GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""m{r} AS (
  SELECT l, r, c FROM p{r}
  ORDER BY c DESC, {mapped.format(c='l')} ASC, {mapped.format(c='r')} ASC
  LIMIT 1
)"""
        )
        ctes.append(
            f"""t{r + 1} AS (
  SELECT doc_id, replace(s, (SELECT l || r FROM m{r}), chr({r + 1})) AS s
  FROM t{r}
)"""
        )
    ch = "substr(s, CAST(i AS INTEGER), 1)"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(length(s) AS BIGINT) AS n_tok,
       CAST(SUM({mapped.format(c=ch)}) AS BIGINT) AS sum_tok
FROM t{n_merges}, (SELECT unnest(range(1, 200001)) AS i) g
WHERE i <= length(s)
GROUP BY doc_id, length(s)
"""
    )


_BPE_MERGES = 4


@_query("bpe_train_merges", _bpe_oracle_sql(_BPE_MERGES))
def _bpe_train_merges(spark, sf_dir):
    """BPE+ — the full distributed BPE TRAINING loop (operators/bpe.py
    bpe_train): 4 rounds of count -> argmax (count DESC, pair ASC) ->
    greedy merge, certified end to end. The oracle replays every round
    on the text rendering (merge == string replace; merged ids map to
    reserved control chars), so identical merge tables mean the
    distributed pair counts, the tie-break, AND the greedy overlap
    semantics all match."""
    seq = _char_tokens_df(spark)
    return bpe.bpe_train(seq, n_merges=_BPE_MERGES)


@_query("bpe_encode_stats", _bpe_encode_oracle_sql(_BPE_MERGES))
def _bpe_encode_stats(spark, sf_dir):
    """BPE+ — TOKENIZE the corpus with a trained merge table
    (operators/bpe.py bpe_encode): the merge table from 4 training
    rounds is applied in rank order in ONE Arrow pass (plan depth O(1)
    in |merges|, vs an n-deep apply_merge chain). Output: per-doc
    (n_tok, sum_tok) of the encoded stream; the oracle replays training
    AND encoding round by round on the text rendering, so matching
    sums certify every merged token id and position."""
    seq = _char_tokens_df(spark)
    enc = bpe.bpe_encode(seq, bpe.bpe_train(seq, n_merges=_BPE_MERGES))
    return enc.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tok"),
        F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("sum_tok"),
    )


# 20-bit bitmap position: the first 5 hex digits of md5 h
_BLOOM_HEXPOS = (
    "((((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(h, 5, 1)) - 1"
)


@_query("decontaminate_bloom", f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 3),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))) AS shingle
  FROM words WHERE len(w) >= 5
), bench_pos AS (
  SELECT DISTINCT pos FROM (
    SELECT {_BLOOM_HEXPOS} AS pos FROM (
      SELECT md5(CAST(j AS VARCHAR) || ':' || shingle) AS h
      FROM (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
           (SELECT unnest(range(3)) AS j)
    )
  )
), cg AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0
), gram_hits AS (
  SELECT doc_id, shingle FROM (
    SELECT cg.doc_id, cg.shingle, {_BLOOM_HEXPOS} AS pos FROM (
      SELECT doc_id, shingle, md5(CAST(j AS VARCHAR) || ':' || shingle) AS h
      FROM cg, (SELECT unnest(range(3)) AS j)
    ) cg
  ) p JOIN bench_pos USING (pos)
  GROUP BY doc_id, shingle HAVING COUNT(*) = 3
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_hits FROM gram_hits GROUP BY doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM cg GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_hits, 0) AS BIGINT) AS n_hits_bloom,
       (COALESCE(p.n_hits, 0) > 0) AS flagged
FROM documents d
LEFT JOIN sizes s ON s.doc_id = d.doc_id
LEFT JOIN per_doc p ON p.doc_id = d.doc_id
WHERE d.doc_id % 50 <> 0
""")
def _decontaminate_bloom(spark, sf_dir):
    """Decontam+ — BLOOM-FILTER decontamination (operators/decontam.py
    bloom_decontaminate): the benchmark gram set compressed to a
    2^20-bit bitmap (k=3 md5-derived positions per gram), corpus tested
    in ONE narrow Arrow pass — zero joins/shuffles, vs the exact path's
    broadcast of full gram strings. Deterministic false positives: both
    engines compute the identical md5 positions, so the oracle replays
    the bitmap AND the FP set bit-for-bit. Same corpus/benchmark split
    as `decontaminate` (doc_id % 50)."""
    docs = spark.table("documents")
    return decontam.bloom_decontaminate(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        n=_DECONTAM_N,
    )


@_query("emb_label_centroids", """
SELECT label AS group, CAST(i.i AS INTEGER) AS dim,
       ROUND(CAST(SUM(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DECIMAL(28,12))) AS DOUBLE)
             / COUNT(*), 6) AS c
FROM embeddings, (SELECT unnest(range(64)) AS i) i
GROUP BY label, i.i
""")
def _emb_label_centroids(spark, sf_dir):
    """Embedding+ — per-label centroid components
    (operators/similarity.py label_centroids): the SemDeDup-style
    cluster summary. Exact decimal sums (order-independent) divided as
    double, rounded 6 — the engine's oracle float rule."""
    return similarity.label_centroids(spark.table("embeddings"))


@_query("emb_centroid_outliers", """
WITH cent AS (
  SELECT label, CAST(i.i AS INTEGER) AS dim,
         ROUND(CAST(SUM(CAST(embedding[CAST(i.i AS INTEGER) + 1] AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*), 6) AS c
  FROM embeddings, (SELECT unnest(range(64)) AS i) i
  GROUP BY label, i.i
), carr AS (
  SELECT label, list(c ORDER BY dim) AS cent FROM cent GROUP BY label
)
SELECT e.vec_id, e.label AS group,
       ROUND(CASE WHEN sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x))) > 0
                   AND sqrt(list_sum(list_transform(c.cent, x -> x * x))) > 0
             THEN list_sum(list_transform(range(1, len(e.embedding) + 1),
                           i -> CAST(e.embedding[i] AS DOUBLE) * c.cent[i]))
                  / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)))
                     * sqrt(list_sum(list_transform(c.cent, x -> x * x))))
             ELSE 0.0 END, 6) AS cos_centroid
FROM embeddings e JOIN carr c ON c.label = e.label
""")
def _emb_centroid_outliers(spark, sf_dir):
    """Embedding+ — cosine of every vector to its own label's centroid
    (operators/similarity.py centroid_outliers): the outlier score for
    embedding-space quality filtering. Centroids are the rounded
    label_centroids contract (broadcast back as arrays); the corpus
    side never shuffles."""
    return similarity.centroid_outliers(spark.table("embeddings"))


_M4_BUCKETS = 16


@_query("m4_downsample", f"""
WITH chars AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS i, length(text) AS n,
         ascii(substr(text, CAST(i AS INTEGER), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE i <= length(text)
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(i * {_M4_BUCKETS} // n AS INTEGER) AS bucket,
       MIN(v) AS min_v, MAX(v) AS max_v,
       arg_min(v, i) AS first_v, arg_max(v, i) AS last_v,
       COUNT(*) AS n
FROM chars GROUP BY doc_id, i * {_M4_BUCKETS} // n
""")
def _m4_downsample(spark, sf_dir):
    """TS+ — M4 visualization downsample (operators/downsample.py):
    min/max/first/last per (doc, pixel bucket) over the char-token
    stream — the width-aware render aggregation (Jugel et al. VLDB'14).
    One map-side-combined groupBy, no window/sort; the oracle replays
    bucket = floor(i·B/n) and arg_min/arg_max."""
    seq = _char_tokens_df(spark)
    return downsample.m4_downsample(seq, n_buckets=_M4_BUCKETS)


@_query("lm_avg_prob", """
WITH pairs AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS a,
         substr(text, CAST(i AS INTEGER) + 1, 1) AS b
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE i < length(text)
), mb AS (
  SELECT * FROM pairs WHERE doc_id % 10 = 0
), cab AS (
  SELECT a, b, COUNT(*) AS c_ab FROM mb GROUP BY a, b
), ca AS (
  SELECT a, COUNT(*) AS c_a FROM mb GROUP BY a
), v AS (
  SELECT COUNT(DISTINCT substr(text, CAST(i AS INTEGER), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE doc_id % 10 = 0 AND i <= length(text)
), cb AS (
  SELECT * FROM pairs WHERE doc_id % 10 <> 0
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(
           CAST(COALESCE(c_ab, 0) + 1 AS DOUBLE)
           / CAST(COALESCE(c_a, 0) + v.v AS DOUBLE)
         AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS avg_prob
FROM cb
LEFT JOIN cab USING (a, b)
LEFT JOIN ca USING (a)
CROSS JOIN v
GROUP BY doc_id
""")
def _lm_avg_prob(spark, sf_dir):
    """Text+ — char-bigram LM quality score (functions/text.py
    lm_avg_prob): mean add-one-smoothed bigram probability of each
    corpus doc under a model trained on the doc_id % 10 == 0 slice —
    the CCNet-style "LM-likes-it" quality signal in its engine-portable
    mean-probability form (each p is one correctly-rounded IEEE integer
    division; decimal-sum rule for the mean — see the operator
    docstring for why not log-perplexity)."""
    docs = spark.table("documents")
    return text.lm_avg_prob(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


@_query("rollup_tier_upsert", """
WITH chars AS (
  SELECT doc_id, i, ascii(substr(text, CAST(i AS INTEGER), 1)) AS v
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE i <= length(text)
)
SELECT doc_id,
       CAST((i - 1) // 64 AS INTEGER) AS win_no,
       MIN(v) AS min_v, MAX(v) AS max_v,
       CAST(SUM(v) AS BIGINT) AS sum_v, COUNT(*) AS cnt,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS mean_v
FROM chars GROUP BY doc_id, (i - 1) // 64
""")
def _rollup_tier_upsert(spark, sf_dir):
    """TS+ — incremental continuous-aggregate maintenance
    (operators/rollup.py rollup_upsert): a corpus whose doc_id % 7 == 0
    docs were first ingested STALE (text reversed) is repaired by
    re-rolling ONLY the delta and anti-join-replacing those docs' tier
    rows. The oracle is the plain full-corpus 1m-tier rollup of the
    FRESH text — certifying the upsert (including dropped trailing
    windows and untouched docs) is indistinguishable from a full
    recompute."""
    docs = spark.table("documents")
    tiers = (("1s", 16), ("1m", 4))
    stale = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.reverse("text")).otherwise(
            F.col("text")
        ),
    )
    existing = rollup.tier_points(
        rollup.rollup_all_tiers(_char_tokens_of(stale), tiers)["1m"]
    )
    delta = _char_tokens_of(docs.filter(F.col("doc_id") % 7 == 0))
    out = rollup.rollup_upsert(existing, delta, tiers, "1m")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "win_no",
        "min_v",
        "max_v",
        "sum_v",
        "cnt",
        "mean_v",
    )


_ORDER_BATCH = 64


@_query("train_order_batches", f"""
WITH m AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5('e1' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS position
  FROM documents
)
SELECT doc_id, position,
       CAST((position - 1) // {_ORDER_BATCH} AS BIGINT) AS batch_no,
       CAST((position - 1) % {_ORDER_BATCH} AS INTEGER) AS pos_in_batch
FROM m
""")
def _train_order_batches(spark, sf_dir):
    """Order+ — global batch assignment over the deterministic epoch
    permutation (operators/ordering.py epoch_batches): the manifest a
    data loader consumes for reproducible, resumable training. Pure
    projection on shuffle_manifest (same two-phase rank plan, no extra
    exchange); the oracle replays the single global window + integer
    batch arithmetic."""
    return ordering.epoch_batches(spark.table("documents"), batch_size=_ORDER_BATCH, salt="e1")


@_query("tok_unigram_zipf", """
WITH c AS (
  SELECT ascii(substr(text, CAST(i AS INTEGER), 1)) AS token, COUNT(*) AS n
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE i <= length(text) GROUP BY 1
)
SELECT token, CAST(n AS BIGINT) AS n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT) AS rank
FROM c
""")
def _tok_unigram_zipf(spark, sf_dir):
    """Vocab+ — corpus token frequencies with Zipf rank
    (operators/bpe.py unigram_stats): the vocabulary report tokenizer
    training starts from. One |vocab|-row shuffle; the rank window runs
    on the bounded |vocab|-row aggregate (waived global window)."""
    seq = _char_tokens_df(spark)
    return bpe.unigram_stats(seq)


@_query("src_char_drift", """
WITH chars AS (
  SELECT source AS grp, substr(text, CAST(i AS INTEGER), 1) AS ch
  FROM documents, (SELECT unnest(range(1, 100001)) AS i) g
  WHERE i <= length(text)
), per AS (
  SELECT grp, ch, COUNT(*) AS c_gc FROM chars GROUP BY grp, ch
), vocab AS (
  SELECT ch, COUNT(*) AS c_c FROM chars GROUP BY ch
), per_g AS (
  SELECT grp, COUNT(*) AS n_g FROM chars GROUP BY grp
), total AS (
  SELECT SUM(c_c) AS n FROM vocab
)
SELECT per_g.grp AS group, CAST(per_g.n_g AS BIGINT) AS n_chars,
       ROUND(CAST(SUM(CAST(ABS(
           CAST(COALESCE(per.c_gc, 0) AS DOUBLE) / per_g.n_g
           - CAST(vocab.c_c AS DOUBLE) / total.n
         ) AS DECIMAL(28,12))) AS DOUBLE) / 2, 6) AS tv
FROM per_g
CROSS JOIN vocab
LEFT JOIN per ON per.grp = per_g.grp AND per.ch = vocab.ch
CROSS JOIN total
GROUP BY per_g.grp, per_g.n_g
""")
def _src_char_drift(spark, sf_dir):
    """Quality+ — per-source total-variation drift of the char
    distribution vs the whole corpus (functions/text.py
    char_distribution_drift): the feed-health monitor. TV, not KL, so
    every term is correctly-rounded IEEE arithmetic (no libm log);
    decimal-sum float rule for the Σ."""
    return text.char_distribution_drift(spark.table("documents"))


@_query("gopher_quality_flags", """
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS words,
         length(text) AS n_chars
  FROM documents
), s AS (
  SELECT doc_id, n_chars, len(words) AS n_words,
         COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS total_len,
         n_chars - length(replace(text, '#', '')) AS n_hash,
         (n_chars - length(replace(text, '...', ''))) // 3 AS n_ellipsis,
         len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         len(list_intersect(list_distinct(words),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM w
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
       (total_len >= 3 * n_words AND total_len <= 10 * n_words) AS mean_word_len_ok,
       (n_hash * 10 <= n_chars) AS hash_ratio_ok,
       (n_ellipsis * 10 <= 3 * n_words) AS ellipsis_ratio_ok,
       (n_alpha * 5 >= n_words * 4) AS alpha_word_ok,
       (n_stop >= 2) AS stopword_ok,
       ((n_words >= 50 AND n_words <= 100000)
        AND (total_len >= 3 * n_words AND total_len <= 10 * n_words)
        AND (n_hash * 10 <= n_chars)
        AND (n_ellipsis * 10 <= 3 * n_words)
        AND (n_alpha * 5 >= n_words * 4)
        AND (n_stop >= 2)) AS kept
FROM s
""")
def _gopher_quality_flags(spark, sf_dir):
    """Quality+ — Gopher-rule document filter flags (functions/text.py
    gopher_quality_flags): word count / mean word length / symbol and
    ellipsis ratios / alpha-word share / stopword presence, every
    threshold in integer cross-multiplied form so the booleans are
    bit-portable with no float division. Zero-shuffle projection."""
    return text.gopher_quality_flags(spark.table("documents"))


# ==========================================================================
# Batch r5-final — exact histogram quantiles, linear-interp gap-fill,
# integer-exact anomaly flags, containment dedup, source overlap matrix
# ==========================================================================


@_query("agg_exact_quantiles", """
WITH h AS (
  SELECT source AS grp, n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1, 2
), cum AS (
  SELECT grp, v,
         SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY grp) AS n
  FROM h
)
SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
       MIN(CASE WHEN cum * 2 >= n * 1 THEN v END) AS p50,
       MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS p90,
       MIN(CASE WHEN cum * 100 >= n * 99 THEN v END) AS p99
FROM cum GROUP BY grp
""")
def _agg_exact_quantiles(spark, sf_dir):
    """A2+ — exact distributed quantiles, counting-sort form (operators/
    quantiles.py): the reference's np.median rate inference
    (reference processor/reader.py:85-96) generalized to a
    scalable exact per-group quantile over an integral domain. Oracle
    replays the same cross-multiplied integer rank thresholds — no
    float quantile math in either engine."""
    return quantiles.exact_group_quantiles(
        spark.table("documents"), "source", "n_chars"
    )


@_query("w2_gapfill_interp", """
WITH obs AS (
  SELECT user_id, epoch_us(ts) // 60000000 AS win,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v
  FROM events WHERE user_id < 30 GROUP BY 1, 2
), b AS (
  SELECT user_id, MIN(win) AS w0, MAX(win) AS w1 FROM obs GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(range(w0, w1 + 1)) AS win FROM b
), joined AS (
  SELECT g.user_id, g.win, o.v FROM grid g
  LEFT JOIN obs o ON g.user_id = o.user_id AND g.win = o.win
), nb AS (
  SELECT user_id, win, v,
    LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY win
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    LAST_VALUE(CASE WHEN v IS NOT NULL THEN win END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY win
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_w,
    FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY win
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN win END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY win
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_w
  FROM joined
), filled AS (
  SELECT user_id, win, v,
    CASE
      WHEN v IS NOT NULL THEN v
      WHEN prev_v IS NULL THEN next_v
      WHEN next_v IS NULL THEN prev_v
      ELSE prev_v + CAST((
             (next_v - prev_v) * (win - prev_w)
             - ((((next_v - prev_v) * (win - prev_w)) % (next_w - prev_w)
                 + (next_w - prev_w)) % (next_w - prev_w))
           ) / (next_w - prev_w) AS BIGINT)
    END AS v_interp
  FROM nb
)
SELECT user_id, COUNT(*) AS n_grid,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_interp,
       CAST(SUM(v_interp) AS BIGINT) AS sum_interp_cents
FROM filled GROUP BY user_id
""")
def _w2_gapfill_interp(spark, sf_dir):
    """W2 policy #2 — LINEAR interpolation gap-fill (operators/
    gapfill.py::interp_fill) over the same minute-grid fixture as
    w2_gapfill_grid (which forward-fills). Interior gaps get the
    straight line between nearest observed neighbors; edges clamp.
    The measure is fixed-pointed to integer cents and the quotient is
    exact portable floor division (pmod form) — no floats anywhere, so
    both engines hash identically (a per-row ROUND(double,6) variant
    measurably disagreed in the last ulp ~1/10^4 rows)."""
    ev = spark.table("events").filter(F.col("user_id") < 30)
    obs = ev.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 60000000").alias("win"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v")
    )
    b = obs.groupBy("user_id").agg(
        F.min("win").alias("w0"), F.max("win").alias("w1")
    )
    grid = b.select(
        "user_id", F.explode(F.sequence("w0", "w1")).alias("win")
    )
    joined = grid.join(obs, ["user_id", "win"], "left")
    filled = gapfill.interp_fill(joined, "user_id", "win", "v")
    return filled.groupBy("user_id").agg(
        F.count("*").alias("n_grid"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_interp"),
        F.sum("v_interp").cast("bigint").alias("sum_interp_cents"),
    )


@_query("w_anomaly_zscore", """
WITH c AS (
  SELECT event_id AS id, event_type AS grp,
         CAST(ROUND(value * 100) AS BIGINT) AS v_c
  FROM events
), s AS (
  SELECT grp, COUNT(*) AS n, SUM(v_c) AS sv, SUM(v_c * v_c) AS q
  FROM c GROUP BY grp
), j AS (
  SELECT id, c.grp, v_c, n, sv, q,
         CAST(v_c AS HUGEINT) * n - sv AS dev,
         CAST(n AS HUGEINT) * q - CAST(sv AS HUGEINT) * sv AS var_num
  FROM c JOIN s ON c.grp = s.grp
)
SELECT id, grp, v_c AS value_cents,
       (n > 1 AND dev * dev * (n - 1) > 4 * CAST(n AS HUGEINT) * var_num)
         AS flagged,
       CASE WHEN n > 1 AND dev * dev * (n - 1) > 4 * CAST(n AS HUGEINT) * var_num
            THEN CAST(SIGN(dev) AS INTEGER) ELSE 0 END AS side
FROM j
""")
def _w_anomaly_zscore(spark, sf_dir):
    """F4+ — per-group sigma anomaly flags, integer-exact (operators/
    anomaly.py): the reference's rate-tolerance consistency predicate
    (reference processor/reader.py:98-106) generalized to a
    cross-multiplied z^2 > k^2 test over integer cents; ONE bounded agg
    + broadcast + zero-shuffle flag projection. Oracle replays the
    identical integer inequality in HUGEINT."""
    return anomaly.zscore_flags(
        spark.table("events"), "event_type", "value", "event_id"
    )


@_query("dedup_containment", f"""
WITH {_DUCK_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(n_common / sa.n_sh, 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
WHERE n_common >= 0.5 * sa.n_sh
""")
def _dedup_containment(spark, sf_dir):
    """Dedup+ — directional n-gram containment (operators/dedup.py::
    ngram_containment_pairs): |A∩B|/|A| — the asymmetric near-dup
    measure that catches a short doc wholly embedded in a long one
    (Jaccard misses it). Same inverted-index shape as the Jaccard
    verifier; oracle shares the shingle CTE."""
    return dedup.ngram_containment_pairs(
        spark.table("documents")
    )


@_query("src_overlap_matrix", """
WITH words AS (
  SELECT source, string_split(text, ' ') AS w FROM documents
), sh0 AS (
  SELECT source, unnest(list_distinct(
           list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM words WHERE len(w) >= 3
), sh AS (
  SELECT DISTINCT source AS src, shingle FROM sh0
), sizes AS (
  SELECT src, COUNT(*) AS n_sh FROM sh GROUP BY src
), inter AS (
  SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.src < b.src GROUP BY 1, 2
)
SELECT source_a, source_b, CAST(n_common AS BIGINT) AS n_common,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.src = source_a
JOIN sizes sb ON sb.src = source_b
""")
def _src_overlap_matrix(spark, sf_dir):
    """Mixture+ — cross-source shingle overlap matrix (operators/
    dedup.py::source_overlap_matrix): which corpus slices share content
    (mirrored crawls / syndication), so mixture rates don't
    double-count. Shingles dedup'd to the source grain first; the
    per-shingle pair walk is bounded by |sources|."""
    return dedup.source_overlap_matrix(spark.table("documents"))


@_query("lttb_downsample", """
WITH obs AS (
  SELECT user_id, epoch_us(ts) // 60000000 AS win,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v
  FROM events WHERE user_id < 30 GROUP BY 1, 2
), b AS (
  SELECT user_id, MIN(win) AS w0 FROM obs GROUP BY user_id
), p AS (
  SELECT o.user_id AS part, o.win - b.w0 AS x, o.v AS y,
         (o.win - b.w0) // 60 AS bucket
  FROM obs o JOIN b USING (user_id)
), sums AS (
  SELECT part, bucket, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
  FROM p GROUP BY 1, 2
), j AS (
  SELECT p.part, p.bucket, p.x, p.y,
         l.n AS n_l, l.sx AS sx_l, l.sy AS sy_l,
         r.n AS n_r, r.sx AS sx_r, r.sy AS sy_r
  FROM p
  LEFT JOIN sums l ON l.part = p.part AND l.bucket = p.bucket - 1
  LEFT JOIN sums r ON r.part = p.part AND r.bucket = p.bucket + 1
), a AS (
  SELECT *, CASE WHEN n_l IS NOT NULL AND n_r IS NOT NULL THEN
    ABS((sx_l * n_r - sx_r * n_l) * (y * n_l - sy_l)
        - (sx_l - x * n_l) * (sy_r * n_l - sy_l * n_r)) END AS area2
  FROM j
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY part, bucket
              ORDER BY area2 DESC NULLS LAST, x ASC) AS rn
  FROM a
)
SELECT part, bucket, x, y, CAST(COALESCE(area2, -1) AS BIGINT) AS area2
FROM rk WHERE rn = 1
""")
def _lttb_downsample(spark, sf_dir):
    """Viz+ — largest-triangle downsample, bucket-mean-anchor LTTB
    variant (operators/downsample.py::lttb_downsample): the
    perceptually-weighted one-point-per-pixel companion to
    m4_downsample. Integer-exact: x is the per-user minute offset, y is
    cents, the doubled triangle area is compared after scaling by
    n_l^2*n_r — pure int64, so the argmax is bit-portable. Oracle
    replays the identical scaled-area argmax."""
    ev = spark.table("events").filter(F.col("user_id") < 30)
    obs = ev.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 60000000").alias("win"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v"))
    b = obs.groupBy("user_id").agg(F.min("win").alias("w0"))
    pts = obs.join(b, "user_id").select(
        F.col("user_id").alias("part"),
        (F.col("win") - F.col("w0")).alias("x"),
        F.col("v").alias("y"),
    )
    return downsample.lttb_downsample(pts, 60)


_OBS_CENTS_CTE = """
obs AS (
  SELECT user_id, epoch_us(ts) // 60000000 AS win,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
)
"""


def _obs_cents(spark):
    return (
        spark.table("events")
        .groupBy(
            "user_id", F.expr("unix_micros(ts) div 60000000").alias("win")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v"))
    )


@_query("ts_cusum_changepoint", f"""
WITH {_OBS_CENTS_CTE},
pre AS (
  SELECT user_id AS part, win AS pos,
         SUM(v) OVER (PARTITION BY user_id ORDER BY win
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY win
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
  FROM obs
), tot AS (
  SELECT user_id AS part, SUM(v) AS total, COUNT(*) AS n FROM obs GROUP BY 1
), c AS (
  SELECT pre.part, pos, n, n * prefix - k * total AS c_k
  FROM pre JOIN tot ON pre.part = tot.part
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY part
              ORDER BY ABS(c_k) DESC, pos ASC) AS rn
  FROM c
)
SELECT part, pos AS cp_ord, CAST(c_k AS BIGINT) AS cusum_scaled,
       CAST(n AS BIGINT) AS n
FROM rk WHERE rn = 1
""")
def _ts_cusum_changepoint(spark, sf_dir):
    """Trend+ — per-channel CUSUM mean-shift changepoint (operators/
    trend.py::cusum_changepoint): argmax_k |n*prefix_k - k*total| over
    the minute-grid cents series — the n^2-scaled classic CUSUM, pure
    integers so the winning position is bit-portable; ties break to the
    earliest position. One running window + one bounded agg per channel."""
    return trend.cusum_changepoint(_obs_cents(spark), "user_id", "win", "v")


@_query("ts_trend_slope", f"""
WITH {_OBS_CENTS_CTE},
b AS (SELECT user_id, MIN(win) AS w0 FROM obs GROUP BY user_id),
p AS (
  SELECT o.user_id AS part, o.win - b.w0 AS x, o.v AS y
  FROM obs o JOIN b USING (user_id)
), agg AS (
  SELECT part, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM p GROUP BY part
)
SELECT part, CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
FROM agg
""")
def _ts_trend_slope(spark, sf_dir):
    """Trend+ — per-channel OLS slope as an exact fraction (operators/
    trend.py::trend_slope): (n*Sxy - Sx*Sy, n*Sxx - Sx^2) over
    (minute-offset, cents) — the division never happens, so the
    statistic is bit-portable. One map-side-combined agg per channel."""
    obs = _obs_cents(spark)
    b = obs.groupBy("user_id").agg(F.min("win").alias("w0"))
    pts = obs.join(b, "user_id").select(
        "user_id", (F.col("win") - F.col("w0")).alias("x"), "v"
    )
    return trend.trend_slope(pts, "user_id", "x", "v")


@_query("ts_diff2_spike", f"""
WITH {_OBS_CENTS_CTE},
d AS (
  SELECT user_id AS part, win AS pos,
         v - 2 * LAG(v, 1) OVER (PARTITION BY user_id ORDER BY win)
           + LAG(v, 2) OVER (PARTITION BY user_id ORDER BY win) AS d2,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM obs
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY part
              ORDER BY ABS(d2) DESC, pos ASC) AS rn
  FROM d WHERE d2 IS NOT NULL
)
SELECT part, pos, CAST(d2 AS BIGINT) AS d2, CAST(n AS BIGINT) AS n
FROM rk WHERE rn = 1
""")
def _ts_diff2_spike(spark, sf_dir):
    """Trend+ — sharpest second-difference kink per channel (operators/
    trend.py::diff2_extrema): d2 = v_k - 2*v_{k-1} + v_{k-2} over the
    minute-grid cents series, integer lag arithmetic in one ordered
    window; earliest-position tie-break. The glitch complement to the
    CUSUM's sustained mean shift."""
    return trend.diff2_extrema(_obs_cents(spark), "user_id", "win", "v")


@_query("ts_value_histogram", """
WITH c AS (
  SELECT event_type AS part, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
), ext AS (
  SELECT part, MIN(v) AS mn, MAX(v) AS mx FROM c GROUP BY part
), j AS (
  SELECT c.part, ((v - mn) * 20) // (mx - mn + 1) AS bin, mn, mx
  FROM c JOIN ext ON c.part = ext.part
)
SELECT part, bin, COUNT(*) AS n,
       CAST(MIN(mn) + (bin * (MIN(mx) - MIN(mn) + 1)) // 20
            + (CASE WHEN (bin * (MIN(mx) - MIN(mn) + 1)) % 20 > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS lo
FROM j GROUP BY part, bin
""")
def _ts_value_histogram(spark, sf_dir):
    """Monitor+ — per-group equi-width value histogram (operators/
    trend.py::value_histogram): 20 bins over cents between each
    event_type's own min/max; bin assignment and inclusive lower edges
    via non-negative integer division (floor == truncate everywhere),
    so counts and edges are bit-portable."""
    cents = spark.table("events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v_c"),
    )
    return trend.value_histogram(cents, "event_type", "v_c")


@_query("w5_time_weighted", """
WITH c AS (
  SELECT user_id AS part, epoch_us(ts) AS t,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
), seg AS (
  SELECT part, t AS t0, v,
         COALESCE(LEAD(t) OVER (PARTITION BY part ORDER BY t, v),
                  (t - (t % 3600000000)) + 3600000000) AS t1
  FROM c
), e AS (
  SELECT part, t0, t1, v,
         unnest(range(t0 // 3600000000, (t1 - 1) // 3600000000 + 1)) AS win
  FROM seg WHERE t1 > t0
)
SELECT part, win,
       CAST(SUM(v * (LEAST(t1, (win + 1) * 3600000000)
                     - GREATEST(t0, win * 3600000000))) AS BIGINT) AS twa_num,
       CAST(SUM(LEAST(t1, (win + 1) * 3600000000)
                - GREATEST(t0, win * 3600000000)) AS BIGINT) AS covered_us
FROM e GROUP BY part, win
""")
def _w5_time_weighted(spark, sf_dir):
    """W5+ — time-weighted hourly mean over the irregular event series
    (operators/irregular.py::time_weighted_mean): the hypertable
    time_weight('locf') aggregate as an exact integer fraction
    (twa_num, covered_us) — each observation weighted by how long it
    was current, holding intervals clipped per window, a channel's
    final point holding to the end of its own window. Consumers divide
    at display time; nothing floats."""
    c = spark.table("events").select(
        F.col("user_id").alias("part"),
        F.expr("unix_micros(ts)").alias("t"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    return irregular.time_weighted_mean(
        c, 3_600_000_000
    )


