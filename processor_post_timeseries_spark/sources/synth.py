"""Deterministic synthetic sequences table generator.

Produces the ``BASELINE.json.input_hint`` shape exactly:
``(doc_id:string, tokens:array<int32>, n_tok:int32, source:string)``.

Determinism contract: every row is a pure function of ``(seed, row id)``
via per-doc ``numpy.random.Generator`` seeding inside ``mapInPandas`` —
the output is identical at any partition count / executor count, which
is what makes golden comparisons and the N-vs-4N scaling runs honest.

Skew: sources are Zipf-ish (source k drawn log-uniformly, so
``p(k) ∝ 1/(k+1)``) — source 0 is deliberately hot so the salting /
AQE-skew machinery in ``operators/partitioning.py`` has something to fix.

Analog of the reference's synthetic generator
(``/root/reference/scripts/generate_test_nwb.py:64-135``: seeded sine +
noise channels); here channels are token streams (sine quantized to the
vocab range + uniform noise) so tier aggregates have structure.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEQ_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)


def _gen_batch(
    ids: np.ndarray,
    seed: int,
    n_sources: int,
    min_tok: int,
    max_tok: int,
    vocab: int,
) -> pd.DataFrame:
    rows = []
    for i in ids:
        rng = np.random.default_rng((seed << 32) | int(i))
        u = rng.random()
        src = min(int(math.exp(u * math.log(n_sources + 1.0))) - 1, n_sources - 1)
        n = int(rng.integers(min_tok, max_tok + 1))
        idx = np.arange(n, dtype=np.float64)
        freq = 0.01 * (1 + (int(i) % 7))
        wave = (vocab / 4.0) * np.sin(2 * math.pi * freq * idx) + vocab / 2.0
        noise = rng.integers(-vocab // 8, vocab // 8, size=n)
        toks = np.clip(wave.astype(np.int64) + noise, 0, vocab - 1).astype(np.int32)
        rows.append((f"doc-{int(i):09d}", toks, n, f"src-{src:03d}"))
    return pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"])


def sequences(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    n_sources: int = 16,
    min_tok: int = 200,
    max_tok: int = 2000,
    vocab: int = 50_000,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic sequences table (no driver-side loop)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 1)
    base = spark.range(0, n_docs, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _gen_batch(
                    pdf["id"].to_numpy(), seed, n_sources, min_tok, max_tok, vocab
                )

    return base.mapInPandas(gen, schema=SEQ_SCHEMA)


# ----------------------------------------------------------- P14 size math
# Reference test-fixture generator arithmetic
# (/root/reference/scripts/generate_test_nwb.py:27-61).

_SIZE_UNITS = {"B": 1, "KB": 1024, "MB": 1024**2, "GB": 1024**3, "TB": 1024**4}
_SIZE_RE = r"^([0-9]+(?:\.[0-9]+)?)\s*(B|KB|MB|GB|TB)$"
# the reference generator's file: two channels of float64 values, ~5%
# container overhead, at least 1000 samples
_NUM_CHANNELS, _BYTES_PER_VALUE, _OVERHEAD_FACTOR, _MIN_SAMPLES = 2, 8, 0.95, 1000


def parse_size(size_str: str) -> int:
    """Human-readable size -> bytes ('10MB', '1.5 GB'; binary units)."""
    import re

    m = re.match(_SIZE_RE, size_str.upper().strip())
    if not m:
        raise ValueError(
            f"Invalid size format: {size_str!r}. Use format like '10MB', '1GB', '50GB'"
        )
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)])


def samples_for_size(target_bytes: int) -> int:
    """Samples needed for a target file size: float64 values per channel
    with ~5% container overhead, floored at 1000 samples."""
    bps = _BYTES_PER_VALUE * _NUM_CHANNELS
    return max(int(target_bytes * _OVERHEAD_FACTOR / bps), _MIN_SAMPLES)


def parse_size_col(c):
    """Column form of ``parse_size``: bytes as BIGINT, NULL on invalid
    input (the declarative analog of the reference's ValueError)."""
    from pyspark.sql import functions as F

    up = F.upper(F.trim(c))
    num = F.regexp_extract(up, _SIZE_RE, 1)
    unit = F.regexp_extract(up, _SIZE_RE, 2)
    factor = (
        F.when(unit == "B", F.lit(1))
        .when(unit == "KB", F.lit(1024))
        .when(unit == "MB", F.lit(1024**2))
        .when(unit == "GB", F.lit(1024**3))
        .when(unit == "TB", F.lit(1024**4))
    )
    return F.when(
        num != "", F.floor(num.cast("double") * factor).cast("bigint")
    ).otherwise(F.lit(None).cast("bigint"))
