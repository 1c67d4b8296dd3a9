"""Benchmark decontamination — flag training documents that overlap an
evaluation/benchmark set by shared word n-grams (the standard
"13-gram overlap" check of LLM data pipelines, applied here with a
configurable n).

Plan shape at 100 TB: the BENCHMARK side is small by nature (eval sets
are thousands of documents), so its distinct n-gram set is broadcast;
the corpus side explodes its n-grams once (JVM array expressions, see
``dedup.shingles``) and the hit test is a broadcast hash join — the
corpus is never shuffled, and the scan streams. Per-doc hit counts and
ratios come from one partial-aggregated groupBy on doc_id.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import shingles


def normalize_text(col) -> "F.Column":
    """The standard eval-decontamination normalization: lowercase, map
    every non-alphanumeric run to a single space, trim. Applied to BOTH
    sides before n-gramming so cosmetic differences (case, punctuation,
    extra whitespace) can't hide an overlap. Pure JVM regexp chain —
    replayable verbatim in the DuckDB oracle (which needs the explicit
    'g' flag; Spark replaces globally by default)."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
    decimals: int = 6,
    normalize: bool = False,
) -> DataFrame:
    """Per-corpus-doc overlap with the benchmark's n-gram set:
    (doc_id, n_grams, n_hits, contamination_ratio, contaminated).

    * ``n_grams`` — DISTINCT word n-grams in the doc (docs shorter than
      ``n`` words have none and are absent from the report: nothing to
      test).
    * ``n_hits`` — how many of those appear anywhere in the benchmark.
    * ``contaminated`` — ``n_hits >= min_hits``.
    * ``normalize`` — apply :func:`normalize_text` to both sides first
      (the lowercase/punct-strip convention of eval decontamination).
      Note normalization can change a doc's word count, so the report's
      domain (docs with >= n normalized words) shifts accordingly.
    """
    if normalize:
        corpus = corpus.withColumn(text_col, normalize_text(F.col(text_col)))
        benchmark = benchmark.withColumn(text_col, normalize_text(F.col(text_col)))
    cg = shingles(corpus, n=n, text_col=text_col, id_col=id_col)
    bg = (
        shingles(benchmark, n=n, text_col=text_col, id_col=id_col)
        .select("shingle")
        .distinct()
    )
    # ONE pass over the corpus grams: broadcast-LEFT-join the (distinct)
    # benchmark gram set as a hit marker, then a single map-side-combined
    # groupBy yields n_grams AND n_hits together. The former
    # sizes-join-hits shape executed the corpus explode twice (two
    # aggregation subtrees over the same Generate) — guide §2.3
    # "aggregate before you shuffle", here: aggregate once, not twice.
    # Value-identical: bg is distinct, so the left join preserves cg's
    # multiplicity, count(*) == n_grams and count(_hit) == n_hits.
    marked = cg.join(
        F.broadcast(bg.withColumn("_hit", F.lit(1))), "shingle", "left"
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_hits"),
        F.round(F.count("_hit") / F.count(F.lit(1)), decimals).alias(
            "contamination_ratio"
        ),
        (F.count("_hit") >= min_hits).alias("contaminated"),
    )


def bloom_positions(shingle_col, k: int = 3, hex_digits: int = 5):
    """The k bloom bit positions of a gram: position_j =
    int(first ``hex_digits`` hex chars of md5(j || ':' || shingle), 16)
    — m = 16^hex_digits bits (2^20 for the default 5). md5-derived so
    the positions are engine-portable: DuckDB and hashlib replay them
    bit-for-bit (the same determinism rule as the MinHash family)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), shingle_col)), 1, hex_digits),
            16,
            10,
        ).cast("long")
        for j in range(k)
    ]


def build_bloom_bitmap(
    benchmark: DataFrame,
    n: int = 5,
    k: int = 3,
    hex_digits: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> np.ndarray:
    """The benchmark gram set as an m = 16^hex_digits-bit bloom bitmap
    (bool ndarray). ONE bounded aggregation (distinct positions, capped
    by min(k·|grams|, m)); build it once and reuse it across calls —
    e.g. every micro-batch of a streaming ingest gate — instead of
    re-scanning the benchmark per batch."""
    m = 16**hex_digits
    bench_grams = shingles(benchmark, n=n, text_col=text_col, id_col=id_col)
    pos_rows = (
        bench_grams.select(
            F.explode(F.array(*bloom_positions(F.col("shingle"), k, hex_digits))).alias(
                "p"
            )
        )
        .distinct()
        .collect()
    )
    bitmap = np.zeros(m, dtype=bool)
    if pos_rows:
        bitmap[np.fromiter((r["p"] for r in pos_rows), dtype=np.int64)] = True
    return bitmap


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 5,
    k: int = 3,
    hex_digits: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bitmap: np.ndarray | None = None,
) -> DataFrame:
    """Approximate-membership decontamination: per corpus doc
    (doc_id, n_grams, n_hits_bloom, flagged) where a gram "hits" iff
    ALL k of its bloom positions are set by the benchmark gram set.

    Why this exists next to the exact ``contamination_report``: at
    100 TB the exact path broadcasts the benchmark's distinct gram
    STRINGS (GBs for a big eval battery) and explodes the corpus into a
    join. The bloom path compresses the benchmark side to an
    m = 16^hex_digits-BIT bitmap (128 KiB at the default) built with one
    bounded aggregation, ships it in the task closure, and tests the
    corpus in ONE narrow Arrow-batched pass — zero shuffles, zero joins,
    scan-speed. False positives are possible (never negatives); both
    engines compute the identical deterministic FP set, which is what
    the oracle certifies, and ``contaminated_ids`` re-checks the flagged
    docs with the exact path (the classic two-tier filter).

    The kernel re-derives grams with the SAME convention as
    ``dedup.shingles``/``word_ngram_array``: split on single spaces,
    n consecutive words joined by a space, DISTINCT per doc.

    Pass a precomputed ``bitmap`` (``build_bloom_bitmap``) to skip the
    benchmark scan — the streaming gate builds it once per stream."""
    import hashlib

    if bitmap is None:
        if benchmark is None:
            raise ValueError("bloom_decontaminate needs benchmark or bitmap")
        bitmap = build_bloom_bitmap(benchmark, n, k, hex_digits, text_col, id_col)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", corpus.schema[id_col].dataType, False),
            T.StructField("n_grams", T.LongType(), False),
            T.StructField("n_hits_bloom", T.LongType(), False),
            T.StructField("flagged", T.BooleanType(), False),
        ]
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, text in zip(pdf[id_col], pdf[text_col]):
                # NULL text has no grams, as in ``shingles``
                words = text.split(" ") if isinstance(text, str) else []
                grams = {
                    " ".join(words[i : i + n])
                    for i in range(len(words) - n + 1)
                }
                hits = 0
                for g in grams:
                    ok = True
                    for j in range(k):
                        h = hashlib.md5(f"{j}:{g}".encode()).hexdigest()
                        if not bitmap[int(h[:hex_digits], 16)]:
                            ok = False
                            break
                    hits += ok
                rows.append((d, len(grams), hits, hits > 0))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_grams", "n_hits_bloom", "flagged"]
            )

    return corpus.select(id_col, text_col).mapInPandas(kern, out_schema)


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int,
    bitmap: np.ndarray | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ids (``id_col``) of the corpus docs with at least one n-gram in
    the benchmark — the two-tier check: the bloom prefilter
    (``bloom_decontaminate``) flags candidates in one narrow pass, and
    the exact ``contamination_report`` runs on the flagged docs only.
    Bloom has no false negatives, so the result equals
    ``contamination_report(corpus, benchmark, n).filter("contaminated")``
    while the gram explode shrinks to the flagged sliver.

    ``bitmap``: a precomputed ``build_bloom_bitmap(benchmark, n=n)`` to
    reuse across calls (the streaming gate builds one per stream);
    built here when None."""
    if bitmap is None:
        bitmap = build_bloom_bitmap(benchmark, n=n, text_col=text_col, id_col=id_col)
    flagged = (
        bloom_decontaminate(
            corpus, n=n, text_col=text_col, id_col=id_col, bitmap=bitmap
        )
        .filter(F.col("flagged"))
        .select(F.col("doc_id").alias(id_col))
    )
    rep = contamination_report(
        corpus.join(flagged, id_col, "left_semi"),
        benchmark,
        n=n,
        text_col=text_col,
        id_col=id_col,
    )
    return rep.filter(F.col("contaminated")).select(id_col)
