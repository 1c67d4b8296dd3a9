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
    min_hits: int = 1,
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
        corpus = corpus.withColumn("text", normalize_text(F.col("text")))
        benchmark = benchmark.withColumn("text", normalize_text(F.col("text")))
    cg = shingles(corpus, n=n)
    bg = (
        shingles(benchmark, n=n)
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
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_hits"),
        F.round(F.count("_hit") / F.count(F.lit(1)), 6).alias(
            "contamination_ratio"
        ),
        (F.count("_hit") >= min_hits).alias("contaminated"),
    )


def bloom_positions(shingle_col):
    """The 3 bloom bit positions of a gram: position_j =
    int(first 5 hex chars of md5(j || ':' || shingle), 16)
    — m = 16^5 = 2^20 bits. md5-derived so
    the positions are engine-portable: DuckDB and hashlib replay them
    bit-for-bit (the same determinism rule as the MinHash family)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), shingle_col)), 1, 5),
            16,
            10,
        ).cast("long")
        for j in range(3)
    ]


def build_bloom_bitmap(benchmark: DataFrame, n: int = 5) -> np.ndarray:
    """The benchmark gram set as an m = 16^5-bit bloom bitmap
    (bool ndarray). ONE bounded aggregation (distinct positions, capped
    by min(3·|grams|, m)); build it once and reuse it across calls —
    e.g. every micro-batch of a streaming ingest gate — instead of
    re-scanning the benchmark per batch."""
    m = 16**5
    bench_grams = shingles(benchmark, n=n)
    pos_rows = (
        bench_grams.select(
            F.explode(F.array(*bloom_positions(F.col("shingle")))).alias(
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
    bitmap: np.ndarray | None = None,
) -> DataFrame:
    """Approximate-membership decontamination: per corpus doc
    (doc_id, n_grams, n_hits_bloom, flagged) where a gram "hits" iff
    ALL 3 of its bloom positions are set by the benchmark gram set.

    Why this exists next to the exact ``contamination_report``: at
    100 TB the exact path broadcasts the benchmark's distinct gram
    STRINGS (GBs for a big eval battery) and explodes the corpus into a
    join. The bloom path compresses the benchmark side to an
    m = 16^5-BIT bitmap (128 KiB) built with one
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
        bitmap = build_bloom_bitmap(benchmark, n)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", corpus.schema["doc_id"].dataType, False),
            T.StructField("n_grams", T.LongType(), False),
            T.StructField("n_hits_bloom", T.LongType(), False),
            T.StructField("flagged", T.BooleanType(), False),
        ]
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                # NULL text has no grams, as in ``shingles``
                words = text.split(" ") if isinstance(text, str) else []
                grams = {
                    " ".join(words[i : i + n])
                    for i in range(len(words) - n + 1)
                }
                hits = 0
                for g in grams:
                    ok = True
                    for j in range(3):
                        h = hashlib.md5(f"{j}:{g}".encode()).hexdigest()
                        if not bitmap[int(h[:5], 16)]:
                            ok = False
                            break
                    hits += ok
                rows.append((d, len(grams), hits, hits > 0))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_grams", "n_hits_bloom", "flagged"]
            )

    return corpus.select("doc_id", "text").mapInPandas(kern, out_schema)


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    bitmap: np.ndarray | None = None,
) -> DataFrame:
    """Ids (``doc_id``) of the corpus docs with at least one word 5-gram
    in the benchmark — the two-tier check: the bloom prefilter
    (``bloom_decontaminate``) flags candidates in one narrow pass, and
    the exact ``contamination_report`` runs on the flagged docs only.
    Bloom has no false negatives, so the result equals
    ``contamination_report(corpus, benchmark, 5).filter("contaminated")``
    while the gram explode shrinks to the flagged sliver.

    ``bitmap``: a precomputed ``build_bloom_bitmap(benchmark)`` to
    reuse across calls (the streaming gate builds one per stream);
    built here when None."""
    if bitmap is None:
        bitmap = build_bloom_bitmap(benchmark)
    flagged = (
        bloom_decontaminate(corpus, bitmap=bitmap)
        .filter(F.col("flagged"))
        .select(F.col("doc_id"))
    )
    rep = contamination_report(
        corpus.join(flagged, "doc_id", "left_semi"),
        benchmark,
        n=5,
    )
    return rep.filter(F.col("contaminated")).select("doc_id")
