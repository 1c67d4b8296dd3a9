"""Span-level (sub-document) duplication detection — the
exact-substring-dedup signal of LLM data pipelines (Lee et al.,
"Deduplicating Training Data Makes Language Models Better", ACL'22):
doc-level dedup misses boilerplate, licenses, and templates duplicated
INSIDE otherwise-distinct documents.

The reference algorithm builds a corpus-wide suffix array — inherently
single-machine. The Spark-first shape used here is **strided window
hashing**: hash every ``window``-char span starting at positions
1, 1+stride, 1+2·stride, …; a span duplicated across documents shares
window hashes at possibly different phases, and any duplicated run of
length >= window + stride − 1 is GUARANTEED to contain at least one
stride-aligned window in each copy whose content matches a window in
the other (the aligned-window argument of winnowing, SIGMOD'03) —
PROVIDED both copies start at the same phase mod stride or
stride == 1. For phase-robust guarantees choose stride small relative
to window (the default 8 vs 32 detects shared runs >= 39 chars at any
phase with probability 1 for runs containing a common aligned window,
and in practice template duplication is long). ``stride=1`` gives the
exact guarantee at stride-fold cost — packaged as the two-phase
``exact_duplicate_runs`` (strided candidate discovery, then stride-1
verification + maximal-run merge over candidates only).

Scale shape: |corpus|/stride window rows, one shuffle on the window
hash (count reduced map-side), then a broadcast-friendly semi-join of
the duplicated-hash set back onto the window rows. No suffix arrays,
no cross-doc comparisons — cost is linear in corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _window_hashes(docs: DataFrame, window: int, stride: int) -> DataFrame:
    """(doc_id, pos, whash) for every strided window. md5 of the raw
    window text: engine-portable (the DuckDB oracle replays it
    verbatim) and collision-safe at any corpus size that fits storage."""
    n = F.length("text")
    return (
        docs.filter(n >= window)
        .select(
            F.col("doc_id"),
            F.col("text").alias("_t"),
            F.explode(
                F.sequence(F.lit(1), n - window + 1, F.lit(stride))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.expr(f"substring(_t, pos, {window})")).alias("whash"),
        )
    )


def duplicate_spans(docs: DataFrame) -> DataFrame:
    """32-character windows, taken every 8 characters, whose content
    appears in MORE THAN ONE doc:
    (doc_id, pos, whash, n_docs). ``n_docs`` counts distinct docs
    sharing the window text. Downstream removal logic merges adjacent
    flagged positions into spans (positions are stride-aligned)."""
    w = _window_hashes(docs, 32, 8)
    shared = (
        w.select("whash", "doc_id")
        .distinct()
        .groupBy("whash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
    return w.join(shared, "whash").select("doc_id", "pos", "whash", "n_docs")


def exact_duplicate_runs(
    docs: DataFrame,
    min_len: int = 32,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """EXACT shared-run extraction — the stride-1 verification pass that
    upgrades the strided approximation to the suffix-array guarantee
    (Lee et al. ACL'22) at bounded cost: one row per MAXIMAL run of
    length >= ``min_len`` whose every ``min_len``-char window appears in
    more than one document. Output (doc_id, run_start 1-based, run_len).

    Why exact: a substring duplicated across docs with length
    L >= min_len contributes exactly its L - min_len + 1 stride-1
    windows in each copy, all shared — so the flagged positions form a
    contiguous block and merging adjacent positions recovers the
    maximal duplicated run precisely (start = first flagged pos,
    len = last - first + min_len). No phase alignment caveat: stride 1
    admits every phase.

    Cost control: stride-1 hashing is window-per-character — linear in
    candidate BYTES but ~stride× the strided pass — so production runs
    it as phase 2 over ``candidates`` only (docs flagged by
    ``duplicate_spans``/LSH; broadcast semi-join, the corpus never
    re-shuffles). Phase 2 over candidates is where the exact guarantee
    is needed; phase 1 keeps the corpus-wide cost at 1/stride.

    Plan: strided=1 window hashes -> shared-hash set (one map-side
    reduced shuffle) -> semi-join back -> per-doc gaps-and-islands
    merge done IN-ROW with array expressions (sorted flagged positions,
    split where the step exceeds 1) — one shuffle on doc_id, state
    bounded by doc length."""
    d = docs
    if candidates is not None:
        d = d.join(
            F.broadcast(candidates.select(F.col("doc_id")).distinct()),
            "doc_id",
            "left_semi",
        )
    w = _window_hashes(d, min_len, 1)
    shared = (
        w.select("whash", "doc_id")
        .distinct()
        .groupBy("whash")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") > 1)
    )
    flagged = w.join(shared.select("whash"), "whash", "left_semi")
    ps = flagged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("_ps")
    )
    arr = F.col("_ps")
    n = F.size(arr)
    # 1-based indices into _ps where a new island starts (step > 1),
    # suffixed with n+1 -> half-open island bounds (docs reaching this
    # point have >= 1 flagged position, so sequence(1, n) never counts
    # down)
    # when-guard, not bare OR: element_at(arr, 0) raises under ANSI and
    # only Spark's (undocumented-for-ANSI) Or short-circuit saves the
    # i=1 case — CaseWhen's lazy branch evaluation is the guaranteed form
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.when(i == F.lit(1), F.lit(True)).otherwise(
            F.element_at(arr, i) - F.element_at(arr, i - 1) > 1
        ),
    )
    bounds = F.concat(starts, F.array(n + 1))
    # slice+zip (see word_ngram_array): the former
    # transform-over-sequence re-evaluated the computed ``bounds`` — an
    # O(n) filter — once per island. ``arr`` is a bound column, so
    # element_at on it stays cheap inside the lambda.
    nbi = F.size(bounds) - 1
    zb = F.arrays_zip(
        F.slice(bounds, 1, nbi).alias("b0"),
        F.slice(bounds, 2, nbi).alias("b1"),
    )
    runs = F.transform(
        zb,
        lambda s: F.struct(
            F.element_at(arr, s["b0"]).alias("s"),
            F.element_at(arr, s["b1"] - 1).alias("e"),
        ),
    )
    return ps.select("doc_id", F.explode(runs).alias("_r")).select(
        "doc_id",
        F.col("_r.s").cast("long").alias("run_start"),
        (F.col("_r.e") - F.col("_r.s") + min_len).cast("long").alias("run_len"),
    )


def span_dup_report(docs: DataFrame, window: int = 32, stride: int = 8) -> DataFrame:
    """Per-doc span-duplication summary: (doc_id, n_windows,
    n_dup_windows, dup_fraction). Docs shorter than ``window`` have no
    windows and are absent (nothing to test — the decontam convention)."""
    from pyspark.sql.window import Window

    # ONE scan of the window hashes: reduce to per-(hash, doc) counts
    # first (one shuffle over a frame already much smaller than the
    # corpus), derive each hash's distinct-doc count with an analytic
    # window over that reduced frame, then roll up per doc. The naive
    # three-branch plan (sizes/shared/flagged each reading the hash
    # frame) recomputes the strided md5 scan three times.
    wd = (
        _window_hashes(docs, window, stride)
        .groupBy("whash", "doc_id")
        .agg(F.count("*").alias("_c"))
        .withColumn("_nd", F.count("*").over(Window.partitionBy("whash")))
    )
    return (
        wd.groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_windows"),
            F.sum(F.when(F.col("_nd") > 1, F.col("_c")).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
                "dup_fraction"
            ),
        )
    )
