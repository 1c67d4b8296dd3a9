"""End-to-end training-corpus curation — the composed DAG a real
training-data run executes between "raw documents" and "packed
examples", built entirely from this engine's certified operators:

    exact dedup -> [near-dup clustering] -> benchmark decontamination
    -> quality floor -> domain-mixture draw -> (optionally) packing

``curate`` returns an AUDIT frame: one row per input document with the
stage that removed it (first match in pipeline order) or ``kept`` —
the reviewable artifact data teams actually want from a curation run
(why did doc X disappear?), and the deterministic contract the grand
``curation_keepset`` oracle certifies end-to-end against DuckDB.

Plan shape at 100 TB (every stage reuses an audited operator):

* exact dedup — one digest shuffle (``dedup.exact_dedup`` semantics:
  keeper = min doc_id per md5);
* near-dup — LSH banding + connected components
  (``dedup.lsh_candidate_pairs``/``duplicate_components``); drop
  non-representative members (comp_id is the min id, so the keeper
  rule matches exact dedup's). Optional: pair generation is the one
  stage whose cost is super-linear in duplication rate;
* decontamination — bloom prefilter in one narrow pass, then the
  broadcast benchmark gram set on the flagged docs only; the corpus
  never shuffles (``decontam.contaminated_ids``);
* quality — pure JVM expression (``text.quality_score``), a pushed
  filter;
* mixture — rates from one count scan over the survivors, then the
  stateless md5-prefix draw (``sampling.mixture_rates/apply_mixture``
  mechanics); membership is partition-invariant;
* the audit assembly is a when-chain over left-joined flag frames —
  each flag frame is either corpus-sized-but-narrow (keeper ids) or
  small (contaminated ids), and the chain preserves pipeline order so
  every doc reports the FIRST stage that would have dropped it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def curate(
    docs: DataFrame,
    benchmark: DataFrame,
    min_quality: float = 0.0,
    targets: dict[str, float] | None = None,
    near_dup: bool = False,
    lsh: tuple[int, int, int] = (16, 4, 3),
    hash_fn: str = "xxh64",
    lsh_max_bucket_size: int | None = 1000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Audit frame (doc_id, source, n_tok, stage): pipeline-order stage
    attribution per input doc. ``n_tok`` is the char-token count
    (``length(text)``, the engine's documents->sequences convention).
    ``near_dup=True`` inserts LSH+components clustering after exact
    dedup (``hash_fn`` selects the family; keep md5 for an engine-
    portable replay). ``targets=None`` skips the mixture stage.

    ``drop_stats``: pass a dict to surface the LSH skew-cap's drop
    accounting — it is filled (eagerly: one extra bounded aggregation
    job over the band buckets) with ``{"lsh_n_dropped", "lsh_n_affected_buckets",
    "lsh_max_bucket"}`` so a capped production run REPORTS what the cap
    truncated instead of silently narrowing recall
    (``operators/dedup.py:lsh_bucket_stats``). No-op unless
    ``near_dup=True``.

    Decontamination (word 5-grams) is the two-tier
    ``decontam.contaminated_ids``: bloom prefilter, then the exact report
    on the flagged docs only. Its contaminated set equals the exact
    report's, for any id type.

    A doc with a NULL ``text`` raises: it has no content digest, so the
    exact-dedup join would drop it from the audit."""
    from ..functions.text import quality_score
    from ..operators.decontam import contaminated_ids

    # in the projection, not a filter: the join's inferred not-null filter
    # on the digest would run first and drop the row
    text = F.when(F.col("text").isNull(), F.raise_error(F.format_string(
        "doc '%s' has NULL text, which curate cannot audit", "doc_id",
    ))).otherwise(F.col("text"))
    d = docs.select(
        F.col("doc_id"),
        F.col("source"),
        text.alias("_text"),
        F.length("text").cast("long").alias("n_tok"),
    )

    # 1. exact dedup: keeper = min doc_id per content digest
    # (r6 note: a Window.partitionBy(_h) variant — one exchange fewer on
    # paper — measured ~1 s SLOWER than this shape: the aggregate
    # exchange is reused across the audit's branches while the window
    # re-sorts per branch)
    keeper = (
        d.groupBy(F.md5("_text").alias("_h"))
        .agg(F.min("doc_id").alias("_keeper"))
    )
    d = d.withColumn("_h", F.md5("_text")).join(keeper, "_h").withColumn(
        "_exact_dup", F.col("doc_id") != F.col("_keeper")
    )
    surv = d.filter(~F.col("_exact_dup"))

    # 2. optional near-dup clustering over the exact-survivors
    if near_dup:
        from ..operators.dedup import duplicate_components, lsh_candidate_pairs

        n_hashes, n_bands, n_sh = lsh
        pairs = lsh_candidate_pairs(
            surv.select("doc_id", F.col("_text").alias("text")),
            n_hashes,
            n_bands,
            n_sh,
            hash_fn=hash_fn,
            max_bucket_size=lsh_max_bucket_size,
        )
        comp = duplicate_components(pairs).filter(
            F.col("doc_id") != F.col("comp_id")
        ).select("doc_id", F.lit(True).alias("_near_dup"))
        if drop_stats is not None:
            from ..operators.dedup import lsh_bucket_stats

            stats = lsh_bucket_stats(
                surv.select("doc_id", F.col("_text").alias("text")),
                n_hashes,
                n_bands,
                n_sh,
                max_bucket_size=lsh_max_bucket_size,
                hash_fn=hash_fn,
            )
            row = stats.agg(
                F.sum("n_dropped").alias("nd"),
                F.sum((F.col("n_dropped") > 0).cast("long")).alias("nb"),
                F.max("n_docs").alias("mx"),
            ).collect()[0]
            drop_stats["lsh_n_dropped"] = int(row["nd"] or 0)
            drop_stats["lsh_n_affected_buckets"] = int(row["nb"] or 0)
            drop_stats["lsh_max_bucket"] = int(row["mx"] or 0)
        d = d.join(comp, "doc_id", "left")
        surv = surv.join(comp, "doc_id", "left_anti")
    else:
        d = d.withColumn("_near_dup", F.lit(None).cast("boolean"))

    # 3. decontamination: contaminated ids among remaining survivors
    corpus_side = surv.select("doc_id", F.col("_text").alias("text"))
    bench_side = benchmark.select(F.col("doc_id"), F.col("text"))
    contam = contaminated_ids(
        corpus_side, bench_side
    ).withColumn("_contam", F.lit(True))
    d = d.join(contam, "doc_id", "left")
    surv = surv.join(contam, "doc_id", "left_anti")

    # 4. quality floor (expression; evaluated in the when-chain, the
    # survivor frame only shrinks for the mixture's availability counts)
    surv = surv.withColumn("_q", quality_score(F.col("_text"))).filter(
        F.col("_q") >= min_quality
    )
    d = d.withColumn("_low_q", quality_score(F.col("_text")) < min_quality)

    # 5. mixture draw over the post-quality survivors' availability
    if targets is not None:
        from ..operators.sampling import mixture_rates

        rates = mixture_rates(surv, targets)
        thresh = F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
            F.lpad(
                F.lower(
                    F.hex(F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long"))
                ),
                8,
                "0",
            )
        )
        r = rates.select("source", thresh.alias("_thresh"))
        h8 = F.substring(
            F.md5(F.concat(F.lit(""), F.col("doc_id").cast("string"))), 1, 8
        )
        d = d.join(F.broadcast(r), "source", "left").withColumn(
            "_mix_out", ~(h8 < F.coalesce(F.col("_thresh"), F.lit("0")))
        )
    else:
        d = d.withColumn("_mix_out", F.lit(None).cast("boolean"))

    stage = (
        F.when(F.col("_exact_dup"), F.lit("exact_dup"))
        .when(F.coalesce(F.col("_near_dup"), F.lit(False)), F.lit("near_dup"))
        .when(F.coalesce(F.col("_contam"), F.lit(False)), F.lit("contaminated"))
        .when(F.col("_low_q"), F.lit("low_quality"))
        .when(F.coalesce(F.col("_mix_out"), F.lit(False)), F.lit("mixture_out"))
        .otherwise(F.lit("kept"))
    )
    return d.select("doc_id", "source", "n_tok", stage.alias("stage"))


def curate_and_pack(
    docs: DataFrame,
    benchmark: DataFrame,
    ctx_len: int,
    audit: DataFrame | None = None,
    **curate_kwargs,
) -> DataFrame:
    """The full raw->examples path: ``curate`` keepset joined back to
    token arrays, packed into fixed-``ctx_len`` blocks
    (``packing.materialize_blocks``). Tokens follow the char-token
    convention: one token per character, its ``ascii`` code. One extra
    broadcast-or-shuffle semi-join of the keepset onto the sequence
    table — the keepset ids are the only new exchange.

    ``audit``: a precomputed/materialized ``curate`` audit frame — pass
    the parquet you already wrote so the expensive curation stages
    (LSH near-dup, decontamination, the exact-dedup shuffle) run ONCE
    per pipeline, not once per consumer."""
    from ..operators.packing import materialize_blocks

    if audit is None:
        audit = curate(docs, benchmark, **curate_kwargs)
    keep = audit.filter(F.col("stage") == "kept").select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    seq = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(F.split("text", ""), lambda c: F.ascii(c)).alias("tokens"),
        F.length("text").cast("int").alias("n_tok"),
        F.col("source"),
    )
    seq = seq.join(keep, "doc_id", "left_semi")
    return materialize_blocks(seq, ctx_len=ctx_len)
