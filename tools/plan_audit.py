"""Physical-plan audit across all contract queries: counts Exchange
(shuffle) operators and flags plan anti-patterns (CartesianProduct,
BroadcastNestedLoopJoin, row-at-a-time PythonUDF) in each query's
formatted plan. The shuffle census is the number the 100 TB story
stands on — run after optimizer-relevant changes and diff.

Usage: python tools/plan_audit.py [sf_dir] [name_filter]
Prints one JSON line per query + a summary line.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from processor_post_timeseries_spark.contract import queries  # noqa: E402
from processor_post_timeseries_spark.session import get_spark  # noqa: E402

# Reviewed flags: anti-pattern operators whose small side is BOUNDED BY
# CONSTRUCTION, so the pattern is safe at any corpus size. Anything
# flagged that is NOT listed here fails the audit (exit 1).
WAIVERS = {
    "retention_policy": "crossJoin against the O(#tiers) literal dim (2 rows)",
    "w2_gapfill_grid": "oracle-shaped grid query; production path is "
    "operators/gapfill.py (narrow map, no join)",
    "l4_mixture_rates": "broadcast crossJoin of the 1-row global-min "
    "aggregate onto the O(#sources) frame — bounded by construction",
    "l5_mixture_sample": "same 1-row global-min crossJoin inside the "
    "embedded l4 plan; the corpus side is a broadcast hash join + filter",
    "curation_keepset": "the mixture stage embeds mixture_rates' 1-row "
    "global-min crossJoin (the l4/l5 waiver); every corpus-sized join in "
    "the DAG is hash/broadcast",
    "curation_keepset_neardup": "same embedded 1-row global-min crossJoin "
    "as curation_keepset; the added LSH/components stages are hash joins "
    "+ the bounded components loop",
    "ann_cosine_topk_q8": "broadcast of the BOUNDED 20-row query side "
    "against the streaming corpus (query_id != neighbor_id is non-equi, "
    "hence BNL) — the brute-force baseline's intended product, same "
    "contract as cosine_topk; corpus-scale search uses the LSH/IVF paths",
    "lm_avg_prob": "broadcast crossJoin of the 1-row vocab-size "
    "aggregate (functions/text.py lm_avg_prob) onto the bigram stream — "
    "bounded by construction; the model count joins are broadcasts",
    "src_char_drift": "broadcast crossJoins of the |vocab|-row and "
    "1-row-total aggregates building the |groups|x|vocab| grid "
    "(functions/text.py char_distribution_drift) — every side bounded "
    "by construction; the corpus is scanned once, never joined",
}

# Deliberate GLOBAL windows (partition arity 0). Spark logs
# "WindowExec: No Partition Defined" for these; each is acceptable ONLY
# because the frame feeding it is bounded by construction — the waiver
# must NAME that bounded frame so the warning stays a real alarm for
# any new query that grows an unwaived corpus-sized global window
# (VERDICT r4 ask #7). Any 0-arity window on a query not listed here
# FAILS the audit (exit 1).
GLOBAL_WINDOW_WAIVERS = {
    "a4_manifest_batches": "manifest ordering row_number over the "
    "O(#batches) manifest frame (plans/lineage.py) — one row per batch, "
    "not per record",
    "s8_lineage_certify": "same O(#batches) manifest-order frame via the "
    "embedded manifest plan",
    "tok_pack_manifest": "packing's phase-2 bucket-base frame: one row "
    "per (source, id-range bucket), |buckets| rows total "
    "(operators/packing.py two-phase prefix sum)",
    "tok_pack_blocks": "same bounded bucket-base frame inside "
    "materialize_blocks",
    "tok_pack_incremental": "same bounded bucket-base frame, incremental "
    "variant",
    "l2_stratified_sample": "stratified rank's phase-2 base frame: one "
    "row per (stratum, md5-prefix bucket) (operators/sampling.py)",
    "curation_keepset": "packing/sampling bucket-base frames embedded in "
    "the curation DAG — all |buckets|-sized",
    "curation_keepset_neardup": "same embedded bounded frames as "
    "curation_keepset",
    "train_order_manifest": "shuffle_manifest's phase-2 bucket-base "
    "frame: one row per md5-hex prefix bucket, 16^2 = 256 rows total "
    "(operators/ordering.py two-phase rank)",
    "train_order_batches": "same 256-row bucket-base frame via the "
    "embedded shuffle_manifest plan (epoch_batches is a projection)",
    "tok_unigram_zipf": "Zipf rank window over the |vocab|-row "
    "unigram aggregate (operators/bpe.py unigram_stats) — bounded by "
    "the token id space, not the corpus",
}


def audit(df) -> dict:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # window partition arity: exprs before the first ASC/DESC sort item in
    # each windowspecdefinition. Arity-1 windows over corpus-sized inputs
    # are the single-task-per-key scale hazard (VERDICT r3 #1/#2) — the
    # census makes new ones visible for review; bounded-input ones
    # (per-bucket summary frames) are fine and stay unflagged.
    arities = []
    for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
        parts = [p.strip() for p in spec.split(",")]
        k = 0
        for p in parts:
            if " ASC" in p or " DESC" in p or p.startswith("specifiedwindowframe"):
                break
            k += 1
        arities.append(k)
    return {
        "window_partition_arities": sorted(set(arities)),
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "reused_exchanges": len(re.findall(r"\(\d+\) ReusedExchange", plan)),
        "cartesian": "CartesianProduct" in plan,
        "bnl_join": "BroadcastNestedLoopJoin" in plan,
        "python_row_udf": "BatchEvalPython" in plan,  # non-Arrow Python UDF
        "arrow_stages": len(re.findall(r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas", plan)),
        "codegen_spans": len(re.findall(r"WholeStageCodegen", plan)),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark("plan-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for name, fn in sorted(queries().items()):
        if name_filter and name_filter not in name:
            continue
        try:
            row = {"query": name, **audit(fn(spark, sf_dir))}
        except Exception as e:  # noqa: BLE001
            row = {"query": name, "error": str(e)[:200]}
        flagged = row.get("cartesian") or row.get("bnl_join") or row.get("python_row_udf")
        if flagged and name in WAIVERS:
            row["waived"] = WAIVERS[name]
        else:
            bad += bool(flagged)
        if 0 in row.get("window_partition_arities", []):
            row["global_window"] = True
            if name in GLOBAL_WINDOW_WAIVERS:
                row["waived_global_window"] = GLOBAL_WINDOW_WAIVERS[name]
            else:
                bad += 1
        print(json.dumps(row))
    print(json.dumps({"summary": "unwaived_flagged_queries", "count": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
