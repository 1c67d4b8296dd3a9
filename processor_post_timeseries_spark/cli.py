"""spark-submit entrypoint for the rollup pipeline.

Cluster:
    spark-submit --master ... --py-files pts.zip -m processor_post_timeseries_spark.cli ...
    (or: spark-submit --py-files pts.zip path/to/cli.py ...)

Local smoke:
    python -m processor_post_timeseries_spark.cli \
        --input /path/sequences_parquet --out /path/out \
        --tiers 1s:100,1m:60,1h:60 --block-size 131072 --buckets 32

Synthesizes the corpus first when ``--synth-docs N`` is given instead of
``--input``. Exits 0 and prints a one-line JSON summary (stages, rows,
tokens/sec) on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

if __package__ in (None, ""):
    # spark-submit executes this file as a plain script before the
    # --py-files zip reaches sys.path; locate the package next to us
    # (repo checkout or unpacked deploy). For zip-only deploys use
    # ``PYTHONPATH=pts.zip spark-submit ...`` instead.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_tiers(spec: str) -> tuple[tuple[str, int], ...]:
    out = []
    for part in spec.split(","):
        name, factor = part.split(":")
        out.append((name, int(factor)))
    return tuple(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pts-spark")
    # not required at the argparse level: maintenance modes
    # (--retention needs only --input, --backfill only --out);
    # the pipeline path validates below
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--input", help="sequences table path (parquet/iceberg locator)")
    src.add_argument("--synth-docs", type=int, help="synthesize N docs instead")
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiers", default="1s:100,1m:60,1h:60")
    ap.add_argument("--block-size", type=int, default=131_072)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None, help="override master (default: env/local)")
    ap.add_argument(
        "--legacy-export",
        action="store_true",
        help="reference-workflow mode: --input is an events-like channel "
        "table; writes channel-*.bin.gz + metadata.json + ordered import "
        "manifest under --out (chunk via --chunk-size samples)",
    )
    ap.add_argument("--chunk-size", type=int, default=131_072 // 8)
    ap.add_argument(
        "--retention",
        action="store_true",
        help="maintenance mode: --input is a tier=/day= partitioned dir "
        "(plans/retention.py layout); drops partitions older than "
        "--policy, appends the audit log",
    )
    ap.add_argument("--policy", help="retention policy, e.g. raw:7,1m:30 (days per tier)")
    ap.add_argument("--now-day", type=int, default=None,
                    help="reference day (default: newest day present)")
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument(
        "--backfill",
        help="maintenance mode: invalidate a work unit (SOURCE:BUCKET) in "
        "the checkpoint at --out so the next resumed run recomputes it",
    )
    ap.add_argument(
        "--verify-lineage",
        choices=["blocks", "tiers"],
        help="maintenance mode: audit the named stage's checkpoint rows "
        "against its durable bytes at --out (exit 1 on any mismatch)",
    )
    ap.add_argument(
        "--curate",
        help="curation mode (plans/curation.py): --input is a documents "
        "table (doc_id, text, source), --curate a benchmark documents "
        "path (decontamination: bloom prefilter, exact check on the "
        "flagged docs only); writes the per-doc stage audit to "
        "--out/audit and packed keepset blocks to --out/blocks. Tune "
        "--min-quality / --mixture src:share,... / --near-dup / --ctx-len",
    )
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--mixture", help="targets, e.g. src0:0.5,src1:0.5")
    ap.add_argument("--near-dup", action="store_true")
    ap.add_argument("--ctx-len", type=int, default=2048)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    # absolute imports: spark-submit executes this file as a plain script
    # (no parent package), resolving the package from the --py-files zip
    from processor_post_timeseries_spark.plans.pipeline import (
        STAGE_KEYS,
        PipelineConfig,
        run_pipeline,
    )
    from processor_post_timeseries_spark.session import get_spark
    from processor_post_timeseries_spark.sources.catalog import read_table
    from processor_post_timeseries_spark.sources.synth import sequences

    spark = get_spark("pts-cli", master=args.master)

    if args.curate:
        from processor_post_timeseries_spark.plans.curation import (
            curate,
            curate_and_pack,
        )

        if not args.input:
            ap.error("--curate requires --input (the documents table)")
        targets = None
        if args.mixture:
            targets = {
                s: float(p)
                for s, p in (part.split(":") for part in args.mixture.split(","))
            }
        docs = read_table(spark, args.input)
        bench = read_table(spark, args.curate)
        kw = dict(
            min_quality=args.min_quality,
            targets=targets,
            near_dup=args.near_dup,
        )
        drop_stats: dict = {}
        audit = curate(docs, bench, drop_stats=drop_stats, **kw)
        audit.write.mode("overwrite").parquet(f"{args.out}/audit")
        # pack from the audit parquet just written — the curation DAG
        # (LSH near-dup, decontam, exact-dedup shuffle) runs exactly once
        audit_pq = spark.read.parquet(f"{args.out}/audit")
        curate_and_pack(
            docs, bench, ctx_len=args.ctx_len, audit=audit_pq, **kw
        ).write.mode("overwrite").parquet(f"{args.out}/blocks")
        stages = {
            r["stage"]: r["n"]
            for r in audit_pq.groupBy("stage")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(json.dumps({"mode": "curate", "stages": stages, **drop_stats}))
        spark.stop()
        return 0

    if args.verify_lineage:
        from processor_post_timeseries_spark.plans.lineage import verify_lineage

        stage = args.verify_lineage
        data_path = f"{args.out}/{stage}"
        rows = verify_lineage(spark, args.out, stage, data_path, STAGE_KEYS[stage]).collect()
        bad = sorted(r["partition_key"] for r in rows if not r["ok"])
        print(
            json.dumps(
                {
                    "mode": "verify-lineage",
                    "stage": stage,
                    "n_partitions": len(rows),
                    "n_mismatched": len(bad),
                    "mismatched": bad[:20],
                }
            )
        )
        spark.stop()
        return 1 if bad else 0

    if args.backfill:
        from processor_post_timeseries_spark.plans.backfill import invalidate_where

        source, _, bucket = args.backfill.rpartition(":")
        if not source or not bucket.isdigit():
            ap.error("--backfill expects SOURCE:BUCKET (bucket is an integer)")
        removed = invalidate_where(spark, args.out, source, int(bucket))
        print(
            json.dumps(
                {
                    "mode": "backfill",
                    "unit": f"{source}/{bucket}",
                    "invalidated_rows": int(removed),
                    "next": "re-run the pipeline with resume (default) to recompute",
                }
            )
        )
        spark.stop()
        return 0

    if args.retention:
        from processor_post_timeseries_spark.plans.retention import (
            RetentionPolicy,
            apply_retention,
            list_partitions,
        )

        if not args.input or not args.policy:
            ap.error("--retention requires --input (tier dir) and --policy")
        keep = {t: int(d) for t, d in (p.split(":") for p in args.policy.split(","))}
        parts = list_partitions(spark, args.input)
        now_day = args.now_day if args.now_day is not None else max(
            (d for _t, d in parts), default=0
        )
        dec = apply_retention(
            spark, args.input, RetentionPolicy(keep), now_day, dry_run=args.dry_run
        )
        dropped = sorted(
            (r["tier"], int(r["day"])) for r in dec.filter(~F.col("kept")).collect()
        )
        print(
            json.dumps(
                {
                    "mode": "retention",
                    "now_day": int(now_day),
                    "dry_run": bool(args.dry_run),
                    "n_partitions": len(parts),
                    "dropped": [f"tier={t}/day={d}" for t, d in dropped],
                }
            )
        )
        spark.stop()
        return 0

    if args.legacy_export:
        from processor_post_timeseries_spark.plans.legacy_export import (
            export_legacy_channels,
        )

        if not args.input:
            ap.error("--legacy-export requires --input (events-like table)")
        t0 = time.perf_counter()
        paths = export_legacy_channels(
            spark, read_table(spark, args.input), args.out, chunk_size=args.chunk_size
        )
        n_files = spark.read.parquet(paths["manifest"]).count()
        print(
            json.dumps(
                {
                    "mode": "legacy-export",
                    "paths": paths,
                    "n_block_files": int(n_files),
                    "wall_sec": round(time.perf_counter() - t0, 3),
                }
            )
        )
        spark.stop()
        return 0

    if not args.input and not args.synth_docs:
        ap.error("pipeline mode requires --input or --synth-docs")
    seq = (
        sequences(spark, args.synth_docs, seed=42)
        if args.synth_docs
        else read_table(spark, args.input)
    )
    n_tokens = seq.agg(F.sum("n_tok")).collect()[0][0] or 0

    kw = dict(
        out_dir=args.out,
        block_size=args.block_size,
        n_buckets=args.buckets,
        tiers=parse_tiers(args.tiers),
        resume=not args.no_resume,
    )
    if args.run_id:
        kw["run_id"] = args.run_id
    cfg = PipelineConfig(**kw)
    t0 = time.perf_counter()
    paths = run_pipeline(spark, seq, cfg)
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "stages": sorted(paths),
                "metrics": {k: dict(v) for k, v in cfg.metrics.items()},
                "n_tokens": int(n_tokens),
                "wall_sec": round(wall, 3),
                "tokens_per_sec": int(n_tokens / wall) if wall else 0,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
