"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, column-name set, and an
order-insensitive exact value multiset (columns sorted by name, floats
compared bitwise). Usage:

    python tools/check_oracles.py [sf_dir] [name_filter] [--out FILE.json]

``--out`` writes the per-query results as one JSON object (the driver's
CORRECTNESS format: rows/schema/hash match booleans + row counts per
query) — committed per round as ORACLES_r{N}.json so every registry
query, not just the driver's frozen 50-name snapshot, ships with
machine-readable evidence (VERDICT r3 ask #4).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from processor_post_timeseries_spark.contract import (  # noqa: E402
    TABLES,
    oracle_sql,
    queries,
)
from processor_post_timeseries_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return ("N",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, (int,)):
        return ("i", int(v))
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v))
    if isinstance(v, bool):
        return ("i", int(v))
    return ("s", str(v))


def canon(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    return sorted(tuple(norm_cell(r[c]) for c in cols) for r in rows)


def main() -> int:
    args = list(sys.argv[1:])
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    name_filter = args[1] if len(args) > 1 else ""
    spark = get_spark("check-oracles", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    n_ok = n_fail = n_rowsonly = 0
    results: dict[str, dict] = {}

    def record(name, *, rows_match=None, schema_match=None, hash_match=None,
               spark_rows=None, oracle_rows=None, err=None, rows_only=False):
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err, "rows_only": rows_only,
        }

    oracles = oracle_sql()
    for name, fn in queries().items():
        osql = oracles.get(name)
        if name_filter and not any(p in name for p in name_filter.split("|")):
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            record(name, err=f"spark: {str(e)[:300]}")
            n_fail += 1
            continue
        if osql is None:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            record(name, spark_rows=len(srows), rows_only=True)
            n_rowsonly += 1
            continue
        try:
            ddf = con.sql(osql)
            dcols = [d[0] for d in ddf.description]
            drows = [dict(zip(dcols, r)) for r in ddf.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            record(name, spark_rows=len(srows), err=f"duckdb: {str(e)[:300]}")
            n_fail += 1
            continue
        scols, dcols_s = sorted(srows[0].keys()) if srows else [], sorted(dcols)
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            record(name, rows_match=False, spark_rows=len(srows), oracle_rows=len(drows))
            n_fail += 1
            continue
        if srows and scols != dcols_s:
            print(f"FAIL {name}: columns spark={scols} duck={dcols_s}")
            record(name, rows_match=True, schema_match=False,
                   spark_rows=len(srows), oracle_rows=len(drows))
            n_fail += 1
            continue
        a, b = canon(srows), canon(drows)
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: value mismatch; first diffs: {bad}")
            record(name, rows_match=True, schema_match=True, hash_match=False,
                   spark_rows=len(srows), oracle_rows=len(drows))
            n_fail += 1
            continue
        print(f"OK   {name}: {len(srows)} rows")
        record(name, rows_match=True, schema_match=True, hash_match=True,
               spark_rows=len(srows), oracle_rows=len(drows))
        n_ok += 1

    print(f"\n{n_ok} ok, {n_rowsonly} rows-only, {n_fail} fail")
    if out_path:
        import json

        with open(out_path, "w") as f:
            json.dump(
                {"sf_dir": sf_dir,
                 "summary": {"ok": n_ok, "rows_only": n_rowsonly, "fail": n_fail},
                 "results": results},
                f, indent=1, sort_keys=True,
            )
        print(f"wrote {out_path}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
