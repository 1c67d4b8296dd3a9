"""Gap-fill of missing sample indices (north-rule operator W2).

The reference only *detects* gaps (``/root/reference/processor/reader.py:181-225``);
the north rule requires the inverse: reconstruct a dense sample frame over
``[0, n_tok)`` with a forward-fill policy (leading gap -> ``fill_first``).

Two physical strategies, same semantics:

``gapfill_tokens``
    Input is block-form ``tokens`` with nulls marking missing samples.
    Pure narrow map (Arrow batch + numpy ffill) — zero shuffle; this is
    the 100 TB path when ingest already landed arrays.

``gapfill_samples``
    Input is long-form observed samples ``(doc_id, source, n_tok, idx,
    value)``. One shuffle (groupBy doc) to re-block, then the same numpy
    fill. Long-form -> block-form is the *only* shuffle, sized by the
    observed data, and AQE coalesces it; after this, everything stays
    block-form.

A SQL-expressible equivalent (``gapfill_samples_sql``) exists for oracle
parity: sequence()-explode full frame, left join, last(ignorenulls) over
an ordered window. It shuffles twice and explodes to one row per sample —
kept for correctness cross-checks, not the production path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..sources.synth import SEQ_SCHEMA


def _ffill(n: int, idx: np.ndarray, val: np.ndarray, fill_first: int) -> np.ndarray:
    """Vectorized forward fill: scatter observed, propagate last seen."""
    present = np.zeros(n, dtype=bool)
    out = np.zeros(n, dtype=np.int64)
    present[idx] = True
    out[idx] = val
    # index of most recent present position, or -1
    pos = np.where(present, np.arange(n), -1)
    np.maximum.accumulate(pos, out=pos)
    filled = np.where(pos >= 0, out[np.clip(pos, 0, None)], fill_first)
    return filled.astype(np.int32)


def gapfill_tokens(seq_df: DataFrame) -> DataFrame:
    """Block-form gap-fill: nulls inside ``tokens`` forward-filled. Narrow map."""

    def fill(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks_out = []
            for toks in pdf["tokens"]:
                a = pd.array(toks)
                vals = np.asarray(a, dtype=object)
                mask = pd.isna(vals)
                n = len(vals)
                idx = np.nonzero(~mask)[0]
                filled = _ffill(n, idx, vals[~mask].astype(np.int64), 0)
                toks_out.append(filled)
            pdf = pdf.copy()
            pdf["tokens"] = toks_out
            yield pdf

    return seq_df.mapInPandas(fill, schema=seq_df.schema)


def gapfill_samples(obs_df: DataFrame, fill_first: int = 0) -> DataFrame:
    """Long-form observed samples -> dense block-form sequences.

    Output schema == input_hint sequences schema. One shuffle (re-block by
    doc), then numpy fill per group.
    """

    def fill(key, pdf):
        n = int(pdf["n_tok"].iloc[0])
        idx = pdf["idx"].to_numpy(np.int64)
        val = pdf["value"].to_numpy(np.int64)
        order = np.argsort(idx, kind="stable")
        filled = _ffill(n, idx[order], val[order], fill_first)
        return pd.DataFrame(
            {
                "doc_id": [key[0]],
                "tokens": [filled],
                "n_tok": [n],
                "source": [pdf["source"].iloc[0]],
            }
        )

    return obs_df.groupBy("doc_id").applyInPandas(fill, schema=SEQ_SCHEMA)


def gapfill_samples_sql(obs_df: DataFrame) -> DataFrame:
    """Oracle-parity long-form gap-fill, pure Spark SQL primitives.

    Returns the dense long form ``(doc_id, source, idx, value)``. Used to
    cross-check the vectorized path and as the driver-oracle query shape.
    """
    docs = obs_df.groupBy("doc_id").agg(
        F.first("source").alias("source"), F.first("n_tok").alias("n_tok")
    )
    frame = docs.select(
        "doc_id", "source", F.explode(F.sequence(F.lit(0), F.col("n_tok") - 1)).alias("idx")
    )
    joined = frame.join(obs_df.select("doc_id", "idx", "value"), ["doc_id", "idx"], "left")
    w = Window.partitionBy("doc_id").orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "doc_id",
        "source",
        "idx",
        F.coalesce(F.last("value", ignorenulls=True).over(w), F.lit(0))
        .cast("int")
        .alias("value"),
    )


def interp_fill(
    obs: DataFrame,
    part_col: str,
    ord_col: str,
    val_col: str,
) -> DataFrame:
    """Linear interpolation over a sparse INTEGER-valued ordered grid
    (W2 policy #2).

    Input: one row per grid position per partition, ``val_col`` null at
    the gaps (the shape ``gapfill_samples_sql``'s frame-join produces);
    ``val_col`` must be integral (fixed-point the measure first — cents,
    micro-units). Output adds ``<val_col>_interp``: observed values pass
    through; interior gaps get the straight line between the nearest
    observed neighbors, quantized by FLOOR division; leading/trailing
    gaps clamp to the nearest edge value (the reference's
    contiguous-segment semantics — nothing is invented beyond the
    observed extent, reader.py:181-225).

    Bit-portability: floats are avoided entirely. A naive double
    ``prev + (next-prev)*(pos-prev_pos)/span`` disagrees across engines
    in the last ulp once per ~10^4 rows (measured Spark-vs-DuckDB), and
    per-row ROUND(double, 6) amplifies the ulp into a visible 1e-6.
    Instead the quotient is exact floor division, expressed portably as
    ``(num - pmod(num, den)) / den`` — ``%`` has dividend-sign
    semantics in every engine this targets, while ``div``/``//``
    truncation is NOT portable (Spark truncates toward zero, others
    floor). The final division is exact (numerator divisible by den,
    magnitudes < 2^53), so every engine produces the identical integer.

    Scale: two ordered windows per partition (forward + backward pass),
    both over the already-partitioned grid — no extra shuffle beyond
    the frame the caller built. The backward pass is deliberately a
    RUNNING frame over descending order, NOT ``rowsBetween(0,
    unboundedFollowing)``: Spark executes an UnboundedFollowing frame
    with ``UnboundedFollowingWindowFunctionFrame``, which re-aggregates
    current-row..end from scratch for every row — O(n^2) per partition
    (hours on a 1M-row grid). The descending running frame computes the
    identical "nearest observed neighbor at-or-after" value in O(n).
    """
    wb = (
        Window.partitionBy(part_col)
        .orderBy(ord_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(part_col)
        .orderBy(F.col(ord_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col(val_col)
    obs_pos = F.when(v.isNotNull(), F.col(ord_col))
    prev_v = F.last(v, ignorenulls=True).over(wb)
    prev_p = F.last(obs_pos, ignorenulls=True).over(wb)
    next_v = F.last(v, ignorenulls=True).over(wf)
    next_p = F.last(obs_pos, ignorenulls=True).over(wf)
    # num, den and pm run in DECIMAL(38,0), not bigint or double: a wide
    # gap x a large cent delta passes 2^63 (a bigint product would wrap
    # or fail) and 2^53 (a double loses low bits), while a product of two
    # factors below 2^63 fits 38 digits. (num - pm) is exactly divisible
    # by den, so the decimal quotient keeps every bit; decimal overflow
    # beyond that is loud, never wrong
    def dec(c):
        return c.cast("decimal(38,0)")

    num = (dec(next_v) - dec(prev_v)) * (dec(F.col(ord_col)) - dec(prev_p))
    den = dec(next_p) - dec(prev_p)
    pm = ((num % den) + den) % den
    q_exact = (num - pm) / den
    interp = (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + q_exact.cast("bigint"))
    )
    return obs.withColumn(f"{val_col}_interp", interp.cast("bigint"))
