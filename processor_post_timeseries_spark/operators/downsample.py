"""M4 visualization downsampling — the width-aware min/max/first/last
aggregation that renders a billion-point channel into w pixel columns
without losing extremes (Jugel et al., VLDB 2014, "M4: A
Visualization-Oriented Time Series Data Aggregation"). The reference's
viewer consumes pre-rolled tiers (processor/pipeline.py); M4 is the
query-time complement for arbitrary zoom widths.

Plan shape: ONE map-side-combined groupBy on (doc, bucket) computing
min/max/min_by/max_by — no window, no sort, linear scan; bucket ids are
a pure projection. At 100 TB this is scan-bound, the optimal shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def m4_downsample(seq: DataFrame, n_buckets: int) -> DataFrame:
    """Per doc and pixel bucket: (doc_id, bucket, min_v, max_v, first_v,
    last_v, n) over the token stream. Bucket of sample i (0-based) in a
    doc of n samples = floor(i * n_buckets / n) — the fixed-width pixel
    mapping; docs shorter than ``n_buckets`` simply fill fewer buckets.
    first/last are the values at the bucket's smallest/largest index
    (min_by/max_by — deterministic, indices are unique)."""
    t = F.col("tokens")
    pts = seq.filter(F.size(t) > 0).select(
        F.col("doc_id"), F.size(t).alias("_n"), F.posexplode(t).alias("_i", "v")
    )
    bucket = F.floor(F.col("_i") * F.lit(n_buckets) / F.col("_n")).cast("int")
    return (
        pts.groupBy("doc_id", bucket.alias("bucket"))
        .agg(
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.min_by("v", "_i").alias("first_v"),
            F.max_by("v", "_i").alias("last_v"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def lttb_downsample(pts: DataFrame, bucket_width: int) -> DataFrame:
    """Largest-triangle downsample (LTTB family, Steinarsson 2013) with
    bucket-MEAN anchors — integer-exact and fully parallel.

    Classic LTTB walks buckets sequentially (the left anchor is the
    previously *selected* point), which serializes each channel. The
    bucket-mean-anchor variant replaces both anchors with the neighbor
    buckets' average points; every bucket then decides independently,
    so the whole operator is two bounded shuffles — the standard trade
    for parallel/SQL LTTB implementations, and visually equivalent at
    pixel scale. Complements ``m4_downsample`` (extremes) with the
    perceptually-weighted single point per pixel.

    Exactness: ``x``/``y`` must be integral (shift x to a per-partition
    offset, fixed-point y). The doubled triangle area with mean anchors
    ``A=(Sx_l/n_l, Sy_l/n_l)``, ``C=(Sx_r/n_r, Sy_r/n_r)`` is compared
    after scaling by ``n_l^2 * n_r`` (constant within a bucket):

        E = (Sx_l*n_r - Sx_r*n_l) * (y*n_l - Sy_l)
          - (Sx_l - x*n_l) * (Sy_r*n_l - Sy_l*n_r)

    — pure int64 products (fits while |x|,|y| < ~1e6 and bucket size
    <= ~1e3), so the argmax point is bit-identical in every engine; ties
    break to the smallest x. Buckets missing a left or right neighbor
    (series edges, empty pixels) keep their smallest-x point — the
    endpoint-retention rule of classic LTTB.

    Plan: one groupBy (part, bucket) for the anchor sums (bounded — one
    row per rendered pixel), neighbor anchors via lag/lead over that
    SMALL frame (gap-aware: a lag row whose bucket isn't exactly
    bucket-1 is discarded, so empty pixels don't smear anchors), then
    ONE join of the point stream against the enriched bucket frame and
    one ranked window per (part, bucket) — the corpus-sized frame is
    touched exactly twice (agg + join), never more.
    """
    from pyspark.sql import Window

    # exact FLOOR division for the bucket id (matches the oracle's `//`
    # for any sign of x and any magnitude): the former double-divide +
    # truncate bucketed negative x differently per engine and lost bits
    # near 2^53. (x - pmod(x, w)) is divisible by w, so the quotient is
    # an exact integer in decimal.
    xb = F.col("x").cast("bigint")
    wl = F.lit(int(bucket_width)).cast("bigint")
    b = ((xb - F.pmod(xb, wl)).cast("decimal(38,0)") / wl).cast("bigint")
    p = pts.select(
        F.col("part"),
        F.col("x").cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
        b.alias("bucket"),
    )
    sums = p.groupBy("part", "bucket").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    wn = Window.partitionBy("part").orderBy("bucket")
    adj = F.lag(F.col("bucket")).over(wn) == F.col("bucket") - 1
    adj_r = F.lead(F.col("bucket")).over(wn) == F.col("bucket") + 1
    nbrs = sums.select(
        "part",
        "bucket",
        F.when(adj, F.lag("n").over(wn)).alias("n_l"),
        F.when(adj, F.lag("sx").over(wn)).alias("sx_l"),
        F.when(adj, F.lag("sy").over(wn)).alias("sy_l"),
        F.when(adj_r, F.lead("n").over(wn)).alias("n_r"),
        F.when(adj_r, F.lead("sx").over(wn)).alias("sx_r"),
        F.when(adj_r, F.lead("sy").over(wn)).alias("sy_r"),
    )
    j = p.join(nbrs, ["part", "bucket"], "left")
    e = (
        (F.col("sx_l") * F.col("n_r") - F.col("sx_r") * F.col("n_l"))
        * (F.col("y") * F.col("n_l") - F.col("sy_l"))
        - (F.col("sx_l") - F.col("x") * F.col("n_l"))
        * (F.col("sy_r") * F.col("n_l") - F.col("sy_l") * F.col("n_r"))
    )
    interior = F.col("n_l").isNotNull() & F.col("n_r").isNotNull()
    area2 = F.when(interior, F.abs(e)).otherwise(F.lit(None))
    w = Window.partitionBy("part", "bucket").orderBy(
        F.desc_nulls_last("area2"), F.asc("x")
    )
    return (
        j.withColumn("area2", area2)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("part", "bucket", "x", "y", F.coalesce("area2", F.lit(-1)).alias("area2"))
    )
