"""Round-5 final batch: exact histogram quantiles, integer linear-interp
gap-fill, z-score anomaly flags, containment pairs, source overlap."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from processor_post_timeseries_spark.operators.anomaly import zscore_flags
from processor_post_timeseries_spark.operators.dedup import (
    ngram_containment_pairs,
    source_overlap_matrix,
)
from processor_post_timeseries_spark.operators.gapfill import interp_fill
from processor_post_timeseries_spark.operators.quantiles import (
    exact_group_quantiles,
)


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-round5c", master="local[4]")


# ---------------------------------------------------------------------------
# exact_group_quantiles
# ---------------------------------------------------------------------------


def _np_inverted_cdf(vals, q):
    return int(np.quantile(np.asarray(vals), q, method="inverted_cdf"))


def test_exact_quantiles_match_numpy_inverted_cdf(spark):
    rng = np.random.RandomState(7)
    rows = [
        (f"g{i % 3}", int(v))
        for i, v in enumerate(rng.randint(0, 500, size=2000))
    ]
    df = spark.createDataFrame(rows, ["grp", "v"])
    got = {
        r["grp"]: (r["n"], r["p50"], r["p90"], r["p99"])
        for r in exact_group_quantiles(df, "grp", "v").collect()
    }
    by_g: dict[str, list[int]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        want = (
            len(vals),
            _np_inverted_cdf(vals, 0.5),
            _np_inverted_cdf(vals, 0.9),
            _np_inverted_cdf(vals, 0.99),
        )
        assert got[g] == want, (g, got[g], want)


def test_exact_quantiles_partition_invariant(spark):
    rows = [("g", int(v)) for v in range(101)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    a = exact_group_quantiles(df.coalesce(1), "grp", "v").collect()[0]
    b = exact_group_quantiles(df.repartition(7), "grp", "v").collect()[0]
    assert a == b
    assert (a["p50"], a["p90"], a["p99"]) == (50, 90, 99)


# ---------------------------------------------------------------------------
# interp_fill
# ---------------------------------------------------------------------------


def _interp_frame(spark, points, n):
    obs = dict(points)
    rows = [("p", i, obs.get(i)) for i in range(n)]
    return spark.createDataFrame(rows, "part string, pos long, v long")


def test_interp_fill_interior_line_and_floor(spark):
    # observed 10 at pos 0 and 25 at pos 4: slope 15/4 -> floor quantized
    df = _interp_frame(spark, [(0, 10), (4, 25)], 5)
    got = {
        r["pos"]: r["v_interp"]
        for r in interp_fill(df, "part", "pos", "v").collect()
    }
    # floor(10 + 15*k/4): k=1 -> 13, k=2 -> 17, k=3 -> 21
    assert got == {0: 10, 1: 13, 2: 17, 3: 21, 4: 25}


def test_interp_fill_negative_slope_floors_not_truncates(spark):
    # 25 -> 10 over 4 steps: exact floor of negative quotient must floor
    # (a trunc-toward-zero engine would disagree); floor(25 - 15k/4)
    df = _interp_frame(spark, [(0, 25), (4, 10)], 5)
    got = {
        r["pos"]: r["v_interp"]
        for r in interp_fill(df, "part", "pos", "v").collect()
    }
    assert got == {0: 25, 1: 21, 2: 17, 3: 13, 4: 10}


def test_interp_fill_edges_clamp(spark):
    df = _interp_frame(spark, [(2, 7), (3, 9)], 6)
    got = {
        r["pos"]: r["v_interp"]
        for r in interp_fill(df, "part", "pos", "v").collect()
    }
    assert got == {0: 7, 1: 7, 2: 7, 3: 9, 4: 9, 5: 9}


def test_interp_fill_exact_past_int64_products(spark):
    # (next_v - prev_v) * (pos - prev_p) reaches 3 * (2^62 + 3) > 2^63:
    # a bigint product wraps or fails, the interpolated values must not
    lo, hi = 5, 5 + 2**62 + 3
    df = _interp_frame(spark, [(0, lo), (4, hi)], 5)
    got = {
        r["pos"]: r["v_interp"]
        for r in interp_fill(df, "part", "pos", "v").collect()
    }
    assert got == {k: lo + (hi - lo) * k // 4 for k in range(5)}


def test_interp_fill_plan_has_no_unbounded_following_frame(spark):
    """Spark's UnboundedFollowing window frame re-aggregates from scratch
    per row (O(n^2) per partition); the backward pass must be a running
    frame over descending order instead."""
    df = _interp_frame(spark, [(0, 1), (9, 11)], 10)
    plan = interp_fill(df, "part", "pos", "v")._jdf.queryExecution().optimizedPlan().toString()
    assert "unboundedfollowing" not in plan.lower()


# ---------------------------------------------------------------------------
# zscore_flags
# ---------------------------------------------------------------------------


def test_zscore_flags_spike_and_dropout(spark):
    vals = [10.0] * 20 + [9.99, 10.01, 500.0, -480.0]
    rows = [(i, "g", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, grp string, value double")
    got = {r["id"]: (r["flagged"], r["side"]) for r in
           zscore_flags(df, "grp", "value", "id").collect()}
    assert got[22] == (True, 1)      # spike
    assert got[23] == (True, -1)     # dropout
    assert all(not got[i][0] for i in range(22))


def test_zscore_flags_match_numpy_inequality(spark):
    rng = np.random.RandomState(3)
    vals = np.round(rng.normal(50, 5, size=400), 2)
    rows = [(i, "g", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, grp string, value double")
    got = {r["id"]: r["flagged"] for r in
           zscore_flags(df, "grp", "value", "id").collect()}
    c = np.round(vals * 100).astype(np.int64)
    n, s, q = len(c), int(c.sum()), int((c.astype(object) ** 2).sum())
    for i, v in enumerate(c):
        dev = int(v) * n - s
        want = dev * dev * (n - 1) > 4 * n * (n * q - s * s)
        assert got[i] == want, i


def test_zscore_flags_singleton_group_unflagged(spark):
    df = spark.createDataFrame([(1, "solo", 42.0)], "id long, grp string, value double")
    r = zscore_flags(df, "grp", "value", "id").collect()[0]
    assert (r["flagged"], r["side"]) == (False, 0)


# ---------------------------------------------------------------------------
# containment + source overlap
# ---------------------------------------------------------------------------


def test_containment_detects_embedded_doc(spark):
    short = "alpha beta gamma delta epsilon"
    long_ = short + " zeta eta theta iota kappa " + "x y z " * 10
    df = spark.createDataFrame(
        [(1, short, "s"), (2, long_, "s")], ["doc_id", "text", "source"]
    )
    got = {(r["doc_a"], r["doc_b"]): r["containment"] for r in
           ngram_containment_pairs(df).collect()}
    assert got[(1, 2)] == 1.0          # short wholly inside long
    assert (2, 1) not in got           # reverse direction below threshold


def test_source_overlap_matrix_counts(spark):
    a = "one two three four five"       # shingles: 3 trigrams
    b = "one two three nine ten"        # shares exactly 'one two three'
    df = spark.createDataFrame(
        [(1, a, "sA"), (2, b, "sB"), (3, a, "sA")], ["doc_id", "text", "source"]
    )
    rows = source_overlap_matrix(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["source_a"], r["source_b"], r["n_common"]) == ("sA", "sB", 1)
    assert r["jaccard"] == round(1 / (3 + 3 - 1), 6)


# ---------------------------------------------------------------------------
# lttb_downsample
# ---------------------------------------------------------------------------


def _lttb_reference(points, width):
    """Brute-force numpy replay of the bucket-mean-anchor argmax."""
    import collections

    by_bucket = collections.defaultdict(list)
    for x, y in points:
        by_bucket[x // width].append((x, y))
    sums = {
        b: (len(v), sum(x for x, _ in v), sum(y for _, y in v))
        for b, v in by_bucket.items()
    }
    out = {}
    for b, pts_ in sorted(by_bucket.items()):
        left, right = sums.get(b - 1), sums.get(b + 1)
        if left is None or right is None:
            x, y = min(pts_)
            out[b] = (x, y, -1)
            continue
        n_l, sx_l, sy_l = left
        n_r, sx_r, sy_r = right
        best = None
        for x, y in sorted(pts_):
            e = abs(
                (sx_l * n_r - sx_r * n_l) * (y * n_l - sy_l)
                - (sx_l - x * n_l) * (sy_r * n_l - sy_l * n_r)
            )
            if best is None or e > best[2]:
                best = (x, y, e)
        out[b] = best
    return out


def test_lttb_matches_bruteforce_and_keeps_edges(spark):
    from processor_post_timeseries_spark.operators.downsample import (
        lttb_downsample,
    )

    rng = np.random.RandomState(11)
    xs = sorted(rng.choice(300, size=120, replace=False).tolist())
    points = [(int(x), int(rng.randint(-50, 50))) for x in xs]
    df = spark.createDataFrame(
        [("c", x, y) for x, y in points], "part string, x long, y long"
    )
    got = {
        r["bucket"]: (r["x"], r["y"], r["area2"])
        for r in lttb_downsample(df, 30).collect()
    }
    want = _lttb_reference(points, 30)
    assert got == want
    # edge buckets (no neighbor) kept their smallest-x point, area2 = -1
    bmin, bmax = min(want), max(want)
    assert got[bmin][2] == -1 and got[bmax][2] == -1


# ---------------------------------------------------------------------------
# cusum_changepoint + trend_slope
# ---------------------------------------------------------------------------


def test_cusum_finds_step_change(spark):
    from processor_post_timeseries_spark.operators.trend import (
        cusum_changepoint,
    )

    # level 10 for 50 points, then level 30: CUSUM max at the step edge
    vals = [10] * 50 + [30] * 50
    df = spark.createDataFrame(
        [("c", i, v) for i, v in enumerate(vals)], "part string, pos long, v long"
    )
    r = cusum_changepoint(df, "part", "pos", "v").collect()[0]
    assert r["cp_ord"] == 49 and r["n"] == 100
    # n*prefix_k - k*total at k=50 (pos 49): 100*500 - 50*2000 = -50000
    assert r["cusum_scaled"] == -50000


def test_cusum_matches_bruteforce_and_ties_earliest(spark):
    from processor_post_timeseries_spark.operators.trend import (
        cusum_changepoint,
    )

    rng = np.random.RandomState(5)
    vals = rng.randint(-20, 20, size=200).tolist()
    df = spark.createDataFrame(
        [("c", i, int(v)) for i, v in enumerate(vals)],
        "part string, pos long, v long",
    )
    r = cusum_changepoint(df, "part", "pos", "v").collect()[0]
    n, total = len(vals), sum(vals)
    cks = [(n * sum(vals[: k + 1]) - (k + 1) * total, k) for k in range(n)]
    best = max(cks, key=lambda t: (abs(t[0]), -t[1]))
    assert (r["cp_ord"], r["cusum_scaled"]) == (best[1], best[0])


def test_trend_slope_exact_fraction(spark):
    from fractions import Fraction

    from processor_post_timeseries_spark.operators.trend import trend_slope

    # y = 3x + 7 plus a deterministic wiggle
    pts = [(x, 3 * x + 7 + (x % 5 - 2)) for x in range(100)]
    df = spark.createDataFrame(
        [("c", x, y) for x, y in pts], "part string, x long, y long"
    )
    r = trend_slope(df, "part", "x", "y").collect()[0]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    assert (r["slope_num"], r["slope_den"]) == (n * sxy - sx * sy, n * sxx - sx * sx)
    slope = Fraction(r["slope_num"], r["slope_den"])
    assert abs(float(slope) - 3.0) < 0.01


def test_diff2_extrema_finds_glitch(spark):
    from processor_post_timeseries_spark.operators.trend import diff2_extrema

    vals = [100] * 40
    vals[17] = 400  # single-sample glitch: d2 at the glitch = +300*... 
    df = spark.createDataFrame(
        [("c", i, v) for i, v in enumerate(vals)], "part string, pos long, v long"
    )
    r = diff2_extrema(df, "part", "pos", "v").collect()[0]
    # d2_17 = 400 - 200 + 100 = 300; d2_18 = 100 - 800 + 100 = -600
    assert (r["pos"], r["d2"], r["n"]) == (18, -600, 40)


def test_diff2_extrema_short_channel_empty(spark):
    from processor_post_timeseries_spark.operators.trend import diff2_extrema

    df = spark.createDataFrame(
        [("c", 0, 1), ("c", 1, 2)], "part string, pos long, v long"
    )
    assert diff2_extrema(df, "part", "pos", "v").count() == 0


def test_value_histogram_bins_and_edges(spark):
    from processor_post_timeseries_spark.operators.trend import value_histogram

    # values 0..99 in 20 bins of width 5: each bin has 5, lo = 5*bin
    df = spark.createDataFrame(
        [("c", v) for v in range(100)], "part string, v long"
    )
    rows = {r["bin"]: (r["n"], r["lo"]) for r in
            value_histogram(df, "part", "v").collect()}
    assert len(rows) == 20
    for b in range(20):
        assert rows[b] == (5, 5 * b), b


def test_value_histogram_constant_channel_single_bin(spark):
    from processor_post_timeseries_spark.operators.trend import value_histogram

    df = spark.createDataFrame([("c", 7)] * 9, "part string, v long")
    rows = value_histogram(df, "part", "v").collect()
    assert len(rows) == 1
    assert (rows[0]["bin"], rows[0]["n"], rows[0]["lo"]) == (0, 9, 7)


# ---------------------------------------------------------------------------
# time_weighted_mean
# ---------------------------------------------------------------------------


def test_time_weighted_mean_hand_calc(spark):
    from processor_post_timeseries_spark.operators.irregular import (
        time_weighted_mean,
    )

    W = 100  # window = 100 us for the hand calc
    # channel: v=10 at t=20, v=30 at t=250, v=50 at t=260
    rows = [("c", 20, 10), ("c", 250, 30), ("c", 260, 50)]
    df = spark.createDataFrame(rows, "part string, t long, v long")
    got = {
        r["win"]: (r["twa_num"], r["covered_us"])
        for r in time_weighted_mean(df, W).collect()
    }
    # v=10 holds [20,250): win0 80us, win1 100us, win2 50us
    # v=30 holds [250,260): win2 10us
    # v=50 (final) holds [260,300): win2 40us
    assert got == {
        0: (10 * 80, 80),
        1: (10 * 100, 100),
        2: (10 * 50 + 30 * 10 + 50 * 40, 100),
    }


def test_time_weighted_mean_partition_invariant_and_single_point(spark):
    from processor_post_timeseries_spark.operators.irregular import (
        time_weighted_mean,
    )

    rng = np.random.RandomState(13)
    ts = sorted(rng.choice(100000, size=300, replace=False).tolist())
    rows = [("a", int(t), int(rng.randint(1, 50))) for t in ts]
    rows.append(("solo", 1234, 7))  # single point: holds to window end
    df = spark.createDataFrame(rows, "part string, t long, v long")
    a = sorted(tuple(r) for r in time_weighted_mean(df.repartition(1), 1000).collect())
    b = sorted(tuple(r) for r in time_weighted_mean(df.repartition(13), 1000).collect())
    assert a == b
    solo = [r for r in a if r[0] == "solo"]
    # win 1, covers [1234, 2000): 766 us at v=7
    assert solo == [("solo", 1, 7 * 766, 766)]
