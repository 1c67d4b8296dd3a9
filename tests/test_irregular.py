"""Explicit-timestamp (array<long> ts) segmentation + block bounds —
mirrors the reference reader/writer gap cases: split strictly above the
2-period threshold, half-open [start, last+1) bounds, chunks cut within
segments with real-µs keys."""

from __future__ import annotations

import pytest

from processor_post_timeseries_spark.operators.blocks import from_blocks, to_blocks
from processor_post_timeseries_spark.operators.irregular import (
    block_bounds_from_ts_arrays,
    explode_ts_samples,
    gap_threshold_us,
    irregular_from_blocks,
    irregular_to_blocks,
    rate_from_ts_arrays,
    segments_from_ts_arrays,
    tier_from_ts_arrays,
)


@pytest.fixture(scope="module")
def spark():
    from processor_post_timeseries_spark.session import get_spark

    return get_spark("test-irregular", master="local[4]")


def _seq(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, ts array<long>, source string"
    )


def test_gap_threshold_is_two_periods():
    assert gap_threshold_us(500.0) == 4000
    assert gap_threshold_us(250.0) == 8000


def test_split_on_gap_and_halfopen_bounds(spark):
    # deltas: 1000,1000, 50000 (gap), 1000 -> segments [0..2002], [52000..53001)
    df = _seq(spark, [("d1", [1, 2, 3, 4, 5], [0, 1000, 2000, 52000, 53000], "s")])
    out = {
        r["seg_id"]: (r["seg_start_us"], r["seg_end_us"], r["n_samples"])
        for r in segments_from_ts_arrays(df).collect()
    }
    assert out == {0: (0, 2001, 3), 1: (52000, 53001, 2)}


def test_gap_equal_to_threshold_does_not_split(spark):
    # reference splits on delta > threshold, not >=
    df = _seq(spark, [("d1", [1, 2], [0, 4000], "s")])
    segs = segments_from_ts_arrays(df).collect()
    assert len(segs) == 1 and segs[0]["n_samples"] == 2


def test_single_sample_and_empty(spark):
    df = _seq(spark, [("one", [7], [123], "s"), ("empty", [], [], "s")])
    segs = segments_from_ts_arrays(df).collect()
    assert len(segs) == 1
    r = segs[0]
    assert (r["doc_id"], r["seg_start_us"], r["seg_end_us"], r["n_samples"]) == (
        "one", 123, 124, 1,
    )


def test_blocks_cut_within_segments_with_real_us_keys(spark):
    # one segment of 5 samples + one of 2; block_size=2 -> blocks 2,2,1 | 2
    ts = [0, 10, 20, 30, 40, 99000, 99010]
    df = _seq(spark, [("d1", list(range(7)), ts, "s")])
    rows = sorted(
        (
            (r["seg_id"], r["block_no"], r["start_us"], r["end_us"], r["n"], r["key"])
            for r in block_bounds_from_ts_arrays(df, block_size=2).collect()
        )
    )
    assert rows == [
        (0, 0, 0, 11, 2, "d1_000000000000_000000000011.bin"),
        (0, 1, 20, 31, 2, "d1_000000000020_000000000031.bin"),
        (0, 2, 40, 41, 1, "d1_000000000040_000000000041.bin"),
        (1, 0, 99000, 99011, 2, "d1_000000099000_000000099011.bin"),
    ]


def test_payload_blocks_roundtrip(spark):
    import random

    rng = random.Random(3)
    rows = []
    for d in range(12):
        n = rng.randrange(1, 60)
        ts, cur = [], 0
        for i in range(n):
            cur += 40000 if rng.random() < 0.08 and i else rng.randrange(500, 1500)
            ts.append(cur)
        rows.append((f"d{d}", [rng.randrange(0, 255) for _ in range(n)], ts, "s"))
    blocks = irregular_to_blocks(_seq(spark, rows), gap_us=4000, block_size=7)
    # decode + reassemble: tokens AND timestamps byte-identical
    back = {r["doc_id"]: r for r in irregular_from_blocks(blocks).collect()}
    for doc_id, toks, ts, _src in rows:
        assert list(back[doc_id]["tokens"]) == toks
        assert list(back[doc_id]["ts"]) == ts
        assert back[doc_id]["n_tok"] == len(toks)


def test_payload_blocks_refuse_int32_span_overflow(spark):
    # a block whose rebased ts deltas exceed int32 must raise, never wrap
    big = 3_000_000_000  # > 2^31-1 µs within one block
    df = _seq(spark, [("d1", [1, 2], [0, big], "s")])
    with pytest.raises(Exception, match="int32"):
        irregular_to_blocks(df, gap_us=big + 1, block_size=2).collect()


@pytest.mark.parametrize(
    "emit",
    [
        lambda df: segments_from_ts_arrays(df),
        lambda df: block_bounds_from_ts_arrays(df, block_size=2),
        lambda df: irregular_to_blocks(df, gap_us=4000, block_size=2),
        lambda df: rate_from_ts_arrays(df),
        lambda df: tier_from_ts_arrays(df, window_us=1000),
        lambda df: explode_ts_samples(df),
    ],
    ids=["segments", "block_bounds", "to_blocks", "rate", "tier", "explode"],
)
def test_emitters_reject_unsorted_ts(spark, emit):
    # sorted timestamps within a doc are every emitter's precondition:
    # unsorted input would give a segment [300, 61), a key ending before
    # it starts, or a negative rate — it must raise instead
    df = _seq(spark, [("ok", [1, 2], [0, 10], "s"), ("d1", [1, 2, 3], [300, 50, 60], "s")])
    with pytest.raises(Exception, match="timestamps not sorted within doc 'd1'"):
        emit(df).collect()
    # and one timestamp per token: a short tokens array would give a
    # payload with fewer tokens than its block's n, or NULL-padded samples
    df = _seq(spark, [("ok", [1, 2], [0, 10], "s"), ("d2", [1, 2], [0, 10, 20, 30], "s")])
    with pytest.raises(Exception, match="tokens and timestamps differ in length within doc 'd2'"):
        emit(df).collect()


def test_rate_inference_median_semantics(spark):
    # deltas 1000,1000,3000 -> median 1000 (odd count); two deltas
    # 1000,2000 -> median 1500 (even interpolation); single sample -> absent
    df = _seq(
        spark,
        [
            ("odd", [1, 2, 3, 4], [0, 1000, 2000, 5000], "s"),
            ("even", [1, 2, 3], [0, 1000, 3000], "s"),
            ("one", [9], [42], "s"),
        ],
    )
    out = {r["doc_id"]: r for r in rate_from_ts_arrays(df, first_k=10).collect()}
    assert set(out) == {"odd", "even"}
    assert out["odd"]["median_delta_us"] == 1000.0
    assert out["odd"]["inferred_rate_hz"] == 1000.0
    assert out["even"]["median_delta_us"] == 1500.0
    assert abs(out["even"]["inferred_rate_hz"] - 666.666666667) < 1e-9
    # first_k truncation: only the first 3 samples (2 deltas) count
    trunc = rate_from_ts_arrays(
        _seq(spark, [("d", [1, 2, 3, 4], [0, 100, 200, 99999], "s")]), first_k=3
    ).collect()[0]
    assert trunc["median_delta_us"] == 100.0


def test_tier_from_ts_arrays_matches_groupby_reference(spark):
    import random

    rng = random.Random(5)
    rows = []
    for d in range(15):
        n = rng.randrange(1, 80)
        ts, cur = [], rng.randrange(0, 1000)
        for _ in range(n):
            cur += rng.randrange(100, 90000)
            ts.append(cur)
        rows.append((f"d{d}", [rng.randrange(-5, 250) for _ in range(n)], ts, "s"))
    df = _seq(spark, rows)
    WIN = 50_000
    got = sorted(
        (r["doc_id"], r["win_us"], r["min_v"], r["max_v"], r["sum_v"], r["cnt"], r["mean_v"])
        for r in tier_from_ts_arrays(df, window_us=WIN).collect()
    )
    # reference: plain row-per-sample groupBy on the exploded view
    from pyspark.sql import functions as F

    ref = sorted(
        (r["doc_id"], r["win_us"], r["min_v"], r["max_v"], r["sum_v"], r["cnt"], r["mean_v"])
        for r in explode_ts_samples(df)
        .groupBy("doc_id", (F.col("ts_us") - F.pmod("ts_us", F.lit(WIN))).alias("win_us"))
        .agg(
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.sum("v").cast("long").alias("sum_v"),
            F.count("*").alias("cnt"),
            F.round(F.sum("v") / F.count("*"), 6).alias("mean_v"),
        )
        .collect()
    )
    assert got == ref
    # batch-vectorized kernel must be partition-invariant
    again = sorted(
        (r["doc_id"], r["win_us"], r["min_v"], r["max_v"], r["sum_v"], r["cnt"], r["mean_v"])
        for r in tier_from_ts_arrays(df.repartition(13), window_us=WIN).collect()
    )
    assert got == again


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_array_model_plans_have_zero_exchanges(spark):
    import re

    df = _seq(spark, [("d1", [1, 2], [0, 1000], "s")])
    for out in (
        segments_from_ts_arrays(df),
        block_bounds_from_ts_arrays(df, block_size=2),
        irregular_to_blocks(df, gap_us=4000, block_size=2),
        to_blocks(df, block_size=2),
        rate_from_ts_arrays(df),
        tier_from_ts_arrays(df, window_us=1000),
    ):
        plan = _plan(out)
        assert "Exchange" not in plan, plan
    # the explicit-ts block writer runs Python only in the codec UDF; the
    # implicit-rate one is one Arrow kernel (blocks.block_batch) per batch
    plan = _plan(irregular_to_blocks(df, gap_us=4000, block_size=2))
    assert "MapInPandas" not in plan and "MapInArrow" not in plan, plan
    plan = _plan(to_blocks(df, block_size=2))
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1, plan
    assert "ArrowEvalPython" not in plan, plan


def test_irregular_to_blocks_codec_input_rows_carry_their_block_not_the_doc(spark):
    import re

    # the slices are projected before the codec UDFs, so the rows they
    # queue hold one block each: a doc of k blocks is not copied k times
    df = _seq(spark, [("d1", [1, 2, 3], [0, 1, 2], "s")])
    plan = _plan(irregular_to_blocks(df, gap_us=4000, block_size=2))
    udf_node = plan[plan.index("ArrowEvalPython\nInput"):]
    udf_input = udf_node.splitlines()[1]
    assert "_chunk" in udf_input and "_ts_chunk" in udf_input, udf_node
    assert not re.search(r"\b(tokens|ts)#", udf_input), udf_node


def test_block_readers_shuffle_once_on_doc_id(spark):
    import re

    df = _seq(spark, [("d1", [1, 2, 3], [0, 1000, 2000], "s")])
    for out in (
        from_blocks(to_blocks(df, block_size=2)),
        irregular_from_blocks(irregular_to_blocks(df, gap_us=4000, block_size=2)),
    ):
        plan = _plan(out)
        exchanges = re.findall(r"^\(\d+\) Exchange\nInput.*\nArguments: (.*)$", plan, re.M)
        assert len(exchanges) == 1, plan
        assert re.match(r"hashpartitioning\(doc_id#\d+, ", exchanges[0]), plan


def test_partition_invariance_and_sample_explode(spark):
    rows = [
        (f"d{i}", [i, i + 1, i + 2], [0, 1000, 60000 + i], "s") for i in range(20)
    ]
    df = _seq(spark, rows)
    a = sorted(map(tuple, segments_from_ts_arrays(df.repartition(1)).collect()))
    b = sorted(map(tuple, segments_from_ts_arrays(df.repartition(7)).collect()))
    assert a == b
    flat = explode_ts_samples(df)
    assert flat.count() == 60
    one = sorted(
        (r["pos"], r["ts_us"], r["v"])
        for r in flat.filter("doc_id = 'd0'").collect()
    )
    assert one == [(0, 0, 0), (1, 1000, 1), (2, 60000, 2)]
