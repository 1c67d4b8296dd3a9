from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

import oracle
from processor_post_timeseries_spark.operators.gapfill import (
    gapfill_samples,
    gapfill_samples_sql,
    gapfill_tokens,
)
from processor_post_timeseries_spark.operators.segments import (
    channel_extents,
    sessionize,
)
from processor_post_timeseries_spark.sources.synth import sequences


def _observed(spark, n_docs, seed, drop_every, **kw):
    """Long-form samples ``(doc_id, source, n_tok, idx, value)`` with
    every index where ``(idx + doc number) % drop_every == 0`` missing:
    the gap-fill operators' input, a pure function of the doc."""
    doc_no = F.element_at(F.split("doc_id", "-"), -1).cast("int")
    return (
        sequences(spark, n_docs, seed=seed, **kw)
        .select("doc_id", "source", "n_tok", F.posexplode("tokens").alias("idx", "value"))
        .filter((F.col("idx") + doc_no) % drop_every != 0)
    )


def test_gapfill_samples_matches_numpy(spark):
    obs = _observed(spark, 25, seed=5, drop_every=7, min_tok=5, max_tok=300, vocab=500)
    obs_pd = obs.toPandas()
    dense = {r["doc_id"]: np.array(r["tokens"]) for r in gapfill_samples(obs).collect()}
    for doc, g in obs_pd.groupby("doc_id"):
        exp = oracle.gap_fill_ffill(g["idx"].to_numpy(), g["value"].to_numpy(), int(g["n_tok"].iloc[0]))
        assert dense[doc].tolist() == exp.tolist(), doc
        assert len(dense[doc]) == int(g["n_tok"].iloc[0])


def test_gapfill_sql_equals_vectorized(spark):
    obs = _observed(spark, 12, seed=9, drop_every=4, min_tok=5, max_tok=120, vocab=100)
    vec = (
        gapfill_samples(obs)
        .select("doc_id", F.posexplode("tokens").alias("idx", "value"))
        .orderBy("doc_id", "idx")
        .collect()
    )
    sql = gapfill_samples_sql(obs).select("doc_id", "idx", "value").orderBy("doc_id", "idx").collect()
    assert [tuple(r) for r in vec] == [tuple(r) for r in sql]


def test_gapfill_tokens_block_form(spark):
    df = spark.createDataFrame(
        [("d1", [None, 5, None, None, 7, None], 6, "s"), ("d2", [1, None, 2], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    got = {r["doc_id"]: list(r["tokens"]) for r in gapfill_tokens(df).collect()}
    assert got["d1"] == [0, 5, 5, 5, 7, 7]
    assert got["d2"] == [1, 1, 2]


def test_gapfill_leading_gap_fill_first(spark):
    obs = spark.createDataFrame(
        [("d", "s", 5, 3, 9), ("d", "s", 5, 4, 11)],
        "doc_id string, source string, n_tok int, idx int, value int",
    )
    got = gapfill_samples(obs, fill_first=-1).collect()[0]
    assert list(got["tokens"]) == [-1, -1, -1, 9, 11]


def test_sessionize_matches_reference_semantics(spark):
    # reference: break when delta > 2*(1/rate); here gap=2 index units
    idx = [0, 1, 2, 5, 6, 20, 21, 22]
    df = spark.createDataFrame([("c", i) for i in idx], "ch string, idx long")
    segs = sessionize(df, "ch", "idx", gap=2)
    # half-open [start, end): the reference's convention
    bounds = (
        segs.groupBy("seg_id")
        .agg(F.min("idx").alias("seg_start"), (F.max("idx") + 1).alias("seg_end"))
        .orderBy("seg_id")
        .collect()
    )
    exp = oracle.contiguous_segments(np.array(idx), gap=2)
    assert [(r["seg_start"], r["seg_end"]) for r in bounds] == exp
    assert exp == [(0, 3), (5, 7), (20, 23)]


def test_sessionize_single_segment_when_no_gaps(spark):
    df = spark.createDataFrame([("c", i) for i in range(50)], "ch string, idx long")
    segs = sessionize(df, "ch", "idx", gap=2)
    assert segs.select(F.countDistinct("seg_id")).collect()[0][0] == 1


def test_channel_extents(spark):
    df = spark.createDataFrame(
        [("a", 3, 10), ("a", 9, -2), ("b", 1, 5)], "ch string, idx long, v int"
    )
    got = {r["ch"]: r for r in channel_extents(df, "ch", "idx", "v").collect()}
    assert (got["a"]["start"], got["a"]["end"], got["a"]["n_samples"]) == (3, 9, 2)
    assert (got["a"]["min_v"], got["a"]["max_v"]) == (-2, 10)
    assert got["b"]["n_samples"] == 1
