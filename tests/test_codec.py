from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from processor_post_timeseries_spark.functions.codec import (
    dod_decode_array,
    dod_encode_array,
    xor_decode_array,
    xor_encode_array,
)

I32 = np.iinfo(np.int32)


# ------------------------------------------------------------- pure numpy


@pytest.mark.parametrize(
    "arr",
    [
        [],
        [0],
        [42],
        [1, 2],
        [5, 5, 5, 5, 5],  # constant -> all class 0
        [0, 1, 2, 3, 4, 5],  # constant delta -> all dod 0
        list(range(0, 1000, 7)),
        [I32.min, I32.max, I32.min, I32.max],  # extreme dod (needs u64 class)
        [I32.min, I32.min, I32.max, 0, -1, 1],
        [7, -3, 100000, -100000, 65535, -65536, 256, -256],
    ],
)
def test_dod_roundtrip_cases(arr):
    a = np.array(arr, np.int32)
    assert dod_decode_array(dod_encode_array(a)).tolist() == a.tolist()


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(I32.min, I32.max), max_size=400))
def test_dod_roundtrip_property(xs):
    a = np.array(xs, np.int32)
    out = dod_decode_array(dod_encode_array(a))
    assert out.dtype == np.int32
    assert out.tolist() == a.tolist()


def test_dod_compresses_smooth_streams():
    # slowly varying stream: dods are tiny -> mostly class 0/1
    t = np.arange(100_000)
    v = (1000 * np.sin(t / 500)).astype(np.int32)
    enc = dod_encode_array(v)
    assert len(enc) < 0.45 * v.nbytes  # < 1.8 B/sample vs 4 B raw
    assert dod_decode_array(enc).tolist() == v.tolist()


XOR_CASES = [
    [],
    [0.0],
    [3.14],
    [1.0, 1.0, 1.0],  # xor == 0 path
    [0.0, -0.0, np.nan, np.inf, -np.inf, 1e-308, 1e308],
    list(np.linspace(0, 1, 999)),
]


@pytest.mark.parametrize("arr", XOR_CASES)
def test_xor_roundtrip_cases(arr):
    a = np.array(arr, np.float64)
    out = xor_decode_array(xor_encode_array(a))
    # bit-exact, incl. NaN payloads and signed zeros
    assert out.view(np.uint64).tolist() == a.view(np.uint64).tolist()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        max_size=300,
    )
)
def test_xor_roundtrip_property(xs):
    a = np.array(xs, np.float64)
    out = xor_decode_array(xor_encode_array(a))
    assert out.view(np.uint64).tolist() == a.view(np.uint64).tolist()


def test_xor_compresses_smooth_streams():
    v = np.cumsum(np.random.default_rng(0).integers(-3, 4, 50_000)).astype(np.float64)
    enc = xor_encode_array(v)
    assert len(enc) < 0.80 * v.nbytes


# ------------------------------------------------------------- spark UDFs


def test_spark_roundtrip_udf(spark):
    from pyspark.sql import functions as F

    from processor_post_timeseries_spark.functions.codec import dod_decode, dod_encode
    from processor_post_timeseries_spark.sources.synth import sequences

    seq = sequences(spark, 30, seed=13, min_tok=1, max_tok=600, vocab=50_000)
    rt = seq.withColumn("payload", dod_encode("tokens")).withColumn(
        "decoded", dod_decode("payload")
    )
    bad = rt.filter(~(F.col("decoded") == F.col("tokens"))).count()
    assert bad == 0
    sizes = rt.select(
        F.sum(F.octet_length("payload")).alias("enc"),
        F.sum(F.col("n_tok") * 4).alias("raw"),
    ).collect()[0]
    assert sizes["enc"] < sizes["raw"]


def test_spark_xor_roundtrip_udf(spark):
    """The Spark UDFs give back the same bits. Compared in numpy: Spark's
    ``==`` takes -0.0 for 0.0."""
    from processor_post_timeseries_spark.functions.codec import xor_decode, xor_encode

    df = spark.createDataFrame([(i, [float(x) for x in c]) for i, c in enumerate(XOR_CASES)],
                               "i int, values array<double>")
    rt = df.select("i", xor_decode(xor_encode("values")).alias("decoded")).collect()
    got = {r["i"]: np.array(r["decoded"], np.float64) for r in rt}
    for i, c in enumerate(XOR_CASES):
        assert got[i].view(np.uint64).tolist() == np.array(c, np.float64).view(np.uint64).tolist(), i
