"""Cluster-key kernels vs pure-Python oracles (SURVEY.md §7.4)."""

import pytest
from pyspark.sql import functions as F

from e_commerce_lakehouse_spark.functions.zorder import (
    MASK31,
    hilbert_key_py,
    hilbert_key_udf,
    scale31_sql,
    zorder_key_py,
    zorder_key_sql,
)

SAMPLE = [
    (0, 0),
    (1, 0),
    (0, 1),
    (1, 1),
    (MASK31, MASK31),
    (MASK31, 0),
    (12345, 67890),
    (2**30 + 17, 2**29 + 3),
    (999_999_937, 1_000_000_007 & MASK31),
]


def test_zorder_expression_matches_oracle(spark):
    df = spark.createDataFrame(SAMPLE, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", F.expr(zorder_key_sql("x", "y"))).collect()
    }
    for x, y in SAMPLE:
        assert got[(x, y)] == zorder_key_py(x, y), (x, y)


def test_hilbert_udf_matches_oracle(spark):
    df = spark.createDataFrame(SAMPLE, "x long, y long")
    got = {
        (r["x"], r["y"]): r["h"]
        for r in df.withColumn("h", hilbert_key_udf()(F.col("x"), F.col("y"))).collect()
    }
    for x, y in SAMPLE:
        assert got[(x, y)] == hilbert_key_py(x, y, 31), (x, y)


def test_keys_are_nonnegative_int64(spark):
    df = spark.range(0, 2000, 1, 4).select(
        (F.abs(F.xxhash64("id")) % (MASK31 + 1)).alias("x"),
        (F.abs(F.xxhash64("id", F.lit("y"))) % (MASK31 + 1)).alias("y"),
    )
    z = df.select(
        F.expr(zorder_key_sql("x", "y")).alias("z"),
        hilbert_key_udf()(F.col("x"), F.col("y")).alias("h"),
    ).agg(F.min("z"), F.min("h"), F.max("z"), F.max("h")).collect()[0]
    assert z[0] >= 0 and z[1] >= 0
    assert z[2] < 2**62 and z[3] < 2**62


def test_norm31_scale_bounds(spark):
    df = spark.createDataFrame([(0,), (50,), (100,)], "v long")
    vals = [r[0] for r in df.select(F.expr(scale31_sql("v", 0, 100)).alias("s")).collect()]
    assert vals[0] == 0
    assert vals[2] == MASK31
    assert 0 < vals[1] < MASK31


def test_zorder_locality_property():
    # interleaving: small deltas in either dim stay within the same
    # high-bit prefix far more often than random pairs — sanity property
    a = zorder_key_py(100, 100)
    b = zorder_key_py(101, 100)
    c = zorder_key_py(100 ^ (1 << 30), 100)
    assert abs(a - b) < abs(a - c)
