"""The Spark flush computes norms with a JVM expression
(`builder.norm_expr`) and the driver flush with `norms.encode_norm`; both
must give the same byte for every doc length."""

import numpy as np
from pyspark.sql import functions as F

from diagon_spark.index.builder import norm_expr
from diagon_spark.index.norms import encode_norm

LARGE = [16128, 16129, 16130, 16131, 1 << 20, (1 << 20) + 1, 123_456_789,
         (1 << 31) - 2, (1 << 31) - 1]
NON_POSITIVE = [0, -1, -2, -16129, -(1 << 31)]


def _jvm_norms(spark, df):
    t = df.select("n", norm_expr(F.col("n")).alias("norm")).toArrow()
    return t.column("n").to_numpy(), t.column("norm").to_numpy()


def test_norm_expr_equals_encode_norm_up_to_2_20(spark):
    df = spark.range(0, (1 << 20) + 1).select(F.col("id").cast("int")
                                               .alias("n"))
    n, norm = _jvm_norms(spark, df)
    assert len(n) == (1 << 20) + 1
    np.testing.assert_array_equal(norm, encode_norm(n).astype(np.int32))


def test_norm_expr_equals_encode_norm_large_and_non_positive(spark):
    df = spark.createDataFrame([(v,) for v in LARGE + NON_POSITIVE],
                               "n int")
    n, norm = _jvm_norms(spark, df)
    np.testing.assert_array_equal(norm, encode_norm(n).astype(np.int32))
    assert set(norm[np.isin(n, NON_POSITIVE)]) == {127}
