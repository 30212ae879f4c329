"""assign_global_seq: the distributed seq stamp must equal a single-task
row_number over the same order, on every partition shape."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webscraping_spark.operators.ordering import assign_global_seq


def _check(df, order, start, num_partitions=None):
    stamped, n = assign_global_seq(
        df, order, start=start, num_partitions=num_partitions
    )
    expected = df.withColumn(
        "_rn", F.row_number().over(Window.orderBy(*order)) + F.lit(start - 1)
    )
    got = {r["k"]: r["seq"] for r in stamped.select("k", "seq").collect()}
    want = {r["k"]: r["_rn"] for r in expected.select("k", "_rn").collect()}
    assert n == df.count()
    assert sorted(got.values()) == list(range(start, start + n))
    assert got == want
    # the stamp is a projection over pinned partitions: a second read
    # must see the same values
    assert {r["k"]: r["seq"] for r in stamped.select("k", "seq").collect()} == got
    return stamped


@pytest.mark.parametrize("start", [0, 1000])
def test_more_partitions_than_rows(spark, start):
    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], "k int, v string")
    _check(df, [F.col("k").asc()], start, num_partitions=8)


def test_skewed_range_split(spark):
    # 95% of rows share one order-key value (tiebroken by k), the rest
    # spread thin: the range split gives very uneven partitions
    df = spark.range(2000).select(
        F.col("id").cast("int").alias("k"),
        F.when(F.col("id") % 20 == 0, F.col("id")).otherwise(F.lit(7)).alias("g"),
    )
    _check(df, [F.col("g").desc(), F.col("k").asc()], 5, num_partitions=6)


def test_start_offset_and_default_partitions(spark):
    df = spark.range(257).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 7919 % 257).alias("o")
    )
    _check(df, [F.col("o").asc()], 1 << 40)


def test_empty_input(spark):
    df = spark.createDataFrame([], "k int, v string")
    stamped, n = assign_global_seq(df, [F.col("k").asc()], start=42)
    assert n == 0
    assert stamped.collect() == []
    assert "seq" in stamped.columns
