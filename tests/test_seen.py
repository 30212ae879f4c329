"""Seen-set semantics: the exact anti-join on the 64-bit url hash.
Parity target: adt.HashDict membership (adt.py:30-74)."""

import pytest

from webscraping_spark.operators import seen as S


class TestSparkSeenSets:
    def test_exact_anti_join(self, spark):
        from pyspark.sql import functions as F

        exact = S.ExactSeenSet.empty(spark)
        seen_rows = spark.range(0, 500).select(
            F.col("id").alias("url_hash"), F.lit(0).alias("depth")
        )
        exact = exact.add(seen_rows)
        cands = spark.range(0, 1000).select(F.col("id").alias("url_hash"))
        unseen = exact.filter_unseen(cands)
        assert unseen.count() == 500
        assert unseen.agg(F.min("url_hash")).first()[0] == 500

    def test_exact_min_depth_wins(self, spark):
        from pyspark.sql import functions as F

        exact = S.ExactSeenSet.empty(spark)
        exact = exact.add(spark.createDataFrame([(1, 5)], "url_hash long, depth int"))
        exact = exact.add(spark.createDataFrame([(1, 2)], "url_hash long, depth int"))
        assert exact.df.filter(F.col("url_hash") == 1).first()["depth"] == 2

    def test_bloom_prefilter_broadcast_skips_probe(self, spark):
        """The BloomSeenSet shim's seen_join='broadcast' returns the exact
        anti-join's rows and compiles to a pure-JVM broadcast anti-join: no
        ArrowEvalPython, no shuffle exchange of the candidates."""
        from pyspark.sql import functions as F

        # built without add(): its min-depth aggregate would put its own
        # hash exchange under the broadcast
        exact = S.ExactSeenSet(
            spark.range(0, 300).select(F.col("id").alias("url_hash"), F.lit(0).alias("depth"))
        )
        shim = S.BloomSeenSet.empty(spark, num_partitions=4, expected_items_per_partition=1000)
        cands = spark.range(0, 600).select(F.col("id").alias("url_hash"))
        out = shim.filter_unseen_prefilter(cands, exact, seen_join="broadcast")
        got = sorted(r["url_hash"] for r in out.collect())
        assert got == sorted(r["url_hash"] for r in exact.filter_unseen(cands).collect())
        assert got == list(range(300, 600))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "Exchange hashpartitioning" not in plan

    @pytest.mark.parametrize("seen_join", ["merge", "bloom", None])
    def test_shim_rejects_other_strategies(self, spark, seen_join):
        exact = S.ExactSeenSet.empty(spark)
        cands = spark.range(0, 10).withColumnRenamed("id", "url_hash")
        with pytest.raises(ValueError, match="broadcast"):
            S.BloomSeenSet.empty(spark).filter_unseen_prefilter(
                cands, exact, seen_join=seen_join
            )
