"""Deterministic sampling operators (operators/sampling.py): hash splits,
stratified top-k, fraction sampling. The oracle-parity twin runs in
test_entry (hash_split_docs / stratified_sample_docs)."""

import pytest
from pyspark.sql import functions as F

from webscraping_spark.operators import sampling


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(2000).withColumn(
        "grp", (F.col("id") % 7).cast("string")
    )


class TestHashSplit:
    def test_partition_complete_and_disjoint(self, spark, ids):
        out = sampling.hash_split(ids, "id")
        counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(counts.values()) == 2000
        assert set(counts) == {"train", "val", "test"}

    def test_proportions_near_fractions(self, spark, ids):
        out = sampling.hash_split(ids, "id", {"a": 0.5, "b": 0.5}, salt="x")
        n_a = out.filter(F.col("split") == "a").count()
        assert 850 < n_a < 1150  # 0.5 +/- ~5 sigma at n=2000

    def test_deterministic_and_partitioning_invariant(self, spark, ids):
        a = sampling.hash_split(ids, "id").orderBy("id").collect()
        b = sampling.hash_split(ids.repartition(13), "id").orderBy("id").collect()
        assert [r["split"] for r in a] == [r["split"] for r in b]

    def test_salt_changes_assignment(self, spark, ids):
        a = sampling.hash_split(ids, "id", salt="s1").filter("split = 'train'")
        b = sampling.hash_split(ids, "id", salt="s2").filter("split = 'train'")
        sym = a.select("id").exceptAll(b.select("id")).count()
        assert sym > 0

    def test_rejects_bad_fractions(self, spark, ids):
        with pytest.raises(ValueError):
            sampling.hash_split(ids, "id", {"a": 0.7, "b": 0.7})

    def test_matches_duckdb_hash(self, spark, ids):
        """The cross-engine contract behind the oracle: Spark's
        conv(substr(md5,1,8),16,10) == DuckDB's ('0x'||substr)::UBIGINT."""
        import duckdb

        rows = (
            ids.limit(50)
            .select("id", sampling._hash_bucket(F.col("id"), "s42").alias("h"))
            .collect()
        )
        con = duckdb.connect()
        for r in rows:
            (dh,) = con.execute(
                "SELECT ('0x' || substr(md5(? || ':s42'), 1, 8))::UBIGINT",
                [str(r["id"])],
            ).fetchone()
            assert dh == r["h"]


class TestStratifiedSample:
    def test_exact_k_per_stratum(self, spark, ids):
        out = sampling.stratified_sample(ids, ["grp"], k=5, id_col="id")
        counts = [r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()]
        assert counts == [5] * 7

    def test_small_stratum_keeps_all(self, spark):
        df = spark.range(3).withColumn("grp", F.lit("only"))
        assert sampling.stratified_sample(df, ["grp"], k=10, id_col="id").count() == 3

    def test_deterministic(self, spark, ids):
        a = sampling.stratified_sample(ids, ["grp"], 4, "id").orderBy("id").collect()
        b = (
            sampling.stratified_sample(ids.repartition(9), ["grp"], 4, "id")
            .orderBy("id")
            .collect()
        )
        assert [r["id"] for r in a] == [r["id"] for r in b]


class TestFractionSample:
    def test_fraction_and_nesting(self, spark, ids):
        ten = sampling.fraction_sample(ids, "id", 0.1)
        thirty = sampling.fraction_sample(ids, "id", 0.3)
        n10, n30 = ten.count(), thirty.count()
        assert 130 < n10 < 270 and 500 < n30 < 700
        # threshold sampling nests: the 10% set is a subset of the 30% set
        assert ten.select("id").exceptAll(thirty.select("id")).count() == 0

    def test_zero_shuffle_plan(self, spark, ids):
        plan = sampling.fraction_sample(ids, "id", 0.5)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestChunkDocuments:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (0, " ".join(f"t{i}" for i in range(10))),
                (1, "a b c"),
                (2, ""),
                (3, " ".join(f"x{i}" for i in range(8))),
            ],
            "doc_id long, text string",
        )

    def test_window_grid_and_tail(self, spark):
        out = sorted(
            (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
            for r in sampling.chunk_documents(
                self._docs(spark), window=4, stride=3
            ).collect()
        )
        assert out == [
            (0, 0, "t0 t1 t2 t3", 4),
            (0, 1, "t3 t4 t5 t6", 4),
            (0, 2, "t6 t7 t8 t9", 4),
            (1, 0, "a b c", 3),  # shorter than window: one chunk
            (3, 0, "x0 x1 x2 x3", 4),
            (3, 1, "x3 x4 x5 x6", 4),
            (3, 2, "x6 x7", 2),  # stride-aligned partial tail
        ]  # empty doc 2 yields nothing

    def test_every_token_covered(self, spark):
        docs = self._docs(spark)
        chunks = sampling.chunk_documents(docs, window=5, stride=4)
        per_doc = (
            chunks.groupBy("doc_id")
            .agg(F.sum("n_tokens").alias("covered"), F.max("n_tokens").alias("mx"))
            .collect()
        )
        # sum of chunk sizes >= token count (overlap), max <= window
        ntok = {0: 10, 1: 3, 3: 8}
        for r in per_doc:
            assert r["covered"] >= ntok[r["doc_id"]]
            assert r["mx"] <= 5

    def test_rejects_bad_params(self, spark):
        with pytest.raises(ValueError):
            sampling.chunk_documents(self._docs(spark), window=0)
        with pytest.raises(ValueError):
            sampling.chunk_documents(self._docs(spark), stride=0)

    def test_zero_shuffle_plan(self, spark):
        plan = (
            sampling.chunk_documents(self._docs(spark))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "ArrowEval" not in plan


class TestPackExamples:
    def _docs(self, spark):
        return spark.createDataFrame(
            [(0, "a b c"), (1, ""), (2, "d e f g h"), (3, "i"), (4, "j k")],
            "doc_id long, text string",
        )

    def test_stream_cut_exactly(self, spark):
        # stream: a b c E | d e f g h E | i E | j k E  -> 15 tokens, L=5
        out = sorted(
            (r["example_id"], r["text"], r["n_tokens"])
            for r in sampling.pack_examples(
                self._docs(spark), seq_len=5, eos="<E>"
            ).collect()
        )
        assert out == [
            (0, "a b c <E> d", 5),
            (1, "e f g h <E>", 5),
            (2, "i <E> j k <E>", 5),
        ]

    def test_partition_count_invariance(self, spark):
        # the packed output is a pure function of (corpus, seq_len): the
        # two-level prefix sum must not leak the partitioning
        docs = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), (F.col("id") % 7) + 1),
                    lambda i: F.concat(F.lit("w"), F.col("id"), F.lit("_"), i),
                ),
            ).alias("text"),
        )
        a = sorted(
            map(
                tuple,
                sampling.pack_examples(docs, seq_len=16, num_partitions=2).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                sampling.pack_examples(docs, seq_len=16, num_partitions=13).collect(),
            )
        )
        assert a == b
        # every example except the last is exactly seq_len
        sizes = [r[2] for r in a]
        assert all(s == 16 for s in sizes[:-1]) and 0 < sizes[-1] <= 16

    def test_remainder_and_empty_docs(self, spark):
        out = sampling.pack_examples(self._docs(spark), seq_len=4, eos="<E>").collect()
        total = sum(r["n_tokens"] for r in out)
        assert total == 15  # empty doc contributes nothing, EOS after each
        joined = " ".join(
            r["text"] for r in sorted(out, key=lambda r: r["example_id"])
        )
        assert joined == "a b c <E> d e f g h <E> i <E> j k <E>"

    def test_rejects_bad_seq_len(self, spark):
        with pytest.raises(ValueError):
            sampling.pack_examples(self._docs(spark), seq_len=0)

    def test_skinny_prefix_sum_plan(self, spark):
        # the text must never ride the Arrow hop: exactly one MapInPandas
        # (the 16-byte offset stamp), no per-row Python, no cartesian
        plan = (
            sampling.pack_examples(self._docs(spark), seq_len=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("MapInPandas") == 1
        assert "ArrowEval" not in plan and "CartesianProduct" not in plan


class TestTemperatureMix:
    """sampling.temperature_rates / domain_mix — the n^tau rebalance."""

    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # domains a:1600, b:400, c:100 — 16:4:1 skew
        return spark.range(2100).withColumn(
            "dom",
            F.when(F.col("id") < 1600, "a")
            .when(F.col("id") < 2000, "b")
            .otherwise("c"),
        )

    def test_rates_closed_form(self, spark, skewed):
        # tau=0.5: C* = min(n^(1-tau)) = 100^0.5 = 10;
        # rate_d = C*·n_d^(tau-1) = 10/sqrt(n_d)
        rates = sampling.temperature_rates(skewed, "dom", tau=0.5)
        assert rates == {
            "a": round(10 / 1600**0.5, 6),
            "b": round(10 / 400**0.5, 6),
            "c": 1.0,
        }

    def test_budget_caps_expected_total(self, spark, skewed):
        # sum n^0.5 = 40+20+10 = 70; budget 350 -> C = 5 < C* = 10
        rates = sampling.temperature_rates(skewed, "dom", tau=0.5, budget=350)
        assert rates == {
            "a": round(5 / 1600**0.5, 6),
            "b": round(5 / 400**0.5, 6),
            "c": round(5 / 100**0.5, 6),
        }

    def test_tau_one_keeps_everything(self, spark, skewed):
        rates = sampling.temperature_rates(skewed, "dom", tau=1.0)
        assert rates == {"a": 1.0, "b": 1.0, "c": 1.0}

    def test_mix_rebalances_toward_target(self, spark, skewed):
        rates = sampling.temperature_rates(skewed, "dom", tau=0.5)
        out = sampling.domain_mix(skewed, "dom", rates, "id")
        counts = {
            r["dom"]: r["n"]
            for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()
        }
        # expected kept = C*·n^tau = 10·sqrt(n): a=400, b=200, c=100
        assert counts["c"] == 100  # rate 1.0 keeps all
        assert 320 < counts["a"] < 480 and 150 < counts["b"] < 250

    def test_mix_matches_python_rederivation(self, spark, skewed):
        import hashlib

        rates = {"a": 0.25, "b": 1.0}  # c unlisted -> dropped
        out = sorted(
            r["id"] for r in sampling.domain_mix(skewed, "dom", rates, "id").collect()
        )

        def keep(i, dom):
            if dom not in rates:
                return False
            h = int(hashlib.md5(f"{i}:m42".encode()).hexdigest()[:8], 16)
            return h < int(round(rates[dom] * 2**32))

        want = sorted(
            i
            for i in range(2100)
            if keep(i, "a" if i < 1600 else ("b" if i < 2000 else "c"))
        )
        assert out == want

    def test_mix_partitioning_invariant(self, spark, skewed):
        rates = sampling.temperature_rates(skewed, "dom", tau=0.5)
        a = sorted(r["id"] for r in sampling.domain_mix(skewed, "dom", rates, "id").collect())
        b = sorted(
            r["id"]
            for r in sampling.domain_mix(skewed.repartition(11), "dom", rates, "id").collect()
        )
        assert a == b

    def test_broadcast_no_corpus_shuffle(self, spark, skewed):
        rates = {"a": 0.5, "b": 0.5, "c": 0.5}
        plan = (
            sampling.domain_mix(skewed, "dom", rates, "id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "hashpartitioning" not in plan  # no shuffle of the corpus side

    def test_guards(self, spark, skewed):
        with pytest.raises(ValueError):
            sampling.temperature_rates(skewed, "dom", tau=0.0)
        with pytest.raises(ValueError):
            sampling.domain_mix(skewed, "dom", {"a": 1.5}, "id")

    @pytest.mark.parametrize("bad", [-0.25, 1.5])
    def test_rates_df_out_of_range_raises(self, spark, skewed, bad):
        """The DataFrame-rates form rejects a rate outside [0,1] with the
        dict form's message (on the action: the rates stay distributed)
        instead of clamping it to keep-none or keep-all."""
        with pytest.raises(ValueError, match=r"rates out of \[0,1\]"):
            sampling.domain_mix(skewed, "dom", {"b": bad}, "id")
        rates = spark.createDataFrame(
            [("a", 0.5), ("b", bad)], "dom string, rate double"
        )
        with pytest.raises(Exception, match=r"rates out of \[0,1\]: \{'b': "):
            sampling.domain_mix(skewed, "dom", rates, "id").collect()
        # in-range edges pass
        ok = spark.createDataFrame([("a", 0.0), ("b", 1.0)], "dom string, rate double")
        kept = sampling.domain_mix(skewed, "dom", ok, "id")
        assert kept.count() == 400

    def test_rates_df_matches_dict_form(self, spark, skewed):
        """temperature_rates_df (round-6, the 10^8-domain no-collect
        shape) must reproduce the dict form's rates exactly and produce
        the identical kept set through domain_mix — with and without a
        budget cap."""
        for budget in (None, 350):
            d = sampling.temperature_rates(skewed, "dom", tau=0.5, budget=budget)
            df_rates = sampling.temperature_rates_df(
                skewed, "dom", tau=0.5, budget=budget
            )
            got = {r["dom"]: r["rate"] for r in df_rates.collect()}
            assert got == d
            a = sorted(
                r["id"] for r in sampling.domain_mix(skewed, "dom", d, "id").collect()
            )
            b = sorted(
                r["id"]
                for r in sampling.domain_mix(skewed, "dom", df_rates, "id").collect()
            )
            assert a == b

    def test_rates_df_no_driver_collect_in_plan(self, spark, skewed):
        """Building + applying DataFrame-shaped rates fires no driver
        collect: the whole mix compiles to one lazy plan whose only
        broadcast inputs are the 1-row C* aggregate and the per-domain
        rates — the corpus side is never shuffled."""
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup() or [])
        rates_df = sampling.temperature_rates_df(skewed, "dom", tau=0.5)
        mixed = sampling.domain_mix(skewed, "dom", rates_df, "id")
        after = len(tracker.getJobIdsForGroup() or [])
        assert before == after  # plan construction launched no jobs
        plan = mixed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
