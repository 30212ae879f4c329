"""crawl workload: a checkpointed ``CrawlJob`` BFS crawl over a seeded site.

Each timed crawl builds a fresh ``CrawlJob`` over the generated page store
and runs it for a fixed number of supersteps. It is then checked against
``SequentialOracle`` on the same pages, seeds and robots, stopped at the
same point: the visit order and the final seen set (membership, by url
hash) must be equal.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import deque

import gen
from host import WORK


def oracle_run(pages: dict[str, str], seeds: list[str], robots: dict,
               batch_size: int, supersteps: int):
    """SequentialOracle's BFS crawl, stopped where the engine stops.

    BFS visit order does not depend on batching, so the engine's first
    ``supersteps`` batches are the oracle's first visits cut at the same
    boundaries: each batch takes min(batch_size, queued) urls. The loop is
    ``SequentialOracle.run`` with that cut added.
    """
    from webscraping_spark.plans.oracle import OracleConfig, OracleResult, SequentialOracle

    cfg = OracleConfig(max_depth=None, robots=robots)
    oracle = SequentialOracle(gen.oracle_pages(pages), cfg)
    res = OracleResult()
    cache: dict[str, str] = {}
    cache_time: dict[str, float] = {}
    clock = [0.0]
    next_allowed: dict[str, float] = {}
    queue = deque(seeds)
    for _ in range(supersteps):
        for _ in range(min(batch_size, len(queue))):
            url = queue.popleft()
            res.visit_order.append(url)
            html = oracle._fetch(url, res, cache, clock, next_allowed, cfg.num_redirects, cache_time)
            for link in oracle._crawl_links(url, html or "", res, cache, res.last_base):
                queue.append(link)
                res.queued.append(link)
    return res


def robots_blocked(found: dict[str, int], robots: dict) -> int:
    """Found links that robots.txt keeps out of the frontier."""
    from webscraping_spark.functions.urlnorm import get_domain
    from webscraping_spark.plans.oracle import OracleConfig, _robots_allows

    cfg = OracleConfig(robots=robots)
    return sum(1 for u in found if get_domain(u) in robots and not _robots_allows(cfg, u))


class CrawlInputs:
    """Generated pages, seeds and robots for one (size, seed), with the
    oracle's result cached on disk: the oracle is the benchmark's own cost,
    not the engine's."""

    def __init__(self, n_pages: int, n_seeds: int, seed: int, batch_size: int, supersteps: int):
        self.batch_size, self.supersteps = batch_size, supersteps
        self.pages, self.seeds, self.robots = gen.crawl_site(n_pages, seed, n_seeds)
        key = f"p{n_pages}_n{n_seeds}_s{seed}_b{batch_size}_k{supersteps}"
        self.store_path = os.path.join(WORK, "inputs", f"pages_p{n_pages}_s{seed}.parquet")
        self.oracle_path = os.path.join(WORK, "oracle", f"crawl_{key}.json")

    def expected(self, spark) -> dict:
        """Visit order and the sorted url hashes of the seen set."""
        if os.path.exists(self.oracle_path):
            with open(self.oracle_path) as fh:
                return json.load(fh)
        from pyspark.sql import functions as F

        res = oracle_run(self.pages, self.seeds, self.robots, self.batch_size, self.supersteps)
        found = spark.createDataFrame([(u,) for u in res.found], "url string")
        out = {
            "visit_order": res.visit_order,
            "seen": sorted(r[0] for r in found.select(F.xxhash64("url")).collect()),
            "robots_blocked": robots_blocked(res.found, self.robots),
            # every anchor on a visited page is a candidate URL for the frontier
            "links_extracted": sum(self.pages[u].count("<a href=") for u in res.visit_order),
        }
        os.makedirs(os.path.dirname(self.oracle_path), exist_ok=True)
        tmp = f"{self.oracle_path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.rename(tmp, self.oracle_path)
        return out

    def materialize(self) -> None:
        """Write the page store once per (size, seed)."""
        if not os.path.exists(self.store_path):
            tmp = f"{self.store_path}.{os.getpid()}"
            gen.write_pages(self.pages, tmp)
            os.rename(tmp, self.store_path)

    def frames(self, spark):
        """(pages DataFrame, robots DataFrame) for the current session."""
        from webscraping_spark.operators.robots import robots_table

        texts = {d: gen.robots_text(r) for d, r in self.robots.items()}
        return spark.read.parquet(self.store_path), robots_table(spark, texts)


def run_crawl(spark, inputs: CrawlInputs, pages, robots, ckpt: str):
    """One crawl from scratch; returns the finished job."""
    from webscraping_spark.plans.crawl import CrawlConfig, CrawlJob

    shutil.rmtree(ckpt, ignore_errors=True)
    job = CrawlJob(
        spark, pages, CrawlConfig(max_depth=None, batch_size=inputs.batch_size),
        robots=robots, checkpoint_dir=ckpt,
    )
    job.run(list(inputs.seeds), max_supersteps=inputs.supersteps)
    return job


def compare(visits: list[str], seen: list[int], expected: dict) -> list[str]:
    """Mismatches between a crawl's visit order and seen-set membership and
    the oracle's; empty when equal."""
    errors = []
    want = expected["visit_order"]
    if visits != want:
        first = next(
            (i for i, (a, b) in enumerate(zip(visits, want)) if a != b),
            min(len(visits), len(want)),
        )
        errors.append(f"visit order differs at {first} ({len(visits)} visits, expected {len(want)})")
    if sorted(seen) != expected["seen"]:
        errors.append(f"seen set differs ({len(seen)} keys, expected {len(expected['seen'])})")
    return errors


def check(spark, job, ckpt: str, expected: dict) -> list[str]:
    """Compare a finished crawl with the oracle. The seen set is read back
    from the crawl's own snapshot catalog."""
    from webscraping_spark.sources.snapshots import SnapshotCatalog

    seen_df = SnapshotCatalog(ckpt).table("seen").load(spark)
    seen = [r[0] for r in seen_df.select("url_hash").collect()]
    return compare(job.visit_urls(), seen, expected)
