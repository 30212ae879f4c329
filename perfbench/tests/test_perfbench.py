"""Tests for the benchmark itself (not for the engine).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import crawling  # noqa: E402
import fused  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def spark():
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


# ------------------------------------------------------------- generators


def test_crawl_site_is_deterministic_per_seed():
    assert gen.crawl_site(600, 7, 100) == gen.crawl_site(600, 7, 100)
    assert gen.crawl_site(600, 7, 100) != gen.crawl_site(600, 8, 100)


def test_crawl_site_shape():
    pages, seeds, robots = gen.crawl_site(600, 3, 100)
    assert len(pages) == 600
    assert set(seeds) <= set(pages) and len(set(seeds)) == len(seeds)
    assert 50 <= len(seeds) <= 100
    assert len(robots) == 3
    # every page carries a self #fragment, an off-domain and a media link
    html = pages[seeds[0]]
    assert 'href="#s' in html and ".jpg" in html


def test_frontier_generators_are_deterministic_per_seed(spark):
    def rows(df):
        return sorted(map(tuple, df.collect()))

    for make in (gen.frontier_df, gen.seen_df, gen.store_df):
        assert rows(make(spark, 2000, 5)) == rows(make(spark, 2000, 5))
        assert rows(make(spark, 2000, 5)) != rows(make(spark, 2000, 6))


# ------------------------------------------------------------- output checks


def test_cut_oracle_equals_sequential_oracle_when_not_cut():
    from webscraping_spark.plans.oracle import OracleConfig, SequentialOracle

    pages, seeds, robots = gen.crawl_site(300, 5, 30)
    full = SequentialOracle(
        gen.oracle_pages(pages), OracleConfig(max_depth=None, robots=robots)
    ).run(list(seeds))
    cut = crawling.oracle_run(pages, seeds, robots, batch_size=7, supersteps=10_000)
    assert cut.visit_order == full.visit_order
    assert cut.found == full.found
    first = crawling.oracle_run(pages, seeds, robots, batch_size=7, supersteps=1)
    assert first.visit_order == full.visit_order[:7]


EXPECTED = {"visit_order": ["http://a.com/p/0.html", "http://a.com/p/1.html"], "seen": [-5, 3, 11]}


def test_crawl_check_accepts_equal_output():
    assert crawling.compare(list(EXPECTED["visit_order"]), [11, -5, 3], EXPECTED) == []


def test_crawl_check_rejects_swapped_visit_order():
    swapped = list(reversed(EXPECTED["visit_order"]))
    assert crawling.compare(swapped, [-5, 3, 11], EXPECTED)


def test_crawl_check_rejects_missing_seen_key():
    assert crawling.compare(list(EXPECTED["visit_order"]), [-5, 3], EXPECTED)


def test_fused_fingerprint_changes_with_one_row(spark):
    rows = [(f"http://d{i}.com/p.html", i, 0.5 * i, i % 2, "/l1.html", f"http://d{i}.com/l1.html")
            for i in range(50)]
    schema = "url string, seq long, scheduled_offset double, pos int, raw string, link string"

    def fp(data):
        df = spark.createDataFrame(data, schema)
        return df.agg(fused.fingerprint_cols(fused.OUT_COLS)).first()[0]

    base = fp(rows)
    assert fp(list(reversed(rows))) == base  # order-independent
    for col in range(len(rows[0])):
        changed = list(rows)
        row = list(changed[17])
        row[col] = row[col] + 1 if isinstance(row[col], (int, float)) else row[col] + "x"
        changed[17] = tuple(row)
        assert fp(changed) != base, fused.OUT_COLS[col]


def test_fused_check_reports_every_mismatch():
    ref = {"rows": 10, "key_fp": 7}
    good = {"rows": 10, "key_fp": 7, "fp": 99, "bad_offsets": 0}
    assert fused.check(good, ref, {"fp": 99}) == []
    assert fused.check(good, ref, None) == []
    assert fused.check(dict(good, rows=9), ref, None)
    assert fused.check(dict(good, key_fp=8), ref, None)
    assert fused.check(dict(good, bad_offsets=1), ref, None)
    assert fused.check(dict(good, fp=98), ref, {"fp": 99})


def test_fused_reference_matches_engine(spark):
    """The generator-derived reference equals the engine's output on the
    key columns (small size, so the test stays fast)."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    n, seed = 4000, 3
    path = fused.frontier_path(n, seed)
    gen.frontier_df(spark, n, seed).write.mode("overwrite").parquet(path)
    df, obs = fused.observed(fused.build(spark, n, seed))
    df.write.format("noop").mode("overwrite").save()
    assert fused.check(obs.get, fused.reference(spark, n, seed), None) == []


# ------------------------------------------------------------- metric names


def test_metric_names_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
    printed = run.end_to_end([(1.5, {"urls": 10, "pages": 4, "supersteps": 2}, True)], 2.0)
    assert set(printed) == set(e2e)
    assert set(tracing.PER_LAYER) == set(layer)
    for name, m in printed.items():
        assert NAME.fullmatch(name) and m["unit"] == e2e[name]
    for name, unit in tracing.PER_LAYER.items():
        assert NAME.fullmatch(name) and unit == layer[name]
    assert {w["name"] for w in declared["workloads"]} == set(run.WORKLOADS)
