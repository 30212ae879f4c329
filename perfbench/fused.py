"""fused_frontier: one fused superstep over a seeded synthetic frontier.

The pipeline makes the same ``udfs`` / ``seen`` / ``politeness`` calls, with
the same arguments, as ``bench._build_pipeline``; only the inputs come from
``gen``. Every timed execution is checked through ``observe()`` in the same
action that writes the noop sink.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from host import WORK

OUT_COLS = ["url", "seq", "scheduled_offset", "pos", "raw", "link"]
# columns whose expected values the benchmark derives without the engine
KEY_COLS = ["url", "seq", "pos", "raw", "link"]


def frontier_path(n: int, seed: int) -> str:
    return os.path.join(WORK, "inputs", f"frontier_n{n}_s{seed}.parquet")


def materialize_frontier(spark, n: int, seed: int) -> str:
    """Write the generated frontier once per (n, seed): the pipeline reads a
    table, as the real loop does, not a live generator expression."""
    path = frontier_path(n, seed)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        gen.frontier_df(spark, n, seed).repartition(64).write.mode("overwrite").parquet(path)
    return path


# ------------------------------------------------------------------ stages


def canon_frontier(frontier):
    from webscraping_spark.functions import udfs

    return udfs.canonicalize_split(frontier, "base_url", "raw_link", "url", compact=True).select(
        "priority", "seq", "url"
    )


def add_domain(canon):
    from webscraping_spark.functions import udfs

    return (
        canon.withColumn("url_hash", F.xxhash64("url"))
        .withColumn("domain", udfs.get_domain_col(F.col("url")))
        .withColumn("depth", F.lit(1))
    )


def seen_probe(spark, keyed, n: int, seed: int):
    from webscraping_spark.operators.seen import BloomSeenSet, ExactSeenSet

    exact = ExactSeenSet(gen.seen_df(spark, n, seed))
    parallel = max(spark.sparkContext.defaultParallelism, 8)
    bloom = BloomSeenSet.empty(
        spark,
        num_partitions=parallel,
        expected_items_per_partition=max(n // 4 // parallel, 1000),
    )
    unseen = bloom.filter_unseen_prefilter(keyed, exact, seen_join="broadcast")
    return unseen.drop("url_hash", "depth")


def plan(spark, unseen):
    from webscraping_spark.operators import politeness

    state = spark.createDataFrame([], politeness.DOMAIN_STATE_SCHEMA)
    planned, _ = politeness.plan_schedule(
        unseen, state, delay=5.0, variance=0.5, seed=42, hot_group_rows=None
    )
    return planned


def fetch(spark, planned, n: int, seed: int):
    return planned.join(gen.store_df(spark, n, seed).hint("shuffle_hash"), "url", "left")


def extract(fetched):
    from webscraping_spark.functions import udfs

    return fetched.filter(F.col("serve_html").isNotNull()).select(
        "url",
        "seq",
        "scheduled_offset",
        F.posexplode(udfs.find_links_col(F.col("serve_html"))).alias("pos", "raw"),
    )


def canon_links(extracted):
    from webscraping_spark.functions import udfs

    return udfs.canonicalize_split(extracted, "url", "raw", "link", compact=True)


def build(spark, n: int, seed: int, frontier=None):
    """The fused superstep over the (n, seed) frontier table, or over
    ``frontier`` (a slice of it) with the same seen set and page store."""
    if frontier is None:
        frontier = spark.read.parquet(frontier_path(n, seed))
    unseen = seen_probe(spark, add_domain(canon_frontier(frontier)), n, seed)
    return canon_links(extract(fetch(spark, plan(spark, unseen), n, seed)))


# ------------------------------------------------------------------ checks


def fingerprint_cols(cols: list[str]):
    """Order-independent fingerprint: bit_xor of a 64-bit row hash (a plain
    sum would overflow under ANSI)."""
    return F.bit_xor(F.xxhash64(*[F.col(c) for c in cols]))


def observed(df):
    """Attach the output check to the action that writes ``df``."""
    obs = Observation("fused_check")
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        fingerprint_cols(OUT_COLS).alias("fp"),
        fingerprint_cols(KEY_COLS).alias("key_fp"),
        F.sum(
            F.when(F.col("scheduled_offset").isNull() | (F.col("scheduled_offset") < 0), 1)
            .otherwise(0)
        ).alias("bad_offsets"),
    )
    return df, obs


def reference_key_df(spark, n: int, seed: int):
    """The expected (url, seq, pos, raw, link) rows, derived from the
    generator alone: each store page a candidate resolves to yields its two
    links, resolved by hand (root-relative and directory-relative)."""
    hits = spark.range(0, n, 4).filter(F.pmod(F.col("id"), F.lit(gen.KINDS)) < 6)
    url = gen.store_url(n, seed)
    host = gen._host(n, seed)
    directory = F.regexp_extract(url, "^(.*/)", 1)
    first = hits.select(
        url.alias("url"), F.col("id").alias("seq"), F.lit(0).alias("pos"),
        F.lit("/l1.html").alias("raw"), F.concat(host, F.lit("/l1.html")).alias("link"),
    )
    second = hits.select(
        url.alias("url"), F.col("id").alias("seq"), F.lit(1).alias("pos"),
        F.lit("l2.html#x").alias("raw"), F.concat(directory, F.lit("l2.html")).alias("link"),
    )
    return first.unionByName(second)


def reference(spark, n: int, seed: int) -> dict:
    row = reference_key_df(spark, n, seed).agg(
        F.count(F.lit(1)).alias("rows"), fingerprint_cols(KEY_COLS).alias("key_fp")
    ).first()
    return {"rows": row["rows"], "key_fp": row["key_fp"]}


def check(got: dict, ref: dict, pinned: dict | None) -> list[str]:
    """Mismatches between one execution's observed values and the expected
    ones; empty when the output is correct."""
    errors = []
    for key in ("rows", "key_fp"):
        if got[key] != ref[key]:
            errors.append(f"{key}: got {got[key]}, expected {ref[key]}")
    if got["bad_offsets"]:
        errors.append(f"{got['bad_offsets']} rows without a valid scheduled_offset")
    if pinned is not None and got["fp"] != pinned["fp"]:
        errors.append(f"fp: got {got['fp']}, pinned {pinned['fp']}")
    return errors
