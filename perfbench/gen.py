"""Seeded input generators for the benchmark workloads.

Everything here depends only on ``(seed, size)``: the same arguments give
the same DataFrames, seed lists and robots tables. The engine under test
receives only these inputs.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

# ------------------------------------------------------------ fused frontier

# candidate-link mix of bench.synth_frontier: kind = id mod 10
#   0-3 relative "pageN.html", 4-5 "../pN.html#frag", 6-7 "qN.html?a=1&amp;b=2",
#   8-9 absolute (pre-seen)
KINDS = 10


def n_frontier_domains(n: int) -> int:
    return max(n // 200, 10)


def _domain_id(n: int, seed: int):
    """Log-uniform domain skew (~1/x density) over n/200 domains, seeded."""
    u = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0 + 0.0000005
    return F.floor(F.exp(u * F.log(F.lit(float(n_frontier_domains(n)))))).cast("long")


def _host(n: int, seed: int):
    return F.concat(F.lit("http://d"), _domain_id(n, seed).cast("string"), F.lit(".com"))


def _absolute_url(n: int, seed: int):
    return F.concat(_host(n, seed), F.lit("/abs"), F.col("id").cast("string"), F.lit(".html"))


def frontier_df(spark, n: int, seed: int):
    """n candidate links (discovery_order, base_url, raw_link, priority, seq)."""
    kind = F.pmod(F.col("id"), F.lit(KINDS))
    sid = F.col("id").cast("string")
    raw_link = (
        F.when(kind < 4, F.concat(F.lit("page"), sid, F.lit(".html")))
        .when(kind < 6, F.concat(F.lit("../p"), sid, F.lit(".html#frag")))
        .when(kind < 8, F.concat(F.lit("q"), sid, F.lit(".html?a=1&amp;b=2")))
        .otherwise(_absolute_url(n, seed))
    )
    return spark.range(n).select(
        F.col("id").alias("discovery_order"),
        F.concat(_host(n, seed), F.lit("/dir/index.html")).alias("base_url"),
        raw_link.alias("raw_link"),
        F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(100)).cast("int").alias("priority"),
        F.col("id").alias("seq"),
    )


def seen_df(spark, n: int, seed: int):
    """The pre-seen slice: hashes of every absolute candidate (kind >= 8)."""
    return (
        spark.range(n)
        .filter(F.pmod(F.col("id"), F.lit(KINDS)) >= 8)
        .select(F.xxhash64(_absolute_url(n, seed)).alias("url_hash"), F.lit(0).alias("depth"))
    )


STORE_HTML = (
    '<html><body><p class="caption">caption </p>'
    '<a href="/l1.html">a</a><a href="l2.html#x">b</a>'
    "</body></html>"
)


def store_url(n: int, seed: int):
    """Canonical URL of candidate ``id`` for the kinds whose canonical form
    is a plain path (0-5); other kinds get a URL no candidate resolves to."""
    kind = F.pmod(F.col("id"), F.lit(KINDS))
    sid = F.col("id").cast("string")
    return (
        F.when(kind < 4, F.concat(_host(n, seed), F.lit("/dir/page"), sid, F.lit(".html")))
        .when(kind < 6, F.concat(_host(n, seed), F.lit("/p"), sid, F.lit(".html")))
        .otherwise(F.concat(_host(n, seed), F.lit("/missing"), sid, F.lit(".html")))
    )


def store_df(spark, n: int, seed: int):
    """Page store: 1 page per 4 candidates (every 4th candidate id)."""
    return (
        spark.range(0, n, 4)
        .select(store_url(n, seed).alias("url"), F.lit(STORE_HTML).alias("serve_html"))
    )


# ------------------------------------------------------------- crawl sites

BRANCHING = 8


def _zipf_sizes(total: int, n_domains: int, rng: random.Random) -> list[int]:
    weights = [1.0 / (d + 1) for d in range(n_domains)]
    rng.shuffle(weights)
    s = sum(weights)
    sizes = [max(1, int(total * w / s)) for w in weights]
    sizes[sizes.index(max(sizes))] += total - sum(sizes)
    return sizes


def _child_href(rng: random.Random, host: str, c: int) -> str:
    form = rng.randrange(4)
    if form == 0:
        return f"http://{host}/p/{c}.html"
    if form == 1:
        return f"/p/{c}.html"
    if form == 2:
        return f"{c}.html"
    return f"./{c}.html"


def crawl_site(n_pages: int, seed: int, n_seeds: int, n_domains: int = 10):
    """One heap-indexed tree per domain (branching 8) with Zipf-sized sites.

    Page ``i`` of a domain links to its children 8i+1..8i+8, then carries a
    parent back-link, a self ``#fragment`` link, an off-domain link and a
    media link, in a seeded order. A few domains get robots ``Disallow``
    prefixes. Returns ``(pages, seeds, robots)``: ``pages`` maps url ->
    html; ``seeds`` holds about ``n_seeds`` urls, the top of every domain's
    tree in proportion to its size, shuffled; ``robots`` maps domain ->
    [(agent, rule, prefix)].
    """
    rng = random.Random(seed)
    hosts = [f"w{seed}x{d}.com" for d in range(n_domains)]
    sizes = _zipf_sizes(n_pages, n_domains, rng)
    pages: dict[str, str] = {}
    for d, (host, size) in enumerate(zip(hosts, sizes)):
        for i in range(size):
            links = [
                _child_href(rng, host, c)
                for c in range(BRANCHING * i + 1, min(BRANCHING * i + BRANCHING + 1, size))
            ]
            extra = [
                f"#s{rng.randrange(100)}",
                f"http://{hosts[(d + 1 + rng.randrange(n_domains - 1)) % n_domains]}/p/0.html",
                f"/img/{i}.jpg",
            ]
            if i:
                extra.append(f"../p/{(i - 1) // BRANCHING}.html")
            for e in extra:
                links.insert(rng.randrange(len(links) + 1), e)
            anchors = "".join(f'<a href="{h}">l{k}</a>' for k, h in enumerate(links))
            pages[f"http://{host}/p/{i}.html"] = (
                f"<html><head><title>{host} {i}</title></head><body>{anchors}</body></html>"
            )
    seeds = [
        f"http://{host}/p/{i}.html"
        for host, size in zip(hosts, sizes)
        for i in range(max(1, size * n_seeds // n_pages))
    ]
    rng.shuffle(seeds)
    robots = {
        hosts[d]: [("*", "disallow", f"/p/{rng.randrange(1, BRANCHING + 1)}")]
        for d in rng.sample(range(n_domains), 3)
    }
    return pages, seeds, robots


def robots_text(rules: list[tuple[str, str, str]]) -> str:
    lines = []
    for agent, rule, prefix in rules:
        lines += [f"User-agent: {agent}", f"{rule.capitalize()}: {prefix}"]
    return "\n".join(lines) + "\n"


def oracle_pages(pages: dict[str, str]) -> dict[str, dict]:
    """The page dict SequentialOracle reads."""
    return {
        u: {"url": u, "final_url": u, "status_code": 200, "html": h, "meta": {}}
        for u, h in pages.items()
    }


def write_pages(pages: dict[str, str], path: str) -> None:
    """Write the page store CrawlJob reads (synth.PAGES_SCHEMA, no media)
    as one parquet file, without a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    urls = list(pages)
    n = len(urls)
    nulls = pa.nulls(n)
    table = pa.table({
        "image_id": nulls.cast(pa.string()),
        "bytes": nulls.cast(pa.binary()),
        "w": nulls.cast(pa.int32()),
        "h": nulls.cast(pa.int32()),
        "fmt": nulls.cast(pa.string()),
        "caption": nulls.cast(pa.string()),
        "phash": nulls.cast(pa.int64()),
        "url": pa.array(urls, pa.string()),
        "final_url": pa.array(urls, pa.string()),
        "status_code": pa.array([200] * n, pa.int32()),
        "html": pa.array([pages[u] for u in urls], pa.string()),
        "meta": pa.array(
            [[("url", u), ("status", "200"), ("succeed_after", "0")] for u in urls],
            pa.map_(pa.string(), pa.string()),
        ),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "pages.parquet"))
