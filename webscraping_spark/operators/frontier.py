"""Frontier queue operators: push (dedup on key), pull (ordered top-k
claim), clear — DataFrame re-expressions of ``pdict.Queue``
(pdict.py:402-497) and the in-memory deque of ``threaded_get``
(download.py:843, 811).

Ordering contract (SURVEY.md §3.2): the engine's canonical visit order is
the reference's deterministic single-threaded order —
  BFS  (depth=False): FIFO  -> orderBy(depth asc,  seq asc)
  DFS  (depth=True, the reference default): LIFO -> orderBy(depth desc, seq desc)
  BEST (DataCrawler): orderBy(priority desc, seq asc) where priority =
       -link_score (download.py:1062-1078)
  PRIORITY (Queue.pull): orderBy(priority desc) — pdict.py:472
``seq`` is the monotonic discovery index assigned at push time; Spark
shuffles destroy incidental order, so order is always carried in data.

Status column semantics mirror pdict.py:468-478: 0 = queued; >0 = the pull
counter that claimed the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webscraping_spark.operators.ordering import assign_global_seq
from webscraping_spark.session import local_frame

FRONTIER_SCHEMA = (
    "url string, url_hash long, domain string, depth int, priority int, "
    "seq long, status int, retry_count int"
)

ORDER_BFS = "bfs"
ORDER_DFS = "dfs"
ORDER_BEST = "best"
ORDER_PRIORITY = "priority"


def _pull_order(mode: str):
    if mode == ORDER_BFS:
        return [F.col("depth").asc(), F.col("seq").asc()]
    if mode == ORDER_DFS:
        return [F.col("depth").desc(), F.col("seq").desc()]
    if mode == ORDER_BEST:
        return [F.col("priority").desc(), F.col("seq").asc()]
    if mode == ORDER_PRIORITY:
        # Queue.pull: ORDER BY priority DESC (pdict.py:472); seq tiebreak for
        # determinism (sqlite's implicit rowid order)
        return [F.col("priority").desc(), F.col("seq").asc()]
    raise ValueError(f"unknown pull mode: {mode}")


class Frontier:
    """The URL work queue as an immutable-DataFrame state machine.

    Each mutation returns a new Frontier over a new DataFrame; the crawl
    loop checkpoints the DataFrame per superstep (plans/crawl.py), which is
    what makes the whole job resumable.
    """

    def __init__(self, df: DataFrame, next_seq: int = 0, pull_counter: int = 0):
        self.df = df
        self.next_seq = next_seq
        self.pull_counter = pull_counter

    @classmethod
    def empty(cls, spark: SparkSession) -> "Frontier":
        return cls(local_frame(spark, [], FRONTIER_SCHEMA))

    def push(self, candidates: DataFrame, dedup: bool = True) -> "Frontier":
        """Enqueue candidate URLs.

        ``dedup=True`` is Queue.push INSERT OR IGNORE parity (pdict.py:463):
        keys already in the frontier are dropped. ``dedup=False`` is the
        threaded_get deque contract (download.py:834-836): the queue itself
        never dedups — the caller's `found` set does — which is what lets a
        page link back to a seed and re-queue it (seeds are never in
        `found`). ``candidates`` needs columns (url, url_hash, domain,
        depth, priority); seq/status/retry are assigned here.

        Dedup-within-batch keeps the FIRST occurrence in (depth, priority
        desc, discovery) order via min-seq — matching the sequential
        crawler, which marks a URL found the first time it appears.
        """
        # dedup within batch first (first occurrence in discovery order
        # wins), then anti-join vs existing keys, then stamp seq — so seq
        # stays contiguous over rows actually enqueued.
        ordered = candidates.withColumn("_ord", F.struct(*_discovery_order(candidates)))
        payload = [c for c in candidates.columns if c != "url_hash"]
        first_per_key = (
            ordered.groupBy("url_hash")
            .agg(
                F.min_by(F.struct(*payload), F.col("_ord")).alias("r"),
                F.min("_ord").alias("_ord"),
            )
            .select("url_hash", "_ord", "r.*")
        )
        fresh = (
            first_per_key.join(self.df.select("url_hash"), "url_hash", "left_anti")
            if dedup
            else first_per_key
        )
        stamped, n_new = assign_global_seq(fresh, [F.col("_ord").asc()], start=self.next_seq)
        new_rows = (
            stamped.drop("_ord")
            .withColumn("status", F.lit(0))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLUMNS)
        )
        return Frontier(
            self.df.unionByName(new_rows), self.next_seq + n_new, self.pull_counter
        )

    def pull(
        self,
        limit: int = 1000,
        mode: str = ORDER_PRIORITY,
        leaf_prefix_depth: int | None = None,
    ) -> tuple[DataFrame, "Frontier"]:
        """Claim the top-``limit`` queued keys (Queue.pull, pdict.py:468-478).

        Returns (claimed batch, new frontier with those rows marked by a
        fresh pull counter). orderBy().limit() compiles to
        TakeOrderedAndProject — a top-k, not a global sort.

        ``leaf_prefix_depth`` (batched DFS, plans/crawl.py): truncate the
        claimed batch to the maximal pull-order prefix of rows at exactly
        that depth, plus at most ONE following row. Rows at the crawl's
        max_depth are LEAVES — extraction never emits their links
        (download.py:957 ``depth == max_depth`` guard), so visiting k
        consecutive leaves cannot push anything onto the LIFO stack and the
        sequential pop order over them equals the pull order; the first
        non-leaf may push links (which would jump to the top of the stack),
        so it must be the batch's last visit. This claims multi-row DFS
        batches with EXACT sequential-order parity instead of speculation.
        The cut is a window over the already-bounded (<= limit) batch — one
        task, no extra shuffle of the frontier.
        """
        counter = self.pull_counter + 1
        queued = self.df.filter(F.col("status") == 0)
        batch = queued.orderBy(*_pull_order(mode)).limit(limit)
        if leaf_prefix_depth is not None and limit > 1:
            from pyspark.sql.window import Window

            w = (
                Window.orderBy(*_pull_order(mode))
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            nonleaf_upto = F.sum(
                F.when(F.col("depth") != leaf_prefix_depth, 1).otherwise(0)
            ).over(w)
            batch = (
                batch.withColumn("_nl", nonleaf_upto)
                .filter(
                    (F.col("_nl") == 0)
                    | ((F.col("_nl") == 1) & (F.col("depth") != leaf_prefix_depth))
                )
                .drop("_nl")
            )
        # claim by the unique row key (url_hash, seq) — with dedup=False the
        # frontier can hold two unclaimed rows sharing url_hash (a seed
        # re-queued by a link-back), and claiming one must not mark both
        claimed = batch.select("url_hash", "seq").withColumn("_claim", F.lit(counter))
        updated = (
            self.df.join(F.broadcast(claimed), ["url_hash", "seq"], "left")
            .withColumn("status", F.coalesce(F.col("_claim"), F.col("status")))
            .drop("_claim")
        )
        return batch.withColumn("status", F.lit(counter)), Frontier(
            updated, self.next_seq, counter
        )

    def clear(self, keys: DataFrame | None = None) -> "Frontier":
        """Remove keys (or everything) — Queue.clear (pdict.py:481-497)."""
        if keys is None:
            return Frontier(self.df.limit(0), self.next_seq, self.pull_counter)
        return Frontier(
            self.df.join(keys.select("url_hash"), "url_hash", "left_anti"),
            self.next_seq,
            self.pull_counter,
        )

    def queued_count(self) -> int:
        """len(Queue): SELECT count(*) WHERE status=0 (pdict.py:446-450)."""
        return self.df.filter(F.col("status") == 0).count()


FRONTIER_COLUMNS = [
    "url",
    "url_hash",
    "domain",
    "depth",
    "priority",
    "seq",
    "status",
    "retry_count",
]


def _discovery_order(candidates: DataFrame):
    """Plain columns whose lexicographic order defines within-batch
    discovery sequence. Callers pass ``discovery_order`` (parent seq x link
    position) when they have it; otherwise (depth, url) is a deterministic
    fallback."""
    if "discovery_order" in candidates.columns:
        return [F.col("discovery_order")]
    return [F.col("depth"), F.col("url")]


def domain_budget_gate(
    candidates: DataFrame,
    visited_counts: DataFrame | None = None,
    max_pages: int = 1000,
    domain_overrides: DataFrame | None = None,
    url_col: str = "url",
    order_cols: tuple[str, ...] = ("seq",),
) -> DataFrame:
    """Per-domain crawl budget — the Heritrix 'queue budget' the reference
    lacks (its only cap is the global max_urls, download.py:855): each
    domain may contribute at most ``max_pages`` pages to the whole crawl,
    so one 10^8-URL host cannot monopolize a 10^10-URL frontier.

    Input plus ``(domain, n_visited, budget, budget_rank, keep)``:
    remaining slots per domain are ``greatest(budget - n_visited, 0)``
    (``visited_counts`` is a ``(domain, n_visited)`` table, one groupBy of
    the visit log away; None means nothing visited), and candidates fill
    them in deterministic ``order_cols``-then-url order via one row_number
    window. ``domain_overrides`` is an optional broadcast-able
    ``(domain, max_pages)`` table for per-host policies; the scalar is the
    default.

    Scale shape: ONE window shuffle keyed on domain — the same key the
    politeness planner already shuffles on — and two broadcast joins
    against small per-domain tables. Honest skew caveat: NUMBERING every
    candidate (including the rejected tail) requires the full per-domain
    sort, so a 10^8-URL hot domain lands in one sort partition; when the
    input is the 10^10-row frontier itself rather than a batch, use
    :func:`domain_budget_prune` — the salted two-phase variant that
    returns only the kept rows with bounded per-task state."""
    from pyspark.sql import Window

    from webscraping_spark.functions.udfs import get_domain_col

    out = candidates
    if "domain" not in out.columns:
        out = out.withColumn("domain", get_domain_col(F.col(url_col)))
    if visited_counts is not None:
        vc = visited_counts.select(
            "domain", F.col("n_visited").cast("long").alias("n_visited")
        )
        out = out.join(F.broadcast(vc), "domain", "left")
    else:
        out = out.withColumn("n_visited", F.lit(None).cast("long"))
    out = out.withColumn("n_visited", F.coalesce(F.col("n_visited"), F.lit(0)))
    if domain_overrides is not None:
        ov = domain_overrides.select(
            "domain", F.col("max_pages").cast("long").alias("_ov")
        )
        out = out.join(F.broadcast(ov), "domain", "left")
    else:
        out = out.withColumn("_ov", F.lit(None).cast("long"))
    out = out.withColumn(
        "budget", F.coalesce(F.col("_ov"), F.lit(int(max_pages)).cast("long"))
    ).drop("_ov")
    w = Window.partitionBy("domain").orderBy(
        *[F.col(c).asc() for c in order_cols], F.col(url_col).asc()
    )
    return out.withColumn(
        "budget_rank", F.row_number().over(w).cast("long")
    ).withColumn(
        "keep",
        F.col("budget_rank")
        <= F.greatest(F.col("budget") - F.col("n_visited"), F.lit(0).cast("long")),
    )


def domain_budget_prune(
    candidates: DataFrame,
    visited_counts: DataFrame | None = None,
    max_pages: int = 1000,
    domain_overrides: DataFrame | None = None,
    url_col: str = "url",
    order_cols: tuple[str, ...] = ("seq",),
    salt_buckets: int = 32,
) -> DataFrame:
    """The scale path of :func:`domain_budget_gate`: returns ONLY the
    kept rows (same survivor set, no ``budget_rank`` numbering of the
    rejected tail) via a salted two-phase top-k, so a 10^8-URL hot
    domain never lands in a single sort partition.

    Phase 1 ranks within ``(domain, pmod(xxhash64(url), S))`` — S-way
    parallel, each bucket keeps at most the domain's remaining slots, so
    at most ``S x remaining`` survivors per domain reach phase 2; phase 2
    is the exact (order_cols, url) window over that bounded set. The
    survivor SET equals the gate's kept set exactly (any row in the true
    top-remaining is also in the top-remaining of its salt bucket —
    dropping other-bucket rows can only improve its bucket rank), which
    the tests pin against the gate.

    Use the gate when you need every candidate labeled (audits, small
    batches); use this when the frontier is the 10^10-row table itself."""
    from pyspark.sql import Window

    from webscraping_spark.functions.udfs import get_domain_col

    out = candidates
    if "domain" not in out.columns:
        out = out.withColumn("domain", get_domain_col(F.col(url_col)))
    if visited_counts is not None:
        vc = visited_counts.select(
            "domain", F.col("n_visited").cast("long").alias("n_visited")
        )
        out = out.join(F.broadcast(vc), "domain", "left")
    else:
        out = out.withColumn("n_visited", F.lit(None).cast("long"))
    out = out.withColumn("n_visited", F.coalesce(F.col("n_visited"), F.lit(0)))
    if domain_overrides is not None:
        ov = domain_overrides.select(
            "domain", F.col("max_pages").cast("long").alias("_ov")
        )
        out = out.join(F.broadcast(ov), "domain", "left")
    else:
        out = out.withColumn("_ov", F.lit(None).cast("long"))
    out = out.withColumn(
        "budget", F.coalesce(F.col("_ov"), F.lit(int(max_pages)).cast("long"))
    ).drop("_ov")
    remaining = F.greatest(
        F.col("budget") - F.col("n_visited"), F.lit(0).cast("long")
    )
    order = [*(F.col(c).asc() for c in order_cols), F.col(url_col).asc()]
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(int(salt_buckets)))
    w1 = Window.partitionBy("domain", "_salt").orderBy(*order)
    survivors = (
        out.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= remaining)
        .drop("_salt", "_rn1")
    )
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (
        survivors.withColumn("budget_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("budget_rank") <= remaining)
        .withColumn("keep", F.lit(True))
    )
