"""URL-seen set: the membership structure that makes the crawl loop not
revisit pages.

Reference semantics being replicated (SURVEY.md §1.1):
  - ``adt.HashDict`` (adt.py:30-74) keeps only ``hash(url)`` — membership
    with possible false positives and no deletes. Used as
    ``CrawlerCallback.found`` (download.py:969) and the async seen set.

Engine design: a DataFrame of seen ``url_hash``es; the unseen filter is a
left ANTI join on the 64-bit key (hash-collision FPs match HashDict
semantics: two URLs colliding on xxhash64 deduplicate, at 2^-64 rates).
Catalyst broadcasts the seen side while it is small. A filter (Bloom,
cuckoo) comes back only with a benchmark workload whose seen side is too
big to broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webscraping_spark.session import local_frame

# the exact URL-seen row shape (shared with plans.crawl.SEEN_SCHEMA so the
# empty-set constructor can never diverge from the delta writes)
EXACT_SEEN_SCHEMA = "url_hash long, depth int"


class ExactSeenSet:
    """Exact URL-seen membership as a DataFrame of 64-bit hashes.

    Parity target: ``CrawlerCallback.found`` (download.py:969, adt.py:30-74)
    — keyed by hash only, value = first-discovery depth (min over time).
    """

    def __init__(self, df: DataFrame):
        self.df = df  # columns: url_hash long, depth int

    @classmethod
    def empty(cls, spark) -> "ExactSeenSet":
        return cls(local_frame(spark, [], EXACT_SEEN_SCHEMA))

    def filter_unseen(self, candidates: DataFrame, on: str = "url_hash") -> DataFrame:
        """Left ANTI join: candidates not already seen.

        The anti join shuffles both sides on the 64-bit key; Catalyst
        broadcasts the seen side while it is small, and AQE re-plans as it
        grows.
        """
        return candidates.join(self.df, candidates[on] == self.df["url_hash"], "left_anti")

    def add(self, new: DataFrame, assume_new: bool = False) -> "ExactSeenSet":
        """Union new (url_hash, depth) rows, keeping min depth per hash
        (first-discovery depth wins — download.py:1041-1042).

        ``assume_new=True`` skips the min-depth shuffle — correct whenever
        the caller guarantees the keys are absent (the crawl loop anti-joins
        before claiming, so claimed keys are new by construction)."""
        if assume_new:
            return ExactSeenSet(self.df.unionByName(new.select("url_hash", "depth")))
        merged = (
            self.df.unionByName(new.select("url_hash", "depth"))
            .groupBy("url_hash")
            .agg(F.min("depth").alias("depth"))
        )
        return ExactSeenSet(merged)


class BloomSeenSet:
    """Compatibility shim for callers written against the old Bloom-prefilter
    API (``perfbench/fused.py``, ``bench.py``). It holds no filter: ``empty``
    builds no frame, and ``filter_unseen_prefilter`` is the exact broadcast
    anti-join. A later benchmark change points perfbench at
    ``ExactSeenSet`` and deletes this class.
    """

    @classmethod
    def empty(cls, spark, num_partitions: int = 32, expected_items_per_partition: int = 100_000):
        return cls()

    def filter_unseen_prefilter(
        self,
        candidates: DataFrame,
        exact: ExactSeenSet,
        on: str = "url_hash",
        seen_join: str | None = None,
    ) -> DataFrame:
        """``exact``'s anti-join with the seen side broadcast. Only
        ``seen_join="broadcast"`` is accepted."""
        if seen_join != "broadcast":
            raise ValueError(
                f"seen_join={seen_join!r}: only 'broadcast' is supported; "
                "use ExactSeenSet.filter_unseen for a Catalyst-planned join"
            )
        return ExactSeenSet(exact.df.hint("broadcast")).filter_unseen(candidates, on)
