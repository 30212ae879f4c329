"""URL-seen set: the membership structure that makes the crawl loop not
revisit pages.

Reference semantics being replicated (SURVEY.md §1.1):
  - ``adt.HashDict`` (adt.py:30-74) keeps only ``hash(url)`` — membership
    with possible false positives and no deletes. Used as
    ``CrawlerCallback.found`` (download.py:969) and the async seen set.
  - ``adt.Bloom`` (adt.py:77-88) is the reference's own intended scaling
    path (never wired up due to a latent bug at adt.py:82).
  - ``pdict.Queue.clear`` (pdict.py:481-497) deletes frontier keys — which
    is why the north_rule wants a cuckoo fallback: Blooms can't delete.

Engine design (Spark-first, 10^10-URL scale):
  - **Exact path** — a DataFrame of seen ``url_hash``es; unseen-filter is a
    left ANTI join on the 64-bit key. This is the correctness oracle and
    the default in the crawl loop (hash-collision FPs match HashDict
    semantics: two URLs colliding on xxhash64 deduplicate, at 2^-64 rates).
  - **Partitioned Bloom** — one numpy bit-array per ``url_hash % P``
    partition, built/merged distributed via ``applyInPandas`` and probed
    with a **cogroup** (candidates x filter rows co-partitioned on
    ``partition``), so filter bytes are shuffled once per partition, never
    per row. Used as a pre-filter to cut the anti-join's shuffle volume:
    definitely-unseen rows skip the exact join.
  - **Partitioned cuckoo** — same layout, 4-slot buckets of 16-bit
    fingerprints; supports deletes for the ``Queue.clear`` path.

At 10^10 URLs: P scales with cluster cores (e.g. 4096 partitions x 2.4M
items x 16 bits/item ~= 60 GB of filter state, ~15 MB/partition — each
partition's filter fits comfortably in one task; probe traffic is one
filter row + the candidate rows per partition).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webscraping_spark.session import local_frame

SEEN_SCHEMA = "partition int, kind string, filter_bytes binary, n_items long"
# the exact URL-seen row shape (shared with plans.crawl.SEEN_SCHEMA so the
# empty-set constructor can never diverge from the delta writes)
EXACT_SEEN_SCHEMA = "url_hash long, depth int"


# --------------------------------------------------------------------------
# numpy Bloom kernel (vectorized; no bloom library exists in-container)
# --------------------------------------------------------------------------


def bloom_params(expected_items: int, fp_rate: float = 1e-4) -> tuple[int, int]:
    """(m_bits, k_hashes) sized for the expected per-partition load."""
    m = max(64, int(-expected_items * math.log(fp_rate) / (math.log(2) ** 2)))
    m = 1 << (m - 1).bit_length()  # power of two -> mask instead of mod
    k = max(1, round(m / max(expected_items, 1) * math.log(2)))
    return m, min(k, 16)


def _probe_positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing from the 64-bit key."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(m - 1)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)) & np.uint64(m - 1)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def bloom_build(hashes: np.ndarray, m: int, k: int, base: bytes | None = None) -> bytes:
    bits = (
        np.frombuffer(base, dtype=np.uint8).copy()
        if base is not None
        else np.zeros(m // 8, dtype=np.uint8)
    )
    if len(hashes):
        pos = _probe_positions(np.asarray(hashes, dtype=np.int64), m, k).ravel()
        np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def bloom_contains(filter_bytes: bytes, hashes: np.ndarray, k: int) -> np.ndarray:
    bits = np.frombuffer(filter_bytes, dtype=np.uint8)
    m = len(bits) * 8
    if not len(hashes):
        return np.zeros(0, dtype=bool)
    pos = _probe_positions(np.asarray(hashes, dtype=np.int64), m, k)
    byte_idx = (pos >> 3).astype(np.int64)
    bit_mask = (1 << (pos & 7)).astype(np.uint8)
    return ((bits[byte_idx] & bit_mask) != 0).all(axis=1)


# --------------------------------------------------------------------------
# numpy cuckoo kernel (16-bit fingerprints, 4-slot buckets, deletable)
# --------------------------------------------------------------------------

_CUCKOO_SLOTS = 4
_MAX_KICKS = 500


def cuckoo_new(capacity: int) -> np.ndarray:
    n_buckets = 1 << max(4, (int(capacity / _CUCKOO_SLOTS * 1.3) - 1).bit_length())
    return np.zeros((n_buckets, _CUCKOO_SLOTS), dtype=np.uint16)


def _cuckoo_fp_and_index(hashes: np.ndarray, n_buckets: int):
    h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
    fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot
    i1 = (h & np.uint64(n_buckets - 1)).astype(np.int64)
    return fp, i1


def _alt_index(i: np.ndarray | int, fp: np.ndarray | int, n_buckets: int):
    # standard cuckoo-filter partner bucket: i xor hash(fingerprint)
    fph = (np.uint64(fp) * np.uint64(0x5BD1E995)) & np.uint64(n_buckets - 1)
    return (np.uint64(i) ^ fph).astype(np.int64) if isinstance(i, np.ndarray) else int(np.uint64(i) ^ fph)


def cuckoo_insert(table: np.ndarray, hashes: np.ndarray, seed: int = 0) -> np.ndarray:
    """Insert hashes; returns the table (mutated copy). Raises on overflow."""
    table = table.copy()
    n_buckets = table.shape[0]
    fps, i1s = _cuckoo_fp_and_index(hashes, n_buckets)
    rng = np.random.default_rng(seed)
    for fp, i1 in zip(fps.tolist(), i1s.tolist()):
        i2 = _alt_index(i1, fp, n_buckets)
        if fp in table[i1] or fp in table[i2]:
            continue  # set semantics: already present
        placed = False
        for idx in (i1, i2):
            empty = np.nonzero(table[idx] == 0)[0]
            if len(empty):
                table[idx, empty[0]] = fp
                placed = True
                break
        if placed:
            continue
        idx, cur = i1, fp
        for _ in range(_MAX_KICKS):
            slot = int(rng.integers(_CUCKOO_SLOTS))
            cur, table[idx, slot] = int(table[idx, slot]), cur
            idx = _alt_index(idx, cur, n_buckets)
            empty = np.nonzero(table[idx] == 0)[0]
            if len(empty):
                table[idx, empty[0]] = cur
                placed = True
                break
        if not placed:
            raise OverflowError("cuckoo filter full — resize the partition count")
    return table


def cuckoo_contains(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    n_buckets = table.shape[0]
    fps, i1s = _cuckoo_fp_and_index(hashes, n_buckets)
    i2s = _alt_index(i1s, fps, n_buckets)
    return ((table[i1s] == fps[:, None]).any(axis=1)) | (
        (table[i2s] == fps[:, None]).any(axis=1)
    )


def cuckoo_delete(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    table = table.copy()
    n_buckets = table.shape[0]
    fps, i1s = _cuckoo_fp_and_index(hashes, n_buckets)
    for fp, i1 in zip(fps.tolist(), i1s.tolist()):
        for idx in (i1, _alt_index(i1, fp, n_buckets)):
            slots = np.nonzero(table[idx] == fp)[0]
            if len(slots):
                table[idx, slots[0]] = 0
                break
    return table


# --------------------------------------------------------------------------
# DataFrame operators
# --------------------------------------------------------------------------


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
    """Partitioned Bloom filter over DataFrames.

    State: P rows of (partition, kind='bloom', filter_bytes, n_items).
    Build/merge and probe are both per-partition numpy kernels executed with
    applyInPandas / cogroup-applyInPandas — the filter bytes move through
    the shuffle once per partition per operation.
    """

    def __init__(self, state: DataFrame, num_partitions: int, m_bits: int, k_hashes: int):
        self.state = state
        self.P = num_partitions
        self.m = m_bits
        self.k = k_hashes

    @classmethod
    def empty(cls, spark, num_partitions: int = 32, expected_items_per_partition: int = 100_000, fp_rate: float = 1e-4):
        m, k = bloom_params(expected_items_per_partition, fp_rate)
        state = local_frame(spark, [], SEEN_SCHEMA)
        return cls(state, num_partitions, m, k)

    def _with_partition(self, df: DataFrame, on: str) -> DataFrame:
        return df.withColumn("partition", F.pmod(F.col(on), F.lit(self.P)).cast("int"))

    def add(self, new: DataFrame, on: str = "url_hash") -> "BloomSeenSet":
        """Merge new hashes into the filter state (distributed OR-reduce)."""
        m, k = self.m, self.k

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            part = int(pdf["partition"].iloc[0])
            existing = pdf[pdf["kind"] == "state"]
            base = existing["filter_bytes"].iloc[0] if len(existing) else None
            n_base = int(existing["n_items"].iloc[0]) if len(existing) else 0
            hashes = pdf.loc[pdf["kind"] == "new", "h"].to_numpy(dtype=np.int64)
            return pd.DataFrame(
                {
                    "partition": [part],
                    "kind": ["bloom"],
                    "filter_bytes": [bloom_build(hashes, m, k, base=base)],
                    "n_items": [n_base + len(hashes)],
                }
            )

        new_rows = self._with_partition(new.select(F.col(on).alias("h")), "h").withColumn(
            "kind", F.lit("new")
        )
        state_rows = self.state.select(
            "partition",
            F.lit("state").alias("kind"),
            "filter_bytes",
            "n_items",
        ).withColumn("h", F.lit(0).cast("long"))
        unioned = new_rows.select(
            "partition", "kind", F.lit(None).cast("binary").alias("filter_bytes"),
            F.lit(0).cast("long").alias("n_items"), "h",
        ).unionByName(state_rows)
        merged = unioned.groupBy("partition").applyInPandas(build, SEEN_SCHEMA)
        # filter state is tiny (P rows) and re-read by every probe: pin it
        # so probes don't rebuild the filters from the raw hashes.
        # Materialize eagerly (P rows — one cheap job), then drop the prior
        # generation's cache: without the unpersist the crawl loop leaks one
        # cached P-row frame (with filter bytes) per superstep.
        merged = merged.persist()
        merged.count()
        if self.state.is_cached:
            self.state.unpersist()
        return BloomSeenSet(merged, self.P, self.m, self.k)

    def might_contain(self, candidates: DataFrame, on: str = "url_hash") -> DataFrame:
        """Adds boolean ``might_be_seen``. Co-groups candidates with their
        partition's filter row — filter bytes cross the wire once per
        partition, not once per candidate."""
        k = self.k
        cols = candidates.columns
        cand = self._with_partition(candidates, on)
        out_schema = ", ".join(f"`{c}` {candidates.schema[c].dataType.simpleString()}" for c in cols)
        out_schema += ", might_be_seen boolean"

        def probe(cand_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_pdf.empty:
                return pd.DataFrame(columns=cols + ["might_be_seen"])
            if state_pdf.empty:
                flags = np.zeros(len(cand_pdf), dtype=bool)
            else:
                flags = bloom_contains(
                    state_pdf["filter_bytes"].iloc[0],
                    cand_pdf[on].to_numpy(dtype=np.int64),
                    k,
                )
            out = cand_pdf[cols].copy()
            out["might_be_seen"] = flags
            return out

        return (
            cand.groupby("partition")
            .cogroup(self.state.groupby("partition"))
            .applyInPandas(probe, out_schema)
        )

    def might_contain_broadcast(self, candidates: DataFrame, on: str = "url_hash") -> DataFrame:
        """Shuffle-free probe: collect the P filter rows, broadcast them,
        and test membership in a pandas UDF — the candidates never move.

        Valid while the total filter state fits a broadcast (P * m/8
        bytes); ``filter_unseen_prefilter`` picks this automatically below
        the threshold and falls back to the cogroup probe above it
        (10^10-URL state ~60 GB is cogroup territory).
        """
        spark = candidates.sparkSession
        filters = {
            int(r["partition"]): r["filter_bytes"] for r in self.state.collect()
        }
        bc = spark.sparkContext.broadcast(filters)
        k, P = self.k, self.P

        @F.pandas_udf("boolean")
        def probe(h: pd.Series) -> pd.Series:
            hv = h.to_numpy(dtype=np.int64)
            parts = hv % P  # non-negative for positive P (numpy semantics)
            out = np.zeros(len(hv), dtype=bool)
            for part in np.unique(parts):
                filt = bc.value.get(int(part))
                if filt is not None:
                    mask = parts == part
                    out[mask] = bloom_contains(filt, hv[mask], k)
            return pd.Series(out)

        return candidates.withColumn("might_be_seen", probe(F.col(on)))

    BROADCAST_STATE_LIMIT = 256 * 1024 * 1024

    # Headroom multiplier on the broadcast threshold for the AUTO seen-join
    # decision: the anti-join's build side is a single 8-byte hash column,
    # whose HashedRelation builds denser than a generic row broadcast, so
    # the plain autoBroadcastJoinThreshold (sized for wide rows) is
    # conservative by about this factor for this shape.
    AUTO_BROADCAST_HEADROOM = 4

    def _auto_seen_join(self, exact: ExactSeenSet) -> str | None:
        """Size-driven strategy selection (round-6; VERDICT r5 Next #4):
        broadcast the seen side when Catalyst's size estimate says its
        hash-key projection fits comfortably; otherwise fall through to
        the Bloom-prefilter path (the regime where the seen state can
        neither broadcast nor cheaply full-shuffle). Uses the optimizer's
        sizeInBytes statistic — no Spark job is launched. An OVERSHOT
        estimate (narrow projection of wide rows, the documented Catalyst
        failure mode) errs toward NOT broadcasting, which is the safe
        direction: a user who scales the default config now gets a plan
        switch, not a driver OOM. Aggregate-built seen sets
        (ExactSeenSet.add's min-depth groupBy) carry the UNKNOWN-size
        sentinel and also route to the Bloom path — conservative, and
        identical to the pre-round-6 default for the crawl loop."""
        try:
            spark = exact.df.sparkSession
            est = int(
                str(
                    exact.df.select("url_hash")
                    ._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
            thr_raw = str(
                spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            ).strip().lower().rstrip("b")
            mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
            if thr_raw and thr_raw[-1] in mult:
                thr = int(float(thr_raw[:-1]) * mult[thr_raw[-1]])
            else:
                thr = int(thr_raw)
        except Exception:
            return None  # non-JVM backends / unexpected conf: keep Bloom path
        if 0 < thr and est <= thr * self.AUTO_BROADCAST_HEADROOM:
            return "broadcast"
        return None

    def filter_unseen_prefilter(
        self,
        candidates: DataFrame,
        exact: ExactSeenSet,
        on: str = "url_hash",
        seen_join: str | None = None,
    ) -> DataFrame:
        """Bloom pre-filter + exact anti-join.

        Rows the Bloom says are definitely-unseen pass straight through (no
        false negatives); only the might-be-seen slice pays the exact
        anti-join shuffle. With a healthy FP rate the anti-join input
        shrinks to ~|actually seen| + eps.

        ``seen_join`` optionally pins the anti-join strategy. Catalyst
        estimates the seen side's size from its source relation; when the
        seen keys come out of a narrow projection (8-byte hashes of wide
        rows) the estimate can overshoot the broadcast threshold by orders
        of magnitude and force a shuffle the caller knows is unnecessary —
        the hint is a size-estimate correction, not an optimizer override.

        STRATEGY SELECTION (round-5 probe, 64M candidates x 12.8M seen,
        pinned local[4]/local[16], BENCH/unseen_probe_r5.json):

        - "broadcast": plain broadcast anti-join, Bloom probe SKIPPED (a
          broadcast anti-join already tests every row against an exact
          in-memory hash map inside whole-stage codegen; the pandas-UDF
          probe's Arrow hop measured as pure overhead on this path). The
          catch is an Amdahl term: the hashed relation builds ON THE
          DRIVER, single-threaded — measured ~10 s at 12.8M keys,
          IDENTICAL at 4 and 16 cores (join-component efficiency 0.28).
          Right answer when the seen side is small (the crawl loop's
          per-superstep batches: <~1M keys, sub-second build) AND for
          fused pipelines even at ~10M keys: fused, the broadcast
          anti-join costs no exchange at all and its serial build is a
          single-digit percentage of pipeline time (see "merge" below).
        - "merge": plain sort-merge anti-join — both sides exchange +
          sort, every term parallel. Measured in ISOLATION: ties
          broadcast at 16 cores (14.7 s vs 14.4 s), join-component 4->16
          efficiency 0.66 vs broadcast's 0.28. The context caveat: in a
          FUSED pipeline broadcast runs the anti-join map-side INSIDE
          the upstream stage (zero exchange), while merge inserts a full
          candidate-side exchange + sort — measured fused at 64M rows /
          16 cores: 161 s broadcast vs 275 s merge
          (BENCH/stage_scaling_r5.jsonl), because the ~10 s serial build
          is <6% of the fused pipeline but the extra exchange is ~40% of
          it. So "merge" is the right answer only when the anti-join
          STANDS ALONE (its input already materialized) with a
          multi-million-key seen side, or when the seen side outgrows
          driver memory but still fits a shuffle.
        - "shuffle_hash": measured ANTI-scaling at this shape (27 s at 4
          cores -> 49 s at 16): per-partition hash-map builds thrash once
          16 concurrent builders contend for the heap. Kept only as an
          explicit escape hatch.
        - None (default): SIZE-DRIVEN AUTO (round-6). The measured
          crossovers above are now encoded, not just documented: when
          Catalyst's size estimate for the seen-side hash projection fits
          the (headroom-scaled) broadcast threshold, the broadcast
          anti-join is planned; otherwise the Bloom prefilter + exact
          anti-join on the might-be-seen slice — the 10^10-URL regime
          where the seen state can neither broadcast nor cheaply
          full-shuffle; the Bloom thins the anti-join input to
          ~|actually seen| + eps. Callers can still pin any strategy
          explicitly ("bloom" pins the prefilter path regardless of
          size — tests and the >256 MB-state regime use it).
        """
        if seen_join is None:
            seen_join = self._auto_seen_join(exact)
        if seen_join == "broadcast":
            seen_keys = exact.df.select(F.col("url_hash").alias("_seen_hash")).hint(
                "broadcast"
            )
            return candidates.join(
                seen_keys, F.col(on) == F.col("_seen_hash"), "left_anti"
            )
        if seen_join == "merge":
            seen_keys = exact.df.select(F.col("url_hash").alias("_seen_hash")).hint(
                "merge"
            )
            return candidates.join(
                seen_keys, F.col(on) == F.col("_seen_hash"), "left_anti"
            )
        if seen_join == "bloom":
            seen_join = None  # explicit pin of the prefilter path below
        state_bytes = self.P * (self.m // 8)
        if state_bytes <= self.BROADCAST_STATE_LIMIT:
            flagged = self.might_contain_broadcast(candidates, on=on)
        else:
            flagged = self.might_contain(candidates, on=on)
        # Single-pass anti-join with a SKEW-FREE probe key: the key is
        # struct(cleared, hash) — bloom-cleared rows carry (true, hash),
        # the seen side is uniformly (false, hash), so cleared rows can
        # never equi-match (they sail through the anti join) yet still
        # HASH-DISTRIBUTE by their own url_hash if the join executes as a
        # shuffle. The earlier NULL-key form had the same no-match
        # semantics but sent every cleared row (75%+ of a typical batch)
        # to ONE partition — hash(NULL) is a constant — which is the r3
        # 830 MB single-partition pathology. One plan, no filter-split
        # union, no re-evaluation of the probe.
        probe_key = F.struct(
            (~F.col("might_be_seen")).alias("_cleared"), F.col(on).alias("_h")
        )
        seen_keys = exact.df.select(
            F.struct(
                F.lit(False).alias("_cleared"), F.col("url_hash").alias("_h")
            ).alias("_seen_key")
        )
        if seen_join:
            seen_keys = seen_keys.hint(seen_join)
        return (
            flagged.withColumn("_probe_key", probe_key)
            .join(seen_keys, F.col("_probe_key") == F.col("_seen_key"), "left_anti")
            .drop("_probe_key", "might_be_seen")
        )


class CuckooSeenSet:
    """Partitioned cuckoo filter — the deletable fallback used when frontier
    keys are cleared (reference Queue.clear, pdict.py:481-497)."""

    def __init__(self, state: DataFrame, num_partitions: int, capacity_per_partition: int):
        self.state = state
        self.P = num_partitions
        self.capacity = capacity_per_partition

    @classmethod
    def empty(cls, spark, num_partitions: int = 32, capacity_per_partition: int = 100_000):
        return cls(local_frame(spark, [], SEEN_SCHEMA), num_partitions, capacity_per_partition)

    def _apply(self, hashes_df: DataFrame, op: str, on: str) -> "CuckooSeenSet":
        capacity = self.capacity

        def step(pdf: pd.DataFrame) -> pd.DataFrame:
            part = int(pdf["partition"].iloc[0])
            existing = pdf[pdf["kind"] == "state"]
            if len(existing):
                table = np.frombuffer(existing["filter_bytes"].iloc[0], dtype=np.uint16).reshape(-1, _CUCKOO_SLOTS).copy()
                n = int(existing["n_items"].iloc[0])
            else:
                table = cuckoo_new(capacity)
                n = 0
            hashes = pdf.loc[pdf["kind"] == "new", "h"].to_numpy(dtype=np.int64)
            if op == "insert":
                table = cuckoo_insert(table, hashes, seed=part)
                n += len(hashes)
            else:
                table = cuckoo_delete(table, hashes)
                n = max(0, n - len(hashes))
            return pd.DataFrame(
                {"partition": [part], "kind": ["cuckoo"], "filter_bytes": [table.tobytes()], "n_items": [n]}
            )

        new_rows = (
            hashes_df.select(F.col(on).alias("h"))
            .withColumn("partition", F.pmod(F.col("h"), F.lit(self.P)).cast("int"))
            .withColumn("kind", F.lit("new"))
            .select("partition", "kind", F.lit(None).cast("binary").alias("filter_bytes"), F.lit(0).cast("long").alias("n_items"), "h")
        )
        state_rows = self.state.select("partition", F.lit("state").alias("kind"), "filter_bytes", "n_items").withColumn("h", F.lit(0).cast("long"))
        merged = new_rows.unionByName(state_rows).groupBy("partition").applyInPandas(step, SEEN_SCHEMA)
        return CuckooSeenSet(merged, self.P, self.capacity)

    def add(self, df: DataFrame, on: str = "url_hash") -> "CuckooSeenSet":
        return self._apply(df, "insert", on)

    def delete(self, df: DataFrame, on: str = "url_hash") -> "CuckooSeenSet":
        return self._apply(df, "delete", on)

    def might_contain(self, candidates: DataFrame, on: str = "url_hash") -> DataFrame:
        cols = candidates.columns
        cand = candidates.withColumn("partition", F.pmod(F.col(on), F.lit(self.P)).cast("int"))
        out_schema = ", ".join(f"`{c}` {candidates.schema[c].dataType.simpleString()}" for c in cols)
        out_schema += ", might_be_seen boolean"

        def probe(cand_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_pdf.empty:
                return pd.DataFrame(columns=cols + ["might_be_seen"])
            if state_pdf.empty:
                flags = np.zeros(len(cand_pdf), dtype=bool)
            else:
                table = np.frombuffer(state_pdf["filter_bytes"].iloc[0], dtype=np.uint16).reshape(-1, _CUCKOO_SLOTS)
                flags = cuckoo_contains(table, cand_pdf[on].to_numpy(dtype=np.int64))
            out = cand_pdf[cols].copy()
            out["might_be_seen"] = flags
            return out

        return (
            cand.groupby("partition")
            .cogroup(self.state.groupby("partition"))
            .applyInPandas(probe, out_schema)
        )
