"""Per-domain politeness scheduling — planned fetch times instead of the
reference's busy-wait.

Reference semantics (Download.throttle, download.py:455-473): before each
fetch, sleep until ``now >= next_allowed[(proxy, extra, domain)]``, then set
``next_allowed = now + delay * (1 + variance * (rand() - 0.5))`` — i.e.
fetches of one domain are serialized at least ``delay*(1 - variance/2)``
apart with mean spacing ``delay``. The map is process-global
(download.py:454), so politeness holds across all threads.

Engine re-expression (no wall-clock sleeping, no global state):
  - Each batch is **planned**: within a domain, fetches are ordered by the
    pull order and assigned ``scheduled_offset`` = carry-in + running sum of
    jittered delays (Window.partitionBy(domain) lag-cumsum). The fetch
    stage then treats the offset as the earliest execution time.
  - Jitter is seeded — ``u = pmod(xxhash64(url, seed), 1M)/1M`` — giving the
    reference's mean/spread contract (doctests never pin the RNG) while
    staying reproducible across runs and cluster sizes.
  - Cross-batch state is the ``domain_state`` table
    (domain, proxy, next_allowed_offset), merged per superstep — the
    distributed analog of ``Download._domains``.
  - **Hot-domain skew**: the per-domain window is the skew point (AQE
    cannot split a window partition); ``plan_schedule``'s
    ``hot_group_rows`` cuts a hot group into order-aligned buckets that
    scan in parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DOMAIN_STATE_SCHEMA = "domain string, proxy string, next_allowed_offset double"

# Width of the politeness window stage in sort waves per core (see the
# comment at the use site in plan_schedule for the measured rationale).
SORT_WAVES = 8


def jitter_col(delay, variance: float, seed: int) -> "F.Column":
    """Seeded per-URL jittered delay: delay * (1 + variance*(u - 0.5)).
    ``delay`` is a float or a Column (the per-domain effective delay when
    robots Crawl-delay overrides are in play)."""
    d = delay if isinstance(delay, Column) else F.lit(float(delay))
    u = F.pmod(F.xxhash64(F.col("url"), F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0
    return d * (F.lit(1.0) + F.lit(variance) * (u - F.lit(0.5)))


def _with_delay_floor(
    df: DataFrame, delay: float, domain_delays: DataFrame | None
) -> tuple[DataFrame, "float | Column"]:
    """(df, effective delay): the configured delay, or with robots
    Crawl-delay overrides — a (domain, crawl_delay) table
    (robots.crawl_delay_table) broadcast in — the per-domain maximum of
    the two. The configured delay is the politeness FLOOR: robots can slow
    a domain down, never below the crawler's own minimum spacing."""
    if domain_delays is None:
        return df, float(delay)
    df = df.join(F.broadcast(domain_delays), "domain", "left")
    eff = F.greatest(
        F.lit(float(delay)), F.coalesce(F.col("crawl_delay"), F.lit(0.0))
    )
    return df, eff


def roll_domain_state(
    planned: DataFrame,
    domain_state: DataFrame,
    delay: float = 5.0,
    variance: float = 0.5,
    seed: int = 42,
    proxy_col: str | None = None,
    domain_delays: DataFrame | None = None,
) -> DataFrame:
    """``domain_state`` rolled forward past a planned batch (the output of
    :func:`plan_schedule` with the same parameters): each (domain, proxy)
    group's next allowed offset is its last fetch's scheduled offset plus
    that fetch's jittered delay; groups the batch did not touch carry over.
    Jitter is a pure function of the row, so it is recomputed here rather
    than carried through the plan — which lets a caller pin the planned
    batch first and roll the state from the pinned rows."""
    b, eff_delay = _with_delay_floor(
        planned,
        delay,
        None if domain_delays is None else domain_delays.select("domain", "crawl_delay"),
    )
    proxy = F.col(proxy_col) if proxy_col else F.lit("")
    new_state = b.groupBy("domain", proxy.alias("proxy")).agg(
        F.max(
            F.col("scheduled_offset") + jitter_col(eff_delay, variance, seed)
        ).alias("next_allowed_offset")
    )
    carried = domain_state.join(
        new_state.select("domain", "proxy"), ["domain", "proxy"], "left_anti"
    )
    return new_state.unionByName(carried)


def plan_schedule(
    batch: DataFrame,
    domain_state: DataFrame,
    delay: float = 5.0,
    variance: float = 0.5,
    seed: int = 42,
    proxy_col: str | None = None,
    hot_group_rows: int | None = 50_000,
    domain_delays: DataFrame | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Assign ``scheduled_offset`` (seconds from superstep start) to each
    row of the batch and roll ``domain_state`` forward.

    Returns (planned_batch, new_domain_state); the state is
    :func:`roll_domain_state` over the planned batch.

    Within a domain, row i's offset = carry_in + sum(jitter of rows < i):
    the first fetch of a domain in a batch may start immediately (offset =
    carry_in, 0 for unseen domains), and successive fetches are spaced by
    the jittered delay — exactly the reference's next-allowed arithmetic
    with the sleep replaced by a plan.

    Distributed grouped prefix-sum, hot groups SPLIT. Hash partitioning
    on (domain, proxy) keeps each politeness group whole for a single
    vectorized numpy scan — but a Zipf-hot mega-domain then serializes
    the stage into one straggler task (measured: the planning stage
    scaled 1.2x across a 4x core step). With ``hot_group_rows`` set, any
    group above it is cut into order-aligned buckets: a group-monotonic
    order key (priority-major, seq-minor) is range-sliced into
    ``ceil(count / hot_group_rows)`` buckets, each bucket prefix-scans
    independently (parallel tasks), and a per-bucket total + window
    cumsum over the TINY bucket table supplies each bucket's carry-in
    base — a classic two-phase parallel scan whose only extra cost is
    one narrow pre-aggregation over the batch. Cold groups keep bucket 0
    and the exact single-scan path; ``hot_group_rows=None`` disables the
    machinery entirely (the crawl loop does this — its batches are
    driver-bounded and the pre-agg job would cost more than it saves).

    NOTE: splitting changes float-summation ASSOCIATION for hot groups
    (bucket subtotals then local prefixes); drift is ~1 ulp per bucket
    and tested against the unbucketed scan with np.isclose.

    ``num_partitions`` is the window stage's width. None (the default)
    sizes it to the session: ``SORT_WAVES`` sort waves per core, or 16 on
    a driver heap under 2 GB. A caller that knows its batch can pass
    less: the crawl loop passes ``min(cores x SORT_WAVES, distinct
    domains in the batch)``, since a domain never spans partitions and
    partitions past the domain count only add empty tasks to the window
    and to every stage that reads the planned rows.
    """
    proxy = F.col(proxy_col) if proxy_col else F.lit("")
    b, eff_delay = _with_delay_floor(
        batch.withColumn("_proxy", proxy), delay, domain_delays
    )

    hot_bases = None
    if hot_group_rows is not None:
        # the hot-group stats passes below consume _jitter pre-exchange
        b = b.withColumn("_jitter", jitter_col(eff_delay, variance, seed))
        # the pre-agg + totals + scan would each re-evaluate the batch's
        # upstream plan; persist() shares one materialization across the
        # passes. NOT localCheckpoint: truncated lineage cannot recompute
        # an evicted block, and at 64M rows eviction under memory
        # pressure killed the job ("Block rdd_N does not exist") —
        # persist blocks recompute, trading speed for survival
        b = b.persist()
        # group-monotonic order key: order within a group is
        # (priority desc, seq asc) ⇒ ord = (P_MAX - priority) * S + seq
        # is strictly increasing along it (S > max seq)
        glob = b.agg(
            F.max("priority").alias("pmax"), F.max("seq").alias("smax")
        ).collect()[0]
        if glob["smax"] is not None:
            p_max, s_span = int(glob["pmax"]), int(glob["smax"]) + 1
            ord_col = (
                (F.lit(p_max) - F.col("priority")).cast("long") * F.lit(s_span)
                + F.col("seq")
            )
            b = b.withColumn("_ord", ord_col)
            stats = b.groupBy("domain", "_proxy").agg(
                F.count("*").alias("_cnt"),
                F.min("_ord").alias("_omin"),
                F.max("_ord").alias("_omax"),
            )
            hot = stats.filter(F.col("_cnt") > hot_group_rows).select(
                "domain",
                "_proxy",
                F.ceil(F.col("_cnt") / F.lit(hot_group_rows)).alias("_nb"),
                "_omin",
                (F.col("_omax") - F.col("_omin") + 1).alias("_ospan"),
            )
            # hot-group table is <= n / hot_group_rows rows — broadcast
            b = b.join(F.broadcast(hot), ["domain", "_proxy"], "left")
            b = b.withColumn(
                "_bucket",
                F.when(F.col("_nb").isNull(), F.lit(0)).otherwise(
                    F.floor(
                        (F.col("_ord") - F.col("_omin"))
                        * F.col("_nb")
                        / F.col("_ospan")
                    ).cast("int")
                ),
            ).drop("_ord", "_omin", "_ospan")
            # per-bucket jitter totals -> cumulative base per bucket
            # (tiny: one row per hot bucket)
            totals = (
                b.filter(F.col("_nb").isNotNull())
                .groupBy("domain", "_proxy", "_bucket")
                .agg(F.sum("_jitter").alias("_tot"))
            )
            wb = (
                Window.partitionBy("domain", "_proxy")
                .orderBy(F.col("_bucket").asc())
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            hot_bases = totals.select(
                "domain",
                "_proxy",
                "_bucket",
                F.coalesce(F.sum("_tot").over(wb), F.lit(0.0)).alias("_bbase"),
            )
            b = b.drop("_nb")
    bucket_is_const = "_bucket" not in b.columns
    if bucket_is_const:
        b = b.withColumn("_bucket", F.lit(0))

    # Multiple waves, not one task per core: with exactly cores tasks any
    # group-size imbalance extends the stage by a full straggler
    # (measured 1.4x task-time inflation at local[16]). Width re-measured
    # r6 with three interleaved same-session A/B series on the fused
    # 16M-row pipeline: 4 waves (128 partitions at local[32]) was the
    # WORST of {2,4,8} in every series — 128 partitions stays under the
    # 200-partition bypass-merge threshold, so every politeness map task
    # holds 128 x 1 MB shuffle-file buffers (4 GB of buffer churn across
    # 32 tasks); 8 waves crosses the threshold onto the sort-based
    # writer (one buffer per task) and also balances best (fused minima
    # 17.9 s vs 19.1 s at 2 waves vs 24.8 s at 4). Module-level so tests
    # and probes can pin a width; see OPTIMIZATION_r06.md.
    mult = SORT_WAVES
    try:
        # Small-heap survival: under spark-submit's default 1g driver heap
        # (local mode: executors share it), wide window tasks each sort
        # ~100k+ rows, spill under the ~18 MB/task execution-memory floor,
        # and then OOM OPENING the spills — UnsafeSorterSpillReader's read
        # buffer is hard-floored at 1 MB per spill file x 32 concurrent
        # tasks (observed: heap-space OOM in getSortedIterator under the
        # politeness WindowExec at 16M rows x local[32] x 1g). 16x
        # narrower tasks sort in memory and never open a spill reader.
        # Wide-heap runs keep SORT_WAVES: more waves would only add
        # scheduling overhead to every politeness plan.
        heap = int(
            batch.sparkSession._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
        if heap < (2 << 30):
            mult = 16
    except Exception:
        pass  # non-JVM backends (connect): keep the default width
    n_parts = num_partitions or (
        batch.sparkSession.sparkContext.defaultParallelism * mult
    )

    # Grouped prefix sum as a JVM WINDOW running sum, not a pandas scan:
    # the former mapInPandas kernel shipped the WHOLE batch through an
    # Arrow round trip (profiled ~330 core-s at 64M rows on 4 cores, and
    # anti-scaling at 16); a running sum over a frame ending at -1 is an
    # O(1)-per-row streaming WindowExec with the identical left-to-right
    # float association (both add jitters in the sorted order). The
    # explicit repartition on the window's partition keys pins the
    # partition COUNT (n_parts); the window's required clustering is
    # already satisfied, so Catalyst adds only the sort on top of it.
    # CAUTION: Catalyst normalizes the WINDOW's partition spec by dropping
    # foldable keys (_proxy = lit("") without a proxy_col, _bucket = lit(0)
    # on the cold path) but does NOT normalize the repartition's — keying
    # the repartition on a literal makes EnsureRequirements see mismatched
    # partitionings and stack a second full exchange on top (profiled: a
    # dead 64M-row reshuffle). Repartition on the non-literal keys only.
    w = (
        Window.partitionBy("domain", "_proxy", "_bucket")
        .orderBy(F.col("priority").desc(), F.col("seq").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    part_keys = ["domain"]
    if proxy_col:
        part_keys.append("_proxy")
    if not bucket_is_const:
        part_keys.append("_bucket")
    b = b.repartition(n_parts, *part_keys)
    if "_jitter" not in b.columns:
        # cold path: jitter is a pure function of `url` (which rides the
        # exchange regardless) — computing it AFTER the repartition keeps
        # 8 bytes/row off the shuffle wire
        b = b.withColumn("_jitter", jitter_col(eff_delay, variance, seed))
    b = b.withColumn(
        "_prior_delay", F.coalesce(F.sum("_jitter").over(w), F.lit(0.0))
    )
    if hot_bases is not None:
        b = b.join(
            F.broadcast(hot_bases), ["domain", "_proxy", "_bucket"], "left"
        ).withColumn(
            "_prior_delay",
            F.col("_prior_delay") + F.coalesce(F.col("_bbase"), F.lit(0.0)),
        ).drop("_bbase")
    state = domain_state.withColumnRenamed("proxy", "_proxy")
    planned = (
        b.join(F.broadcast(state), ["domain", "_proxy"], "left")
        .withColumn(
            "scheduled_offset",
            F.coalesce(F.col("next_allowed_offset"), F.lit(0.0)) + F.col("_prior_delay"),
        )
        .drop("next_allowed_offset")
    )
    planned = planned.drop(
        "_proxy", "_jitter", "_prior_delay", "_bucket", "crawl_delay"
    )
    return planned, roll_domain_state(
        planned,
        domain_state,
        delay=delay,
        variance=variance,
        seed=seed,
        proxy_col=proxy_col,
        domain_delays=domain_delays,
    )


def batch_wallclock(planned: DataFrame) -> DataFrame:
    """Politeness metrics per batch: the planned wall-clock is the max
    (scheduled_offset) over the batch; politeness wait vs compute is the
    headline efficiency metric in BENCH."""
    return planned.agg(
        F.max("scheduled_offset").alias("planned_makespan_sec"),
        F.avg("scheduled_offset").alias("mean_start_offset_sec"),
        F.count("*").alias("n_fetches"),
        F.countDistinct("domain").alias("n_domains"),
    )


def adaptive_delays(
    visit_log: DataFrame,
    base_ms: int = 5000,
    mult: int = 2,
    dec_ms: int = 1000,
    cap_ms: int = 300_000,
    window: int = 256,
    domain_col: str = "domain",
    seq_col: str = "seq",
    ok_col: str = "ok",
) -> DataFrame:
    """AIMD per-domain backoff from the visit log (the Heritrix-style
    reactive politeness the reference lacks — its delay is static,
    download.py:130): each error multiplies the domain's delay by
    ``mult`` (capped at ``cap_ms``), each success walks it back by
    ``dec_ms`` (floored at ``base_ms``), folded in visit order over the
    domain's LAST ``window`` outcomes. All integer milliseconds, so any
    engine re-derives the fold bit-exactly.

    Output ``(domain, n_visits, n_errors, delay_ms, crawl_delay)`` plugs
    straight into ``plan_schedule(domain_delays=...)`` (the robots
    Crawl-delay seam — the configured delay stays the floor there).

    Scale shape: the fold SEMANTICS are bounded by ``window`` per domain
    (a hub with 10^7 visits folds only its most recent outcomes — which
    is also the correct semantics: backoff should react to the server's
    current state, not its history), and since round 4f the fold's
    BUFFER is too: a salted pre-truncation keeps each (domain, salt)
    bucket's last ``window`` events first (any event in the true global
    last-window is also in its bucket's last-window, so the sorted slice
    is bit-identical — the domain_budget_prune argument), leaving the
    collect_list at most ``32 x window`` structs per domain; n_visits /
    n_errors come from a separate plain-sum aggregate over the full log
    (map-side combinable, no buffer)."""
    from pyspark.sql import Window

    dcol = F.col(domain_col)
    counts = visit_log.groupBy(dcol.alias("domain")).agg(
        F.count("*").cast("long").alias("n_visits"),
        F.sum((~F.col(ok_col)).cast("long")).cast("long").alias("n_errors"),
    )
    salt = F.pmod(F.xxhash64(F.col(seq_col)), F.lit(32))
    w1 = Window.partitionBy(dcol, "_salt").orderBy(F.col(seq_col).desc())
    recent = (
        visit_log.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= int(window))
        .drop("_salt", "_rn")
    )
    ev = F.sort_array(
        F.collect_list(F.struct(F.col(seq_col).alias("s"), F.col(ok_col).alias("k")))
    )
    n = F.size(ev)
    last = F.slice(ev, F.greatest(n - F.lit(window) + 1, F.lit(1)), F.lit(window))
    codes = F.transform(last, lambda e: F.when(e["k"], F.lit(1)).otherwise(F.lit(0)))
    delay_ms = F.aggregate(
        codes,
        F.lit(base_ms).cast("long"),
        lambda acc, e: F.when(
            e == 1, F.greatest(acc - F.lit(dec_ms), F.lit(base_ms).cast("long"))
        ).otherwise(F.least(acc * F.lit(mult), F.lit(cap_ms).cast("long"))),
    )
    agg = recent.groupBy(dcol.alias("domain")).agg(delay_ms.alias("delay_ms"))
    return agg.join(counts, "domain").select(
        "domain",
        "n_visits",
        "n_errors",
        F.col("delay_ms").cast("long").alias("delay_ms"),
        (F.col("delay_ms") / 1000.0).alias("crawl_delay"),
    )


def politeness_audit(
    visit_log: DataFrame,
    default_delay_ms: int,
    domain_delays: DataFrame | None = None,
    domain_col: str = "domain",
    ts_col: str = "ts_ms",
) -> DataFrame:
    """Audit an EXECUTED crawl against its politeness contract: per
    domain, order visits by time and flag every consecutive gap shorter
    than the domain's required delay — the closing piece of the plan ->
    execute -> audit loop (plan_schedule promises spacing; this verifies
    the visit log kept it, e.g. after a resume, a clock skew, or a
    misconfigured override). Returns ``(domain, n_visits, delay_ms,
    min_gap_ms, n_violations)``; a clean crawl audits to
    ``n_violations = 0`` everywhere.

    ``domain_delays`` is the same broadcast-able ``(domain, crawl_delay)``
    seconds table plan_schedule consumes (robots Crawl-delay /
    Retry-After / AIMD outputs all land in that shape); the scalar
    default is the floor. Integer-millisecond arithmetic throughout.
    One domain-keyed window + one map-side-combinable groupBy."""
    from pyspark.sql import Window

    d = F.col(domain_col)
    log = visit_log.select(d.alias("domain"), F.col(ts_col).cast("long").alias("_ts"))
    if domain_delays is not None:
        dd = domain_delays.select(
            "domain",
            (F.col("crawl_delay") * 1000).cast("long").alias("_dly"),
        )
        log = log.join(F.broadcast(dd), "domain", "left")
    else:
        log = log.withColumn("_dly", F.lit(None).cast("long"))
    req = F.greatest(
        F.coalesce(F.col("_dly"), F.lit(0).cast("long")),
        F.lit(int(default_delay_ms)).cast("long"),
    )
    w = Window.partitionBy("domain").orderBy(F.col("_ts").asc())
    gap = F.col("_ts") - F.lag("_ts").over(w)
    flagged = log.select(
        "domain",
        req.alias("delay_ms"),
        gap.alias("_gap"),
    )
    return flagged.groupBy("domain", "delay_ms").agg(
        (F.count("*")).cast("long").alias("n_visits"),
        F.min("_gap").alias("min_gap_ms"),
        F.sum(
            F.when(F.col("_gap") < F.col("delay_ms"), 1).otherwise(0)
        ).cast("long").alias("n_violations"),
    )
