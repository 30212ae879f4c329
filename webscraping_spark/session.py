"""SparkSession factory with the engine's tuned defaults.

Local-mode sizing notes (this sandbox is local[32], 128 GiB, single JVM):
  - shuffle partitions default to 2x cores — small enough to avoid tiny-task
    overhead at test scale, and AQE coalesces further at runtime.
  - AQE on: runtime shuffle-partition coalescing + skew-join splitting are
    the free half of the hot-domain skew story (the other half, salting of
    applyInPandas politeness groups, is explicit in operators/politeness).
  - Arrow on: every Python crossing in this engine is an Arrow batch.
On a real cluster the same conf applies; only master/memory change (the job
is submitted via spark-submit --py-files, see bench.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _tune_worker_allocator() -> None:
    """Python workers inherit the driver env (local mode). Default pymalloc
    arenas mmap/munmap 256 KB blocks constantly; under a memory cgroup every
    returned page re-enters the kernel's memcg accounting on the next fault,
    which serializes at high core counts (measured: 2.5x slowdown at
    local[32], workers stuck in count_memcg_events). Keeping freed memory
    in-process removes the kernel from the loop."""
    os.environ.setdefault("PYTHONMALLOC", "malloc")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")


def _parse_jvm_mem(s: str) -> int:
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def _driver_heap_hint() -> int:
    """Best-effort driver heap size BEFORE the session exists, so static
    core confs (which cannot change once the context starts) can be sized
    to the heap they will actually run in. Under spark-submit the JVM is
    already up as our parent process with --driver-memory applied (default
    1g) — read its -Xmx from /proc; under plain `python` the builder's
    spark.driver.memory (SPARK_DRIVER_MEMORY, default 24g) will size the
    JVM we are about to launch."""
    if "PYSPARK_GATEWAY_PORT" in os.environ or "PYSPARK_GATEWAY_SECRET" in os.environ:
        try:
            with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
            for a in argv:
                if a.startswith(b"-Xmx"):
                    return _parse_jvm_mem(a[4:].decode())
        except OSError:
            pass
        return 1 << 30  # spark-submit's default --driver-memory 1g
    return _parse_jvm_mem(os.environ.get("SPARK_DRIVER_MEMORY", "24g"))


def get_spark(
    app_name: str = "webscraping_spark",
    master: str | None = None,
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _tune_worker_allocator()
    cores = cores or default_parallelism()
    master = master or f"local[{cores}]"
    # Catalyst's generated processNext for wide expression trees (the
    # tiered canonicalizer's predicate ladder compiles to ~28 KB) exceeds
    # HotSpot's 8 KB DontCompileHugeMethods limit, so the hot loop runs
    # INTERPRETED — measured 10-30x slower. Lifting the limit lets the JIT
    # compile it (the same knob large Spark deployments set by default).
    # Builder-set extraJavaOptions only applies when this process launches
    # the JVM (plain `python`); under spark-submit pass
    # --driver-java-options "-XX:-DontCompileHugeMethods" (bench_scaling
    # does).
    java_opts = "-XX:-DontCompileHugeMethods"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches: the Python<->JVM loopback round trip is
        # syscall-bound at high core counts (measured: 5k-row batches are
        # 2.3x slower than 100k at local[32]; r6 re-checked 400k with an
        # interleaved same-session A/B at 16M rows — statistically flat,
        # so 100k stays)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # local-bench tables are 100 MB-class: the 128 MB default packs a
        # whole table into 1-2 scan splits and serializes every downstream
        # map stage regardless of core count (measured: canonicalize at
        # local[16] == local[4]). 8 MB splits give full parallelism here;
        # at real 100-TB scale files are 128 MB-class and a cluster conf
        # would restore the default.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # same small-data trap on the shuffle side: AQE coalesces
        # post-shuffle partitions toward 64 MB, so a 400 MB shuffle runs
        # ~7 tasks no matter how many cores exist. 8 MB advisory keeps
        # every core busy at bench scale; a 100-TB cluster conf would
        # restore the default.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(8 * 1024 * 1024))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", str(1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # local-mode shuffle goes through spark.local.dir; on this box /dev/shm
    # is a 126 GB tmpfs — keeping shuffle files off the disk removes the
    # serial I/O bottleneck that otherwise caps multi-core scaling. On a
    # real cluster this conf is a no-op decision for the cluster manager.
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        local_dir = os.path.join(shm, "spark-local")
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
        # tmpfs-shuffle-specific: with shuffle files in RAM, lz4
        # compress/decompress is pure overhead (measured ~35% of the 64M
        # pipeline at local[16]) and the many small block writes serialize
        # on memcg page accounting (PLANS.md 17) — bigger file buffers
        # batch them. Both conditioned on the tmpfs local dir: on a real
        # cluster shuffle crosses disks/network, where compression wins
        # and these defaults would be wrong.
        builder = builder.config("spark.shuffle.compress", "false")
        # The 1 MB buffer is ALSO conditioned on the heap it must fit in:
        # the bypass-merge writer opens one buffered writer PER REDUCE
        # PARTITION per running task, all live at once — but ONLY for
        # shuffles at or below spark.shuffle.sort.bypassMergeThreshold
        # (200) partitions; wider shuffles use the sort-based writer with
        # one buffer per task. The widest shuffle in the engine is the
        # politeness window repartition (plan_schedule: SORT_WAVES x
        # cores normally, 16x cores on a small heap — mirror those
        # widths here; the heap rules must agree or the narrower windows
        # OOM on their own file buffers), CAPPED at the bypass threshold
        # because above it no per-partition buffers exist. Keep the big
        # buffer only when cores x widest-bypass-shuffle x 1 MB fits in
        # ~1/4 of the real heap (shuffle.file.buffer is a static core
        # conf: it cannot be corrected after the context starts). Under
        # spark-submit the JVM is already up with --driver-memory applied
        # (default 1g) — the builder's 24g is a no-op there.
        from webscraping_spark.operators.politeness import SORT_WAVES

        heap = _driver_heap_hint()
        width_mult = 16 if heap < (2 << 30) else SORT_WAVES
        bypass_threshold = 200  # spark.shuffle.sort.bypassMergeThreshold default
        candidates = [
            w for w in (cores * width_mult, cores * 2, 8) if w <= bypass_threshold
        ]
        worst_parts = max(candidates) if candidates else 0
        if cores * worst_parts * (1 << 20) <= heap // 4:
            builder = builder.config("spark.shuffle.file.buffer", "1m")
    # Tiny-heap survival (spark-submit default --driver-memory 1g; local
    # mode shares that heap across all executor threads): parquet's
    # vectored IO allocates per-range heap read buffers through a pool
    # that scales with concurrent scan tasks — observed heap-space OOM
    # inside VectorIoBridge.readVectoredRanges scanning a 256-file
    # frontier at local[32] x 1g. Sequential reads use one small buffered
    # stream per task instead. Wide heaps keep vectored IO (it overlaps
    # range reads; on tmpfs the win is small but real).
    if _driver_heap_hint() < (2 << 30):
        builder = builder.config(
            "spark.hadoop.parquet.hadoop.vectored.io.enabled", "false"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # spark.driver.memory set via builder is a no-op under spark-submit
    # (the JVM is already up), so the 64 MB broadcast threshold can exceed
    # what a default 1g driver can actually BUILD (HashedRelation memory is
    # several x the size estimate). Scale the threshold to the real heap:
    # a 24g driver keeps 64 MB; a 1g driver drops to ~32 MB and lets big
    # builds fall back to shuffle joins instead of dying.
    try:
        max_heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        thr = min(64 * 1024 * 1024, max(16 * 1024 * 1024, max_heap // 32))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(thr))
    except Exception:
        pass  # non-JVM backends (connect) — keep the builder default
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-local ``rows`` (tuples or Rows in
    ``schema`` order; ``schema`` a DDL string or StructType), shipped to
    the JVM once as an Arrow table.

    ``spark.createDataFrame(list)`` wraps the list in a Python RDD, so
    every action that reads the frame starts a Python worker per
    partition — ~0.7 s per read on 4 cores, several seconds cold, and the
    crawl reads its empty state frames and its claimed batch on most
    actions of a superstep. An Arrow-built frame is a JVM scan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
