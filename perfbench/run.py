"""The frontier engine's benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload fused_frontier --seed 1 --seconds 1 --trace 0

Runs one seeded workload, checks every timed execution's output, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate
traced run. See README.md in this directory for the workloads, the
metric map and the baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402

sys.path.insert(0, host.ROOT)

# workload parameters (README.md gives the reasons for each)
FUSED_ROWS = 150_000
FUSED_WARMUP_ROWS = 20_000
CRAWL_PAGES = 2000
CRAWL_SEEDS = 250
CRAWL_BATCH = 1000  # the reference Queue default
CRAWL_SUPERSTEPS = 1
SETUP_SAMPLES = 3

WORKLOADS = ("fused_frontier", "crawl_narrow")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(extra_conf: dict | None = None):
    from webscraping_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark(app_name="perfbench", extra_conf={**conf, **(extra_conf or {})})


def warm_workers(spark) -> None:
    """Start an Arrow Python worker on every core (bench.py's warm query)."""
    from pyspark.sql import functions as F

    from webscraping_spark.functions import udfs

    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 2000).repartition(cores).select(
        udfs.canonicalize_url_udf(
            F.lit("http://w.com/a/b.html"), F.concat(F.lit("../x"), F.col("id").cast("string"))
        ).alias("u")
    ).count()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Fused:
    """fused_frontier: repeated fused supersteps over one generated frontier."""

    # the JIT is still warming over the first full-size executions, so
    # every run times the same one
    min_runs = 1

    def __init__(self, seed: int):
        self.seed, self.rows = seed, FUSED_ROWS

    def prepare(self, spark) -> None:
        import fused

        fused.materialize_frontier(spark, FUSED_ROWS, self.seed)
        self.ref = fused.reference(spark, FUSED_ROWS, self.seed)
        with open(os.path.join(HERE, "pinned.json")) as fh:
            self.pinned = json.load(fh).get(f"{FUSED_ROWS}:{self.seed}")

    def resolve(self, spark) -> None:
        import fused

        spark.read.parquet(fused.frontier_path(FUSED_ROWS, self.seed)).count()

    def warm_execution(self, spark) -> None:
        import fused

        from pyspark.sql import functions as F

        warm_workers(spark)
        head = spark.read.parquet(fused.frontier_path(FUSED_ROWS, self.seed)).filter(
            F.col("seq") < FUSED_WARMUP_ROWS
        )
        fused.build(spark, FUSED_ROWS, self.seed, head).write.format("noop").mode("overwrite").save()

    def execute(self, spark) -> tuple[float, dict, list[str]]:
        import fused

        df, obs = fused.observed(fused.build(spark, FUSED_ROWS, self.seed))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        got = obs.get
        errors = fused.check(got, self.ref, self.pinned)
        # a seed outside the pinned table is held to its first execution
        self.pinned = self.pinned or {"fp": got["fp"]}
        counts = {"urls": FUSED_ROWS, "pages": got["rows"] // 2, "supersteps": 1}
        return wall, counts, errors


class Crawl:
    """crawl_narrow: repeated checkpointed crawls over one generated site."""

    min_runs = 1

    def __init__(self, seed: int):
        import crawling

        self.inputs = crawling.CrawlInputs(
            CRAWL_PAGES, CRAWL_SEEDS, seed, CRAWL_BATCH, CRAWL_SUPERSTEPS
        )
        self.ckpt = os.path.join(host.WORK, "ckpt")

    def prepare(self, spark) -> None:
        self.inputs.materialize()
        self.expected = self.inputs.expected(spark)

    def resolve(self, spark) -> None:
        self.frames = self.inputs.frames(spark)
        self.frames[0].count()

    def warm_execution(self, spark) -> None:
        warm_workers(spark)

    def execute(self, spark) -> tuple[float, dict, list[str]]:
        import crawling

        pages, robots = self.frames
        t0 = time.perf_counter()
        job = crawling.run_crawl(spark, self.inputs, pages, robots, self.ckpt)
        wall = time.perf_counter() - t0
        counts = {
            "urls": self.expected["links_extracted"],
            "pages": len(self.expected["visit_order"]),
            "supersteps": job.metrics.supersteps,
        }
        return wall, counts, crawling.check(spark, job, self.ckpt, self.expected)


def set_up(workload, extra_conf: dict | None = None) -> tuple[object, float, list[float], float]:
    """Start the session, resolve the inputs and warm the workers
    SETUP_SAMPLES times, then run one warm-up execution. Returns (spark,
    session seconds, resolve samples, warm-up seconds); the generator and
    oracle are excluded."""
    t0 = time.perf_counter()
    spark = start_session(extra_conf)
    session_s = time.perf_counter() - t0
    workload.prepare(spark)
    samples = []
    for _ in range(SETUP_SAMPLES):
        t0 = time.perf_counter()
        workload.resolve(spark)
        samples.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    workload.warm_execution(spark)
    return spark, session_s, samples, time.perf_counter() - t0


def measure(spark, workload, seconds: float):
    """Execute the workload until ``seconds`` have passed and at least
    ``workload.min_runs`` executions are done."""
    runs = []
    deadline = time.perf_counter() + seconds
    while len(runs) < workload.min_runs or time.perf_counter() < deadline:
        try:
            wall, counts, errors = workload.execute(spark)
        except Exception as exc:  # a raising run counts as failed
            print(f"# run failed: {exc!r}", file=sys.stderr)
            runs.append(None)
            continue
        for e in errors:
            print(f"# output mismatch: {e}", file=sys.stderr)
        runs.append((wall, counts, not errors))
    return runs


def end_to_end(runs, setup_s) -> dict:
    """Medians over the runs that passed their check (zeros if none did;
    the result then says correct: false)."""
    ok = [r for r in runs if r is not None and r[2]]
    wall = statistics.median(w for w, _, _ in ok) if ok else 0.0
    counts = ok[0][1] if ok else {"urls": 0, "pages": 0, "supersteps": 1}
    return {
        "frontier_urls_per_sec": metric(counts["urls"] / wall if ok else 0.0, "1/s"),
        "crawl_pages_per_sec": metric(counts["pages"] / wall if ok else 0.0, "1/s"),
        "superstep_s": metric(wall / counts["supersteps"], "s"),
        "setup_s": metric(setup_s, "s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    env = host.pin_environment()
    try:
        import webscraping_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2
    load = host.HostLoad()
    import tracing

    workload = Fused(args.seed) if args.workload == "fused_frontier" else Crawl(args.seed)
    if args.trace:
        result = tracing.traced(args, workload, set_up, measure)
    else:
        spark, session_s, samples, warm_s = set_up(workload)
        runs = measure(spark, workload, args.seconds)
        host.stop_spark(spark)
        failed = sum(1 for r in runs if r is None or not r[2])
        result = {
            "correct": failed == 0,
            "attempted": len(runs),
            "failed": failed,
            "metrics": end_to_end(runs, session_s + statistics.median(samples) + warm_s),
        }
        ok = [r[0] for r in runs if r is not None and r[2]]
        if ok:
            tracing.record_untraced(args.workload, statistics.median(ok))
        walls = [round(r[0], 4) for r in runs if r is not None]
        print("# runs " + json.dumps({"walls_s": walls, "session_s": session_s,
                                        "resolve_s": samples, "warmup_s": warm_s}))
    print("# host " + json.dumps({**env, **load.snapshot(), "workload": args.workload,
                                  "seed": args.seed}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
