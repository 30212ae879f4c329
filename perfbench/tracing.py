"""The traced run: per-layer metrics for one workload.

End-to-end numbers never come from here. This run turns on Spark's UI (for
its status REST API) and adds its own spans around the same timed
executions the end-to-end run makes, in the same position after set-up;
``trace.overhead_s`` is their median wall minus the median of the untraced
runs recorded in this checkout (0 when none is recorded yet).

- fused_frontier: each layer's input is materialized under the work
  directory, then each public call is timed together with its noop action,
  with row counts from ``observe()`` in the same action.
- crawl workloads: spans from this file wrap the public calls the crawl
  makes, and a sampler attributes the driver thread's remaining wall time
  to the crawl-loop phase on its stack. Spark executes lazily, so a lazy
  call's span holds only its planning; the execution it defers is charged
  to the phase whose action runs it (claim, pin collect, fetch).
- all workloads: job, stage and SQL-node metrics from the REST API.
"""

from __future__ import annotations

import collections
import json
import os
import re
import socket
import statistics
import sys
import threading
import time
import urllib.request
from datetime import datetime, timezone

from host import WORK

PER_LAYER = {
    # name: unit
    "session.start_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "udfs.canon_frontier_s": "s", "udfs.canon_links_s": "s", "udfs.domain_s": "s",
    "udfs.canon_rows_in": "count", "udfs.python_rows": "count",
    "udfs.python_ratio": "ratio", "udfs.links_extracted": "count",
    "seen.probe_s": "s", "seen.add_s": "s", "seen.rows_in": "count",
    "seen.rows_unseen": "count", "seen.hit_ratio": "ratio",
    "seen.broadcast_build_s": "s", "seen.broadcast_mb": "MB",
    "politeness.plan_s": "s", "politeness.rows": "count", "politeness.domains": "count",
    "politeness.max_domain_rows": "count", "politeness.makespan_s": "s",
    "politeness.shuffle_write_mb": "MB",
    "fetch.join_s": "s", "fetch.hit_ratio": "ratio", "fetch.shuffle_write_mb": "MB",
    "frontier.pull_s": "s", "frontier.push_s": "s",
    "frontier.rows_pulled": "count", "frontier.rows_pushed": "count",
    "robots.gate_s": "s", "robots.blocked": "count",
    "crawl.supersteps": "count", "crawl.jobs_per_superstep": "count",
    "crawl.pin_collect_s": "s", "crawl.claim_s": "s", "crawl.driver_self_s": "s",
    "snapshots.commits": "count", "snapshots.commit_s": "s",
    "snapshots.files_written": "count", "snapshots.mb_written": "MB",
    "snapshots.restore_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.broadcast_build_s": "s", "spark.broadcast_mb": "MB",
    "trace.coverage_ratio": "ratio", "trace.overhead_s": "s",
}

MB = 1e6


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("localhost", 0))
        return s.getsockname()[1]


# ------------------------------------------------------------- REST API


class Rest:
    """Spark's status REST API for the running application."""

    def __init__(self, spark):
        url = spark.sparkContext.uiWebUrl
        self.base = f"{url}/api/v1/applications/{spark.sparkContext.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as fh:
            return json.load(fh)

    def jobs(self, since: float) -> list[dict]:
        return [j for j in self.get("jobs") if _epoch(j["submissionTime"]) >= since]

    def stage_totals(self, jobs: list[dict]) -> dict:
        """CPU, GC, shuffle and spill over the stages of ``jobs``."""
        wanted = {s for j in jobs for s in j["stageIds"]}
        tot = collections.Counter()
        for s in self.get("stages"):
            if s["stageId"] not in wanted or s["status"] != "COMPLETE":
                continue
            tot["tasks"] += s["numCompleteTasks"]
            tot["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            tot["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            tot["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / MB
            tot["spill_mb"] += (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / MB
        return tot

    def sql_nodes(self, jobs: list[dict]) -> list[dict]:
        """SQL plan nodes of the executions that ran ``jobs``."""
        ids = {j["jobId"] for j in jobs}
        nodes = []
        for ex in self.get("sql?details=true&planDescription=false&length=100000"):
            if ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                nodes.extend(ex.get("nodes", []))
        return nodes


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def node_metric(node: dict, name: str) -> float:
    """A SQL node metric as a number: rows, bytes or seconds. Aggregated
    metrics read 'total (min, med, max ...)\\n12.3 MiB (...)'; the total
    is the first quantity after the header."""
    for m in node.get("metrics", []):
        if m["name"] != name:
            continue
        value = m["value"].split("\n")[-1] if "\n" in m["value"] else m["value"]
        match = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", value)
        if not match:
            return 0.0
        number = float(match.group(1).replace(",", ""))
        return number * _UNITS.get(match.group(2), 1.0)
    return 0.0


def python_rows(nodes: list[dict]) -> float:
    """Rows that crossed into Python (every ArrowEvalPython execution)."""
    return sum(
        node_metric(n, "number of output rows") for n in nodes if n["nodeName"] == "ArrowEvalPython"
    )


def broadcasts(nodes: list[dict]) -> tuple[float, float]:
    """(build seconds, MB) summed over BroadcastExchange nodes."""
    bcast = [n for n in nodes if n["nodeName"] == "BroadcastExchange"]
    return (
        sum(node_metric(n, "time to build") for n in bcast),
        sum(node_metric(n, "data size") for n in bcast) / MB,
    )


def spark_totals(rest: Rest, jobs: list[dict]) -> dict:
    tot = rest.stage_totals(jobs)
    build_s, mb = broadcasts(rest.sql_nodes(jobs))
    return {
        "spark.broadcast_build_s": build_s,
        "spark.broadcast_mb": mb,
        "spark.jobs": len(jobs),
        "spark.tasks": tot["tasks"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_write_mb": tot["shuffle_write_mb"],
        "spark.spill_mb": tot["spill_mb"],
    }


# ---------------------------------------------------------- fused layers


def trace_fused(spark, workload, rest: Rest, measure) -> tuple[dict, float, list]:
    """Run the timed executions traced, then time each layer of the fused
    pipeline on a materialized input. Returns (metrics, summed layer
    seconds, the timed runs)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import fused

    n, seed = workload.rows, workload.seed
    sc = spark.sparkContext
    root = os.path.join(WORK, "trace")

    def stage(layer: str, df_in, op, *aggs):
        """Time ``op(df_in)`` with its noop action; materialize its output
        (untimed) as the next layer's input. Returns (seconds, observed
        values, the layer's Spark jobs, the materialized output)."""
        sc.setJobGroup(layer, layer)
        obs = Observation(layer.replace(".", "_"))
        out = op(df_in).observe(obs, F.count(F.lit(1)).alias("rows"), *aggs)
        t0 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        seconds = time.perf_counter() - t0
        jobs = [j for j in rest.get("jobs") if j.get("jobGroup") == layer]
        sc.setJobGroup("trace.materialize", "trace.materialize")
        path = os.path.join(root, layer)
        op(df_in).write.mode("overwrite").parquet(path)
        return seconds, obs.get, jobs, spark.read.parquet(path)

    sc.setJobGroup("fused.full", "fused.full")
    runs = measure(spark, workload, 0)
    m = spark_totals(rest, [j for j in rest.get("jobs") if j.get("jobGroup") == "fused.full"])

    frontier = spark.read.parquet(fused.frontier_path(n, seed))
    t_canon, o_canon, jobs_canon, canon = stage("udfs.canon_frontier", frontier, fused.canon_frontier)
    t_dom, _, _, keyed = stage("udfs.domain", canon, fused.add_domain)
    t_seen, o_seen, jobs_seen, unseen = stage(
        "seen.probe", keyed, lambda d: fused.seen_probe(spark, d, n, seed)
    )
    t_plan, o_plan, jobs_plan, planned = stage(
        "politeness.plan", unseen, lambda d: fused.plan(spark, d),
        F.max("scheduled_offset").alias("makespan"),
    )
    t_fetch, o_fetch, jobs_fetch, fetched = stage(
        "fetch.join", planned, lambda d: fused.fetch(spark, d, n, seed),
        F.count("serve_html").alias("hits"),
    )
    t_links, o_links, jobs_links, _ = stage("udfs.canon_links", fused.extract(fetched), fused.canon_links)
    per_domain = planned.groupBy("domain").count().agg(
        F.count(F.lit(1)).alias("domains"), F.max("count").alias("max_rows")
    ).first()
    seen_build_s, seen_mb = broadcasts(rest.sql_nodes(jobs_seen))
    m.update({
        "udfs.canon_frontier_s": t_canon,
        "udfs.canon_links_s": t_links,
        "udfs.domain_s": t_dom,
        "udfs.canon_rows_in": o_canon["rows"] + o_links["rows"],
        "udfs.python_rows": python_rows(rest.sql_nodes(jobs_canon + jobs_links)),
        "udfs.links_extracted": o_links["rows"],
        "seen.probe_s": t_seen,
        "seen.rows_in": o_canon["rows"],
        "seen.rows_unseen": o_seen["rows"],
        "seen.broadcast_build_s": seen_build_s,
        "seen.broadcast_mb": seen_mb,
        "politeness.plan_s": t_plan,
        "politeness.rows": o_plan["rows"],
        "politeness.domains": per_domain["domains"],
        "politeness.max_domain_rows": per_domain["max_rows"],
        "politeness.makespan_s": o_plan["makespan"] or 0.0,
        "politeness.shuffle_write_mb": rest.stage_totals(jobs_plan)["shuffle_write_mb"],
        "fetch.join_s": t_fetch,
        "fetch.hit_ratio": o_fetch["hits"] / max(o_fetch["rows"], 1),
        "fetch.shuffle_write_mb": rest.stage_totals(jobs_fetch)["shuffle_write_mb"],
    })
    m["udfs.python_ratio"] = m["udfs.python_rows"] / max(m["udfs.canon_rows_in"], 1)
    m["seen.hit_ratio"] = 1.0 - m["seen.rows_unseen"] / max(m["seen.rows_in"], 1)
    return m, t_canon + t_dom + t_seen + t_plan + t_fetch + t_links, runs


# ---------------------------------------------------------- crawl spans


class CrawlTracer:
    """Spans around the crawl's public calls plus a driver-stack sampler."""

    # crawl-loop phases, by the CrawlJob method on the driver's stack
    PHASES = {"_fetch_and_account": "fetch.join_s", "_extract_links": "udfs.canon_links_s",
              "_claim_and_cap": "crawl.claim_s"}

    def __init__(self, period: float = 0.005):
        self.period = period
        self.stack: list[str] = []
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.sampled = collections.Counter()
        self.counts = collections.Counter()
        self._undo = []
        self._main = threading.main_thread().ident
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def wrap(self, owner, attr: str, layer: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced_call(*args, **kwargs):
            parent = tracer.stack[-1] if tracer.stack else None
            tracer.stack.append(layer)
            start = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.stack.pop()
                tracer.spans.append((layer, start, time.perf_counter(), parent))
            if after is not None:
                after(tracer, args, out)
            return out

        setattr(owner, attr, traced_call)
        self._undo.append((owner, attr, orig))

    def _phase(self) -> str | None:
        frame = sys._current_frames().get(self._main)
        while frame is not None:
            code = frame.f_code
            if code.co_filename.endswith(os.path.join("plans", "crawl.py")):
                if code.co_name in self.PHASES:
                    return self.PHASES[code.co_name]
                if code.co_name == "run":
                    import linecache

                    line = linecache.getline(code.co_filename, frame.f_lineno)
                    return "crawl.pin_collect_s" if ".collect()" in line else "crawl.driver_self_s"
            frame = frame.f_back
        return None

    def _sample(self) -> None:
        last = time.perf_counter()
        while not self._stop.wait(self.period):
            now = time.perf_counter()
            try:
                key = self.stack[-1]
            except IndexError:  # no span open (or it closed meanwhile)
                key = self._phase()
            self.sampled[key] += now - last
            last = now

    def __enter__(self) -> "CrawlTracer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)


def _after_push(tracer, args, out) -> None:
    tracer.counts["rows_pushed"] += out.next_seq - args[0].next_seq


def _after_commit(tracer, args, version) -> None:
    manifest = args[0].read_manifest(version)
    tracer.counts["commits"] += 1
    tracer.counts["files"] += len(manifest["files"])
    tracer.counts["bytes"] += sum(f["bytes"] for f in manifest["files"])


def trace_crawl(spark, workload, rest: Rest) -> tuple[dict, float, list]:
    """One traced crawl, checked. Returns (metrics, attributed seconds,
    the timed run)."""
    import crawling
    from webscraping_spark.functions import udfs
    from webscraping_spark.operators import frontier, politeness, seen
    from webscraping_spark.plans import crawl
    from webscraping_spark.sources import snapshots

    tracer = CrawlTracer()
    tracer.wrap(frontier.Frontier, "pull", "frontier.pull_s")
    tracer.wrap(frontier.Frontier, "push", "frontier.push_s", _after_push)
    tracer.wrap(seen.ExactSeenSet, "filter_unseen", "seen.probe_s")
    tracer.wrap(seen.ExactSeenSet, "add", "seen.add_s")
    tracer.wrap(politeness, "plan_schedule", "politeness.plan_s")
    tracer.wrap(crawl, "robots_gate", "robots.gate_s")
    tracer.wrap(udfs, "canonicalize_split", "udfs.canon_links_s")
    tracer.wrap(snapshots.SnapshotTable, "commit", "snapshots.commit_s", _after_commit)
    tracer.wrap(snapshots.SnapshotCatalog, "save_state", "snapshots.commit_s")

    pages, robots = workload.frames
    since = time.time()
    t0 = time.perf_counter()
    with tracer:
        job = crawling.run_crawl(spark, workload.inputs, pages, robots, workload.ckpt)
    wall = time.perf_counter() - t0
    jobs = rest.jobs(since)
    errors = crawling.check(spark, job, workload.ckpt, workload.expected)
    for e in errors:
        print(f"# output mismatch: {e}", file=sys.stderr)

    t0 = time.perf_counter()
    crawl.CrawlJob(spark, pages, job.cfg, robots=robots).restore(workload.ckpt)
    restore_s = time.perf_counter() - t0

    exp = workload.expected
    visits = exp["visit_order"]
    per_domain = collections.Counter(u.split("/")[2] for u in visits)
    pulls = sum(1 for s in tracer.spans if s[0] == "frontier.pull_s")
    m = {k: v for k, v in tracer.sampled.items() if k in PER_LAYER}
    m["udfs.python_rows"] = python_rows(rest.sql_nodes(jobs))
    m.update(spark_totals(rest, jobs))
    m.update({
        "udfs.canon_rows_in": exp["links_extracted"],
        "udfs.links_extracted": exp["links_extracted"],
        "seen.rows_in": exp["links_extracted"],
        "seen.rows_unseen": len(exp["seen"]),
        "politeness.rows": len(visits),
        "politeness.domains": len(per_domain),
        "politeness.max_domain_rows": max(per_domain.values()),
        "politeness.makespan_s": job.metrics.planned_makespan_sec,
        "fetch.hit_ratio": (job.metrics.num_downloads + job.metrics.num_caches) / len(visits),
        "frontier.rows_pulled": len(visits),
        "frontier.rows_pushed": tracer.counts["rows_pushed"],
        "robots.blocked": exp["robots_blocked"],
        "crawl.supersteps": pulls,
        "crawl.jobs_per_superstep": len(jobs) / max(pulls, 1),
        "snapshots.commits": tracer.counts["commits"],
        "snapshots.files_written": tracer.counts["files"],
        "snapshots.mb_written": tracer.counts["bytes"] / MB,
        "snapshots.restore_s": restore_s,
    })
    m["udfs.python_ratio"] = m["udfs.python_rows"] / max(m["udfs.canon_rows_in"], 1)
    m["seen.hit_ratio"] = 1.0 - m["seen.rows_unseen"] / max(m["seen.rows_in"], 1)
    attributed = sum(v for k, v in tracer.sampled.items() if k is not None)
    return m, attributed, [(wall, {}, not errors)]


# ---------------------------------------------------------------- driver


UNTRACED = os.path.join(WORK, "untraced.jsonl")


def record_untraced(workload: str, wall: float) -> None:
    """Append an untraced run's median wall, the overhead's reference."""
    with open(UNTRACED, "a") as fh:
        fh.write(json.dumps({"workload": workload, "wall_s": wall}) + "\n")


def untraced_walls(workload: str) -> list[float]:
    if not os.path.exists(UNTRACED):
        return []
    with open(UNTRACED) as fh:
        rows = [json.loads(line) for line in fh]
    return [r["wall_s"] for r in rows if r["workload"] == workload]


def traced(args, workload, set_up, measure) -> dict:
    """Set up with the UI on, then run the timed executions traced."""
    from host import RssSampler, stop_spark

    with RssSampler() as rss:
        spark, session_s, samples, warm_s = set_up(
            workload, {"spark.ui.enabled": "true", "spark.ui.port": str(free_port())}
        )
        try:
            if args.workload == "fused_frontier":
                layers, attributed, runs = trace_fused(spark, workload, Rest(spark), measure)
            else:
                layers, attributed, runs = trace_crawl(spark, workload, Rest(spark))
        except Exception as exc:  # reported as a failed run, never as numbers
            print(f"# traced run failed: {exc!r}", file=sys.stderr)
            layers, attributed, runs = {}, 0.0, [None]
        finally:
            stop_spark(spark)
    ok = [r[0] for r in runs if r is not None and r[2]]
    wall = statistics.median(ok) if ok else 0.0
    untraced = untraced_walls(args.workload)
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(layers)
    metrics["session.start_s"] = session_s
    metrics["session.warmup_s"] = statistics.median(samples) + warm_s
    metrics["session.peak_rss_mb"] = rss.peak
    metrics["trace.coverage_ratio"] = attributed / wall if wall else 0.0
    metrics["trace.overhead_s"] = wall - statistics.median(untraced) if untraced and wall else 0.0
    failed = sum(1 for r in runs if r is None or not r[2])
    return {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in PER_LAYER.items()},
    }
