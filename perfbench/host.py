"""Host pinning and host-side measurements: environment, load, steal, RSS.

Every file the benchmark writes goes under ``WORK`` inside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# heap that leaves room for the Python workers and the page cache on a
# 15 GB host (session.py would otherwise start a 24g JVM)
DRIVER_MEMORY = "4g"


def pin_environment() -> dict:
    """Pin the host configuration before any Spark import; returns it."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the JVM extracts native codecs to java.io.tmpdir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # Python workers import the engine from the checkout
        "PYTHONPATH": ROOT,
    }
    os.environ.update(env)
    env["local_dir_fs"] = _fs_type(WORK)
    return env


def _fs_type(path: str) -> str:
    best, fs = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                best, fs = parts[1], parts[2]
    return fs


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostLoad:
    """Load average and CPU steal over an interval."""

    def __init__(self):
        self.t0 = _cpu_times()

    def snapshot(self) -> dict:
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self.t0, t1)]
        total = sum(delta) or 1
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
        # /proc/stat columns: user nice system idle iowait irq softirq steal
        return {
            "loadavg_1m": load1,
            "steal_pct": round(100.0 * delta[7] / total, 2),
            "idle_pct": round(100.0 * delta[3] / total, 2),
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants() -> list[int]:
    """Every process below this one: the driver JVM and the Python workers
    it forks."""
    kids = _children()
    stack, found = list(kids.get(os.getpid(), [])), []
    while stack:
        pid = stack.pop()
        found.append(pid)
        stack.extend(kids.get(pid, []))
    return found


def descendants_rss_mb() -> float:
    """RSS of ``descendants()`` (this process, which holds the oracle, is
    excluded)."""
    return sum(_rss_kb(pid) for pid in descendants()) / 1024.0


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until every process it
    started has exited."""
    from pyspark import SparkContext

    procs = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            jvm.wait(timeout)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + timeout
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)


class RssSampler:
    """Peak of ``descendants_rss_mb`` sampled from a background thread."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, descendants_rss_mb())
