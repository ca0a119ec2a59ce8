"""Spark plumbing for the benchmark: session set-up, job groups, executed-plan
metrics, the measured window (CPU counters, Python worker memory), and a clean
shutdown.

Functions the Python workers must unpickle live in this module, so the
benchmark directory is on the workers' PYTHONPATH (see run.py).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager, nullcontext

import pandas as pd  # module-level: pandas_udf resolves type hints here
from pyspark.sql import functions as F


def _warm_kernels(v: pd.Series) -> pd.Series:
    # The same imports the flagship UDF pays on first use in a worker.
    from docling_metrics_spark.operators import udfs  # noqa: F401

    return v * 1.0


def set_up_session(master: str, n_cores: int, tracer=None):
    """One set-up: session start (``build_session``) plus Python worker
    warm-up, i.e. one task per core that imports the kernels. Returns
    ``(spark, start_s, warm_s)``."""
    from docling_metrics_spark.session import build_session

    def span(name):
        return tracer.span(name) if tracer else nullcontext()

    t0 = time.perf_counter()
    with span("session.build_session"):
        spark = build_session(master=master, shuffle_partitions=2 * n_cores)
    t1 = time.perf_counter()
    with span("session.worker_warm"):
        warm = F.pandas_udf(_warm_kernels, "double")
        (spark.range(n_cores, numPartitions=n_cores)
         .select(F.sum(warm(F.col("id").cast("double")))).collect())
    return spark, t1 - t0, time.perf_counter() - t1


@contextmanager
def job_group(spark, name: str, counts: dict):
    """Tag the Spark jobs started inside the block and add their number to
    ``counts[name]``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        counts[name] = counts.get(name, 0) + len(
            sc.statusTracker().getJobIdsForGroup(name))
        sc._jsc.clearJobGroup()


def _nodes(plan):
    yield plan
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _nodes(plan.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _nodes(plan.plan())
        return
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def execute_with_metrics(df) -> list[tuple[str, dict]]:
    """Execute ``df``'s physical plan once (every column is computed: the
    rows are produced, then counted) and return each plan node's SQL
    metrics, timings converted to seconds and sizes left in bytes."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    out = []
    for node in _nodes(qe.executedPlan()):
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            value, kind = m.value(), m.metricType()
            if kind == "timing":
                value = value / 1e3
            elif kind == "nsTiming":
                value = value / 1e9
            metrics[kv._1()] = value
        out.append((node.nodeName(), metrics))
    return out


def node_metric(nodes, node_prefix: str, metric: str) -> float:
    return float(sum(m.get(metric, 0) for name, m in nodes
                     if name.startswith(node_prefix)))


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    """Every process this one started, directly or not."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _busy(ticks: list[int]) -> int:
    # user, nice, system, irq, softirq; not idle, iowait or steal
    return ticks[0] + ticks[1] + ticks[2] + ticks[5] + ticks[6]


def busy_cpu_s() -> float:
    """The host's busy CPU seconds so far, summed over its cores."""
    return _busy(_cpu_ticks()) / os.sysconf("SC_CLK_TCK")


class Window:
    """The measured window of a run, for the record. Reads the host's CPU
    counters at entry and exit (time the hypervisor gave to other machines
    shows as steal), and samples the RSS of this process tree's Python
    workers (``pyspark.daemon`` and the workers it forks) every 200 ms."""

    def __init__(self):
        self.rss_peak = self.rss_peak_sum = self.max_workers = 0
        self.cpu_share: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self):
        while not self._stop.is_set():
            rss = [_rss_bytes(p) for p in descendants() if "pyspark" in _cmdline(p)]
            if rss:
                self.rss_peak = max(self.rss_peak, max(rss))
                self.rss_peak_sum = max(self.rss_peak_sum, sum(rss))
                self.max_workers = max(self.max_workers, len(rss))
            self._stop.wait(0.2)

    def __enter__(self):
        self._ticks = _cpu_ticks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        d = [b - a for a, b in zip(self._ticks, _cpu_ticks())]
        total = sum(d) or 1
        self.cpu_share = {"busy": _busy(d) / total, "idle": (d[3] + d[4]) / total,
                          "steal": d[7] / total}

    def summary(self) -> dict:
        return {"cpu_share": self.cpu_share,
                "py_worker_peak_rss_mb": self.rss_peak / 1e6,
                "py_workers_peak_sum_rss_mb": self.rss_peak_sum / 1e6,
                "py_workers_max_alive": self.max_workers}


def foreign_spark_processes() -> list[dict]:
    """Spark JVMs and Python worker daemons on this host that this process
    did not start: they would share the cores being measured."""
    mine = set(descendants()) | {os.getpid()}
    found = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in mine:
            cmd = _cmdline(int(d))
            if "pyspark.daemon" in cmd or "org.apache.spark" in cmd:
                found.append({"pid": int(d), "cmd": cmd[:120]})
    return found


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait until every process this one
    started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=10)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while descendants() and time.time() < deadline:
        time.sleep(0.05)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
