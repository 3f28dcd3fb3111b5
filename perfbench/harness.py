"""Measurement plumbing shared by the workloads: the Spark session, the
host record, process-tree RSS sampling, and spans whose Spark counters are
read from Spark's own status store under a job group set around each span.

Nothing here instruments the program: every span wraps a call into one of
its public functions, and every counter comes from the AppStatusStore
(jobs, stages) or the SQL status store (Python SQL metrics) after the span
has ended, so reading them never lands inside a timed section.
"""

from __future__ import annotations

import itertools
import os
import re
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError

ROOT = Path(__file__).resolve().parent.parent

# Python SQL metrics of MapInArrow / ArrowEvalPython / MapInPandas nodes
# (Spark's PythonSQLMetrics), matched by their display name.
PY_TIME_METRICS = ("time to run Python workers",)
PY_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_VALUE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]+)?")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def timing_summary(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it; with fewer than eleven samples that is the maximum, named as such."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values)}
    top = next((p for p in (99.9, 99, 95, 90) if n * (1 - p / 100) >= 10), None)
    if top is None:
        out["max"] = max(values)
    else:
        out[f"p{top:g}"] = quantile(values, top / 100)
    return out


def _parse_metric(text: str) -> float:
    """First value of a formatted SQL metric ("1.2 s", "3.4 MiB", or the
    "total (min, med, max ...)" form whose total sits on the second line)."""
    lines = [ln for ln in str(text).splitlines() if ln.strip()]
    line = lines[-1] if lines and lines[0].startswith("total") else (lines[0] if lines else "")
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# ---- host ----------------------------------------------------------------


def host_record(spark, cores: int) -> dict:
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "local_cores": cores,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": jvm.System.getProperty("java.version"),
        "loadavg_before": list(os.getloadavg()),
    }


def descendants(root: int) -> list[int]:
    """root and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Peak RSS of this process tree (driver, JVM, Python workers), sampled
    on a background thread between start() and stop()."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---- session -------------------------------------------------------------


def start_session(work: Path, cores: int):
    """local[cores] session whose scratch space stays under `work`."""
    from go_lsh_spark.session import build_session  # noqa: PLC0415

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = build_session(
        app_name="go-lsh-spark-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    # what the operation produced, filled in after the span has ended
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {
            "name": self.name, "trace_id": self.trace_id, "span_id": self.span_id,
            "parent": self.parent, "start": self.start, "end": self.end,
            "counters": self.counters, "attrs": self.attrs,
        }


class Tracer:
    """Spans kept in memory: each sets its own Spark job group, so the jobs
    it launched can be found in the status store once it has ended.
    `resolve()` reads those counters; call it outside any timed region."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._seen_stages: set[tuple[int, int]] = set()
        self._sql_seen = self._sql_store().executionsCount()

    @contextmanager
    def span(self, name: str, trace_id: str):
        parent = self._stack[-1] if self._stack else None
        span_id = next(self._ids)
        sp = Span(name, trace_id, span_id, parent.span_id if parent else None,
                  f"perfbench-{trace_id}-{span_id}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _job_store(self):
        return self.sc._jsc.sc().statusStore()

    def jobs_in_window(self, start: float, end: float) -> list[int]:
        """Jobs submitted between two wall-clock times, whatever thread or
        job group launched them (a stream's microbatch thread, say)."""
        out = []
        it = self._job_store().jobsList(None).iterator()
        while it.hasNext():
            jd = it.next()
            sub = jd.submissionTime()
            if sub.isDefined() and start <= sub.get().getTime() / 1e3 <= end:
                out.append(int(jd.jobId()))
        return out

    def job_counters(self, job_ids: list[int], start: float, end: float) -> dict:
        """Spark counters of the given jobs' stages, the part of [start,
        end] no job covers (driver_gap_s), and each call site's share."""
        store = self._job_store()
        c = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "cpu_s": 0.0,
             "run_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
        intervals, sites = [], {}
        for j in job_ids:
            jd = store.job(j)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                t1 = comp.get().getTime() / 1e3 if comp.isDefined() else end
                intervals.append((max(sub.get().getTime() / 1e3, start), min(t1, end)))
            # the job's name is its call site, "collect at <file>:<line>":
            # the program function (or the caller's action) that launched it
            site = sites.setdefault(str(jd.name()).replace(str(ROOT) + os.sep, ""),
                                    {"jobs": 0, "run_s": 0.0})
            site["jobs"] += 1
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store or never ran
                    c["stages_missing"] = c.get("stages_missing", 0) + 1
                    continue
                key = (sid, sd.attemptId())
                if key in self._seen_stages or str(sd.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(key)
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["run_s"] += sd.executorRunTime() / 1e3
                site["run_s"] += sd.executorRunTime() / 1e3
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_mb"] += sd.shuffleWriteBytes() / 2**20
                c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        c["driver_gap_s"] = max(end - start - covered, 0.0)
        c["call_sites"] = sites
        return c

    def _python_metrics(self, jobs_by_span: dict[int, set[int]]) -> dict[int, dict]:
        """Python SQL metrics of the executions whose jobs ran in each span."""
        store = self._sql_store()
        n = store.executionsCount()
        out: dict[int, dict] = {}
        if n <= self._sql_seen:
            return out
        execs = store.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            ex_jobs = set()
            jit = ex.jobs().keys().iterator()
            while jit.hasNext():
                ex_jobs.add(int(jit.next()))
            owner = next((s for s, js in jobs_by_span.items() if js & ex_jobs), None)
            if owner is None:
                continue
            values = {}
            vit = store.executionMetrics(ex.executionId()).iterator()
            while vit.hasNext():
                kv = vit.next()
                values[int(kv._1())] = kv._2()
            acc = out.setdefault(owner, {"py_time_s": 0.0, "py_bytes_mb": 0.0})
            nit = store.planGraph(ex.executionId()).allNodes().iterator()
            while nit.hasNext():
                mit = nit.next().metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    if m.name() not in PY_TIME_METRICS + PY_BYTES_METRICS:
                        continue
                    text = values.get(int(m.accumulatorId()))
                    if text is None:
                        continue
                    v = _parse_metric(text)
                    if m.name() in PY_TIME_METRICS:
                        acc["py_time_s"] += v
                    else:
                        acc["py_bytes_mb"] += v / 2**20
        return out

    def resolve(self) -> None:
        """Fill the counters of every span not yet resolved."""
        todo = [s for s in self.spans if not s.counters]
        jobs_by_span = {}
        for sp in todo:
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(sp.group))
            sp.counters = self.job_counters(jobs, sp.start, sp.end)
            jobs_by_span[sp.span_id] = set(jobs)
        py = self._python_metrics(jobs_by_span)
        for sp in todo:
            sp.counters.update(py.get(sp.span_id, {"py_time_s": 0.0, "py_bytes_mb": 0.0}))

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        """Span wall time minus the part of it its child spans cover."""
        return sp.wall_s - sum(c.wall_s for c in self.children(sp))
