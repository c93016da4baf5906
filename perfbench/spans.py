"""Spans and per-layer counters, read from outside the program.

Everything here observes the engine through Spark's own status surfaces:
the application status store (jobs, stages, task quantiles, persisted
RDDs), the SQL status store (per-node SQL metrics, which Spark 4.1 keeps
for the Python boundary and for file writes), a ``StreamingQueryListener``
and ``/proc``. Spans stay in memory until the run ends.

Layer names follow the repository's modules: ``session``, ``plans`` (the
driver side of ``catalog``/``plans``/``operators``), ``exec`` (Spark stages
under the plans), ``sources`` (reads and writes), ``functions`` (the
Python/Arrow boundary), ``cache`` and ``streaming``.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run: str


class Tracer:
    """In-memory span recorder; ``dump()`` is called once, at the end."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        span = Span(len(self.spans), name, start, end, parent, self.run_id)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        span = self.add(name, time.time(), float("nan"), parent)
        try:
            yield span
        finally:
            span.end = time.time()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span)]
        return (span.end - span.start) - covered(kids, span.start, span.end)

    def dump(self) -> list[dict]:
        return [{**asdict(s), "self_s": self.self_time(s)} for s in self.spans]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` that the union of ``intervals`` covers."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if s >= e:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


#: slack for spans built from JVM timestamps, which have millisecond resolution
JVM_CLOCK_SLACK_S = 0.002


def nesting_errors(spans: list[dict]) -> list[str]:
    """Every child must lie inside its parent (within the JVM clock slack)."""
    by_id = {s["id"]: s for s in spans}
    errors = []
    for s in spans:
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is None:
            continue
        if s["start"] < p["start"] - JVM_CLOCK_SLACK_S or s["end"] > p["end"] + JVM_CLOCK_SLACK_S:
            errors.append(f"{s['name']} [{s['start']:.3f},{s['end']:.3f}] outside "
                          f"{p['name']} [{p['start']:.3f},{p['end']:.3f}]")
    return errors


# -- SQL metric strings ------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Parse a SQL status-store metric string into bytes, ms or a count.

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    single values read ``2.5 KiB``, ``775 ms`` or ``1,234``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


#: Python-boundary SQL metric name -> per-layer key
PYTHON_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
    "number of output rows": "py_rows_received",
}
_PYTHON_NODE = re.compile(r"InPandas|Python|Arrow")


class StatusReader:
    """Reads what the status stores gained since the previous call.

    Job and SQL-execution ids are allocated contiguously per context, so
    "new since last time" is "ids above the last one seen"; that keeps each
    read proportional to the query's own jobs, not to the store's size."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = sc._gateway
        self._bus = sc._jsc.sc().listenerBus()
        self.drain()
        jobs, execs = self._store.jobsList(None), self._sql.executionsList()
        self._next_job = 1 + max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        self._next_exec = 1 + max(
            (execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    @staticmethod
    def _ms(opt_date) -> float | None:
        return opt_date.get().getTime() / 1000 if opt_date.isDefined() else None

    def _job_known(self, jid: int) -> bool:
        try:
            self._store.job(jid)
        except Py4JJavaError:  # NoSuchElementException: not (yet) posted
            return False
        return True

    def _exec_known(self, eid: int) -> bool:
        return self._sql.execution(eid).isDefined()

    @staticmethod
    def _first_missing(known, start: int) -> int:
        """First id at or above ``start`` the store does not know yet."""
        while known(start):
            start += 1
        return start

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event, so
        the stores (and the streaming listener) are complete."""
        self._bus.waitUntilEmpty(10_000)

    def new_jobs(self) -> list[dict]:
        end = self._first_missing(self._job_known, self._next_job)
        ids, self._next_job = range(self._next_job, end), end
        jobs = []
        for jid in ids:
            j = self._store.job(jid)
            stages = []
            sids = j.stageIds()
            for k in range(sids.size()):
                stages.append(self._stage(int(sids.apply(k))))
            jobs.append({
                "id": jid,
                "start": self._ms(j.submissionTime()),
                "end": self._ms(j.completionTime()),
                "stages": [s for s in stages if s is not None],
            })
        return jobs

    def _stage(self, sid: int) -> dict | None:
        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # NoSuchElementException: evicted from the store
            return None
        status = str(s.status())
        stage = {
            "id": sid,
            "status": status,
            "start": self._ms(s.submissionTime()),
            "end": self._ms(s.completionTime()),
            "tasks": int(s.numTasks()),
            "run_ms": int(s.executorRunTime()),
            "gc_ms": int(s.jvmGcTime()),
            "spill_bytes": int(s.diskBytesSpilled()),
            "skew": None,
        }
        if status == "COMPLETE" and stage["tasks"] > 1:
            qs = self._gw.new_array(self._gw.jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            dist = self._store.taskSummary(sid, s.attemptId(), qs)
            if dist.isDefined():
                run = dist.get().executorRunTime()
                med, top = float(run.apply(0)), float(run.apply(1))
                stage["skew"] = top / med if med > 0 else None
        return stage

    def new_sql_metrics(self) -> dict[str, float]:
        """Python-boundary and file-write SQL metrics of new executions."""
        out = {k: 0.0 for k in PYTHON_METRICS.values()}
        out["files_written"] = 0.0
        end = self._first_missing(self._exec_known, self._next_exec)
        ids, self._next_exec = range(self._next_exec, end), end
        for eid in ids:
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                python = bool(_PYTHON_NODE.search(name))
                if not python and "Insert" not in name and "Write" not in name:
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = PYTHON_METRICS.get(m.name()) if python else (
                        "files_written" if m.name() == "number of written files" else None)
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        out[key] += sql_metric_value(v.get())
        return out


def persisted(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(int(r.memSize()) + int(r.diskSize()) for r in infos)


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch progress event of the run."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators or []
        batch = {
            "query": str(p.name or p.id),
            "batch": p.batchId,
            "start": _iso_epoch(p.timestamp),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_rows_removed": sum(o.numRowsRemoved for o in ops),
        }
        with self._lock:
            self.batches.append(batch)

    def taken(self) -> list[dict]:
        with self._lock:
            return list(self.batches)


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.replace("Z", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


# -- /proc memory sampling ----------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class Sampler(threading.Thread):
    """Polls the JVM process tree's resident memory (and, when given, the
    persisted-RDD bytes) until stopped; keeps the peaks."""

    def __init__(self, jvm_pid: int, persisted=None, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.jvm_pid, self.persisted, self.period = jvm_pid, persisted, period
        self.peak_rss = 0
        self.peak_cache = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.period)

    def sample(self) -> None:
        self.peak_rss = max(self.peak_rss, rss_bytes(process_tree(self.jvm_pid)))
        if self.persisted is not None:
            self.peak_cache = max(self.peak_cache, self.persisted()[1])

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)
        self.sample()


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def query_latencies(samples: list[dict]) -> list[float]:
    """One latency per query: the median of its timed executions."""
    per_query: dict[str, list[float]] = {}
    for s in samples:
        per_query.setdefault(s["query"], []).append(s["latency_s"])
    return [statistics.median(v) for v in per_query.values()]
