#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

A run generates the workload's inputs from ``--seed`` (untimed); sets up a
Spark session through the engine's ``get_spark()`` and warms it up
(``setup_s``); runs every workload query once, cold, and compares its
result with the query's DuckDB oracle SQL through
``tests/oracle_harness.compare`` (untimed); runs one more untimed pass to
let the JIT settle; then times whole warm passes over the workload's
queries, each in an order drawn from the seed: ``round(--seconds /
PASS_S)`` of them, so every run of a workload measures the same
operations. One operation is the catalog query function followed by
``count()`` on its result, in a closed loop with one client.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans and
prints the per-layer metrics. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. Spans, per-query
samples, the environment stamp and the cache-owner report go to
``.bench_build/perfbench/results/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import replace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import write_inputs  # noqa: E402
from workloads import PASS_S, SF0001, WARMUP, WORKLOADS  # noqa: E402

#: files of the engine the benchmark drives; without them it refuses to run
PROGRAM_FILES = (
    "etl_pipeline_telecom_spark/catalog.py",
    "etl_pipeline_telecom_spark/session.py",
    "tests/oracle_harness.py",
)
#: inputs, temporary files and results, relative to the repository root
WORK_DIR = os.path.join(".bench_build", "perfbench")
#: session set-ups per run on the warm JVM; setup_s is their median
SETUPS = 3
#: an operation still running after this long is cancelled and counted failed
OP_TIMEOUT_S = 60
#: the engine stages some inputs under this prefix in /tmp
PROGRAM_TMP_GLOB = "/tmp/spark_graft_*"

END_TO_END = {
    "setup_s": "s",
    "query_s_p50": "s",
    "query_s_p90": "s",
    "rows_per_s": "rows/s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "sf0.001"), default="bench",
                    help="input size: the workload's own, or the sf0.001 fixture size "
                    "(used by selftest.py)")
    return ap.parse_args(argv)


# -- process isolation ----------------------------------------------------------

def _unshare_cmd(tmp: str, *cmd: str) -> list[str]:
    return ["unshare", "--mount", "--propagation", "private", "--",
            "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp, *cmd]


def reexec_with_private_tmp(tmp: str, argv: list[str]) -> None:
    """Re-run this process in a mount namespace whose /tmp is ``tmp``.

    The engine writes some staging directories under a hard-coded /tmp;
    binding the run's own directory there keeps every write of the run
    inside the work directory. Returns only if namespaces are unavailable."""
    if shutil.which("unshare") is None:
        return
    probe = subprocess.run(_unshare_cmd(tmp, "true"), capture_output=True)
    if probe.returncode != 0:
        return
    os.environ["PERFBENCH_PRIVATE_TMP"] = tmp
    sys.stdout.flush()
    os.execvp("unshare", _unshare_cmd(tmp, sys.executable, os.path.abspath(__file__), *argv))


def spark_env(root: str, tmp: str, local: str) -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    sys.path[:0] = [root]


# -- the run --------------------------------------------------------------------

class Run:
    def __init__(self, args: argparse.Namespace, data_dir: str) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.data = data_dir
        self.trace = bool(args.trace)
        self.samples: list[dict] = []  # one per timed operation
        self.checks: dict[str, str] = {}  # query -> "ok" | failure message
        self.timings: dict[str, float] = {}
        self.cache_added: list[dict] = []  # persisted RDDs a query left behind
        self._stages_seen: set[int] = set()  # stages already attributed to a job

    def setup(self) -> None:
        """Cold start (imports, JVM launch, session, warm-up), then SETUPS
        session set-ups on the running JVM; ``setup_s`` is their median."""
        t0 = time.perf_counter()
        from etl_pipeline_telecom_spark import catalog
        from etl_pipeline_telecom_spark.session import get_spark
        from pyspark import SparkContext

        self.specs = catalog.specs()
        missing = [q for q in (*WARMUP, *self.workload.queries) if q not in self.specs]
        if missing:
            raise SystemExit(f"workload names unknown queries: {missing}")
        self.spark = get_spark(f"perfbench-{self.workload.name}")
        self.jvm = SparkContext._gateway.proc
        from spans import Sampler

        self.sampler = Sampler(self.jvm.pid)
        self.sampler.start()
        t1 = time.perf_counter()
        self._warm_up()
        t2 = time.perf_counter()
        again = []
        for _ in range(SETUPS):
            self.spark.stop()
            t3 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.workload.name}")
            self._warm_up()
            again.append(time.perf_counter() - t3)
        self.timings.update(start_s=t1 - t0, warm_s=t2 - t1, setup_s=statistics.median(again),
                            setups_s=again)

    def _warm_up(self) -> None:
        for name in WARMUP:
            self.specs[name].fn(self.spark, self.data).count()

    def check_pass(self) -> None:
        """Untimed: run every query once, cold, through ``compare``, which
        collects its result and compares it with the query's oracle SQL."""
        from tests.oracle_harness import compare

        from spans import persisted

        rng = random.Random(self.args.seed)
        for name in rng.sample(self.workload.queries, len(self.workload.queries)):
            spec = self.specs[name]
            before = persisted(self.spark)
            try:
                ok, msg = self._guarded(lambda: compare(self.spark, self.data, spec.fn, spec.sql))
            except Exception as e:  # a failing query is a result, not a crash
                ok, msg = False, f"{type(e).__name__}: {str(e)[:300]}"
            self.checks[name] = "ok" if ok else msg
            after = persisted(self.spark)
            self.cache_added.append({"query": name, "pass": "check", "rdds": after[0] - before[0],
                                     "bytes": after[1] - before[1]})

    def _guarded(self, fn):
        """Call ``fn``; cancel its Spark jobs and streams after OP_TIMEOUT_S."""
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            self.spark.sparkContext.cancelAllJobs()
            for q in self.spark.streams.active:
                q.stop()

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.start()
        try:
            return fn()
        except Exception as e:
            if fired.is_set():
                raise TimeoutError(f"cancelled after {OP_TIMEOUT_S}s") from e
            raise
        finally:
            timer.cancel()

    def timed(self) -> None:
        # one more untimed pass: the JIT is still compiling after the check pass
        for name in self.workload.queries:
            self._op(name, -1)
        if self.trace:
            from spans import BatchListener, Sampler, StatusReader, Tracer, persisted

            from etl_pipeline_telecom_spark.metrics import StageMetricsTracker

            self.tracer = Tracer(f"{self.workload.name}-{self.args.seed}")
            self.reader = StatusReader(self.spark)
            self.listener = BatchListener()
            self.spark.streams.addListener(self.listener)
            self.stage_tracker = StageMetricsTracker(self.spark)
            self.stage_tracker.delta()  # drain the set-up's and check pass's stages
            self.stage_sums: dict[str, int] = {}
            self.cache_sampler = Sampler(self.jvm.pid, persisted=lambda: persisted(self.spark))
            self.cache_sampler.start()
        rng = random.Random(self.args.seed + 1)
        order = list(self.workload.queries)
        self.passes = max(1, round(self.args.seconds / PASS_S))
        for p in range(self.passes):
            rng.shuffle(order)
            for name in order:
                self.samples.append(self._op_traced(name, p) if self.trace else self._op(name, p))
            if self.trace:
                for k, v in self.stage_tracker.delta().items():
                    self.stage_sums[k] = self.stage_sums.get(k, 0) + v
        self.busy_s = sum(s["latency_s"] for s in self.samples)
        if self.trace:
            self.cache_sampler.stop()
            _settle(lambda: len(self.listener.taken()))
            self.spark.streams.removeListener(self.listener)

    def _op(self, name: str, pass_no: int) -> dict:
        fn = self.specs[name].fn
        rows, err = 0, None
        t0 = time.perf_counter()
        try:
            df = self._guarded(lambda: fn(self.spark, self.data))
            rows = self._guarded(df.count)
        except Exception as e:
            err = f"{type(e).__name__}: {str(e)[:300]}"
        latency = time.perf_counter() - t0
        return {"query": name, "pass": pass_no, "latency_s": latency, "rows": rows, "error": err}

    def _op_traced(self, name: str, pass_no: int) -> dict:
        from spans import covered, persisted

        fn = self.specs[name].fn
        tr = self.tracer
        before = persisted(self.spark)
        q = tr.add(f"query:{name}", math.nan, math.nan, None)
        rows, err, phases = 0, None, {}

        def body():
            # the query span reads its own clock, so the self-test's check
            # that the three phases cover it can fail
            nonlocal rows
            q.start = time.time()
            try:
                with tr.span("plans.build", q.id) as b:
                    phases["build"] = b
                    df = fn(self.spark, self.data)
                with tr.span("plans.plan", q.id) as p:
                    phases["plan"] = p
                    df._jdf.queryExecution().executedPlan()
                with tr.span("plans.exec", q.id) as x:
                    phases["exec"] = x
                    rows = df.count()
            finally:
                q.end = time.time()

        try:
            self._guarded(body)
        except Exception as e:
            err = f"{type(e).__name__}: {str(e)[:300]}"
        self.reader.drain()
        jobs = self.reader.new_jobs()
        sql = self.reader.new_sql_metrics()
        after = persisted(self.spark)
        self.cache_added.append({"query": name, "pass": pass_no, "rdds": after[0] - before[0],
                                 "bytes": after[1] - before[1]})
        stages = self._job_spans(q, phases, jobs)
        return {
            "query": name, "pass": pass_no, "latency_s": q.end - q.start, "rows": rows,
            "error": err, "span": q.id,
            "build_s": _dur(phases.get("build")), "plan_s": _dur(phases.get("plan")),
            "exec_s": _dur(phases.get("exec")),
            "stage_wall_s": covered(stages, q.start, q.end),
            "jobs": jobs, "sql": sql, "cache_rdds": after[0], "cache_bytes": after[1],
        }

    def _job_spans(self, q, phases: dict, jobs: list[dict]) -> list[tuple[float, float]]:
        """Adds job and stage spans; returns the intervals of the stages the
        operation ran."""
        seen, ran = self._stages_seen, []
        for job in jobs:
            start = job["start"] if job["start"] is not None else q.start
            end = job["end"] if job["end"] is not None else q.end
            parent = next((s for s in phases.values() if s.start <= start <= s.end),
                          phases.get("exec", q))
            job["phase"] = parent.name
            js = self.tracer.add(f"job:{job['id']}", start, end, parent.id)
            for st in job["stages"]:
                st["ran_here"] = (st["status"] == "COMPLETE" and st["id"] not in seen
                                  and st["start"] is not None and st["end"] is not None)
                if st["ran_here"]:
                    seen.add(st["id"])
                    self.tracer.add(f"stage:{st['id']}", st["start"], st["end"], js.id)
                    ran.append((st["start"], st["end"]))
        return ran

    def batch_spans(self) -> list[dict]:
        """Micro-batch spans from the listener, parented to the build span
        (where the engine runs its streams) of the query they ran under."""
        from spans import JVM_CLOCK_SLACK_S

        batches = self.listener.taken()
        builds = [s for s in self.tracer.spans if s.name == "plans.build"]
        for b in batches:
            end = b["start"] + b["trigger_ms"] / 1000
            parent = next((s for s in builds
                           if s.start - JVM_CLOCK_SLACK_S <= b["start"] <= s.end), None)
            if parent is not None:
                self.tracer.add(f"batch:{b['query']}:{b['batch']}", b["start"], end, parent.id)
        return batches

    def close(self) -> None:
        """Stop the session, the driver JVM and its Python workers."""
        from spans import process_tree

        if hasattr(self, "sampler"):
            self.sampler.stop()
        if not hasattr(self, "spark"):
            return
        tree = process_tree(self.jvm.pid)
        self.spark.stop()
        from pyspark import SparkContext

        SparkContext._gateway.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        for pid in tree[1:]:
            _wait_gone(pid)


def _settle(count, timeout: float = 3.0) -> None:
    """Wait until ``count()`` stops growing: listener events arrive late."""
    deadline, last = time.monotonic() + timeout, -1
    while time.monotonic() < deadline and count() != last:
        last = count()
        time.sleep(0.3)


def _dur(span) -> float:
    return span.end - span.start if span is not None else 0.0


def _wait_gone(pid: int, timeout: float = 10.0) -> None:
    deadline = time.monotonic() + timeout
    while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
        time.sleep(0.05)
    if os.path.exists(f"/proc/{pid}"):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def environment(run: Run, seed: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    sc = run.spark.sparkContext
    head = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": run.spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "git_head": head.stdout.strip() if head.returncode == 0 else None,
        "seed": seed,
        "private_tmp": os.environ.get("PERFBENCH_PRIVATE_TMP") is not None,
    }


def end_to_end(run: Run, input_rows: int) -> dict[str, float]:
    """Latency quantiles are taken over the workload's queries, each query
    represented by the median of its timed executions. ``rows_per_s`` is a
    fixed row count per pass (the rows of the tables the workload reads)
    over the time spent in timed operations."""
    from spans import quantile, query_latencies

    lat = query_latencies(run.samples)
    return {
        "setup_s": run.timings["setup_s"],
        "query_s_p50": quantile(lat, 0.5),
        "query_s_p90": quantile(lat, 0.9),
        "rows_per_s": input_rows * run.passes / run.busy_s,
    }


def main(argv: list[str] | None = None) -> int:
    t_main = time.perf_counter()
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    root = os.getcwd()
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(root, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    work = os.path.abspath(WORK_DIR)
    tmp = os.path.join(work, "tmp")
    if os.environ.get("PERFBENCH_PRIVATE_TMP") != tmp:
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        reexec_with_private_tmp(tmp, argv)
    local = os.path.join(work, "local")
    shutil.rmtree(local, ignore_errors=True)
    spark_env(root, tmp, local)
    staged_before = set(glob.glob(PROGRAM_TMP_GLOB))

    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[args.workload]
    data = os.path.join(work, "inputs", wl.name)
    shutil.rmtree(data, ignore_errors=True)
    size = wl.size if args.size == "bench" else replace(SF0001, clone_share=wl.size.clone_share)
    gen = write_inputs(data, args.seed, size)
    input_rows = sum(gen["rows"][t] for t in wl.tables)

    run = Run(args, data)
    marks = {"generated": time.perf_counter() - t_main}
    try:
        run.setup()
        marks["set_up"] = time.perf_counter() - t_main
        run.check_pass()
        marks["checked"] = time.perf_counter() - t_main
        run.timed()
        marks["timed"] = time.perf_counter() - t_main
        env = environment(run, args.seed)
        if run.trace:
            from layers import per_layer

            batches = run.batch_spans()
            metrics = per_layer(run, batches)
            units = {k: u for k, (_, u) in metrics.items()}
            values = {k: v for k, (v, _) in metrics.items()}
        else:
            values = end_to_end(run, input_rows)
            units = END_TO_END
    finally:
        run.close()
        for path in set(glob.glob(PROGRAM_TMP_GLOB)) - staged_before:
            shutil.rmtree(path, ignore_errors=True)

    marks["closed"] = time.perf_counter() - t_main
    failed_ops = sum(1 for s in run.samples if s["error"])
    failed_checks = sum(1 for v in run.checks.values() if v != "ok")
    attempted = len(run.samples) + len(run.checks)
    failed = failed_ops + failed_checks
    report = {
        "workload": wl.name, "trace": args.trace, "inputs": gen, "env": env,
        "checks": run.checks, "passes": run.passes, "busy_s": run.busy_s,
        "timings": run.timings, "wall_marks_s": marks,
        "peak_rss_mb": run.sampler.peak_rss / 2**20,
        "samples": [{k: v for k, v in s.items() if k != "jobs"} for s in run.samples],
        "metrics": values,
        "cache_owners": cache_owners(run),
    }
    if run.trace:
        report["spans"] = run.tracer.dump()
    out_dir = os.path.join(work, "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, default=str)

    print("inputs " + json.dumps(gen))
    print("env " + json.dumps(env))
    for name, msg in run.checks.items():
        if msg != "ok":
            print(f"oracle FAIL {name}: {msg}")
    for s in run.samples:
        if s["error"]:
            print(f"op FAIL {s['query']}: {s['error']}")
    for o in report["cache_owners"]:
        print(f"cache owner {o['query']}: {o['rdds_added']} RDDs, {o['bytes_added']} bytes "
              f"left persisted over {o['times']} runs of it")
    print(f"oracle {len(run.checks) - failed_checks}/{len(run.checks)} queries match; "
          f"{len(run.samples)} timed ops in {run.passes} passes; report {out}")
    for k, v in values.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def cache_owners(run: Run) -> list[dict]:
    """Queries that returned with more RDDs persisted than before they ran."""
    owners: dict[str, dict] = {}
    for a in run.cache_added:
        if a["rdds"] > 0:
            o = owners.setdefault(a["query"], {"query": a["query"], "times": 0,
                                               "rdds_added": 0, "bytes_added": 0})
            o["times"] += 1
            o["rdds_added"] += a["rdds"]
            o["bytes_added"] += a["bytes"]
    return sorted(owners.values(), key=lambda o: -o["bytes_added"])


if __name__ == "__main__":
    sys.exit(main())
