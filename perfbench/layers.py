"""Per-layer metrics of a traced run.

Per-operation figures are means over the timed operations of the run, so
they do not depend on how many passes fit in ``--seconds``. Streaming
figures are means over the run's micro-batches. README.md maps each metric
to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import statistics

from spans import JVM_CLOCK_SLACK_S, quantile, query_latencies


def per_layer(run, batches: list[dict]) -> dict[str, tuple[float, str]]:
    ops = run.samples
    n = len(ops)
    sums = run.stage_sums
    cores = run.spark.sparkContext.defaultParallelism

    def mean(f) -> float:
        return sum(f(s) for s in ops) / n

    def ran(s):
        return [st for job in s["jobs"] for st in job["stages"] if st["ran_here"]]

    def worst_stage_skew(s) -> float | None:
        stages = [st for st in ran(s) if st["skew"] is not None]
        return max(stages, key=lambda st: st["run_ms"])["skew"] if stages else None

    skews = [k for k in map(worst_stage_skew, ops) if k is not None]
    rows_out = sum(s["rows"] for s in ops)
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (run.timings["start_s"], "s"),
        "session.warm_s": (run.timings["warm_s"], "s"),
        "plans.build_s": (mean(lambda s: s["build_s"]), "s"),
        "plans.build_jobs": (mean(lambda s: sum(j["phase"] == "plans.build" for j in s["jobs"])), "count"),
        "plans.plan_s": (mean(lambda s: s["plan_s"]), "s"),
        "plans.exec_s": (mean(lambda s: s["exec_s"]), "s"),
        "plans.jobs": (mean(lambda s: len(s["jobs"])), "count"),
        "plans.stages": (mean(lambda s: len(ran(s))), "count"),
        "plans.stages_skipped": (
            mean(lambda s: sum(len(j["stages"]) for j in s["jobs"]) - len(ran(s))), "count"),
        "plans.tasks": (mean(lambda s: sum(st["tasks"] for st in ran(s))), "count"),
        "exec.run_ms": (sums.get("executor_run_ms", 0) / n, "ms"),
        "exec.cpu_ms": (sums.get("executor_cpu_ms", 0) / n, "ms"),
        "exec.gc_ms": (mean(lambda s: sum(st["gc_ms"] for st in ran(s))), "ms"),
        # base: query wall time x the session's cores
        "exec.core_busy": (sums.get("executor_run_ms", 0) / (1000 * run.busy_s * cores), "ratio"),
        # share of query wall time during which a stage of the query ran
        "exec.stage_wall_share": (sum(s["stage_wall_s"] for s in ops) / run.busy_s, "ratio"),
        "exec.task_skew": (statistics.median(skews) if skews else 0.0, "ratio"),
        "exec.shuffle_write_bytes": (sums.get("shuffle_write_bytes", 0) / n, "bytes"),
        "exec.shuffle_read_records": (sums.get("shuffle_read_records", 0) / n, "count"),
        "exec.spill_bytes": (mean(lambda s: sum(st["spill_bytes"] for st in ran(s))), "bytes"),
        "sources.input_bytes": (sums.get("input_bytes", 0) / n, "bytes"),
        "sources.rows_read": (sums.get("rows_read", 0) / n, "count"),
        "sources.rows_read_per_row_out": (sums.get("rows_read", 0) / max(rows_out, 1), "ratio"),
        "sources.output_bytes": (sums.get("output_bytes", 0) / n, "bytes"),
        "sources.rows_written": (sums.get("rows_written", 0) / n, "count"),
        "sources.files_written": (mean(lambda s: s["sql"]["files_written"]), "count"),
    }
    for key, unit in (("py_boot_ms", "ms"), ("py_init_ms", "ms"), ("py_run_ms", "ms"),
                      ("py_bytes_sent", "bytes"), ("py_bytes_received", "bytes"),
                      ("py_rows_received", "count")):
        m[f"functions.{key}"] = (mean(lambda s, k=key: s["sql"][k]), unit)
    m["memory.peak_rss_mb"] = (run.sampler.peak_rss / 2**20, "MB")
    m["cache.peak_bytes"] = (run.cache_sampler.peak_cache, "bytes")
    m["cache.held_bytes_after"] = (ops[-1]["cache_bytes"], "bytes")
    m["cache.rdds_held_after"] = (ops[-1]["cache_rdds"], "count")

    nb = len(batches)
    trig = [b["trigger_ms"] / 1000 for b in batches]
    batch_jobs = sum(
        1 for s in ops for j in s["jobs"]
        if j["start"] is not None and any(
            b["start"] - JVM_CLOCK_SLACK_S <= j["start"] <= b["start"] + b["trigger_ms"] / 1000
            for b in batches))

    def per_batch(key: str) -> float:
        return sum(b[key] for b in batches) / nb if nb else 0.0

    m.update({
        "streaming.batches": (nb / n, "count"),
        "streaming.jobs_per_batch": (batch_jobs / nb if nb else 0.0, "count"),
        "streaming.batch_s_p50": (quantile(trig, 0.5) if trig else 0.0, "s"),
        "streaming.batch_s_p90": (quantile(trig, 0.9) if trig else 0.0, "s"),
        "streaming.add_batch_ms": (per_batch("add_batch_ms"), "ms"),
        "streaming.query_planning_ms": (per_batch("query_planning_ms"), "ms"),
        "streaming.commit_ms": (per_batch("commit_ms"), "ms"),
        "streaming.state_rows": (per_batch("state_rows"), "count"),
        "streaming.state_mem_bytes": (per_batch("state_mem_bytes"), "bytes"),
        "streaming.state_rows_removed": (per_batch("state_rows_removed"), "count"),
    })
    failed = sum(1 for s in ops if s["error"]) + sum(1 for v in run.checks.values() if v != "ok")
    m["oracle.failed_frac"] = (failed / (n + len(run.checks)), "ratio")
    m["trace.query_s_p50"] = (quantile(query_latencies(ops), 0.5), "s")
    return m
