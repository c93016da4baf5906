#!/usr/bin/env python3
"""Self-test of the benchmark: every workload, untraced and traced, on the
``sf0.001``-sized inputs and one seed.

Checks that each run prints every metric ``BENCHMARK.json`` names with its
unit, that the oracle found no mismatch, that every span lies inside its
parent, and that each query span is covered by its ``plans.build``,
``plans.plan`` and ``plans.exec`` children. Run from the repository root::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import JVM_CLOCK_SLACK_S, nesting_errors  # noqa: E402

SEED = 1
SECONDS = 2


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", str(trace),
           "--size", "sf0.001"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    report_path = os.path.join(".bench_build", "perfbench", "results",
                               f"{workload}-seed{SEED}-trace{trace}.json")
    with open(report_path) as f:
        return result, json.load(f)


def coverage_errors(spans: list[dict]) -> list[str]:
    """Each query span must be exactly covered by its three plans.* children."""
    errors = []
    for q in (s for s in spans if s["name"].startswith("query:")):
        kids = sorted((s for s in spans if s["parent"] == q["id"] and s["name"].startswith("plans.")),
                      key=lambda s: s["start"])
        if [k["name"] for k in kids] != ["plans.build", "plans.plan", "plans.exec"]:
            errors.append(f"{q['name']}: children {[k['name'] for k in kids]}")
            continue
        gaps = [kids[0]["start"] - q["start"], q["end"] - kids[-1]["end"]]
        gaps += [b["start"] - a["end"] for a, b in zip(kids, kids[1:])]
        if max(abs(g) for g in gaps) > JVM_CLOCK_SLACK_S:
            errors.append(f"{q['name']}: plans.* leave {max(gaps):.4f}s uncovered")
    return errors


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            result, report = run(w, trace)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != expected[trace]:
                failures.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(expected[trace]))} "
                                "differ from BENCHMARK.json")
            if not result["correct"] or result["failed"]:
                failures.append(f"{w} trace={trace}: {result['failed']} failed; checks {report['checks']}")
            if trace:
                failures += [f"{w}: {e}" for e in nesting_errors(report["spans"])]
                failures += [f"{w}: {e}" for e in coverage_errors(report["spans"])]
            print(f"{w} trace={trace}: {len(got)} metrics, {result['attempted']} attempted, "
                  f"{result['failed']} failed", flush=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
