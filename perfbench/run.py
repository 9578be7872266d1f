#!/usr/bin/env python3
"""Benchmark of the reference pipeline: one command, four workloads.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. A run generates its inputs from --seed under
perfbench/.work/, sets up, measures whole samples until --seconds have
passed (at least one), checks every output outside the timed region and
prints, as its last line, one JSON object {"correct", "attempted",
"failed", "metrics"}: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. The line before it holds the same run's report:
the metrics under their workload-specific names with unit and sample
count, error_rate, any failures and the provenance (core count, pyspark
version, commit, seed, input sizes).

`--workload all` runs every workload untraced and traced in child
processes and prints each one's report plus the tracing overhead (traced
end-to-end value over untraced).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_batch", "stream_tasks", "query_layers", "query_suite")


class Result:
    """What one run measured, counted and checked."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict[str, dict] = {}
        self.reported: dict[str, dict] = {}
        self.sizes: dict[str, int] = {}
        self.session_start_s = 0.0
        self.setup_reps: list[float] = []
        self.iterations = 1
        self.setup_fixed_s = 0.0

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def setup_once(self, seconds: float) -> None:
        """One repetition of the workload's repeatable set-up."""
        self.setup_reps.append(seconds)

    def setup_fixed(self, seconds: float) -> None:
        """Set-up done once per run (warm-up, artifact builds)."""
        self.setup_fixed_s += seconds

    def metric(self, name: str, value: float, unit: str, samples: list[float]) -> None:
        """An end-to-end metric computed from `samples` (kept in the report)."""
        self.metrics[name] = {
            "value": value, "unit": unit, "n": len(samples),
            "samples": [round(x, 4) for x in samples],
        }

    def report(self, name: str, value: float, unit: str, n: int) -> None:
        self.reported[name] = {"value": value, "unit": unit, "n": n}

    def latency(self, samples: list[float]) -> None:
        """The median as an end-to-end metric; the p90 in the report only,
        since a run has too few samples to bound it."""
        from perfbench.common import percentile

        self.metric("latency_s_p50", percentile(samples, 50), "s", samples)
        self.report("latency_s_p90", percentile(samples, 90), "s", len(samples))


def _work_dir(workload: str) -> str:
    from perfbench.common import WORK

    return os.path.join(WORK, workload)


def run_one(args) -> int:
    from perfbench import common

    # Spark and the package read these at start; keep every file the run
    # writes inside the checkout.
    os.makedirs(os.path.join(common.WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(common.cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(common.WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(common.WORK, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR on next use
    trace = bool(args.trace)
    event_dir = os.path.join(common.WORK, "eventlog")
    shutil.rmtree(event_dir, ignore_errors=True)
    result = Result()
    spark, result.session_start_s = common.start_session(trace, event_dir)
    tr = common.Tracer(spark, trace)
    work = _work_dir(args.workload)
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.workload == "pipeline_batch":
            from perfbench import batch as wl
        elif args.workload == "stream_tasks":
            from perfbench import stream as wl
        else:
            from perfbench import suite as wl
        run = getattr(wl, f"run_{args.workload}", wl.run)
        if trace:
            wl.install_wrappers(tr)
        run(spark, tr, args.seed, args.seconds, work, result)
    except Exception as ex:  # report the failure, never a partial result
        import traceback

        traceback.print_exc()
        print(f"workload {args.workload} failed: {ex!r}", file=sys.stderr)
        common.stop_session(spark)
        return 1
    setup_s = result.session_start_s + statistics.median(result.setup_reps) + result.setup_fixed_s
    result.metrics = {
        "setup_s": {
            "value": setup_s, "unit": "s", "n": len(result.setup_reps),
            "session_start_s": result.session_start_s,
            "repeated_s": result.setup_reps, "once_s": result.setup_fixed_s,
        },
        **result.metrics,
    }
    result.report("setup_s", setup_s, "s", len(result.setup_reps))
    failed = len(result.failures)
    attempted = max(result.attempted, 1)
    result.report("error_rate", failed / attempted, "ratio", attempted)
    specific = wl.layer_specific(spark, tr, result) if trace else {}
    common.stop_session(spark)
    if trace:
        jobs, work_by_job = common.read_event_log(event_dir)
        layers = common.attribute(tr.spans, jobs, work_by_job)
        specific["session.start_s"] = result.session_start_s
        metrics = common.layer_metrics(layers, specific, max(result.iterations, 1))
        tr.dump(os.path.join(common.WORK, f"spans_{args.workload}.json"))
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in result.metrics.items()}
    report = {
        "report": {
            "workload": args.workload,
            "trace": int(trace),
            "end_to_end": result.metrics,
            "named": result.reported,
            "failures": result.failures,
            "provenance": common.provenance(args.seed, args.workload, result.sizes),
        }
    }
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)
    return 0


def run_all(args) -> int:
    """Each workload untraced, then traced, in child processes."""
    rc = 0
    for wl in WORKLOADS:
        reports = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{wl} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                rc = 1
                break
            reports[trace] = json.loads(lines[-2])["report"]
            print(lines[-2])
        if len(reports) == 2:
            overhead = {
                name: reports[1]["end_to_end"][name]["value"] / m["value"]
                for name, m in reports[0]["end_to_end"].items()
                if name in reports[1]["end_to_end"] and m["value"]
            }
            print(json.dumps({"tracing_overhead": {"workload": wl, "traced_over_untraced": overhead}}))
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "trail_condition_etl_spark")):
        print("trail_condition_etl_spark/ not found: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    t0 = time.perf_counter()
    rc = run_one(args)
    print(f"run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())
