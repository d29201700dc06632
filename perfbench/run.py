"""Repository benchmark: run one workload from a seed in a fresh process,
check every result, and print the metrics.

    python3 perfbench/run.py --workload read-mix --seed 1 --seconds 10 --trace 0

Workloads: read-mix, promql-range, ingest, analytics, and the two that
BENCHMARK.json lists, which run two of those parts one after the other:
reads (read-mix + promql-range) and batch (ingest + analytics).  Each
part runs whole cycles of its operation mix until its share of
``--seconds`` has passed, so a run measures at least that long.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records
spans and Spark job/task counts around every program call and prints
the per-layer metrics instead.  End-to-end figures come only from
untraced runs.

The next-to-last stdout line is a JSON report with every named metric,
the per-layer self times (traced) and the run conditions; the last line
is the result object {"correct", "attempted", "failed", "metrics"}.
All scratch state lives under ``.perfbench-work/`` at the checkout root.
Input sets missing from its cache are built first by a child process
(``--build-inputs``); the wait is reported as ``convert.dataset_build_s``
and left out of ``setup_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, workloads as W  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench-work")
UNITS = {
    "setup_s": "s", "op_ms": "ms", "ops_per_s": "1/s",
    "session.start_s": "s", "setup.open_s": "s", "setup.warm_s": "s", "plan_ms": "ms",
    "exec_ms": "ms", "spark_jobs": "count", "spark_tasks": "count", "trace.job_count_ms": "ms",
    "convert.bytes_per_sample": "B", "convert.files_per_shard": "count",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--build-inputs", action="store_true",
                    help="only build the workload's missing cached inputs")
    return ap.parse_args(argv)


def stop(bench: W.Bench, run_dir: str) -> None:
    """End the session and its JVM, then every other process started
    below this one, and remove the run's scratch dir."""
    try:
        if bench.spark is not None:
            harness.stop_spark(bench.spark)
            bench.spark = None
    finally:
        left = harness.stop_descendants()
        if left:
            print(f"perfbench: stopped leftover processes {left}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "parquet_common_spark")):
        print(f"error: no parquet_common_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    cache_dir = os.path.join(WORK, "cache")
    results_dir = os.path.join(WORK, "results")
    for d in (os.path.join(run_dir, "tmp"), cache_dir, results_dir):
        os.makedirs(d, exist_ok=True)
    # keep every temporary file of this process and its JVM in the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(harness.nproc(), 4)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")

    # every process this one starts is stopped and waited for before it
    # exits, also when it is told to stop (SIGTERM runs the finally blocks)
    harness.become_subreaper()
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    bench = W.Bench(ROOT, run_dir, cache_dir, bool(args.trace))
    missing = bench.missing_inputs(args.workload)
    if args.build_inputs:
        try:
            bench.start_session()
            bench.build_inputs(missing)
        finally:
            stop(bench, run_dir)
        return 0
    try:
        if missing:
            t = time.perf_counter()
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", "0", "--build-inputs"],
                stdout=sys.stderr, check=True, timeout=840,
            )
            bench.build_s = time.perf_counter() - t
        cond = harness.conditions(ROOT, args.seed)
        cond["inputs_built"] = missing
        cond["seconds"] = args.seconds
        bench.start_session()
        cond["spark_cores"] = bench.spark.sparkContext.defaultParallelism
        parts = W.run(bench, args.workload, args.seed, args.seconds)
        end_to_end, per_layer = W.summarize(bench, parts)
    finally:
        stop(bench, run_dir)
    cond["load_1m_end"] = os.getloadavg()[0]
    cond["measured_s"] = bench.measured_s
    cond["ops"] = len(bench.ops)

    failed = [f"{o.part}/{o.kind}: {o.error}" for o in bench.ops if o.error]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    bench.report["conditions"] = cond
    bench.report["failures"] = failed[:20]
    bench.report["error_ratio"] = len(failed) / max(len(bench.ops), 1)
    bench.report["end_to_end"] = end_to_end
    bench.report["per_layer"] = per_layer
    if args.trace:
        bench.tracer.dump(os.path.join(results_dir, f"{tag}.spans.jsonl"))
        untraced = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            # traced minus untraced, only against a run of the same
            # sources and length
            same = ("git_commit", "source_hash", "seconds")
            if all(base["conditions"].get(k) == cond[k] for k in same):
                bench.report["tracing_overhead"] = {
                    k: end_to_end[k] - base["end_to_end"][k] for k in end_to_end
                }
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump(bench.report, f, indent=1, default=str)

    metrics = per_layer if args.trace else end_to_end
    print(json.dumps(bench.report, default=str))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(bench.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
