"""Benchmark launcher.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed, runs it closed-loop (one client) on local[nproc], checks the outputs,
and prints two JSON lines: a report (environment, seed, sample counts,
per-kind latencies, and with --trace 1 the per-workload layer
breakdown and tracing overhead), then the result object whose metrics are
the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). S sets the amount of measured work, not a deadline:
each workload runs round(S / its nominal pass time) measured passes, at
least one, so a faster program does the same work in less time. Runtime
files go under .perfbench/ in the checkout; --trace 1 leaves its spans in
.perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PROGRAM = ("__spark_entry__.py", "vector_search_optimization_spark/__init__.py")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test input sizes")
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(CHECKOUT, p))]
    if missing:
        print(f"perfbench: program not found in {CHECKOUT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)

    from perfbench import harness, runner

    names = [w["name"] for w in runner.load_spec()["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.path.join(CHECKOUT, ".perfbench")
    work = os.path.join(root, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    env = harness.pin_environment(work)
    try:
        result, report = runner.run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), args.size,
            work, env,
        )
        if args.trace:
            traces = os.path.join(root, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
