"""One benchmark run of one workload, and the metrics it reports.

End-to-end metrics (tracing off) and per-layer metrics (tracing on) are
named in BENCHMARK.json; ``run_workload`` returns both the contract's result
object and a longer report (environment, sample counts, per-operation-kind
latencies, per-workload layer breakdown) that run.py prints before it.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from typing import Any

from . import harness
from .harness import Run, RssSampler, median, percentile
from .workloads import WORKLOADS

SPEC_PATH = os.path.join(harness.CHECKOUT, "BENCHMARK.json")
SETUP_REPEATS = 3
# A percentile is reported only with at least this many samples beyond it.
# index_churn measures 20 operations, enough for the median and no higher
# percentile; registry_mix measures 15, short even for the median (its
# docstring says why). The report lists each kind's p80/p90 with its n.
MIN_TAIL_SAMPLES = 10


def load_spec() -> dict[str, Any]:
    with open(SPEC_PATH) as fh:
        return json.load(fh)


def _mean(values: list[float]) -> float:
    return float(statistics.fmean(values)) if values else 0.0


# per-layer metric -> (field of the per-operation trace record, which
# operations it averages over)
LAYER_FIELDS = {
    "build.ms": ("build_ms", "all"),
    "build.eager_jobs": ("eager_jobs", "all"),
    "catalyst.analysis_ms": ("analysis_ms", "dataframe"),
    "catalyst.optimization_ms": ("optimization_ms", "dataframe"),
    "catalyst.planning_ms": ("planning_ms", "dataframe"),
    "codegen.compile_ms": ("compile_ms", "all"),
    "codegen.compiles": ("compiles", "all"),
    "exec.ms": ("exec_ms", "all"),
    "exec.jobs": ("jobs", "all"),
    "exec.stages": ("stages", "all"),
    "exec.tasks": ("tasks", "all"),
    "exec.shuffle_write_bytes": ("shuffle_write_bytes", "all"),
    "exec.shuffle_read_bytes": ("shuffle_read_bytes", "all"),
    "exec.spill_bytes": ("spill_bytes", "all"),
    "exec.python_bytes_sent": ("python_bytes_sent", "all"),
    "plan.exchanges": ("exchanges", "all"),
    "plan.bnlj": ("bnlj", "all"),
    "plan.python_nodes": ("python_nodes", "all"),
    "plan.cached_scans": ("cached_scans", "all"),
    "sources.files_read": ("files_read", "all"),
}


def layer_metrics(run: Run) -> dict[str, float]:
    """Per-layer means over the measured operations (warm-up passes are
    left out, as they are from the end-to-end metrics)."""
    recs = run.tracer.measured()
    out = {}
    for name, (field, over) in LAYER_FIELDS.items():
        sel = [r for r in recs if over == "all" or "analysis_ms" in r]
        out[name] = _mean([float(r.get(field, 0.0)) for r in sel])
    out["cache.leaked_persists"] = float(run.leaked_persists)
    out["trace.overhead_ms"] = _mean([r["overhead_ms"] for r in recs])
    return out


def kind_breakdown(latencies: dict[str, list[float]]) -> dict[str, dict[str, float]]:
    """Latency of each operation kind (a registry query, a pipeline stage,
    an ingest batch, a probe): sample count and percentiles in ms."""
    return {
        kind: {
            "n": len(v),
            "p50_ms": median(v) * 1e3,
            "p80_ms": percentile(v, 80) * 1e3,
            "p90_ms": percentile(v, 90) * 1e3,
        }
        for kind, v in latencies.items()
    }


def run_workload(
    name: str, seed: int, seconds: float, trace: bool, size: str, work: str,
    env: dict[str, Any],
) -> tuple[dict[str, Any], dict[str, Any]]:
    wl = WORKLOADS[name](size, seconds)
    t = time.perf_counter()
    inputs = wl.generate(work, seed)
    gen_s = time.perf_counter() - t
    report: dict[str, Any] = {"workload": name, "seed": seed, "size": size,
                              "trace": trace, "env": env, "generate_s": gen_s}
    steal0, total0 = harness.cpu_ticks()
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = harness.start_spark(work, env["nproc"])
        report["session_start_s"] = time.perf_counter() - t
        try:
            setups = []
            for i in range(SETUP_REPEATS):
                t = time.perf_counter()
                state = wl.setup(spark, inputs, i)
                setups.append(time.perf_counter() - t)
                if i < SETUP_REPEATS - 1:
                    wl.discard(state)
            run = Run(spark, trace)
            baseline = run.persisted()
            passes = []
            loop0 = time.perf_counter()
            # warm-up passes pay the engine's one-time paths (JIT, Python
            # worker pool, class loading): they are checked but left out of
            # the metrics. The measured passes that follow are a fixed amount
            # of work, so a faster program does not do more of it (or reach
            # a bigger index) than a slower one.
            for i in range(wl.warmup_passes + wl.passes):
                run.measuring = i >= wl.warmup_passes
                t = time.perf_counter()
                wl.one_pass(run, state, inputs)
                passes.append(time.perf_counter() - t)
            report["warmup_passes_s"] = passes[:wl.warmup_passes]
            passes = passes[wl.warmup_passes:]
            report["loop_s"] = time.perf_counter() - loop0
            t = time.perf_counter()
            wl.check(run, state, inputs)
            wl.release(state)
            report["check_s"] = time.perf_counter() - t
            run.leaked_persists = max(0, run.persisted() - baseline)
        finally:
            harness.stop_spark(spark)
    steal1, total1 = harness.cpu_ticks()
    lat = [v for vs in run.latencies.values() for v in vs]
    report.update({
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "setup_runs_s": setups,
        "passes": len(passes),
        "ops": len(lat),
        "kinds": kind_breakdown(run.latencies),
        "warmup_kinds": kind_breakdown(run.warmup_latencies),
        "op_p50_samples": {"n": len(lat), "beyond": len(lat) - math.ceil(len(lat) / 2),
                           "needed": MIN_TAIL_SAMPLES},
        "errors": run.errors[:20],
        # not a contract metric: the JVM's heap growth makes it read 1.6 or
        # 2.1 GB on the same index_churn input, a spread no bound absorbs
        "peak_rss_mb": rss.peak_kb / 1024.0,
    })
    spec = load_spec()
    values = {
        "setup_s": median(setups),
        "run_s": median(passes),
        "op_p50_ms": percentile(lat, 50) * 1e3,
    }
    names = spec["end_to_end"]
    if trace:
        # tracing overhead = this run's end-to-end figures minus an untraced
        # run's; trace.overhead_ms is the bookkeeping time measured directly
        report["traced_end_to_end"] = values
        report["trace_overhead_s"] = sum(r["overhead_ms"] for r in run.tracer.measured()) / 1e3
        report["layers"] = wl.layers(run, state)
        run.tracer.write(os.path.join(work, "spans.jsonl"), run.t0)
        values = layer_metrics(run)
        names = spec["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return result, report
