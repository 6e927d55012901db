"""Tests of the benchmark itself, at smoke-test input sizes.

    python3 -m pytest perfbench -q

Each case launches the benchmark in a subprocess from the checkout root, as
the benchmark's users do, and reads the result object from the last line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(args: list[str], prelude: str = "") -> tuple[int, dict | None, str]:
    script = textwrap.dedent(prelude) + textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {CHECKOUT!r})
        from perfbench import run
        sys.exit(run.main({args!r}))
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=CHECKOUT, capture_output=True,
        text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return proc.returncode, result, proc.stderr[-2000:]


def _tiny(workload: str, trace: int, seconds: int = 1) -> list[str]:
    return ["--workload", workload, "--seed", "3", "--seconds", str(seconds),
            "--trace", str(trace), "--size", "tiny"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    code, result, err = _run(_tiny(workload, trace))
    assert code == 0, err
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and got["value"] == got["value"]
        if not trace:
            assert got["value"] > 0, m["name"]


# a planted wrong result and a planted exception in the ANN layer
WRONG_TOPK = """
    from vector_search_optimization_spark.operators import ann
    _orig = ann.ivf_topk
    ann.ivf_topk = lambda *a, **k: _orig(*a, **k).limit(3)
"""
RAISING_TOPK = """
    from vector_search_optimization_spark.operators import ann
    def _boom(*a, **k):
        raise RuntimeError("planted failure")
    ann.ivf_topk = _boom
"""
# a planted wrong result in one registry query
WRONG_QUERY = """
    import __spark_entry__ as entry
    _orig = entry.queries
    def _queries():
        qs = dict(_orig())
        for name in list(qs):
            fn = qs[name]
            qs[name] = lambda spark, sf, fn=fn: fn(spark, sf).limit(0)
        return qs
    entry.queries = _queries
"""

# a planted wrong cell assignment on the index's write path
WRONG_CELL = """
    from vector_search_optimization_spark.operators import ann
    from pyspark.sql import functions as F
    _orig = ann.assign_ivf_cells
    ann.assign_ivf_cells = lambda *a, **k: _orig(*a, **k).withColumn(
        "cell", F.col("cell") * 0)
"""
# a registry query that turns wrong only after its first run (the case is
# run with two measured passes)
WRONG_LATER = """
    import __spark_entry__ as entry
    _orig = entry.queries
    _calls = {}
    def _queries():
        qs = dict(_orig())
        def wrapped(spark, sf, fn=qs["q13_order_count_distribution"]):
            _calls["n"] = _calls.get("n", 0) + 1
            df = fn(spark, sf)
            return df if _calls["n"] == 1 else df.limit(0)
        qs["q13_order_count_distribution"] = wrapped
        return qs
    entry.queries = _queries
"""


@pytest.mark.parametrize(
    "workload,prelude,seconds",
    [("index_churn", WRONG_TOPK, 1), ("index_churn", RAISING_TOPK, 1),
     ("index_churn", WRONG_CELL, 1), ("registry_mix", WRONG_QUERY, 1),
     ("registry_mix", WRONG_LATER, 50)],
    ids=["wrong_topk", "raising_topk", "wrong_cell", "wrong_query", "wrong_later"],
)
def test_planted_fault_raises_error_count(workload, prelude, seconds):
    code, result, err = _run(_tiny(workload, 0, seconds),
                             "import sys\nsys.path.insert(0, %r)\n"
                             % CHECKOUT + textwrap.dedent(prelude))
    assert code == 0, err
    assert not result["correct"]
    assert 0 < result["failed"] <= result["attempted"]


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    launcher fails fast and prints no result."""
    import shutil

    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *_tiny("registry_mix", 0)],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
