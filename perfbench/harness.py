"""Run-time machinery shared by the workloads: environment pinning, the Spark
session lifecycle, the closed-loop operation log, the RSS sampler and the
tracer that attaches Spark's own counters to each traced operation.

Nothing here changes program code: the tracer only times calls made from the
benchmark's own files and reads Spark's status stores over py4j.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)


# --------------------------------------------------------------------------
# environment


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def pin_environment(work: str) -> dict[str, Any]:
    """Pin the variables the program and its Python workers read, so every
    run sees the same engine shape, and return the record of the machine
    the run used. Must run before the JVM starts."""
    ncpu = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        ncpu = len(os.sched_getaffinity(0))
    mem_mb = _meminfo_mb("MemTotal")
    # the program's session factory defaults to a 32g driver; these inputs
    # need far less, and a heap the run fills keeps peak RSS repeatable
    driver_mb = max(1024, min(2048, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        {
            # Python workers import program modules by name
            "PYTHONPATH": CHECKOUT + (os.pathsep + py_path if py_path else ""),
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_LOCAL_DIRS": local,
            "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
            # one BLAS thread per Python worker: nproc workers already fill
            # the cores, and nested thread pools make timings erratic
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )
    load1, load5, load15 = os.getloadavg()
    return {
        "nproc": ncpu,
        "mem_total_mb": mem_mb,
        "mem_available_mb": _meminfo_mb("MemAvailable"),
        "driver_memory_mb": driver_mb,
        "loadavg": [load1, load5, load15],
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat; the
    steal share of a run says how much of it the hypervisor took away."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def start_spark(work: str, ncpu: int):
    from vector_search_optimization_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        shuffle_partitions=ncpu,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
        },
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF) and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + timeout
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# --------------------------------------------------------------------------
# memory


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the RSS summed over this process and all its descendants
    (the JVM and the Python workers), sampled from /proc. One sample walks
    all of /proc (tens of ms on a 4-core VM), so it runs once a second to
    stay out of the measured operations' way."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = _rss_kb(me) + sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# tracing


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric ("1,024", "12.5 MiB", or the
    "total (min, med, max ...)\\n12.5 MiB (...)" form)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


class SparkCounters:
    """Reads Spark's counters for the jobs and SQL executions of one traced
    operation: job-group job/stage/task counts, stage shuffle and spill
    bytes, final-plan node counts and SQL metrics, codegen compiles."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.sc = sc
        self.jvm = sc._jvm
        self.jsc = sc._jsc.sc()
        self.status = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.codegen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.codegen_hist = (
            self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )

    def mark(self) -> dict[str, float]:
        self.jsc.listenerBus().waitUntilEmpty()
        return {
            "sql_execs": self.sql.executionsCount(),
            "compile_ns": self.codegen.compileTime(),
            "compiles": self.codegen_hist.getCount(),
        }

    def jobs(self, group: str) -> dict[str, float]:
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "spill_bytes": 0}
        for j in st.getJobIdsForGroup(group):
            info = st.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = self.status.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no data
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def since(self, before: dict[str, float]) -> dict[str, float]:
        """Plan-shape counts and SQL metrics of every SQL execution that
        started after ``before`` (the final adaptive plan of each)."""
        after = self.mark()
        out = {"exchanges": 0, "bnlj": 0, "python_nodes": 0, "cached_scans": 0,
               "python_bytes_sent": 0.0, "files_read": 0.0,
               "compile_ms": (after["compile_ns"] - before["compile_ns"]) / 1e6,
               "compiles": after["compiles"] - before["compiles"]}
        n0, n1 = int(before["sql_execs"]), int(after["sql_execs"])
        if n1 > n0:
            for e in self.conv.asJava(self.sql.executionsList(n0, n1 - n0)):
                eid = e.executionId()
                values = self.conv.asJava(self.sql.executionMetrics(eid))
                for node in self.conv.asJava(self.sql.planGraph(eid).allNodes()):
                    name = node.name()
                    if name == "Exchange":
                        out["exchanges"] += 1
                    elif name == "BroadcastNestedLoopJoin":
                        out["bnlj"] += 1
                    elif name.startswith("InMemoryTableScan"):
                        out["cached_scans"] += 1
                    elif _PY_NODE.search(name):
                        out["python_nodes"] += 1
                    for m in self.conv.asJava(node.metrics()):
                        mname = m.name()
                        if mname not in ("data sent to Python workers", "number of files read"):
                            continue
                        v = values.get(m.accumulatorId())
                        if v is None:
                            continue
                        key = "python_bytes_sent" if mname.startswith("data") else "files_read"
                        out[key] += _metric_total(v)
        return out

    @staticmethod
    def phases(df) -> dict[str, float]:
        """Catalyst analysis/optimization/planning ms of ``df``'s own
        QueryExecution (forces its physical plan)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        ph = qe.tracker().phases()
        out = {}
        for k in ("analysis", "optimization", "planning"):
            opt = ph.get(k)
            out[k + "_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


class Tracer:
    """In-memory spans (name, start, end, parent, op id) plus per-operation
    Spark counters; written out once when the run ends."""

    def __init__(self):
        self.spans: list[dict[str, Any]] = []
        self.op_counters: list[dict[str, Any]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "op": op_id, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def measured(self) -> list[dict[str, Any]]:
        """Counter records of the operations outside warm-up passes."""
        return [r for r in self.op_counters if not r["warmup"]]

    def write(self, path: str, t0: float) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                s = dict(s, start=s["start"] - t0, end=s.get("end", s["start"]) - t0)
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# the closed loop


class Run:
    """One benchmark run: a single client issuing operations back to back
    (closed loop), with failure accounting and, when traced, spans and
    Spark counters around every operation. Operations of warm-up passes
    (``measuring`` false) are timed apart from the rest."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.counters = SparkCounters(spark) if trace else None
        self.tracer = Tracer()
        self.latencies: dict[str, list[float]] = {}
        self.warmup_latencies: dict[str, list[float]] = {}
        self.measuring = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.leaked_persists = 0
        self.t0 = time.perf_counter()
        self._op_seq = 0

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def op(
        self,
        kind: str,
        call: Callable[[], Any],
        execute: Callable[[Any], Any] | None = None,
        release: Callable[[Any], None] | None = None,
    ) -> tuple[bool, Any]:
        """Time one operation. With ``execute``, ``call()`` builds the plan
        (a registry builder or operator returning a DataFrame, eager jobs
        included) and ``execute(built)`` runs its action; without it,
        ``call()`` is the whole action. The latency is kept even when the
        operation raises. ``release`` runs afterwards, untimed, on every
        object the operation produced. Returns (ok, result)."""
        self._op_seq += 1
        oid = self._op_seq
        self.attempted += 1
        tr = self.tracer if self.trace else None
        sc = self.spark.sparkContext
        rec: dict[str, Any] = {"kind": kind, "op": oid, "build_ms": 0.0}
        built = result = None
        ok = True
        over = 0.0
        if tr is not None:
            o0 = time.perf_counter()
            before = self.counters.mark()
            sc.setJobGroup(f"pb{oid}.build", kind)
            over += time.perf_counter() - o0
        t0 = time.perf_counter()
        try:
            with _maybe_span(tr, kind, oid):
                if execute is not None:
                    with _maybe_span(tr, "build", oid):
                        tb = time.perf_counter()
                        built = call()
                        rec["build_ms"] = (time.perf_counter() - tb) * 1e3
                if tr is not None:
                    o0 = time.perf_counter()
                    sc.setJobGroup(f"pb{oid}.exec", kind)
                    if _is_dataframe(built):
                        with tr.span("plan", oid):
                            rec.update(SparkCounters.phases(built))
                    over += time.perf_counter() - o0
                with _maybe_span(tr, "exec", oid):
                    te = time.perf_counter()
                    result = call() if execute is None else execute(built)
                    rec["exec_ms"] = (time.perf_counter() - te) * 1e3
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            first = (str(e).strip().splitlines() or [""])[0][:200]
            self.fail(f"{kind}: {type(e).__name__}: {first}")
        dt = time.perf_counter() - t0 - over
        lat = self.latencies if self.measuring else self.warmup_latencies
        lat.setdefault(kind, []).append(dt)
        if release is not None:
            for obj in (result, built):
                if obj is not None:
                    try:
                        release(obj)
                    except Exception:  # noqa: BLE001 - a leak shows in the counter
                        pass
        if tr is not None:
            o0 = time.perf_counter()
            sc.setJobGroup("perfbench", "between operations")
            b = self.counters.jobs(f"pb{oid}.build")
            e = self.counters.jobs(f"pb{oid}.exec")
            rec["eager_jobs"] = b["jobs"]
            for k, v in e.items():
                rec[k] = v + b[k]
            rec.update(self.counters.since(before))
            rec["persisted"] = self.persisted()
            rec["latency_ms"] = dt * 1e3
            rec["ok"] = ok
            rec["warmup"] = not self.measuring
            rec["overhead_ms"] = (over + time.perf_counter() - o0) * 1e3
            tr.op_counters.append(rec)
        return ok, result

    def check(self, what: str, ok: bool, ops: int = 1) -> None:
        """Record an output check; a mismatch fails ``ops`` operations."""
        if not ok:
            self.fail(f"wrong result: {what}", ops)


def _is_dataframe(obj: Any) -> bool:
    return hasattr(obj, "_jdf")


@contextmanager
def _maybe_span(tr: Tracer | None, name: str, op_id: int):
    if tr is None:
        yield None
    else:
        with tr.span(name, op_id) as s:
            yield s


def traced_mean(run: Run, kind: str, field: str) -> float:
    """Mean of one counter over the measured operations of one kind."""
    vals = [float(r.get(field, 0.0)) for r in run.tracer.measured() if r["kind"] == kind]
    return statistics.fmean(vals) if vals else 0.0


def measured_passes(seconds: float, pass_s: float) -> int:
    """Measured passes of a run: ``--seconds`` over one pass's nominal
    duration. The count depends on nothing else, so two programs compared
    at the same ``--seconds`` do the same work."""
    return max(1, round(seconds / pass_s))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


median = statistics.median


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
