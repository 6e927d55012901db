"""index_churn: writes beside reads on one IVF index.

Set-up builds an IVF index over seeded 64-dim vectors. Each pass of the
closed loop then streams one micro-batch of new vectors through
``streaming.stream_append_to_ivf_index`` (ingest: from the batch file
becoming visible to ``processAllAvailable()`` returning) and runs a few
``ann.ivf_topk`` probes against the grown index (probe: from
``load_ivf_index`` to the collected top-k). Every append leaves small
files per touched cell, so probe cost drifts up as the run goes on; the
number of passes is fixed by ``--seconds`` alone, so every run ends at the
same index size.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .. import datagen
from ..harness import Run, clean_dir, measured_passes, percentile, traced_mean

SIZES = {
    # base vectors, vectors per ingest batch, IVF cells, probes per pass
    "full": {"base": 5_000, "batch": 200, "cells": 16, "probes": 3},
    "tiny": {"base": 1_000, "batch": 50, "cells": 8, "probes": 2},
}
# one pass (an ingest and its probes) on a 4-core x86 VM, in seconds
PASS_S = 3.2
DIM = 64
K = 10
NPROBE = 4
SCHEMA = "vec_id long, embedding array<float>"


class IndexChurn:
    name = "index_churn"
    # the first ingest and probes pay the stream's and the probe path's
    # one-time work: that pass is checked but not measured
    warmup_passes = 1

    def __init__(self, size: str, seconds: float):
        self.p = SIZES[size]
        self.passes = measured_passes(seconds, PASS_S)

    def generate(self, work: str, seed: int) -> dict:
        p = self.p
        rng = np.random.default_rng(seed)
        # one ingest batch per pass
        n = p["base"] + p["batch"] * (self.warmup_passes + self.passes)
        x, _ = datagen.unit_vectors(rng, n + 200, DIM, 16, 0.3)
        return {
            "work": work,
            "x": x[:n],
            "queries": x[n:],
            "order": rng.permutation(200),
        }

    def _table(self, lo: int, hi: int, x: np.ndarray) -> pa.Table:
        return pa.table({
            "vec_id": np.arange(lo, hi, dtype=np.int64),
            "embedding": datagen.vector_column(x[lo:hi]),
        })

    def setup(self, spark, inp: dict, i: int) -> dict:
        """IVF build over the base vectors (train + write) and the start of
        the ingest stream."""
        from vector_search_optimization_spark.operators import ann
        from vector_search_optimization_spark.streaming import index_maintenance

        root = os.path.join(inp["work"], f"index{i}")
        clean_dir(root)
        src = os.path.join(root, "incoming")
        os.makedirs(src)
        base_file = os.path.join(root, "base.parquet")
        pq.write_table(self._table(0, self.p["base"], inp["x"]), base_file)
        base = spark.read.parquet(base_file)
        cents = ann.train_ivf_centroids(base, num_cells=self.p["cells"], seed=7)
        ann.write_ivf_index(base, cents, os.path.join(root, "index"))
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        query = index_maintenance.stream_append_to_ivf_index(
            stream, os.path.join(root, "index"),
            checkpoint=os.path.join(root, "checkpoint"),
        )
        return {"root": root, "src": src, "query": query, "n": self.p["base"],
                "batches": 0, "probes": []}

    def discard(self, st: dict) -> None:
        st["query"].stop()
        clean_dir(st["root"])

    def one_pass(self, run: Run, st: dict, inp: dict) -> None:
        """Ingest one micro-batch, then probe the grown index."""
        from vector_search_optimization_spark.operators import ann

        p = self.p
        b = st["batches"]
        st["batches"] = b + 1
        lo, hi = st["n"], st["n"] + p["batch"]
        # the batch becomes available when its file lands in the source dir
        tmp = os.path.join(st["root"], f".b{b}.parquet")
        pq.write_table(self._table(lo, hi, inp["x"]), tmp)
        os.replace(tmp, os.path.join(st["src"], f"b{b:05d}.parquet"))
        ok, _ = run.op("ingest", lambda: st["query"].processAllAvailable())
        if ok:
            st["n"] = hi
        path = os.path.join(st["root"], "index")
        for j in range(p["probes"]):
            qi = int(inp["order"][(b * p["probes"] + j) % len(inp["order"])])
            q = inp["queries"][qi]

            def probe(q=q):
                indexed, cents = ann.load_ivf_index(run.spark, path)
                return ann.ivf_topk(indexed, cents, q, k=K, nprobe=NPROBE)

            ok, rows = run.op("probe", probe, lambda df: df.collect())
            st["probes"].append((qi, st["n"], rows if ok else None))

    def check(self, run: Run, st: dict, inp: dict) -> None:
        """Index row count equals the vectors appended; every stored cell is
        the vector's nearest centroid; each probe's top-k equals an exact
        numpy top-k over the cells it probed."""
        st["progress"] = _progress_means(st["query"])
        st["query"].stop()
        st["index_files"] = len(glob.glob(
            os.path.join(st["root"], "index", "corpus", "cell=*", "*.parquet")))
        corpus = run.spark.read.parquet(os.path.join(st["root"], "index", "corpus"))
        cells = corpus.select("vec_id", "cell").toPandas()
        run.check("index row count", len(cells) == st["n"] and cells.vec_id.is_unique)
        cell_of = np.full(len(inp["x"]), -1)
        cell_of[cells.vec_id.to_numpy()] = cells.cell.to_numpy()
        cents = run.spark.read.parquet(
            os.path.join(st["root"], "index", "centroids")
        ).toPandas().sort_values("cell")
        c = np.stack(cents.centroid.to_numpy()).astype(np.float64)
        cell_ids = cents.cell.to_numpy()
        x = inp["x"].astype(np.float64)
        self._check_cells(run, cells, c, cell_ids, x)
        for qi, n_at, rows in st["probes"]:
            if rows is None:
                continue  # already counted as failed
            q = inp["queries"][qi].astype(np.float64)
            probed = cell_ids[np.argsort(((c - q) ** 2).sum(axis=1), kind="stable")[:NPROBE]]
            member = np.flatnonzero(np.isin(cell_of[:n_at], probed))
            xs = x[member]
            sims = xs @ q / (np.linalg.norm(xs, axis=1) * np.linalg.norm(q))
            want = np.sort(np.round(sims, 6))[::-1][:K]
            got_ids = np.array([r["vec_id"] for r in rows])
            got = np.array([r["score"] for r in rows])
            sim_of = dict(zip(member.tolist(), sims.tolist()))
            ok = (
                len(got) == len(want)
                and np.allclose(got, want, atol=2e-6)
                and all(abs(sim_of.get(int(i), np.inf) - s) < 2e-6
                        for i, s in zip(got_ids, got))
            )
            run.check(f"probe top-{K} of query {qi}", ok)

    def _check_cells(self, run: Run, cells, c, cell_ids, x) -> None:
        """Each stored cell against the nearest centroid by squared L2
        (float32 ties within 1e-5); a wrong cell fails the ingest batch
        that wrote it (the set-up's build counts as one)."""
        ids = cells.vec_id.to_numpy()
        d = ((x[ids][:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        col = np.searchsorted(cell_ids, cells.cell.to_numpy())
        col = np.clip(col, 0, len(cell_ids) - 1)
        known = cell_ids[col] == cells.cell.to_numpy()
        bad = ~known | (d[np.arange(len(ids)), col] > d.min(axis=1) + 1e-5)
        batches = {max(-1, int(i - self.p["base"]) // self.p["batch"]) for i in ids[bad]}
        run.check(f"cell of {int(bad.sum())} vectors is not their nearest centroid",
                  not bad.any(), len(batches))

    def layers(self, run: Run, st: dict) -> dict:
        ing = run.latencies.get("ingest", [])
        prb = run.latencies.get("probe", [])
        out = {
            "ingest_p50_ms": percentile(ing, 50) * 1e3 if ing else None,
            "ingest_p80_ms": percentile(ing, 80) * 1e3 if ing else None,
            "probe_p50_ms": percentile(prb, 50) * 1e3 if prb else None,
            "probe_p90_ms": percentile(prb, 90) * 1e3 if prb else None,
            "operators.ann.probe_build_ms": traced_mean(run, "probe", "build_ms"),
            "operators.ann.probe_exec_ms": traced_mean(run, "probe", "exec_ms"),
            "sources.files_read": traced_mean(run, "probe", "files_read"),
            "sources.index_files": st.get("index_files"),
        }
        out.update(st.get("progress", {}))
        return out

    def release(self, st: dict) -> None:
        st["query"].stop()


# StreamingQueryProgress.durationMs key -> layer metric
PROGRESS = {
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
}


def _progress_means(query) -> dict:
    """Mean per-phase durations of the micro-batches that carried rows."""
    sums = {v: [] for v in PROGRESS.values()}
    for p in query.recentProgress:
        if not p.get("numInputRows"):
            continue
        for k, name in PROGRESS.items():
            if k in p.get("durationMs", {}):
                sums[name].append(float(p["durationMs"][k]))
    return {k: (sum(v) / len(v) if v else None) for k, v in sums.items()}
