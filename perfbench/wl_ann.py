"""ANN serving, the second half of the ``dataprep`` workload: a
persisted IVF index (``operators.ivf_store``) over seeded clustered
embeddings, serving query panels while fresh vector batches are
appended between them."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from common import CpuClock, median, pct
from reference import exact_topk, ivf_expected, same_topk

TOPK = 10


class AnnServe:
    DIM = 32
    CLUSTERS = 16
    SPREAD = 0.35
    N_BASE = 1000
    CELLS = 12  # IVF cells (k of the quantizer)
    NPROBE = 2
    PANEL = 32  # queries per probe call
    BATCH = 200  # vectors per append
    MIN_CYCLES = 3  # append+probe cycles per window, however short
    MAX_CYCLES = 20

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.builds = 0

    def generate(self) -> dict:
        e = gen.Embeddings(self.seed, self.DIM, self.CLUSTERS, self.SPREAD)
        inputs = os.path.join(self.work, "inputs", "ann")
        os.makedirs(inputs)
        self.base, lab = e.draw(self.N_BASE)
        self.base_path = os.path.join(inputs, "base.parquet")
        pq.write_table(gen.embedding_table(np.arange(self.N_BASE), self.base,
                                           lab), self.base_path)
        # batches are appended in order (batch 0 in the warm-up), and
        # panel i is probed right after batch i
        self.batches, self.panels = [], []
        next_id = self.N_BASE
        for i in range(self.MAX_CYCLES + 1):
            v, lab = e.draw(self.BATCH)
            ids = np.arange(next_id, next_id + self.BATCH)
            next_id += self.BATCH
            p = os.path.join(inputs, f"batch-{i:03d}.parquet")
            pq.write_table(gen.embedding_table(ids, v, lab), p)
            self.batches.append((p, ids, v))
            q, _ = e.draw(self.PANEL)
            p = os.path.join(inputs, f"panel-{i:03d}.parquet")
            pq.write_table(gen.query_table(q), p)
            self.panels.append((p, q))
        self.facts = {"vectors": self.N_BASE, "dim": self.DIM,
                      "clusters": self.CLUSTERS, "cells": self.CELLS,
                      "nprobe": self.NPROBE, "panel": self.PANEL,
                      "append_batch": self.BATCH}
        return self.facts

    def _build(self, spark, base_path: str) -> float:
        """Train and persist a fresh index over ``base_path``."""
        from kafka_go_streamer_spark.operators.ivf_store import build_ivf_index

        self.builds += 1
        self.index = os.path.join(self.work, "index", str(self.builds))
        t0 = time.perf_counter()
        with self.tracer.span("ivf.build"):
            build_ivf_index(spark.read.parquet(base_path), self.index,
                            iters=2, k=self.CELLS)
        return time.perf_counter() - t0

    def _append(self, spark, i: int) -> tuple[float, float]:
        """Fold batch ``i`` into the index: (wall s, engine CPU s)."""
        from kafka_go_streamer_spark.operators.ivf_store import append_to_ivf_index

        clock = CpuClock()
        c0, t0 = clock.start(), time.perf_counter()
        with self.tracer.span("ivf.append"):
            append_to_ivf_index(spark, self.index,
                                spark.read.parquet(self.batches[i][0]))
        return time.perf_counter() - t0, clock.read() - c0

    def _probe(self, spark, i: int) -> tuple[float, float, list]:
        """Probe panel ``i``: (wall s, engine CPU s, result rows)."""
        from kafka_go_streamer_spark.operators.ivf_store import probe_ivf_index_many

        clock = CpuClock()
        c0, t0 = clock.start(), time.perf_counter()
        with self.tracer.span("ivf.probe"):
            rows = probe_ivf_index_many(
                spark, self.index, spark.read.parquet(self.panels[i][0]),
                nprobe=self.NPROBE, topk=TOPK).collect()
        return time.perf_counter() - t0, clock.read() - c0, rows

    def measure(self, spark, seconds: float) -> dict:
        # the build and one append+probe cycle are the untimed warm-up;
        # the build time is reported as a layer metric
        build_s = self._build(spark, self.base_path)
        self._append(spark, 0)
        self._probe(spark, 0)
        appends, probes, answers = [], [], []
        t_end = time.perf_counter() + seconds
        i = 1
        while ((time.perf_counter() < t_end or len(probes) < self.MIN_CYCLES)
               and i <= self.MAX_CYCLES):
            appends.append(self._append(spark, i))
            wall, cpu, rows = self._probe(spark, i)
            probes.append((wall, cpu))
            answers.append(rows)
            i += 1
        return self._check(build_s, appends, probes, answers)

    def _index_state(self):
        """Centroids and the (vec_id -> cell) map as stored in the index."""
        c = pq.read_table(os.path.join(self.index, "centroids")).to_pydict()
        cents = np.zeros((self.CELLS, self.DIM))
        cents[np.array(c["cid"]), np.array(c["pos"])] = np.array(c["c"])
        v = pq.ParquetDataset(os.path.join(self.index, "vectors")).read(
            columns=["vec_id", "cell"])
        ids = v.column("vec_id").to_numpy()
        cells = v.column("cell").to_numpy().astype(np.int64)
        return cents, dict(zip(ids.tolist(), cells.tolist()))

    def _check(self, build_s, appends, probes, answers) -> dict:
        cents, cell_of = self._index_state()
        all_ids = np.concatenate([np.arange(self.N_BASE)]
                                 + [b[1] for b in self.batches])
        all_vecs = np.concatenate([self.base] + [b[2] for b in self.batches])
        failed, hits = 0, 0
        for j, rows in enumerate(answers):
            i = j + 1  # cycle index: batches 0..i are in the index
            n_vis = self.N_BASE + (i + 1) * self.BATCH
            ids, vecs = all_ids[:n_vis], all_vecs[:n_vis]
            cells = np.array([cell_of.get(int(x), -1) for x in ids])
            q = self.panels[i][1].astype(np.float64)
            want = ivf_expected(cents, cells, vecs, ids, q, self.NPROBE, TOPK)
            exact = exact_topk(vecs, ids, q, TOPK)
            got: dict[int, dict[int, float]] = {}
            for r in rows:
                got.setdefault(int(r["q_id"]), {})[int(r["vec_id"])] = float(
                    r["cos_sim"])
            for qi in range(len(q)):
                g = got.get(qi, {})
                failed += not same_topk(g, want[qi])
                hits += len(set(g) & set(exact[qi].tolist()))
        n_q = self.PANEL * len(answers)
        app_cpu = [c for _, c in appends]
        probe_cpu = [c for _, c in probes]
        appends = [w for w, _ in appends]
        probes = [w for w, _ in probes]
        sizes = np.bincount(np.array(list(cell_of.values())),
                            minlength=self.CELLS)
        return {
            "attempted": n_q,
            "failed": failed,
            "queries_per_s": median([self.PANEL / w for w in probes]),
            "append_vecs_per_s": median([self.BATCH / w for w in appends]),
            "probe_p50_ms": 1e3 * median(probes),
            "probe_p99_ms": 1e3 * pct(probes, 99),
            "queries_per_cpu_s": median([self.PANEL / c for c in probe_cpu]),
            "append_vecs_per_cpu_s": median([self.BATCH / c for c in app_cpu]),
            "probe_cpu_s": [round(c, 3) for c in probe_cpu],
            "append_cpu_s": [round(c, 3) for c in app_cpu],
            "ann_cycles": len(probes),
            "ivf.recall_at_10": hits / (TOPK * n_q),
            "ivf.build_s": build_s,
            "ivf.probe_s": median(probes),
            "ivf.append_s": median(appends),
            "ivf.cells_per_query": float(self.NPROBE),
            "ivf.candidates_per_query": float(
                self.NPROBE * sizes.mean()),
            "ivf.cell_balance": float(sizes.max() / sizes.mean()),
        }
