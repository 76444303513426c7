"""Corpus curation, the first half of the ``dataprep`` workload: the
whole pretraining-data pipeline (``pipeline_pretraining_full`` from the
plans registry) over a seeded corpus with planted duplicates,
near-duplicates, non-English, short, low-alpha and contaminated
documents."""

from __future__ import annotations

import hashlib
import os
import time

import duckdb
import pyarrow.parquet as pq

import gen
from common import WORK_ROOT, CpuClock, cores, median

QUERY = "pipeline_pretraining_full"
COLS = ("doc_id", "source", "shard", "n_tokens", "seq_id", "seq_offset")


def _oracle(sf_dir: str) -> dict[int, tuple]:
    """The registry's DuckDB SQL for the pipeline, run by DuckDB over the
    same parquet file; cached per input file contents and SQL text."""
    from kafka_go_streamer_spark.plans.registry import ORACLES
    import kafka_go_streamer_spark.plans.training_ops  # noqa: F401 (registers)

    # Materialize the two CTEs the packing recursion reads: without the
    # hint DuckDB re-evaluates decontamination once per recursion step
    # (about 5x slower). The hint changes evaluation only, not results.
    sql = ORACLES[QUERY]
    for cte in ("toks", "clean"):
        sql = sql.replace(f"    {cte} AS (", f"    {cte} AS MATERIALIZED (")
    path = os.path.join(sf_dir, "documents.parquet")
    h = hashlib.sha256(sql.encode())
    with open(path, "rb") as fh:
        h.update(fh.read())
    cache = os.path.join(WORK_ROOT, "cache", f"prep-{h.hexdigest()[:24]}.parquet")
    if not os.path.exists(cache):
        con = duckdb.connect()
        con.execute(f"SET threads TO {cores()}")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        t = con.execute(f"SELECT {', '.join(COLS)} FROM ({sql})").arrow()
        con.close()
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        tmp = cache + f".{os.getpid()}.tmp"
        pq.write_table(t, tmp)
        os.replace(tmp, cache)
    t = pq.read_table(cache)
    return {r[0]: tuple(r[1:]) for r in zip(*[t.column(c).to_pylist() for c in COLS])}


def _rows(rows) -> dict[int, list[tuple]]:
    out: dict[int, list[tuple]] = {}
    for r in rows:
        out.setdefault(int(r["doc_id"]), []).append(
            tuple(r[c] for c in COLS[1:]))
    return out


def _wrong_docs(n_docs: int, want: dict[int, tuple], got: dict[int, list]) -> int:
    """Documents whose output row is missing, extra, duplicated or has a
    different (source, shard, n_tokens, seq_id, seq_offset)."""
    bad = 0
    for d in range(n_docs):
        g, w = got.get(d), want.get(d)
        if w is None:
            bad += g is not None
        else:
            bad += g is None or len(g) != 1 or g[0] != w
    bad += sum(1 for d in got if not 0 <= d < n_docs)
    return bad


class PrepCorpus:
    N_DOCS = 600
    WARM_DOCS = 200
    MIN_RUNS = 2  # pipeline runs per window, however short the window

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer

    def generate(self) -> dict:
        self.sf_dir = os.path.join(self.work, "inputs", "corpus")
        table, planted = gen.corpus(self.seed, self.N_DOCS)
        gen.write_corpus(table, self.sf_dir)
        self.warm_dir = os.path.join(self.work, "inputs", "warm")
        gen.write_corpus(gen.corpus(self.seed + 1, self.WARM_DOCS)[0],
                         self.warm_dir)
        self.want = _oracle(self.sf_dir)
        facts = {"documents": self.N_DOCS,
                 "expected_rows_out": len(self.want)}
        facts.update({f"planted.{k}_share": v / self.N_DOCS
                      for k, v in planted.items()})
        self.facts = facts
        return facts

    def _run(self, spark, sf_dir: str) -> tuple[float, float, list]:
        """One pipeline run: (wall s, engine CPU s, result rows)."""
        from kafka_go_streamer_spark.plans.registry import QUERIES
        import kafka_go_streamer_spark.plans.training_ops  # noqa: F401

        clock = CpuClock()
        c0, t0 = clock.start(), time.perf_counter()
        with self.tracer.span("plans.pipeline"):
            rows = QUERIES[QUERY](spark, sf_dir).collect()
        return time.perf_counter() - t0, clock.read() - c0, rows

    def measure(self, spark, seconds: float) -> dict:
        self._run(spark, self.warm_dir)  # untimed warm-up
        walls, cpus, results = [], [], []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(walls) < self.MIN_RUNS:
            wall, cpu, rows = self._run(spark, self.sf_dir)
            walls.append(wall)
            cpus.append(cpu)
            results.append(rows)
        failed = sum(_wrong_docs(self.N_DOCS, self.want, _rows(r))
                     for r in results)
        rows_out = median([len(r) for r in results])
        return {
            "attempted": self.N_DOCS * len(walls),
            "failed": failed,
            "docs_per_s": median([self.N_DOCS / w for w in walls]),
            "docs_per_cpu_s": median([self.N_DOCS / c for c in cpus]),
            "pipeline_cpu_s": [round(c, 3) for c in cpus],
            "pipeline_p50_ms": 1e3 * median(walls),
            "pipeline_runs": len(walls),
            "pack.rows_out": rows_out,
        }

    def layers(self, spark) -> dict:
        """The pipeline stage by stage through the package's public
        functions, in the order ``pipeline_pretraining_full`` composes
        them, with row counts at each boundary."""
        from pyspark.sql import functions as F

        from kafka_go_streamer_spark.functions.text import words
        from kafka_go_streamer_spark.operators.dedup import (
            band_rows,
            cap_bucket,
            connected_components,
            minhash_lsh_pairs,
            shingles_of,
            with_minhash,
        )
        from kafka_go_streamer_spark.operators.iterate import pinned
        from kafka_go_streamer_spark.plans.text import prep_survivors
        from kafka_go_streamer_spark.plans.training_ops import (
            PACK_CAP,
            fold_packed,
            with_pack_shard,
        )
        from kafka_go_streamer_spark.sources.tables import fan_out, load_table

        tr, out = self.tracer, {}

        def timed(metric, fn):
            t0 = time.perf_counter()
            with tr.span(metric):
                r = fn()
            out[metric] = time.perf_counter() - t0
            return r

        docs = load_table(spark, self.sf_dir, "documents")
        surv_docs = timed("prep.gate_s", lambda: pinned(
            prep_survivors(docs).select("doc_id", "source", "n_tokens")
            .join(docs.select("doc_id", "text"), "doc_id")))
        n_surv = surv_docs.count()
        out["prep.survivor_share"] = n_surv / self.N_DOCS
        src = surv_docs.select("doc_id", "text")
        sigs = timed("dedup.sign_s", lambda: with_minhash(src, "text")
                     .localCheckpoint(eager=True))
        bands = cap_bucket(band_rows(sigs, "doc_id"), "band", "key")
        a, b = bands.alias("a"), bands.alias("b")
        out["dedup.candidates"] = (
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.id") < F.col("b.id")))
            .select("a.id", "b.id").distinct().count())
        pairs = timed("dedup.lsh_s", lambda: pinned(minhash_lsh_pairs(
            src, "doc_id", "text", min_intersection=2, sigs=sigs)))
        out["dedup.verified"] = pairs.count()
        out["dedup.verify_yield"] = (
            out["dedup.verified"] / out["dedup.candidates"]
            if out["dedup.candidates"] else 0.0)
        comp = timed("dedup.cc_s", lambda: pinned(connected_components(
            surv_docs.select(F.col("doc_id").alias("id")),
            pairs.select("id_a", "id_b"), include_isolated=False)))
        out["dedup.components"] = comp.select("comp").distinct().count()

        def decontam():
            dropped = comp.filter(F.col("comp") != F.col("id")).select(
                F.col("id").alias("doc_id"))
            canon = surv_docs.join(dropped, "doc_id", "left_anti")
            bench = (fan_out(docs).filter(F.col("doc_id") % 50 == 0)
                     .select(words(F.col("text")).alias("_w"))
                     .select(F.explode(shingles_of(F.col("_w"))).alias("s"))
                     .distinct())
            cand = pinned(canon.filter(F.col("doc_id") % 50 != 0))
            csh = cand.select("doc_id", words(F.col("text")).alias("_w")).select(
                "doc_id", F.explode(shingles_of(F.col("_w"))).alias("s"))
            bad = csh.join(F.broadcast(bench), "s").select("doc_id").distinct()
            clean = pinned(cand.join(bad, "doc_id", "left_anti").select(
                "doc_id", "source", "n_tokens"))
            return cand.count(), clean

        n_cand, clean = timed("decontam.s", decontam)
        n_clean = clean.count()
        out["decontam.dropped"] = n_cand - n_clean
        packed = timed("pack.s", lambda: fold_packed(
            with_pack_shard(clean)).collect())
        seqs = {(r["source"], r["shard"], r["seq_id"]) for r in packed}
        out["pack.sequences"] = len(seqs)
        out["pack.fill_ratio"] = (
            sum(r["n_tokens"] for r in packed) / (len(seqs) * PACK_CAP)
            if seqs else 0.0)
        out["sources.rows"] = self.N_DOCS
        out["sources.bytes"] = os.path.getsize(
            os.path.join(self.sf_dir, "documents.parquet"))
        t0 = time.perf_counter()
        with tr.span("sources.scan"):
            docs.write.format("noop").mode("overwrite").save()
        out["sources.scan_s"] = time.perf_counter() - t0
        return out
