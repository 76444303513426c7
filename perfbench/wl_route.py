"""``route``: the content-based router over the file source and the
checkpointed parquet sink of the Kafka-less router, used two ways in one
run (one JVM start for both):

* drain phase (closed loop): a staged syslog log drained again and
  again by ``streaming.router.start_checkpointed_file_router``, each
  drain a fresh query over the same files, alternated with one-shot
  batch routings of the same log. Batches are large, so the
  per-message predicate work in ``routing`` and the scan dominate.
  Gives ``ops_per_cpu_s``, ``writes_per_cpu_s`` and ``reads_per_cpu_s``.
* paced phase (open loop, traced runs only): a separate generator
  process publishes fixed-size files at one fixed rate into a watched
  directory, and one continuously triggered router
  (``sources.files.stream_message_lines`` +
  ``streaming.router.route_microbatch`` + parquet sink) routes them.
  Batches are small, so fixed per-batch costs dominate. Gives the
  delivery latencies.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from common import ROOT, CpuClock, batch_phases, median, pct
from reference import Rules

#: Route code of a message that is produced nowhere (dropped, or
#: unmatched without an unmatched topic).
_NOT_PRODUCED = 0


def _topic_codes(rules: Rules) -> dict[str | None, int]:
    names = sorted({t for _, t in rules.arms if t} | {rules.unmatched} - {None})
    codes = {t: i + 1 for i, t in enumerate(names)}
    codes[None] = _NOT_PRODUCED
    return codes


def _expected(rules: Rules, lines: list[str], codes) -> tuple[np.ndarray, int]:
    """Expected route code per message (indexed by seq) and the number
    of predicates first-match evaluation spends on them."""
    want = np.zeros(len(lines), dtype=np.int16)
    arms = 0
    for i, v in enumerate(lines):
        topic, n = rules.route(v)
        want[i] = codes[topic]
        arms += n
    return want, arms


def _read_sink(paths: list[str], codes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(seq, due_us, route code) of every row in the given parquet files."""
    if not paths:
        e = np.zeros(0, dtype=np.int64)
        return e, e, e.astype(np.int16)
    t = pq.ParquetDataset(paths).read(columns=["value", "topic"])
    v = t.column("value")
    seq = pc.cast(pc.utf8_slice_codeunits(v, gen.SEQ_AT, gen.SEQ_AT + 9),
                  "int64").to_numpy()
    due = pc.cast(pc.utf8_slice_codeunits(v, gen.DUE_AT, gen.DUE_AT + 16),
                  "int64").to_numpy()
    lut = {k: c for k, c in codes.items() if k is not None}
    top = np.array([lut.get(x, -1) for x in t.column("topic").to_pylist()],
                   dtype=np.int16)
    return seq, due, top


def _wrong(want: np.ndarray, seq: np.ndarray, got: np.ndarray) -> np.ndarray:
    """Per-message flag: output missing, duplicated, misrouted, or
    produced when it should not be."""
    n = len(want)
    if len(seq) and not ((seq >= 0) & (seq < n)).all():
        return np.ones(n, dtype=bool)  # rows that are no message of this log
    count = np.bincount(seq, minlength=n)
    routed = np.zeros(n, dtype=np.int16)
    routed[seq] = got
    produced = want != _NOT_PRODUCED
    return (~produced & (count > 0)) | (
        produced & ((count != 1) | (routed != want)))


def _sink_log(out_dir: str) -> list[tuple[int, int, list[str]]]:
    """File-sink commit log: (batch id, commit time in epoch µs, files
    first listed by that batch). Compacted logs list every file so far,
    so only files not seen in an earlier batch are attributed."""
    meta = os.path.join(out_dir, "_spark_metadata")
    entries = []
    for name in os.listdir(meta):
        base = name.split(".")[0]
        if base.isdigit():
            entries.append((int(base), os.path.join(meta, name)))
    seen: set[str] = set()
    out = []
    for bid, path in sorted(entries):
        files = []
        with open(path, encoding="utf-8") as fh:
            for line in fh.read().splitlines()[1:]:
                p = json.loads(line)["path"]
                p = p[len("file:"):] if p.startswith("file:") else p
                if p not in seen:
                    seen.add(p)
                    files.append(p)
        out.append((bid, os.stat(path).st_mtime_ns // 1000, files))
    return out


class Route:
    #: which of this workload's results each end-to-end metric reports
    E2E_FROM = {"ops_per_cpu_s": "msgs_per_cpu_s",
                "writes_per_cpu_s": "rows_per_cpu_s",
                "reads_per_cpu_s": "batch_msgs_per_cpu_s"}
    DRAIN_MSGS = 3_000
    DRAIN_FILES = 4
    MIN_DRAINS = 4  # drains (and batch routings) per window, however short
    DRAIN_SHARE = 0.5  # of --seconds; the paced window gets the rest
    RATE = 400  # offered messages per second in the paced phase
    PER_FILE = 20
    LEAD_S = 0.7  # generator start-up before its first file is due
    WARM_S = 3.0  # paced traffic before the window, excluded from stats
    TAIL_S = 8.0  # longest wait for the last files to commit
    #: validity bounds of a paced window: generator lateness p99, and
    #: traffic still uncommitted this long after the window closes
    MAX_LATE_MS = 100.0
    MAX_BACKLOG_S = 2.0

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.rules = Rules(gen.RULES_YAML)
        self.codes = _topic_codes(self.rules)
        self.queries = 0

    # -- inputs and set-up -------------------------------------------------

    def generate(self) -> dict:
        lines = gen.message_log(self.seed, self.DRAIN_MSGS)
        self.in_dir = os.path.join(self.work, "inputs", "log")
        gen.write_message_files(lines, self.in_dir, self.DRAIN_FILES)
        self.want, arms = _expected(self.rules, lines, self.codes)
        unmatched = int((self.want == self.codes[self.rules.unmatched]).sum())
        self.warm_dir = os.path.join(self.work, "inputs", "warm")
        gen.write_message_files(gen.message_log(self.seed + 1, 1_000),
                                self.warm_dir, 2)
        self.facts = {
            "drain_messages": self.DRAIN_MSGS,
            "offered_msgs_per_s": self.RATE,
            "routing.match_share": 1 - unmatched / self.DRAIN_MSGS,
            "routing.arms_per_msg": arms / self.DRAIN_MSGS,
        }
        return self.facts

    def setup(self, spark) -> dict:
        from kafka_go_streamer_spark.config import load_split_conf

        t0 = time.perf_counter()
        with self.tracer.span("config.load"):
            self.spliter = load_split_conf(gen.RULES_YAML).spliters[0]
        return {"config.load_s": time.perf_counter() - t0}

    def _dirs(self, tag: str) -> tuple[str, str]:
        self.queries += 1
        base = os.path.join(self.work, "q", f"{tag}-{self.queries}")
        return os.path.join(base, "out"), os.path.join(base, "ckpt")

    # -- drain phase -----------------------------------------------------------

    def _drain(self, spark, in_dir: str, tag: str) -> tuple[float, float, str]:
        """One availableNow drain of ``in_dir`` into a fresh sink:
        (wall s, engine CPU s, sink directory)."""
        from kafka_go_streamer_spark.streaming.router import (
            start_checkpointed_file_router,
        )

        out, ckpt = self._dirs(tag)
        clock = CpuClock()
        c0, t0 = clock.start(), time.perf_counter()
        with self.tracer.span("streaming.drain"):
            q = start_checkpointed_file_router(
                spark, self.spliter, in_dir, out, ckpt,
                query_name=f"{tag}_{self.queries}")
            q.awaitTermination()
        wall, cpu = time.perf_counter() - t0, clock.read() - c0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall, cpu, out

    def _batch(self, spark, in_dir: str, tag: str) -> tuple[float, float, str]:
        """One-shot batch routing of ``in_dir`` (``read_message_lines``
        -> ``route_microbatch`` -> parquet), the path without the
        streaming layer: (wall s, engine CPU s, output directory)."""
        from kafka_go_streamer_spark.sources.files import read_message_lines
        from kafka_go_streamer_spark.streaming.router import route_microbatch

        out, _ = self._dirs(tag)
        clock = CpuClock()
        c0, t0 = clock.start(), time.perf_counter()
        with self.tracer.span("routing.batch"):
            route_microbatch(read_message_lines(spark, in_dir),
                             self.spliter).write.parquet(out)
        return time.perf_counter() - t0, clock.read() - c0, out

    def _drain_phase(self, spark, seconds: float) -> dict:
        """Streaming drains and one-shot batch routings of the drain log,
        alternated, each into a fresh output directory."""
        runs: dict[str, list] = {"drain": [], "batch": []}
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(runs["drain"]) < self.MIN_DRAINS:
            runs["drain"].append(self._drain(spark, self.in_dir, "drain"))
            runs["batch"].append(self._batch(spark, self.in_dir, "batch"))
        failed, out = 0, {}
        n = self.DRAIN_MSGS
        for kind, done in runs.items():
            rows, n_files, n_bytes = [], [], []
            for _, _, d in done:
                f = sorted(os.path.join(d, x) for x in os.listdir(d)
                           if x.endswith(".parquet"))
                n_files.append(len(f))
                n_bytes.append(sum(os.path.getsize(p) for p in f))
                seq, _, got = _read_sink(f, self.codes)
                rows.append(len(seq))
                failed += int(_wrong(self.want, seq, got).sum())
                shutil.rmtree(os.path.dirname(d), ignore_errors=True)
            walls = [w for w, _, _ in done]
            cpus = [c for _, c, _ in done]
            out[kind] = {"msgs_per_s": median([n / w for w in walls]),
                         "msgs_per_cpu_s": median([n / c for c in cpus]),
                         "rows_per_s": median([r / w for r, w in zip(rows, walls)]),
                         "rows_per_cpu_s": median([r / c for r, c in zip(rows, cpus)]),
                         "cpu_s": [round(c, 3) for c in cpus],
                         "rows": rows, "files": n_files, "bytes": n_bytes}
        d, b = out["drain"], out["batch"]
        return {
            "attempted": n * (len(runs["drain"]) + len(runs["batch"])),
            "failed": failed,
            "msgs_per_s": d["msgs_per_s"],
            "msgs_per_cpu_s": d["msgs_per_cpu_s"],
            "rows_per_s": d["rows_per_s"],
            "rows_per_cpu_s": d["rows_per_cpu_s"],
            "drain_cpu_s": d["cpu_s"],
            "drains": len(runs["drain"]),
            "batch_msgs_per_s": b["msgs_per_s"],
            "batch_msgs_per_cpu_s": b["msgs_per_cpu_s"],
            "batch_cpu_s": b["cpu_s"],
            "routing.rows_out": median(d["rows"]),
            "sink.files_per_drain": median(d["files"]),
            "sink.bytes_per_drain": median(d["bytes"]),
        }

    # -- paced phase -----------------------------------------------------------

    def _paced_phase(self, spark, seconds: float) -> dict:
        from kafka_go_streamer_spark.sources.files import stream_message_lines
        from kafka_go_streamer_spark.streaming.router import route_microbatch

        interval = self.PER_FILE / self.RATE
        n_files = int(round((self.WARM_S + seconds) / interval))
        out, ckpt = self._dirs("paced")
        base = os.path.dirname(out)
        watch, stage = os.path.join(base, "watch"), os.path.join(base, "stage")
        os.makedirs(watch)
        report = os.path.join(base, "gen.json")
        routed = route_microbatch(stream_message_lines(spark, watch),
                                  self.spliter)
        q = (routed.writeStream.format("parquet")
             .queryName(f"paced_{self.queries}")
             .outputMode("append")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .start())
        start = time.time() + self.LEAD_S
        gen_proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "paced_gen.py"),
             "--seed", str(self.seed), "--watch", watch, "--stage", stage,
             "--report", report, "--start", repr(start),
             "--files", str(n_files), "--interval", repr(interval),
             "--per-file", str(self.PER_FILE)])
        try:
            with self.tracer.span("streaming.paced"):
                gen_proc.wait(timeout=self.LEAD_S + self.WARM_S + seconds + 30)
                total = n_files * self.PER_FILE
                deadline = time.time() + self.TAIL_S
                while time.time() < deadline:
                    if sum(p["numInputRows"] for p in q.recentProgress) >= total:
                        break
                    time.sleep(0.05)
        finally:
            if gen_proc.poll() is None:
                gen_proc.kill()
            gen_proc.wait()
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        with open(report, encoding="utf-8") as fh:
            rep = json.load(fh)
        res = self._paced_eval(rep, out, start + self.WARM_S, seconds)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def _paced_eval(self, rep, out, w0: float, seconds: float) -> dict:
        """Delivery latency = commit time of the sink batch that carried
        a message minus the message's scheduled send time, over messages
        scheduled inside [w0, w0 + seconds)."""
        per = rep["per_file"]
        due, actual = np.array(rep["due"]), np.array(rep["actual"])
        w1 = w0 + seconds
        in_win = (due >= w0) & (due < w1)
        lines = []
        for i, d in enumerate(due):
            lines += gen.paced_file_lines(self.seed, i, per, round(d * 1e6))
        want, _ = _expected(self.rules, lines, self.codes)

        log = _sink_log(out)
        parts = [(_read_sink(files, self.codes), c_us) for _, c_us, files in log]
        seq = np.concatenate([s for (s, _, _), _ in parts] or [np.zeros(0, np.int64)])
        d_us = np.concatenate([d for (_, d, _), _ in parts] or [np.zeros(0, np.int64)])
        got = np.concatenate([g for (_, _, g), _ in parts] or [np.zeros(0, np.int16)])
        c_us = np.concatenate([np.full(len(s), c, np.int64)
                               for (s, _, _), c in parts] or [np.zeros(0, np.int64)])
        msg_in_win = np.repeat(in_win, per)
        bad = _wrong(want, seq, got)
        ours = (seq >= 0) & (seq < len(want))  # rows that are messages of ours
        seq, lat_ms, c_us = seq[ours], ((c_us - d_us) / 1e3)[ours], c_us[ours]
        lat = lat_ms[msg_in_win[seq]]

        # backlog: messages published but not yet committed, at each
        # commit inside the window
        file_commit = np.full(len(due), np.inf)
        np.minimum.at(file_commit, seq // per, c_us / 1e6)
        commits = sorted({c / 1e6 for _, c, _ in log})
        backlog = [per * (int((actual <= t).sum()) - int((file_commit <= t).sum()))
                   for t in commits if w0 <= t <= w1]
        late_ms = 1e3 * (actual - due)
        stuck = int((in_win & (file_commit > w1 + self.MAX_BACKLOG_S)).sum())
        valid = (len(lat) > 0 and pct(late_ms, 99) <= self.MAX_LATE_MS
                 and stuck == 0)
        n_files = len(log)
        return {
            "window": (w0, w1),
            "attempted": int(msg_in_win.sum()),
            "failed": int(bad[msg_in_win].sum()),
            "valid": bool(valid),
            "deliver_p50_ms": float(np.median(lat)) if len(lat) else 0.0,
            "deliver_p99_ms": pct(lat, 99) if len(lat) else 0.0,
            "streaming.latency_samples": int(len(lat)),
            "streaming.gen_lateness_p99_ms": pct(late_ms, 99),
            "streaming.backlog_msgs_max": max(backlog) if backlog else 0,
            "sink.files_written": sum(len(f) for _, _, f in log),
            "sink.bytes_written": sum(os.path.getsize(p) for _, _, f in log
                                      for p in f),
            "sink.files_per_batch": (sum(len(f) for _, _, f in log) / n_files
                                     if n_files else 0.0),
        }

    # -- workload ----------------------------------------------------------------

    def measure(self, spark, seconds: float, listener=None) -> dict:
        self._drain(spark, self.warm_dir, "warm")
        self._batch(spark, self.warm_dir, "warm")
        res = self._drain_phase(spark, seconds * self.DRAIN_SHARE)
        if listener is None:
            return res
        # The paced phase runs in the traced pass only: its delivery
        # latencies are wall-clock figures with no bound (README.md), and
        # the listener there splits them into per-batch phases.
        paced = self._paced_phase(spark, seconds * (1 - self.DRAIN_SHARE))
        w0, w1 = paced["window"]
        res = {**res, **paced,
               "attempted": res["attempted"] + paced["attempted"],
               "failed": res["failed"] + paced["failed"]}
        res.update(batch_phases([
            e for e in listener.events
            if e["name"].startswith("paced") and w0 <= e["start"] < w1]))
        return res

    def layers(self, spark) -> dict:
        """Source scan and routing cost in isolation, on the drain log:
        the read to a no-op sink, then the same read through
        ``route_and_filter`` to a no-op sink (medians of three)."""
        from kafka_go_streamer_spark.routing import route_and_filter
        from kafka_go_streamer_spark.sources.files import read_message_lines

        def noop(df, name):
            t0 = time.perf_counter()
            with self.tracer.span(name):
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        scans, routes = [], []
        for _ in range(3):
            scans.append(noop(read_message_lines(spark, self.in_dir),
                              "sources.scan"))
            routes.append(noop(route_and_filter(
                read_message_lines(spark, self.in_dir), self.spliter),
                "routing.route"))
        return {
            "sources.scan_s": median(scans),
            "sources.rows": self.DRAIN_MSGS,
            "sources.bytes": sum(
                os.path.getsize(os.path.join(self.in_dir, f))
                for f in os.listdir(self.in_dir)),
            "routing.busy_s": median(routes) - median(scans),
        }
