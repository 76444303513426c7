"""Metric names, units and directions, as listed in BENCHMARK.json.

End-to-end metrics are printed with tracing off; per-layer metrics come
from the traced run. A per-layer metric a workload does not exercise
reads 0 on it (that layer did no work); README.md says which workload
and which end-to-end metric each one should move.
"""

from __future__ import annotations

#: name -> (unit, better, regression bound as a share of the median).
#: Throughput is counted per CPU-second of the Spark engine, not per
#: wall second: on a shared host the wall-clock rates of the same code
#: move with other tenants' load several times as much as the CPU-time
#: rates do (README.md, "Why per CPU-second").
E2E = {
    "setup_s": ("s", "lower", 0.25),
    "ops_per_cpu_s": ("1/cpu-s", "higher", 0.25),
    "writes_per_cpu_s": ("1/cpu-s", "higher", 0.25),
    "reads_per_cpu_s": ("1/cpu-s", "higher", 0.25),
    "peak_pss_mb": ("MB", "lower", 0.25),
}

#: The workload-specific figures a user reads, printed by name (not
#: part of the JSON line): name -> (key in a workload's results, unit)
NAMED = {
    "msgs_per_s": ("msgs_per_s", "messages/s"),
    "msgs_per_cpu_s": ("msgs_per_cpu_s", "messages/cpu-s"),
    "batch_msgs_per_s": ("batch_msgs_per_s", "messages/s"),
    "batch_msgs_per_cpu_s": ("batch_msgs_per_cpu_s", "messages/cpu-s"),
    "deliver_p50_ms": ("deliver_p50_ms", "ms"),
    "deliver_p99_ms": ("deliver_p99_ms", "ms"),
    "deliver_samples": ("streaming.latency_samples", "count"),
    "docs_per_s": ("docs_per_s", "documents/s"),
    "docs_per_cpu_s": ("docs_per_cpu_s", "documents/cpu-s"),
    "queries_per_s": ("queries_per_s", "queries/s"),
    "queries_per_cpu_s": ("queries_per_cpu_s", "queries/cpu-s"),
    "append_vecs_per_s": ("append_vecs_per_s", "vectors/s"),
    "append_vecs_per_cpu_s": ("append_vecs_per_cpu_s", "vectors/cpu-s"),
    "recall_at_10": ("ivf.recall_at_10", "ratio"),
}

#: name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.worker_warm_s": ("s", "lower"),
    "config.load_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.rows": ("count", "higher"),
    "sources.bytes": ("bytes", "lower"),
    "routing.busy_s": ("s", "lower"),
    "routing.arms_per_msg": ("count", "lower"),
    "routing.match_share": ("ratio", "higher"),
    "routing.rows_out": ("count", "higher"),
    "streaming.batches": ("count", "higher"),
    "streaming.rows_per_batch": ("count", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.planning_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.commit_ms": ("ms", "lower"),
    "streaming.backlog_msgs_max": ("count", "lower"),
    "streaming.latency_samples": ("count", "higher"),
    "streaming.deliver_p50_ms": ("ms", "lower"),
    "streaming.deliver_p99_ms": ("ms", "lower"),
    "streaming.gen_lateness_p99_ms": ("ms", "lower"),
    "sink.files_written": ("count", "lower"),
    "sink.bytes_written": ("bytes", "lower"),
    "sink.files_per_batch": ("count", "lower"),
    "prep.gate_s": ("s", "lower"),
    "prep.survivor_share": ("ratio", "lower"),
    "dedup.sign_s": ("s", "lower"),
    "dedup.lsh_s": ("s", "lower"),
    "dedup.candidates": ("count", "lower"),
    "dedup.verified": ("count", "higher"),
    "dedup.verify_yield": ("ratio", "higher"),
    "dedup.cc_s": ("s", "lower"),
    "dedup.components": ("count", "higher"),
    "decontam.s": ("s", "lower"),
    "decontam.dropped": ("count", "higher"),
    "pack.s": ("s", "lower"),
    "pack.sequences": ("count", "lower"),
    "pack.fill_ratio": ("ratio", "higher"),
    "ivf.build_s": ("s", "lower"),
    "ivf.probe_s": ("s", "lower"),
    "ivf.cells_per_query": ("count", "lower"),
    "ivf.candidates_per_query": ("count", "lower"),
    "ivf.append_s": ("s", "lower"),
    "ivf.cell_balance": ("ratio", "lower"),
    "ivf.recall_at_10": ("ratio", "higher"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "input.dup_share": ("ratio", "higher"),
    "input.near_dup_share": ("ratio", "higher"),
    "input.non_english_share": ("ratio", "higher"),
    "input.contaminated_share": ("ratio", "higher"),
    "input.clusters": ("count", "higher"),
    "input.dim": ("count", "higher"),
    "trace.overhead_share": ("ratio", "lower"),
}

#: per-layer name -> key in a workload's results
_RESULTS = {
    "streaming.deliver_p50_ms": "deliver_p50_ms",
    "streaming.deliver_p99_ms": "deliver_p99_ms",
}

#: per-layer name -> key in the generator's facts
_FACTS = {
    "input.dup_share": "planted.exact_dup_share",
    "input.near_dup_share": "planted.near_dup_share",
    "input.non_english_share": "planted.non_english_share",
    "input.contaminated_share": "planted.contaminated_share",
    "input.clusters": "clusters",
    "input.dim": "dim",
}


def per_layer(layer: dict, res: dict, facts: dict) -> dict:
    """Every per-layer metric, from the layer measurements, the traced
    pass's results and the generator's facts; 0 where this workload
    does not exercise the layer."""
    out = {}
    for name, (unit, _) in PER_LAYER.items():
        v = layer.get(name, res.get(_RESULTS.get(name, name), facts.get(name)))
        if name in _FACTS:
            v = facts.get(_FACTS[name])
        out[name] = {"value": float(v or 0.0), "unit": unit}
    return out
