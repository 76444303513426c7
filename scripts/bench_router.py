"""Record the streaming ROUTER's throughput — the reference's core
use-case (consume -> regex/substring route -> produce, reference
main.go:315-337) as a measured rows/sec number, the way BENCH_r*.json
grounds the batch analytics.

``python scripts/bench_router.py [sf_dir] [out.json] [replay]``
(defaults: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1, BENCH_ROUTER.json,
replay 200).

Topology: the documents corpus replayed ``replay`` times (key-shifted
replica id on the key, so the sink layout matches a real keyed feed)
is staged as a multi-file parquet message log, then streamed through
the SAME ``route_microbatch`` transform the Kafka router runs
(streaming/router.py) in micro-batches of MAX_FILES_PER_TRIGGER files,
into a foreachBatch sink that folds per-topic counts (the counts prove
every message was routed; the sink does no other work, so the number
measures the router, not a writer). The reference ships no throughput
figure (BASELINE.md — its demo corpus is 10,300 messages at ~1% match
rate); this artifact is the engine's own recorded headline:

  rows_per_sec = replayed messages / wall seconds from query start to
  availableNow drain, measured on local[$SPARK_GRAFT_CPUS].

Run back-to-back on sf0.1 and the /tmp/sf1 synthetic (see
scripts/make_scale_fixture.py) for a same-machine x10 pair; both runs
append into the same out.json keyed by sf.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

MAX_FILES_PER_TRIGGER = 8
STAGE_FILES = 32


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_ROUTER.json"
    replay = int(sys.argv[3]) if len(sys.argv) > 3 else 200

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from kafka_go_streamer_spark.plans.routing_queries import DOCS_SPLITER
    from kafka_go_streamer_spark.session import cpu_count, get_spark
    from kafka_go_streamer_spark.streaming.router import route_microbatch

    cpus = cpu_count()
    spark = get_spark("kgs-bench-router", cpus=cpus)
    sf = round(
        float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")), 4
    )

    stage = f"/tmp/kgs_router_bench_sf{sf}"
    shutil.rmtree(stage, ignore_errors=True)
    feed = os.path.join(stage, "feed")
    ckpt = os.path.join(stage, "ckpt")

    # message log: every document text, replayed `replay` times with a
    # replica-tagged key — staged once, NOT part of the timed window
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    msgs = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(replay - 1))).alias("rep"),
        F.col("doc_id"),
        F.col("text").alias("value"),
    ).select(
        F.concat_ws("-", F.col("doc_id"), F.col("rep")).alias("key"), "value"
    )
    msgs.repartition(STAGE_FILES).write.parquet(feed)
    n_msgs = spark.read.parquet(feed).count()

    counts: dict[str, int] = {}
    # batch counter folded in the callback, NOT read off recentProgress —
    # Spark retains only the last ~100 progress events, so long drains
    # would under-report (ADVICE r14).
    n_batches = [0]

    def fold(batch_df, batch_id: int) -> None:
        n_batches[0] += 1
        routed = route_microbatch(batch_df, DOCS_SPLITER)
        for r in routed.groupBy("topic").count().collect():
            counts[r["topic"]] = counts.get(r["topic"], 0) + r["count"]

    stream = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
        .parquet(feed)
    )
    t0 = time.monotonic()
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    elapsed = round(time.monotonic() - t0, 3)

    n_routed = sum(counts.values())
    n_matched = n_routed - counts.get(DOCS_SPLITER.unmatched_topic or "", 0)
    rec = {
        "metric": "router_throughput_rows_per_sec",
        "value": round(n_msgs / elapsed, 1),
        "unit": "rows/sec",
        "sf": sf,
        "n_messages": n_msgs,
        "replay": replay,
        "elapsed_sec": elapsed,
        "n_batches": n_batches[0],
        "n_routed": n_routed,
        # routed_share counts every delivered row incl. the dead-letter
        # topic; match_share is the pattern-match rate the reference's
        # ~1% demo figure refers to (matched rules only).
        "routed_share": round(n_routed / n_msgs, 6),
        "match_share": round(n_matched / n_msgs, 6),
        "topics": {k: counts[k] for k in sorted(counts)},
        "cpus": cpus,
    }
    doc: dict = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                doc = json.load(f)
        except ValueError:
            doc = {}
    doc.setdefault("_doc", (
        "streaming router throughput (documents corpus replayed through "
        "route_microbatch in availableNow micro-batches; counts-only "
        "foreachBatch sink). Keyed by sf; sf0.1-vs-sf1 pairs are only "
        "comparable when recorded back-to-back on one machine."
    ))
    doc[str(sf)] = rec
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps(rec))
    shutil.rmtree(stage, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
