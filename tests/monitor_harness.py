"""Shared harness for the streaming corpus monitors.

Each monitored table has ONE definition, a ``*_partials`` (one
micro-batch) + ``merged_*`` (any number of batches) pair, and its
registered query is the merge of a single partial. ``run_monitor``
streams the documents over 1 or 2 micro-batches; ``foreachBatch`` writes
each batch's partials through the idempotent ``write_epoch_partials``;
the merged table must equal the registered query's rows AND the DuckDB
oracle (the independent reference the streamed side keeps now that the
query itself is the merge), and pass the table's non-degeneracy check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.audit_ops import (
    calibration_partials,
    lang_partials,
    merged_calibration,
    merged_k_anonymity,
    merged_language_budget,
    qi_class_partials,
)
from kafka_go_streamer_spark.plans.pipeline_econ import (
    merged_shard_plan,
    shard_partials,
)
from kafka_go_streamer_spark.plans.semdedup import (
    merged_pii_density,
    pii_partials,
)
from kafka_go_streamer_spark.sources.tables import load_table
from kafka_go_streamer_spark.streaming.partials import write_epoch_partials
from tests.oracle_harness import compare


def _check_several_rows(rows):
    assert len(rows) >= 2


def _check_privacy(rows):
    # risk provably present on this fixture (small classes exist)
    assert any(r["n_docs_below"] > 0 for r in rows.values())


def _check_pii(rows):
    # the seeded corpus provably carries PII in several sources
    assert sum(r["docs_with_pii"] for r in rows.values()) > 0
    assert len(rows) >= 2


def _check_language_budget(rows):
    # multilingual and non-degenerate: the allocation spends the full
    # budget and the dominant language has the smallest fill share
    assert len(rows) >= 2
    total_avail = sum(r["avail_tokens"] for r in rows.values())
    total_alloc = sum(r["alloc_tokens"] for r in rows.values())
    assert total_alloc == pytest.approx(0.5 * total_avail, rel=1e-6)
    shares = {k: r["fill_share"] for k, r in rows.items()}
    biggest = max(rows, key=lambda k: rows[k]["avail_tokens"])
    assert shares[biggest] == min(shares.values())
    assert max(shares.values()) > min(shares.values())


#: table -> (partials, merge, document columns, row key, non-degeneracy)
MONITORS = {
    "quality_calibration_bins": (
        calibration_partials, merged_calibration, ("text",), "bin",
        _check_several_rows,
    ),
    "privacy_k_anonymity": (
        qi_class_partials, merged_k_anonymity,
        ("lang", "source", "n_chars"), "k", _check_privacy,
    ),
    "storage_shard_plan": (
        shard_partials, merged_shard_plan, ("source", "n_chars"), "source",
        _check_several_rows,
    ),
    "pii_density_by_source": (
        pii_partials, merged_pii_density, ("source", "text"), "source",
        _check_pii,
    ),
    "sample_language_budget": (
        lang_partials, merged_language_budget, ("lang", "text"), "lang",
        _check_language_budget,
    ),
}


def rows_by(df, key):
    return {r[key]: r.asDict() for r in df.collect()}


def halves(docs):
    median = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    return [
        docs.filter(F.col("doc_id") <= median),
        docs.filter(F.col("doc_id") > median),
    ]


def run_monitor(spark, sf_dir, oracle_df, tmp_path, table, n_batches):
    partials_of, merge, cols, key, check = MONITORS[table]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", *cols)

    src = tmp_path / "doc_stream"
    src.mkdir()
    batches = [docs] if n_batches == 1 else halves(docs)
    for i, b in enumerate(batches, 1):
        b.coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    partials_dir = str(tmp_path / "partials")

    def monitor(bdf, epoch_id):
        write_epoch_partials(partials_of(bdf), epoch_id, partials_dir)

    q = (
        stream.writeStream.foreachBatch(monitor)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "stream did not terminate within 240s"

    partials = spark.read.parquet(partials_dir)
    assert partials.select("epoch").distinct().count() == n_batches

    streamed = merge(partials)
    got = rows_by(streamed, key)
    assert got == rows_by(QUERIES[table](spark, sf_dir), key)
    assert compare(streamed.toPandas(), oracle_df(table)) == []
    check(got)
