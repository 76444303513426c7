"""Streaming corpus monitors for the k-anonymity profile and the shard
plan (tests/monitor_harness.py: 1/2-batch streamed merge == the
registered query == the DuckDB oracle), and the replay test the
exactly-once claim of every monitor rests on: writing the same epoch
twice must leave the merged table equal to a single write."""

from __future__ import annotations

import pytest

from kafka_go_streamer_spark.plans import QUERIES
from kafka_go_streamer_spark.plans.pipeline_econ import (
    merged_shard_plan,
    shard_partials,
)
from kafka_go_streamer_spark.sources.tables import load_table
from kafka_go_streamer_spark.streaming.partials import write_epoch_partials
from tests.monitor_harness import halves, rows_by, run_monitor

pytestmark = pytest.mark.slow


@pytest.mark.timeout(300)
@pytest.mark.parametrize("n_batches", [1, 2])
@pytest.mark.parametrize("table", ["privacy_k_anonymity", "storage_shard_plan"])
def test_streamed_monitor_matches_query_and_oracle(
    spark, sf_dir, oracle_df, tmp_path, table, n_batches
):
    run_monitor(spark, sf_dir, oracle_df, tmp_path, table, n_batches)


@pytest.mark.timeout(300)
def test_replayed_epoch_is_written_once(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a retried epoch is written again
    with the same epoch id. The epoch-partition overwrite must replace
    its rows, not add to them."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    store = str(tmp_path / "partials")
    lo, hi = halves(docs)
    write_epoch_partials(shard_partials(lo), 0, store)
    write_epoch_partials(shard_partials(hi), 1, store)
    once = spark.read.parquet(store)
    n_once, rows_once = once.count(), rows_by(merged_shard_plan(once), "source")

    write_epoch_partials(shard_partials(hi), 1, store)
    write_epoch_partials(shard_partials(lo), 0, store)
    replayed = spark.read.parquet(store)
    assert replayed.count() == n_once
    assert rows_by(merged_shard_plan(replayed), "source") == rows_once
    assert rows_once == rows_by(QUERIES["storage_shard_plan"](spark, sf_dir), "source")
