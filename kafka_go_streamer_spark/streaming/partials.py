"""Idempotent partial-store writes for the associative-partial
monitors. Each monitored table has ONE definition, a ``*_partials``
(one micro-batch) + ``merged_*`` (any number of batches) pair beside
its registered query, which is itself the merge of a single partial:

* ``quality_calibration_bins`` — ``plans/audit_ops.calibration_partials``
  / ``merged_calibration``;
* ``privacy_k_anonymity`` — ``plans/audit_ops.qi_class_partials`` /
  ``merged_k_anonymity``;
* ``sample_language_budget`` — ``plans/audit_ops.lang_partials`` /
  ``merged_language_budget``;
* ``storage_shard_plan`` — ``plans/pipeline_econ.shard_partials`` /
  ``merged_shard_plan``;
* ``pii_density_by_source`` — ``plans/semdedup.pii_partials`` /
  ``merged_pii_density``.

A monitor's ``foreachBatch`` writes ``X_partials(batch)`` here; its
published table is ``merged_X(spark.read.parquet(store))``.

The monitors' streamed == batch guarantee needs each micro-batch's
partial rows to land EXACTLY once in the partial store. foreachBatch
itself is at-least-once under task/epoch retry: a plain
``mode("append")`` write replays a failed epoch's rows a second time
and every merged sum double-counts that batch. The fix is the standard
Spark idempotency pattern for foreachBatch sinks: key the write by
``epoch_id`` (which Spark guarantees is the SAME on replay of the same
batch) and make the write an epoch-partition OVERWRITE, so a replayed
epoch replaces its own rows instead of appending beside them.

``write_epoch_partials`` is that pattern in one place: partition the
partial store by ``epoch`` and dynamically overwrite only the epoch
being (re)written (``partitionOverwriteMode=dynamic`` scoped to this
writer — other epochs' partitions are untouched). Readers just
``spark.read.parquet(store)`` and see ``epoch`` as a normal column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_epoch_partials(
    partials: DataFrame, epoch_id: int, store_path: str
) -> None:
    """Write one micro-batch's partial rows under ``epoch=epoch_id``,
    overwriting ONLY that partition — replaying the epoch (foreachBatch
    is at-least-once) rewrites the identical rows instead of
    double-counting them, which is what makes the monitors' merged
    sums exactly-once."""
    (
        partials.withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(store_path)
    )
