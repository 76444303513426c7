"""Streaming calibration monitor: documents arrive across 1 or 2 micro-
batches; per-batch partials written through ``write_epoch_partials``
merge to a table that must equal the registered query
``quality_calibration_bins`` (itself the merge of a single partial)
AND its DuckDB oracle, the independent reference
(tests/monitor_harness.py)."""

from __future__ import annotations

import pytest

from tests.monitor_harness import run_monitor

pytestmark = pytest.mark.slow


@pytest.mark.timeout(300)
@pytest.mark.parametrize("n_batches", [1, 2])
def test_streaming_calibration_matches_batch(
    spark, sf_dir, oracle_df, tmp_path, n_batches
):
    run_monitor(
        spark, sf_dir, oracle_df, tmp_path, "quality_calibration_bins", n_batches
    )
