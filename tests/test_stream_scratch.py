"""A streaming topology leaves behind only the dir its result reads (a parquet
sink or a snapshot): checkpoints, staging logs, broker state and reader
metadata are drain scratch, removed when the drain returns."""

import os
import tempfile

import pytest

from messikinesisprovider_spark.registry import all_specs
from messikinesisprovider_spark.streaming import verified, verified2, verified4


def _session_cache_dirs() -> set[str]:
    """Top-level temp dirs of the per-session staging caches: reused by every
    topology in the session, so not per-call scratch."""
    logs = [*verified._STAGED.values(), *verified4._STAGED_SENTINEL.values()]
    dirs = {os.path.dirname(root) for root in logs}
    dirs |= set(verified2._KINESIS_STAGED.values())
    return {os.path.basename(d) for d in dirs}


@pytest.mark.parametrize(
    "name, n_left",
    [
        ("streaming_time_bucket", 0),  # memory sink
        ("streaming_dedup_within_watermark", 1),  # two-pass parquet sink
        ("streaming_kinesis_pipeline_partitioned", 1),  # drain-to-tip loop
        ("streaming_cdc_upsert", 1),  # foreachBatch snapshot
    ],
)
def test_topology_leaves_only_its_result_dir(
    spark, sf_dir, tmp_path, monkeypatch, name, n_left
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = all_specs()[name].fn(spark, sf_dir)
    assert out.count() > 0  # the surviving dir still serves the result
    left = set(os.listdir(tmp_path)) - _session_cache_dirs()
    assert len(left) == n_left, sorted(left)
