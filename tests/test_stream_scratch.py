"""A streaming topology leaves behind only the dir its result reads (a parquet
sink or a snapshot): checkpoints, staging logs, broker state and reader
metadata are drain scratch, removed when the drain returns."""

import os
import subprocess
import sys
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


def test_session_staging_dirs_removed_at_exit(sf_dir, tmp_path):
    """The per-session staging caches outlive every drain but not the
    interpreter: a process that staged the events log leaves no
    `messilog_events_*` dir behind once it exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from messikinesisprovider_spark.registry import all_specs\n"
        "from messikinesisprovider_spark.session import get_spark\n"
        "from messikinesisprovider_spark.streaming import verified\n"
        "spark = get_spark('staging-exit', cpus=2)\n"
        f"assert all_specs()['streaming_time_bucket'].fn(spark, {sf_dir!r}).count() > 0\n"
        "print(*verified._STAGED.values())\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=600, check=True,
    )
    staged = out.stdout.split()[-1]
    assert staged.startswith(str(tmp_path) + os.sep)  # staged under TMPDIR
    assert not [n for n in os.listdir(tmp_path) if n.startswith("messilog_events_")]
