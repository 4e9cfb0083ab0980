"""Behavioral tests for the streaming SCD2 maintenance topology
(materialize.scd2_maintain / streaming_scd2_maintenance)."""

import os
import tempfile

from pyspark.sql import functions as F

from messikinesisprovider_spark.operators.pipeline13 import TIER_BAND
from messikinesisprovider_spark.streaming import consume, materialize
from messikinesisprovider_spark.streaming.verified5 import streaming_scd2_maintenance
from messikinesisprovider_spark.streaming.verified import _staged_events_log
from messikinesisprovider_spark.registry import all_specs

SF = "/root/testdata/sf0.001"


def _run_maintain(spark, root, state):
    materialize.scd2_maintain(
        consume.stream_log(spark, root),
        state_dir=state,
        checkpoint_dir=tempfile.mkdtemp(prefix="scd2_ckpt_"),
        tier_band=TIER_BAND,
    )


def _versions_set(spark, state):
    rows = spark.read.parquet(os.path.join(state, "versions")).collect()
    return {
        (r["user_id"], r["version"]): (r["tier"], r["valid_from"], r["n_events"])
        for r in rows
    }


def test_streaming_scd2_equals_batch_build(spark):
    got = {
        (r["user_id"], r["version"]): (
            r["tier"], r["valid_from"], r["valid_to"], r["n_events"], r["is_current"],
        )
        for r in streaming_scd2_maintenance(spark, SF).collect()
    }
    want = {
        (r["user_id"], r["version"]): (
            r["tier"], r["valid_from"], r["valid_to"], r["n_events"], r["is_current"],
        )
        for r in all_specs()["scd2_history"].fn(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_full_replay_is_idempotent(spark):
    """At-least-once: re-delivering the ENTIRE log into an already-built
    state must not change it (external_id dedupe in the event store)."""
    root = _staged_events_log(spark, SF)
    state = os.path.join(tempfile.mkdtemp(prefix="scd2_replay_"), "state")
    _run_maintain(spark, root, state)
    v1 = _versions_set(spark, state)
    # fresh checkpoint, same state dir -> the whole log replays as new batches
    _run_maintain(spark, root, state)
    v2 = _versions_set(spark, state)
    assert v1 == v2 and len(v1) > 0


def test_staging_crash_between_swaps_recovers(spark):
    """A staging dir with _SUCCESS and no live dir (crash after rmtree,
    before rename) must be recovered as the complete state on next batch."""
    root = _staged_events_log(spark, SF)
    state = os.path.join(tempfile.mkdtemp(prefix="scd2_crash_"), "state")
    _run_maintain(spark, root, state)
    v1 = _versions_set(spark, state)
    versions_dir = os.path.join(state, "versions")
    # simulate the crash window
    os.rename(versions_dir, versions_dir + ".staging")
    assert os.path.exists(os.path.join(versions_dir + ".staging", "_SUCCESS"))
    _run_maintain(spark, root, state)  # replay drives recovery + re-merge
    assert _versions_set(spark, state) == v1


def test_streaming_pit_enrich_equals_batch_pit_join(spark):
    """The streaming temporal enrich must agree row-for-row with the batch
    point-in-time join (same SCD2 semantics through a different engine
    path: stream-maintained store + stream-static interval join vs batch
    union-and-carry)."""
    from messikinesisprovider_spark.streaming.verified6 import streaming_pit_enrich

    got = {
        (r["click_event_id"],): (
            r["user_id"], r["click_ts"], r["version_at_click"], r["tier_at_click"],
        )
        for r in streaming_pit_enrich(spark, SF).collect()
    }
    want = {
        (r["click_event_id"],): (
            r["user_id"], r["click_ts"], r["version_at_click"], r["tier_at_click"],
        )
        for r in all_specs()["pit_join_scd2"].fn(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_sketch_maintenance_full_replay_idempotent(spark):
    """Re-delivering the whole log with a fresh checkpoint must leave the
    accumulated sketch unchanged (batch-id-keyed increments overwrite)."""
    import tempfile

    from messikinesisprovider_spark.streaming import consume
    from messikinesisprovider_spark.streaming import verified7 as v7

    root = _staged_events_log(spark, SF)
    base = tempfile.mkdtemp(prefix="cms_replay_")

    def run():
        v7.sketch_accumulate(
            consume.stream_log(spark, root),
            state_dir=base,
            checkpoint_dir=tempfile.mkdtemp(prefix="cms_ckpt_"),
        )
        cms = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(base, "inc"))
            .groupBy("r", "b")
            .agg(F.sum("counter").alias("counter"))
        )
        return {(r["r"], r["b"]): r["counter"] for r in cms.collect()}

    s1 = run()
    s2 = run()  # full replay, fresh checkpoint, same state dir
    assert s1 == s2 and len(s1) > 0
