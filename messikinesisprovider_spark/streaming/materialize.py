"""Streaming upsert materializer: log → latest-state snapshot (CDC pattern).

A message log is an insert-only change stream; most consumers want the
current state per business key. `upsert_snapshot` runs a foreachBatch
MERGE-equivalent: each microbatch reduces to its latest row per key (highest
(shard, sequence)), unions with the existing snapshot, and keeps the winner.
The snapshot is rewritten atomically per batch (overwrite) — at warehouse
scale the same logic targets a MERGE-capable table format; the reduction
logic is identical.

Late/duplicate deliveries are harmless: the winner is chosen by broker
sequence, not arrival, so reprocessing a batch converges to the same state
(idempotent — the at-least-once story O4 needs exactly this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .consume import run_available_now


def latest_per_key(
    df: DataFrame, key: str = "external_id", order_cols: tuple[str, ...] | None = None
) -> DataFrame:
    """Reduce to the newest row per key.

    Default winner order is broker position (shard_id, sequence_number) —
    the reference's semantics. Pass `order_cols` to rank by payload fields
    instead (e.g. an event-time + unique-id pair) when the winner must be
    deterministic regardless of ingest parallelism — distributed bulk
    ingest assigns sequences in partition-iteration order, which is not a
    function of the payload.
    """
    cols = order_cols or ("shard_id", "sequence_number")
    w = W.partitionBy(key).orderBy(*[F.col(c).desc() for c in cols])
    return (
        df.filter(F.col(key).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_snapshot(
    stream_df: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key: str = "external_id",
    order_cols: tuple[str, ...] | None = None,
):
    """Drain `stream_df` (availableNow) into `snapshot_dir` as latest-per-key
    and return the stopped query."""
    spark = stream_df.sparkSession

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        import os
        import shutil

        staged = snapshot_dir + ".staging"
        # Crash recovery for the stage-then-swap below: if a previous batch
        # died between rmtree(snapshot) and rename(staged), the snapshot is
        # gone but the staged dir holds the COMPLETE merged state (its write
        # finished before the swap began — _SUCCESS marker present). Recover
        # it instead of falling through to the first-batch branch, which
        # would silently rebuild from the delta alone and lose history. A
        # staging dir WITHOUT _SUCCESS is an incomplete first-batch write —
        # discard it.
        if os.path.exists(staged) and not os.path.exists(snapshot_dir):
            if os.path.exists(os.path.join(staged, "_SUCCESS")):
                os.rename(staged, snapshot_dir)
            else:
                shutil.rmtree(staged)

        incoming = latest_per_key(batch_df, key, order_cols)
        # Existence check, NOT try/except: a corrupt or unreadable existing
        # snapshot must FAIL the batch (retry/alert), never be silently
        # replaced by the delta alone — that would drop every previously
        # materialized key.
        if os.path.exists(snapshot_dir):
            current = spark.read.parquet(snapshot_dir)
            merged = latest_per_key(current.unionByName(incoming), key, order_cols)
        else:  # first batch: no snapshot yet
            merged = incoming
        # stage-then-swap write: a failed write leaves the old snapshot
        # intact; a crash between rmtree and rename is healed by the
        # recovery block at batch entry above.
        merged.write.mode("overwrite").parquet(staged)
        if os.path.exists(snapshot_dir):
            shutil.rmtree(snapshot_dir)
        os.rename(staged, snapshot_dir)

    return run_available_now(stream_df, checkpoint_dir, foreach_batch=merge)


def scd2_maintain(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    tier_band: int = 50,
):
    """Drain `stream_df` (availableNow) into an SCD2 version table under
    `state_dir` and return the stopped query.

    The incremental-warehouse pattern executed as a topology (the batch
    twin is ``operators.pipeline17.scd2_incremental_merge``): per
    microbatch, (1) the batch folds into an append-only deduplicated event
    store (idempotent under at-least-once replay — dedupe by external_id),
    (2) ONLY the users present in the batch get their version chains
    recomputed from the store, (3) everyone else's version rows carry
    forward via an anti-join. Work per batch ∝ affected users' history,
    not the dimension — the same contract a MERGE-based warehouse job has.

    Crash safety: both stores use the stage-then-swap + _SUCCESS-recovery
    protocol of ``upsert_snapshot``; events swap FIRST, so a crash between
    the two swaps leaves a rebuildable (store-ahead-of-versions) state that
    the next batch's recompute heals for its affected users and a full
    rebuild heals globally.
    """
    import os
    import shutil

    from ..operators.pipeline13 import scd2_versions_from

    spark = stream_df.sparkSession
    events_dir = os.path.join(state_dir, "events")
    versions_dir = os.path.join(state_dir, "versions")

    def _recover(target: str) -> None:
        staged = target + ".staging"
        if os.path.exists(staged) and not os.path.exists(target):
            if os.path.exists(os.path.join(staged, "_SUCCESS")):
                os.rename(staged, target)
            else:
                shutil.rmtree(staged)

    def _swap(df: DataFrame, target: str) -> None:
        staged = target + ".staging"
        df.write.mode("overwrite").parquet(staged)
        if os.path.exists(target):
            shutil.rmtree(target)
        os.rename(staged, target)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _recover(events_dir)
        _recover(versions_dir)
        slim = batch_df.select(
            "partition_key", "external_id", "ts", "attributes",
            "shard_id", "sequence_number",
        )
        if os.path.exists(events_dir):
            store = latest_per_key(
                spark.read.parquet(events_dir).unionByName(slim), key="external_id"
            )
        else:
            store = latest_per_key(slim, key="external_id")
        _swap(store, events_dir)

        affected = slim.select("partition_key").distinct()
        # a version chain is undefined for an untimestamped event (matches
        # scd2_event_projection's batch contract): keep it in the event
        # store but exclude it from the temporal recompute
        ev = (
            spark.read.parquet(events_dir)
            .filter(F.col("ts").isNotNull())
            .join(affected, "partition_key", "left_semi")
            .select(
                F.col("external_id").cast("bigint").alias("event_id"),
                F.col("partition_key").alias("user_id"),
                "ts",
                F.floor(F.col("attributes")["value"].cast("double") / tier_band)
                .cast("bigint")
                .alias("tier"),
            )
        )
        recomputed = scd2_versions_from(ev)
        if os.path.exists(versions_dir):
            carried = spark.read.parquet(versions_dir).join(
                affected.withColumnRenamed("partition_key", "user_id"),
                "user_id",
                "left_anti",
            )
            merged = recomputed.unionByName(carried)
        else:
            merged = recomputed
        _swap(merged, versions_dir)

    return run_available_now(stream_df, checkpoint_dir, foreach_batch=merge)
