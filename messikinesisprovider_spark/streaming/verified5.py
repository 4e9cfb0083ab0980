"""Streaming SCD2 maintenance, round 3 (appended) — the incremental
warehouse pattern as a REAL topology.

``streaming_scd2_maintenance``: the event log streams in microbatches
through ``materialize.scd2_maintain``: each batch folds into a
deduplicated event store, recomputes version chains ONLY for the users the
batch touched, and carries everyone else's versions forward. The final
version table (with intervals closed and currency flagged) must equal the
batch SCD2 build — the oracle IS ``scd2_history``'s SQL, so convergence of
the incremental topology to the from-scratch result is oracle-verified on
every run. Batch twin: ``operators.pipeline17.scd2_incremental_merge``
(same merge logic, one batch, equality emitted in-plan).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import register
from ..operators.pipeline13 import TIER_BAND, _SCD2_CTES
from .verified import _NULL_PK, _staged_events_log


@register(
    "streaming_scd2_maintenance",
    oracle=f"""
    WITH {_SCD2_CTES}
    SELECT user_id, version, tier, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
           n_events,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL AS is_current
    FROM versions
    """,
    description="REAL streaming SCD2 maintenance: per-microbatch recompute of "
    "affected users + carry-forward; final table == batch SCD2 build (oracle)",
    tags=("streaming", "scd2", "incremental", "warehouse", "verified"),
)
def streaming_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the staged log through scd2_maintain, then close intervals.

    The per-batch contract (recompute ∝ affected users) is what a 100 TB
    MERGE-based dimension job runs; availableNow drains the whole log in
    bounded microbatches (maxFilesPerTrigger), so multiple merge rounds
    execute against one checkpoint — at-least-once replay is covered by
    the store's external_id dedupe."""
    from . import consume, materialize

    root = _staged_events_log(spark, sf_dir)
    # the state dir outlives the call (the result reads its version table)
    state = tempfile.mkdtemp(prefix="scd2_stream_")
    with consume.state_partitions(spark), tempfile.TemporaryDirectory(
        prefix="scd2_ckpt_"
    ) as ckpt:
        materialize.scd2_maintain(
            consume.stream_log(spark, root),
            state_dir=state,
            checkpoint_dir=ckpt,
            tier_band=TIER_BAND,
        )
    versions_dir = os.path.join(state, "versions")
    if not os.path.isdir(versions_dir):
        return spark.createDataFrame(
            [],
            "user_id bigint, version bigint, tier bigint, valid_from timestamp, "
            "valid_to timestamp, n_events bigint, is_current boolean",
        )
    versions = (
        spark.read.parquet(versions_dir)
        .filter(F.col("user_id") != _NULL_PK)
        .withColumn("user_id", F.col("user_id").cast("bigint"))
    )
    wv = W.partitionBy("user_id").orderBy("version")
    return versions.select(
        "user_id",
        "version",
        "tier",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
    )
