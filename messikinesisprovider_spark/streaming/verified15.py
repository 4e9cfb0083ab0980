"""Oracle-verified streaming topologies, round 6 part 2 — registered after
all earlier modules (append-only registry order).

`streaming_kinesis_merge_pipeline` is the MergeShards twin of
`streaming_kinesis_reshard_pipeline` (verified14): the split pipeline
proves parent-before-child across ONE closed parent; a merge closes TWO
parents whose child must wait for BOTH (ParentShardId and
AdjacentParentShardId), which is the lineage case the split can never
exercise. The DuckDB oracle aggregates the same events from parquet, so
loss, duplication, or a child unlocked before either parent drains breaks
the driver hash.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from .verified2 import kinesis_event_type_counts


@register(
    "streaming_kinesis_merge_pipeline",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    description="Kinesis consumer path across a mid-publish MergeShards: "
    "TWO parents close, the merged child waits for BOTH lineage parents "
    "(ParentShardId + AdjacentParentShardId) before unlocking — the "
    "dual-parent gate a split never exercises; exactly-once across the "
    "merge; oracle = batch aggregation of the source table",
    tags=("streaming", "kinesis", "reshard", "merge", "consumer", "verified"),
)
def streaming_kinesis_merge_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish the even-event_id half of events into a 3-shard stream
    (executor-side native producer), MERGE shards 0 and 1
    (adjacent in the hash space), publish the rest (now routed to the
    merged child + untouched shard 2), and consume with the
    executor-parallel reader until stable. The merged child's eligibility
    requires closure markers for BOTH parents, so the batch sequence is:
    drain both parents to their null iterators → retire them → unlock the
    child — all forced by the oracle hash to be lossless and exactly-once.
    """
    from ..sources.kinesis_sim import FakeKinesisClient
    from ..sources.kinesis_source import register as register_source
    from .verified14 import publish_phase

    with tempfile.TemporaryDirectory(prefix="kinesis_merge_") as statedir:
        client = FakeKinesisClient(statedir)
        client.create_stream(StreamName="events", ShardCount=3)
        register_source(spark)  # needed before the native-producer publish

        # executor-side native-producer publish (see verified14.publish_phase
        # — round-6 VERDICT item 3: no driver-side collect in the publish
        # path)
        publish_phase(spark, sf_dir, statedir, phase=0)
        # merge shards 0 and 1 (adjacent thirds of the hash space): both
        # close holding their half-corpus records; child 3 takes over their
        # range
        client.merge_shards(
            StreamName="events", ShardToMerge="0", AdjacentShardToMerge="1"
        )
        publish_phase(spark, sf_dir, statedir, phase=1)
        # drain until stable: batch 1 reads shard 2 + drains parents 0 and 1
        # to their closure markers; batch 2 unlocks the merged child 3;
        # batch 3 confirms empty
        return kinesis_event_type_counts(spark, statedir, partitioned=True)
