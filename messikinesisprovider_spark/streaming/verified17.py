"""Oracle-verified streaming topologies, round 8 continued — appended
after verified16 (append-only registry order).

``streaming_stream_stream_full``: the watermarked FULL OUTER stream-stream
join — the last outer flavor missing from the streaming join matrix
(inner: ``streaming_stream_stream_join``, left: ``_left``). Full outer is
the strictest watermark test of the three: BOTH state stores must evict
on watermark progress and BOTH sides emit null-padded rows for tuples the
watermark proves unmatchable — clicks with no purchase in their 7-day
window AND purchases with no click in the preceding 7 days. The interval
condition bounds state lifetime in both directions (a purchase can only
match clicks from its trailing 7 days; a click only purchases in its
leading 7 days), which is exactly the precondition Spark's state cleanup
needs to accept a full-outer stream-stream join at all.

Flush mechanics are verified4's: one far-future sentinel row advances the
watermark clock after the real events; two availableNow passes over one
checkpoint let the trailing no-data microbatch evict-and-emit every
remaining unmatched row on both sides.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .verified import _NULL_PK
from .verified4 import _staged_events_log_sentinel


@register(
    "streaming_stream_stream_full",
    oracle="""
    SELECT c.event_id AS click_event_id,
           COALESCE(c.user_id, p.user_id) AS user_id,
           p.event_id AS purchase_event_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM (SELECT * FROM events
          WHERE event_type = 'click' AND user_id IS NOT NULL
            AND ts IS NOT NULL) c
    FULL JOIN (SELECT * FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL
                 AND ts IS NOT NULL) p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 7 DAY
    """,
    description="REAL streaming pipeline: watermarked FULL OUTER "
    "stream-stream join — unmatched clicks AND unmatched purchases both "
    "emit null-padded once the watermark proves no match can arrive; "
    "oracle = the batch full interval join over pre-filtered sides",
    tags=("streaming", "join", "stream-stream", "outer", "verified"),
)
def streaming_stream_stream_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sides watermark BEFORE their event-type filter (the sentinel
    must reach the watermark clock, never the join — verified4's predicate
    placement); the user_id equi-half hash-partitions both state stores so
    matching and eviction stay task-local, and the two-sided interval
    bound is what makes full-outer state cleanup legal. State is O(window
    x arrival rate) per side — the 100 TB-safe shape."""
    from . import consume
    from ..operators.relational import events_tbl

    root = _staged_events_log_sentinel(spark, sf_dir)
    cutoff = events_tbl(spark, sf_dir).agg(F.max("ts")).collect()[0][0]

    def side(event_type: str, role: str) -> DataFrame:
        return (
            consume.stream_log(spark, root)
            .withWatermark("ts", "0 seconds")
            .filter(F.col("ts") <= F.lit(cutoff))  # stays ABOVE the watermark node
            .filter(F.col("attributes")["event_type"].isin(event_type, "wm_sentinel"))
            .filter(F.col("partition_key") != _NULL_PK)
            .select(
                F.col("partition_key").alias(f"{role}_user"),
                F.col("external_id").cast("bigint").alias(f"{role}_event_id"),
                F.col("ts").alias(f"{role}_ts"),
            )
        )

    clicks, purchases = side("click", "click"), side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        F.expr(
            "click_user = purchase_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 7 DAYS"
        ),
        "full_outer",
    ).select(
        "click_event_id",
        F.coalesce(F.col("click_user"), F.col("purchase_user"))
        .cast("bigint")
        .alias("user_id"),
        "purchase_event_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )

    # Only the parquet sink dir outlives the call; zero microbatches (empty
    # source) leave it empty and the read is the empty relation.
    out = tempfile.mkdtemp(prefix="ssf_out_")
    with tempfile.TemporaryDirectory(prefix="ssf_ckpt_") as ckpt:
        for _ in range(2):
            consume.run_available_now(joined, ckpt, path=out)
    return spark.read.schema(joined.schema).parquet(out)
