"""Oracle-verified streaming topologies, round 3 continued — appended after
verified3 (append-only registry order).

``streaming_stream_stream_left``: the watermarked LEFT OUTER stream-stream
join. The inner variant (`streaming_stream_stream_join`) can run
watermark-free because inner pairs emit as soon as both halves arrive; an
OUTER join is different in kind — the engine can only emit a null-padded
row once the watermark proves the match can no longer arrive, so the
watermark is mandatory and the result depends on event-time progress, not
just content. That makes it the canonical test that watermark propagation
through the real source machinery is correct end-to-end.

Flush mechanics: a single far-future sentinel row rides through the log
AFTER the real events. Both sides compute their watermark BEFORE the
event-type filter drops the sentinel, so the final batch's watermark lands
beyond every click's join window and Spark's trailing no-data microbatch
(`spark.sql.streaming.noDataMicroBatches.enabled`, on by default) emits
every remaining unmatched click. Without the sentinel the tail clicks would
sit in the state store forever — the standard production gotcha this query
pins down (in production the role of the sentinel is played by the
ever-advancing live stream).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .verified import _NULL_PK, pk_encode

_STAGED_SENTINEL: dict = {}


def _staged_events_log_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """Events log + one far-future watermark-sentinel row (cached per
    session+sf). The sentinel's event_type matches no side's filter and its
    partition key is a dedicated constant, so it influences nothing but the
    watermark clock."""
    key = (id(spark), sf_dir)
    if key in _STAGED_SENTINEL and os.path.isdir(_STAGED_SENTINEL[key]):
        return _STAGED_SENTINEL[key]
    from datetime import datetime, timezone

    from ..log import MessiLog, ingest_dataframe
    from ..operators.relational import events_tbl
    from .consume import session_tempdir

    root = os.path.join(session_tempdir("messilog_events_wm_"), "log")
    log = MessiLog(spark, root, n_shards=4)
    ev = events_tbl(spark, sf_dir)
    src = ev.select(
        pk_encode(F.col("user_id")).alias("partition_key"),
        F.col("event_id").cast("string").alias("external_id"),
        "ts",
        F.create_map(F.lit("event_type"), F.col("event_type")).alias("attributes"),
    )
    sentinel = ev.agg(F.max("ts").alias("mx")).select(
        F.lit("__wm_sentinel__").alias("partition_key"),
        F.lit("-1").alias("external_id"),
        F.expr("mx + INTERVAL 30 DAYS").alias("ts"),
        F.create_map(F.lit("event_type"), F.lit("wm_sentinel")).alias("attributes"),
    )
    # Empty source: no sentinel either (max ts is NULL -> ingest nothing),
    # so the query degenerates to the empty relation like its oracle.
    src = src.unionByName(sentinel.where(F.col("ts").isNotNull()))
    ingest_dataframe(log, src, "events", now=datetime(2026, 1, 1, tzinfo=timezone.utc))
    _STAGED_SENTINEL[key] = root
    return root


@register(
    "streaming_stream_stream_left",
    oracle="""
    SELECT c.event_id AS click_event_id,
           c.user_id,
           p.event_id AS purchase_event_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM events c LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 7 DAY
    WHERE c.event_type = 'click' AND c.user_id IS NOT NULL AND c.ts IS NOT NULL
    """,
    description="REAL streaming pipeline: watermarked LEFT OUTER "
    "stream-stream join (clicks with their 7-day purchases, null-padded "
    "when none arrives before the watermark passes); oracle = the batch "
    "left interval join",
    tags=("streaming", "join", "stream-stream", "outer", "verified"),
)
def streaming_stream_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked left-outer stream-stream join (see module doc).

    Both sides carry `withWatermark("ts", "0 seconds")` BEFORE the
    event-type filter; the join condition bounds purchase time to the
    click's 7-day window, so Spark holds a click in state only until the
    watermark passes click_ts + 7 days, then emits it null-padded. State is
    therefore O(join window x arrival rate), not O(stream length) — the
    100 TB-safe shape. NULL-user clicks are excluded on both sides (the
    equi-join could never match them; the oracle agrees).

    Scale note: the user_id equi-half hash-partitions both state stores, so
    matching and eviction are task-local; the interval half only bounds
    state lifetime.
    """
    from . import consume
    from ..operators.relational import events_tbl

    root = _staged_events_log_sentinel(spark, sf_dir)
    # The sentinel is excluded from the JOIN by its timestamp, not its type:
    # Catalyst pushes deterministic non-event-time predicates BELOW the
    # EventTimeWatermark node (verified in the optimized plan), so a type
    # filter would hide the sentinel from the watermark clock. A predicate
    # on the watermark column itself is NOT pushed through, so
    # `ts <= max(real ts)` runs above the watermark node: the sentinel sets
    # the clock, then never reaches the join. The cutoff literal is one
    # driver-side MAX over the batch table (build-time only; production's
    # clock is the live stream, which needs no sentinel).
    cutoff = events_tbl(spark, sf_dir).agg(F.max("ts")).collect()[0][0]

    def side(event_type: str, role: str) -> DataFrame:
        return (
            consume.stream_log(spark, root)
            .withWatermark("ts", "0 seconds")
            .filter(F.col("ts") <= F.lit(cutoff))  # stays ABOVE the watermark node
            # pushed below the watermark -> must let the sentinel through
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
        "left_outer",
    ).select(
        "click_event_id",
        F.col("click_user").cast("bigint").alias("user_id"),
        "purchase_event_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )

    # Two availableNow passes over ONE checkpoint: pass 1 ingests everything
    # (the sentinel advances the checkpointed watermark at its final commit);
    # pass 2 wakes up with that watermark, sees no new data, and its no-data
    # microbatch evicts-and-emits every remaining unmatched click. A memory
    # sink would truncate on restart, so the drain goes through a file sink
    # (the one dir that outlives the call). Zero microbatches (empty source)
    # leave it empty: the read is the empty relation.
    out = tempfile.mkdtemp(prefix="ssl_out_")
    with tempfile.TemporaryDirectory(prefix="ssl_ckpt_") as ckpt:
        for _ in range(2):
            consume.run_available_now(joined, ckpt, path=out)
    return spark.read.schema(joined.schema).parquet(out)
