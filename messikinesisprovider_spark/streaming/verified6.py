"""Streaming temporal-table enrichment, round 3 (appended).

``streaming_pit_enrich``: the temporal-table-function pattern (Flink's
FOR SYSTEM_TIME AS OF, Kafka-Streams KTable lookup) on Structured
Streaming: the SCD2 dimension is first materialized by the streaming
maintainer (``materialize.scd2_maintain`` — the round-3r topology), then
the CLICK stream enriches against that versioned store with a
stream-static interval join — each click resolves the profile version
valid AT its event time, not the latest one. Oracle = the batch
``pit_join_scd2`` SQL, so the streaming enrichment provably agrees with
the batch point-in-time join.

Scale: the dimension side is a static versioned table (broadcast or
shuffled once per microbatch by Spark's stream-static planner); the
stream side never holds state — the interval predicate is evaluated per
batch. Inclusive validity ([valid_from, valid_to)) matches the batch
union-and-carry exactly; every click has a version by construction
(a user's first event opens version 1 at or before any of their clicks).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import register
from ..operators.pipeline13 import TIER_BAND, _SCD2_CTES
from .verified import _NULL_PK, _staged_events_log, _table


@register(
    "streaming_pit_enrich",
    oracle=f"""
    WITH {_SCD2_CTES},
    clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
    ),
    un AS (
      SELECT user_id, valid_from AS ts, 1 AS kind, version, tier,
             CAST(-1 AS BIGINT) AS event_id
      FROM versions
      UNION ALL
      SELECT user_id, ts, 0, CAST(-1 AS BIGINT), CAST(NULL AS BIGINT), event_id
      FROM clicks
    ),
    carry AS (
      SELECT user_id, ts, kind, event_id,
             LAST_VALUE(CASE WHEN kind = 1 THEN {{'v': version, 't': tier}} END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind DESC, version, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
      FROM un
    )
    SELECT event_id AS click_event_id, user_id, ts AS click_ts,
           st.v AS version_at_click, st.t AS tier_at_click
    FROM carry WHERE kind = 0
    """,
    description="REAL streaming temporal-table enrich: click stream joined "
    "to the stream-maintained SCD2 store AS OF event time; oracle = batch "
    "point-in-time join",
    tags=("streaming", "temporal", "scd2", "verified"),
)
def streaming_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import consume, materialize

    root = _staged_events_log(spark, sf_dir)
    out_schema = (
        "click_event_id bigint, user_id bigint, click_ts timestamp, "
        "version_at_click bigint, tier_at_click bigint"
    )
    # the SCD2 store is read only by the enrichment drain, whose memory-sink
    # result outlives it: every dir is scratch
    with consume.state_partitions(spark), tempfile.TemporaryDirectory(
        prefix="pit_stream_"
    ) as base:
        state = os.path.join(base, "state")
        materialize.scd2_maintain(
            consume.stream_log(spark, root),
            state_dir=state,
            checkpoint_dir=os.path.join(base, "ckpt"),
            tier_band=TIER_BAND,
        )
        versions_dir = os.path.join(state, "versions")
        if not os.path.isdir(versions_dir):
            return spark.createDataFrame([], out_schema)
        q = consume.run_available_now(
            _pit_join(spark, root, versions_dir), table=_table("pit_enrich")
        )
    return spark.table(q.name)


def _pit_join(spark: SparkSession, root: str, versions_dir: str) -> DataFrame:
    """Click stream joined to the SCD2 version valid at each click's ts."""
    from . import consume

    dim = (
        spark.read.parquet(versions_dir)
        .filter(F.col("user_id") != _NULL_PK)
        .select(
            F.col("user_id").cast("bigint").alias("dim_user"),
            "version",
            "tier",
            "valid_from",
            F.lead("valid_from").over(W.partitionBy("user_id").orderBy("version")).alias(
                "valid_to"
            ),
        )
    )
    clicks = (
        consume.stream_log(spark, root)
        .filter(F.col("attributes")["event_type"] == "click")
        .filter(F.col("partition_key") != _NULL_PK)
        .filter(F.col("ts").isNotNull())
        .select(
            F.col("external_id").cast("bigint").alias("click_event_id"),
            F.col("partition_key").cast("bigint").alias("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    return clicks.join(
        dim,
        (F.col("user_id") == F.col("dim_user"))
        & (F.col("valid_from") <= F.col("click_ts"))
        & (F.col("valid_to").isNull() | (F.col("click_ts") < F.col("valid_to"))),
        "inner",
    ).select(
        "click_event_id",
        "user_id",
        "click_ts",
        F.col("version").alias("version_at_click"),
        F.col("tier").alias("tier_at_click"),
    )
