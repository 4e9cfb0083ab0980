"""Hopping (sliding) event-time windows, round 4 (appended).

``streaming_hopping_window`` — the overlapping-window aggregation the
tumbling topology (`streaming_time_bucket`) can't express: 2-hour windows
sliding every hour, so every event contributes to exactly TWO windows.
Spark's `F.window(ts, '2 hours', '1 hour')` materializes the hop
assignment inside the stateful aggregation; the DuckDB oracle replicates
it by exploding each event onto its two hop anchors (window starts
date_trunc(hour, ts) and date_trunc(hour, ts) - 1h).

Per (window_start, event_type): event count and decimal-exact value sum
(`value` rides the log as a string attribute; string→double→decimal casts
round-trip exactly). Complete output mode + memory sink drains the FULL
window state after availableNow — no flush-sentinel protocol needed
(late-drop semantics are pinned separately by streaming_late_drop_audit).

At 100 TB: hop state is bounded by (watermark horizon / slide) ×
|event_type| groups; the aggregation is the standard partial/final
shuffle keyed on (window, type) — no per-event state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .verified import _staged_events_log, _table

_HOP_ORACLE = """
WITH ev AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
),
hopped AS (
  SELECT h + (a.k * INTERVAL 1 HOUR) AS window_start, event_type, v
  FROM ev CROSS JOIN (SELECT UNNEST([-1, 0]) AS k) a
)
SELECT window_start::TIMESTAMP AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS value_sum
FROM hopped GROUP BY 1, 2
"""


@register(
    "streaming_hopping_window",
    oracle=_HOP_ORACLE,
    description="REAL streaming pipeline: log -> readStream -> 2h windows "
    "sliding 1h (every event in exactly two windows) -> per-(window, type) "
    "count + decimal value sum; oracle explodes events onto their hop anchors",
    tags=("streaming", "window-time", "hopping", "verified"),
)
def streaming_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import consume

    root = _staged_events_log(spark, sf_dir)
    stream = consume.stream_log(spark, root)
    agg = (
        stream.filter(
            F.col("ts").isNotNull()
            & F.col("attributes")["event_type"].isNotNull()
            & F.col("attributes")["value"].isNotNull()
        )
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            F.col("attributes")["event_type"].alias("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.col("attributes")["value"].cast("double").cast("decimal(18,6)")
            )
            .cast("double")
            .alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "value_sum")
    )
    with consume.state_partitions(spark):
        q = consume.run_available_now(agg, table=_table("shw"), output_mode="complete")
    return spark.table(q.name)
