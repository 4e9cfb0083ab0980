"""Chained stateful streaming aggregation, round 4 (appended).

``streaming_chained_window_rollup`` pins the multiple-stateful-operator
pipeline (Spark 3.4+/4.x): TWO windowed aggregations chained inside ONE
streaming query — hourly counts per event type feeding a daily rollup,
``groupBy(window(ts)) -> groupBy(window(window))``.  Before this
capability, the daily level needed a second query reading the first's
sink (double checkpoint, double latency); chained stateful operators move
finalized upstream windows downstream INSIDE the microbatch pipeline,
with the downstream watermark derived from the upstream delay.

Protocol (fresh log, one checkpoint, one query):

1. pass 1 — every real event in ONE microbatch (nothing late by
   construction); hourly state builds, the end-of-batch watermark
   finalizes all but the last hour, and the no-data microbatch cascades
   those hourly rows into daily state;
2. pass 2 — a sentinel 48 h past max(ts) advances the watermark beyond
   every real day boundary, flushing BOTH levels of append state.  The
   sentinel's own windows never close, so it is absent from the output.

The emitted daily rows must therefore equal the batch daily/hourly
rollup of the raw events table — the DuckDB oracle — so both the chained
emission path and the two-level watermark bookkeeping are hash-verified.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import events_tbl
from ..registry import register
from .verified import pk_encode

_WM = "1 hour"

_CHAINED_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE ts IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "streaming_chained_window_rollup",
    oracle=_CHAINED_ORACLE,
    description="TWO chained stateful windowed aggregations in ONE "
    "streaming query (hourly per-type counts -> daily rollup over the "
    "window column, Spark 3.4+ multiple-stateful-operator support): real "
    "2-pass readStream topology with a sentinel flushing both append "
    "levels; oracle is the batch daily/hourly rollup of raw events",
    tags=("streaming", "watermark", "window", "verified"),
)
def streaming_chained_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import MessiLog, ingest_dataframe
    from . import consume

    schema = "day timestamp, event_type string, n_hours bigint, n_events bigint"
    ev = events_tbl(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    mx_row = ev.agg(F.max("ts").alias("mx")).collect()[0]
    if mx_row["mx"] is None:
        return spark.createDataFrame([], schema)
    mx = mx_row["mx"]
    src = ev.select(
        pk_encode(F.col("user_id")).alias("partition_key"),
        F.col("event_id").cast("string").alias("external_id"),
        "ts",
        F.create_map(F.lit("etype"), F.col("event_type")).alias("attributes"),
    )
    # the parquet sink dir outlives the call (the result reads it); log and
    # checkpoint are scratch
    out_dir = tempfile.mkdtemp(prefix="chained_out_")
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    with tempfile.TemporaryDirectory(prefix="chained_") as scratch:
        root, ckpt = os.path.join(scratch, "log"), os.path.join(scratch, "ckpt")
        log = MessiLog(spark, root, n_shards=4)
        # pass 1: all real events in one batch — hourly state builds, the
        # no-data batch cascades finalized hours into the daily level
        ingest_dataframe(log, src, "events", now=t0)
        hourly = (
            consume.stream_log(spark, root, files_per_trigger=1_000_000)
            .filter(F.col("attributes")["etype"].isNotNull())
            .select("ts", F.col("attributes")["etype"].alias("event_type"))
            .withWatermark("ts", _WM)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        daily = (
            hourly.groupBy(F.window(F.col("w"), "1 day").alias("d"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_hours"),
                F.sum("n").cast("long").alias("n_events"),
            )
            .select(F.col("d.start").alias("day"), "event_type", "n_hours", "n_events")
        )
        consume.run_available_now(daily, ckpt, path=out_dir)
        # pass 2: sentinel 48 h out closes every real hour AND day; its own
        # windows never finalize, so it cannot appear in the output
        sentinel = spark.createDataFrame(
            [
                (
                    "sentinel_" + uuid.uuid4().hex[:6],
                    "sentinel",
                    mx + timedelta(hours=48),
                    {"etype": "sentinel"},
                )
            ],
            "partition_key string, external_id string, ts timestamp, "
            "attributes map<string,string>",
        )
        ingest_dataframe(log, sentinel, "events", now=t0 + timedelta(seconds=1))
        consume.run_available_now(daily, ckpt, path=out_dir)
    emitted = spark.read.schema(schema).parquet(out_dir)
    return emitted.select(
        "day",
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("n_events").cast("long").alias("n_events"),
    )
