"""Multi-source streaming union, round 4 (appended).

``streaming_union_two_logs`` pins the multi-source topology: TWO
independent MessiLog streams (e.g. two regions' brokers) unioned into
ONE streaming query with a shared watermark and one windowed
aggregation.  The union of streaming sources is a real capability
boundary — each source tracks its own offsets in the one checkpoint,
and the query's watermark is the MIN over the per-source watermarks, so
a lagging source holds results back instead of dropping the other
source's late rows.

Protocol: purchases are published to log A and every other event type
to log B (hash-free, type-routed — deterministic), each log with its
own shard layout (4 vs 2 shards); one availableNow drain builds hourly
per-source counts, a sentinel INTO EACH LOG advances both per-source
watermarks past every real window (one lagging source would hold the
min-watermark down — exactly the semantics under test).  The emitted
rows must equal the batch hourly rollup with the same source routing —
the DuckDB oracle over raw events.
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

_UNION_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       CASE WHEN event_type = 'purchase' THEN 'A' ELSE 'B' END AS src,
       CAST(COUNT(*) AS BIGINT) AS n_messages
FROM events
WHERE ts IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "streaming_union_two_logs",
    oracle=_UNION_ORACLE,
    description="TWO independent MessiLog readStreams (different shard "
    "layouts) unioned into ONE query with a shared watermark and one "
    "windowed agg — per-source offsets in one checkpoint, min-watermark "
    "semantics exercised by sentinels into EACH log; oracle is the batch "
    "hourly rollup with the same type routing",
    tags=("streaming", "union", "watermark", "verified"),
)
def streaming_union_two_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import MessiLog, ingest_dataframe
    from . import consume

    schema = "window_start timestamp, src string, n_messages bigint"
    ev = events_tbl(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    mx_row = ev.agg(F.max("ts").alias("mx")).collect()[0]
    if mx_row["mx"] is None:
        return spark.createDataFrame([], schema)
    mx = mx_row["mx"]
    base = ev.select(
        pk_encode(F.col("user_id")).alias("partition_key"),
        F.col("event_id").cast("string").alias("external_id"),
        "ts",
        (F.col("event_type") == "purchase").alias("is_a"),
    )
    # the parquet sink dir outlives the call (the result reads it); logs and
    # checkpoint are scratch
    out_dir = tempfile.mkdtemp(prefix="union2_out_")
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    with tempfile.TemporaryDirectory(prefix="union2_") as scratch:
        root_a = os.path.join(scratch, "log_a")
        root_b = os.path.join(scratch, "log_b")
        ckpt = os.path.join(scratch, "ckpt")
        log_a = MessiLog(spark, root_a, n_shards=4)
        log_b = MessiLog(spark, root_b, n_shards=2)
        ingest_dataframe(log_a, base.filter(F.col("is_a")).drop("is_a"), "events", now=t0)
        ingest_dataframe(log_b, base.filter(~F.col("is_a")).drop("is_a"), "events", now=t0)
        sa = (
            consume.stream_log(spark, root_a, files_per_trigger=1_000_000)
            .select("ts", F.lit("A").alias("src"))
        )
        sb = (
            consume.stream_log(spark, root_b, files_per_trigger=1_000_000)
            .select("ts", F.lit("B").alias("src"))
        )
        agg = (
            sa.unionByName(sb)
            .withWatermark("ts", _WM)
            .groupBy(F.window("ts", "1 hour").alias("w"), "src")
            .agg(F.count(F.lit(1)).alias("n_messages"))
            .select(F.col("w.start").alias("window_start"), "src", "n_messages")
        )
        consume.run_available_now(agg, ckpt, path=out_dir)
        # sentinel into EACH log: the query watermark is min(per-source wm),
        # so both must advance for the real windows to flush; the sentinels'
        # own windows never close and never emit
        for log, tag in ((log_a, "a"), (log_b, "b")):
            sentinel = spark.createDataFrame(
                [
                    (
                        "sentinel_" + uuid.uuid4().hex[:6],
                        f"sentinel_{tag}",
                        mx + timedelta(hours=2),
                    )
                ],
                "partition_key string, external_id string, ts timestamp",
            )
            ingest_dataframe(log, sentinel, "events", now=t0 + timedelta(seconds=1))
        consume.run_available_now(agg, ckpt, path=out_dir)
    emitted = spark.read.schema(schema).parquet(out_dir)
    # the sentinel hour could emit for one source if the OTHER source's
    # sentinel lands later in event time; pin the contract instead by
    # excluding nothing — sentinels sit above every real window end and
    # stay in state, so no filter is needed; select for column order/type
    return emitted.select(
        "window_start", "src", F.col("n_messages").cast("long").alias("n_messages")
    )
