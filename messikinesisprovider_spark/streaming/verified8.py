"""Late-data drop audit, round 4 (appended): the watermark semantics every
Structured Streaming user eventually asks about, executed and ORACLE-VERIFIED
instead of asserted.

``streaming_late_drop_audit`` stages the events table into a fresh log in
three deterministic passes — written by ONE staged ingest job
(``ingest_dataframe(stage_col="stage")``) and promoted pass-by-pass into the
streamed root with driver-side renames — and drains each through ONE
windowed-aggregation query (1-hour tumbling windows, 1-hour watermark,
append mode, one checkpoint):

1. **on-time pass** — everything except a hash-selected late set; after it
   the watermark is exactly ``max(on-time ts) - 1h``.
2. **late pass** — the late set (hash(event_id)%5 == 0 AND ts older than
   48 h before the corpus max): rows whose window END is <= the pass-1
   watermark are DROPPED by the engine; younger late rows are absorbed.
3. **sentinel pass** — one synthetic row at ``max(ts) + 2h`` pushes the
   watermark past every real window end so append mode flushes them all;
   the sentinel's own window never closes and never emits.

The boundary semantics were probed empirically and are what the oracle
encodes: a late row is dropped iff ``window.end <= watermark`` (end == wm
drops), and a window is emitted once ``window.end <= watermark``. The
DuckDB oracle replicates the full protocol arithmetic (the late split, the
pass-1 watermark, the keep predicate) over the raw events table — so the
compare verifies Spark's state-store drop/flush behavior bit-for-bit
against the documented contract.

Determinism notes: each pass is exactly one microbatch
(``files_per_trigger`` raised past any stage's file count — with the
default 64 a big stage splits and mid-pass watermark advancement would
make intra-pass drops order-dependent); rows with NULL event time are
excluded in both engines (a late-data audit is about event time); NULL
event_ids hash to NULL and land on-time in both engines (CASE/filter
null-falsity agree).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..operators.dedup import h60_duck, h60_spark
from ..operators.relational import events_tbl
from .verified import pk_encode

_LATE_MOD = 5
_LATE_AGE_H = 48
_WM = "1 hour"


def _promote_stage(stage_root: str, root: str, stage: int) -> bool:
    """O(1) rename of one staged ingest pass into a streamed log root.

    Returns False when the stage wrote no rows (its partition dir does not
    exist). Destination names are prefixed with the stage number: ONE write
    job partitioned by (stage, shard_id) emits the SAME part-file basename
    under every stage dir it touches (task id + job uuid), so an
    un-prefixed rename would silently overwrite the previous pass's file
    at the same path — the file source keys seen files by path and would
    both lose the old rows and never discover the new ones."""
    sdir = os.path.join(stage_root, f"stage={stage}")
    if not os.path.isdir(sdir):
        return False
    moved = False
    for shard_dir in os.listdir(sdir):
        if not shard_dir.startswith("shard_id="):
            continue
        dst = os.path.join(root, shard_dir)
        os.makedirs(dst, exist_ok=True)
        src_dir = os.path.join(sdir, shard_dir)
        for fn in os.listdir(src_dir):
            if fn.endswith(".parquet"):
                os.rename(
                    os.path.join(src_dir, fn),
                    os.path.join(dst, f"stage{stage}-{fn}"),
                )
                moved = True
    return moved

_LATE_ORACLE = f"""
WITH ev AS (
  SELECT event_id, ts FROM events WHERE ts IS NOT NULL
),
b AS (SELECT MAX(ts) AS mx FROM ev),
tagged AS (
  SELECT ts,
         CASE WHEN {h60_duck('CAST(event_id AS VARCHAR)')} % {_LATE_MOD} = 0
                   AND ts < mx - INTERVAL {_LATE_AGE_H} HOUR
              THEN 1 ELSE 0 END AS late
  FROM ev CROSS JOIN b
),
w1 AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM tagged WHERE late = 0),
kept AS (
  SELECT ts FROM tagged CROSS JOIN w1
  WHERE late = 0 OR date_trunc('hour', ts) + INTERVAL 1 HOUR > wm
)
SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_messages
FROM kept GROUP BY 1
"""


@register(
    "streaming_late_drop_audit",
    oracle=_LATE_ORACLE,
    description="REAL 3-pass streaming topology pinning watermark late-drop "
    "semantics: on-time pass sets the watermark, late pass drops windows "
    "with end <= wm, sentinel pass flushes append-mode state; oracle "
    "replicates the drop rule over raw events",
    tags=("streaming", "watermark", "late-data", "verified"),
)
def streaming_late_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import MessiLog, ingest_dataframe
    from . import consume

    schema = "window_start timestamp, n_messages bigint"
    ev = events_tbl(spark, sf_dir).filter(F.col("ts").isNotNull())
    mx = ev.agg(F.max("ts").alias("mx")).collect()[0]["mx"]
    if mx is None:  # empty source: nothing to stage, nothing drops
        return spark.createDataFrame([], schema)
    cutoff = mx - timedelta(hours=_LATE_AGE_H)
    is_late = (
        (F.expr(h60_spark("CAST(event_id AS STRING)")) % _LATE_MOD == 0)
        & (F.col("ts") < F.lit(cutoff))
    )
    src = ev.select(
        pk_encode(F.col("user_id")).alias("partition_key"),
        F.col("event_id").cast("string").alias("external_id"),
        "ts",
        F.when(is_late, F.lit(2)).otherwise(F.lit(1)).alias("stage"),
    )
    # the parquet sink dir outlives the call (the result reads it); logs
    # and checkpoint are scratch
    out_dir = tempfile.mkdtemp(prefix="late_out_")
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    with tempfile.TemporaryDirectory(prefix="latelog_") as scratch:
        root = os.path.join(scratch, "log")
        os.makedirs(root)
        stage_root = os.path.join(scratch, "stage")
        stage_log = MessiLog(spark, stage_root, n_shards=4)
        ckpt = os.path.join(scratch, "ckpt")

        def hourly_counts() -> DataFrame:
            return (
                consume.stream_log(spark, root, files_per_trigger=1_000_000)
                .withWatermark("ts", _WM)
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).alias("n_messages"))
                .select(F.col("w.start").alias("window_start"), "n_messages")
            )
        # ONE staged ingest stamps all three passes (round-7 verdict item 4:
        # the three per-pass ingest jobs were the remaining fat); pass
        # boundaries are then enforced by promoting each stage dir into the
        # streamed root with driver-side renames between drains —
        # microbatch == pass as before.
        sentinel = spark.createDataFrame(
            [("sentinel_" + uuid.uuid4().hex[:6], "sentinel", mx + timedelta(hours=2), 3)],
            "partition_key string, external_id string, ts timestamp, stage int",
        )
        ingest_dataframe(
            stage_log, src.unionByName(sentinel), "events", now=t0, stage_col="stage"
        )
        with consume.state_partitions(spark):
            # pass 1: on-time rows set the watermark to max(on-time) - 1h;
            # pass 2: the late set — engine drops windows with end <= wm;
            # pass 3: sentinel advances the watermark past every real window
            # end. An absent stage dir (empty late set) skips its drain —
            # this check previously cost a dedicated count job.
            for stage in (1, 2, 3):
                if _promote_stage(stage_root, root, stage):
                    consume.run_available_now(hourly_counts(), ckpt, path=out_dir)
    emitted = spark.read.schema(schema).parquet(out_dir)
    return emitted.select("window_start", F.col("n_messages").cast("long").alias("n_messages"))
