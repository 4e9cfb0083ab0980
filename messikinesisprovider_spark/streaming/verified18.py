"""Streaming sequential-test monitor, round 8 session 3 (appended).

``streaming_sprt_monitor``: the streaming twin of ``ab_sprt_sequential``
— Wald's SPRT (1945) maintained as the data arrives. Each microbatch
contributes per-arm integer (trials, conversions) increments
(batch-id-keyed parquet, overwrite on replay: foreachBatch is
at-least-once, the verified7/verified16 idempotence pattern); the
monitor's output is the DECISION TRACE — cumulative counts, LLR and
accept/continue verdict after every checkpoint, exactly what a live
experiment dashboard shows while the test runs.

Microbatch boundaries must be deterministic for the oracle to rebuild
the trace, so the events table is staged in three passes by one
``ingest_dataframe(stage_col=...)`` job (stage = pmod(event_id, 3) + 1,
the verified16 protocol) and each pass drains as exactly one microbatch;
the checkpoint id stored with each increment is the stage derived per
row, never the batch number, so replays and empty stages cannot shift
the trace. Rows with NULL user_id (no arm) or NULL event_id (no stage)
are excluded on both sides.

State is |arms| x |stages| integer counters — nothing grows with stream
length, and the LLR is derived per row from exact integers (the
ab_sprt_sequential no-float-accumulation property), so the 100 TB shape
is a map-side-combined count per microbatch plus a bounded monitor table.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import register
from ..operators.pipeline99 import _SPRT_ARM, _SPRT_BOUND, _SPRT_LR0, _SPRT_LR1
from ..operators.dedup import h60_duck, h60_spark
from ..operators.relational import events_tbl
from . import consume
from .verified import pk_encode

_N_STAGES = 3


def _sprt_mon_oracle() -> str:
    h = h60_duck("'arm|' || CAST(user_id AS VARCHAR)")
    return f"""
WITH ev AS (
  SELECT {_SPRT_ARM.format(h=h)} AS arm,
         (event_id % {_N_STAGES}) + 1 AS checkpoint,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
),
inc AS (
  SELECT arm, checkpoint, CAST(COUNT(*) AS BIGINT) AS trials,
         CAST(SUM(conv) AS BIGINT) AS conv
  FROM ev GROUP BY 1, 2
),
cum AS (
  SELECT arm, CAST(checkpoint AS BIGINT) AS checkpoint,
         CAST(SUM(trials) OVER (PARTITION BY arm ORDER BY checkpoint) AS BIGINT)
           AS cum_trials,
         CAST(SUM(conv) OVER (PARTITION BY arm ORDER BY checkpoint) AS BIGINT)
           AS cum_conv
  FROM inc
)
SELECT arm, checkpoint, cum_trials, cum_conv,
       CAST(ROUND(cum_conv * {_SPRT_LR1}
                  + (cum_trials - cum_conv) * {_SPRT_LR0}, 6) AS DOUBLE) AS llr,
       CASE
         WHEN cum_conv * {_SPRT_LR1} + (cum_trials - cum_conv) * {_SPRT_LR0}
              >= {_SPRT_BOUND} THEN 'accept_h1'
         WHEN cum_conv * {_SPRT_LR1} + (cum_trials - cum_conv) * {_SPRT_LR0}
              <= -{_SPRT_BOUND} THEN 'accept_h0'
         ELSE 'continue' END AS decision
FROM cum
"""


def sprt_accumulate(stream_df: DataFrame, state_dir: str, checkpoint_dir: str):
    """foreachBatch per-arm count increments (availableNow drain; returns
    the stopped query), idempotent under replay."""
    import shutil

    inc_root = os.path.join(state_dir, "inc")
    h = h60_spark("'arm|' || CAST(user_id AS STRING)")

    def build(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0 and os.path.exists(inc_root):
            shutil.rmtree(inc_root)
        rows = batch_df.select(
            F.col("partition_key").cast("bigint").alias("user_id"),
            F.col("external_id").cast("long").alias("eid"),
            F.col("attributes")["event_type"].alias("event_type"),
        ).filter(F.col("user_id").isNotNull() & F.col("eid").isNotNull())
        inc = (
            rows.select(
                F.expr(_SPRT_ARM.format(h=h)).alias("arm"),
                # checkpoint derived per ROW (batch == staged pass): replays
                # and empty stages never renumber the trace
                (F.pmod(F.col("eid"), F.lit(_N_STAGES)) + 1)
                .cast("long")
                .alias("checkpoint"),
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)
                .alias("conv"),
            )
            .groupBy("arm", "checkpoint")
            .agg(
                F.count(F.lit(1)).cast("long").alias("trials"),
                F.sum("conv").cast("long").alias("conv"),
            )
        )
        inc.write.mode("overwrite").parquet(
            os.path.join(inc_root, f"batch={batch_id}")
        )

    return consume.run_available_now(stream_df, checkpoint_dir, foreach_batch=build)


@register(
    "streaming_sprt_monitor",
    oracle=_sprt_mon_oracle(),
    description="REAL streaming sequential test: Wald SPRT maintained "
    "per-microbatch over deterministic staged passes — batch-id-keyed "
    "integer (trials, conversions) increments (replay-idempotent), final "
    "decision trace of cumulative counts, LLR and verdict per checkpoint; "
    "oracle rebuilds every increment from the staging rule",
    tags=("streaming", "experimentation", "verified"),
)
def streaming_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from ..log import MessiLog, ingest_dataframe
    from .verified8 import _promote_stage

    out_schema = (
        "arm string, checkpoint bigint, cum_trials bigint, cum_conv bigint, "
        "llr double, decision string"
    )
    ev = events_tbl(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    )
    src = ev.select(
        pk_encode(F.col("user_id")).alias("partition_key"),
        F.col("event_id").cast("string").alias("external_id"),
        "ts",
        F.create_map(
            F.lit("event_type"), F.col("event_type"),
        ).alias("attributes"),
        (F.pmod(F.col("event_id"), F.lit(_N_STAGES)) + 1).cast("int").alias("stage"),
    )
    # the increment store outlives the call (the result reads it); logs and
    # checkpoint are scratch
    base = tempfile.mkdtemp(prefix="sprt_state_")
    with tempfile.TemporaryDirectory(prefix="sprt_") as scratch:
        stage_root = os.path.join(scratch, "stage")
        stage_log = MessiLog(spark, stage_root, n_shards=4)
        ingest_dataframe(
            stage_log, src, "events",
            now=datetime(2026, 1, 1, tzinfo=timezone.utc), stage_col="stage",
        )
        root = os.path.join(scratch, "log")
        os.makedirs(root)
        ckpt = os.path.join(scratch, "ckpt")
        with consume.state_partitions(spark):
            for stage in range(1, _N_STAGES + 1):
                if _promote_stage(stage_root, root, stage):
                    sprt_accumulate(
                        consume.stream_log(spark, root, files_per_trigger=1_000_000),
                        state_dir=base,
                        checkpoint_dir=ckpt,
                    )
    store = os.path.join(base, "inc")
    if not os.path.isdir(store):
        return spark.createDataFrame([], out_schema)
    inc = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(store)
        .select("arm", "checkpoint", "trials", "conv")
    )
    w = W.partitionBy("arm").orderBy("checkpoint")
    cum = inc.select(
        "arm",
        "checkpoint",
        F.sum("trials").over(w).cast("long").alias("cum_trials"),
        F.sum("conv").over(w).cast("long").alias("cum_conv"),
    )
    llr = F.col("cum_conv") * F.expr(_SPRT_LR1) + (
        F.col("cum_trials") - F.col("cum_conv")
    ) * F.expr(_SPRT_LR0)
    bound = F.expr(_SPRT_BOUND)
    return cum.select(
        "arm",
        "checkpoint",
        "cum_trials",
        "cum_conv",
        F.round(llr, 6).cast("double").alias("llr"),
        F.when(llr >= bound, F.lit("accept_h1"))
        .when(llr <= -bound, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )
