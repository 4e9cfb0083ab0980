"""Streaming sketch maintenance, round 3 (appended).

``streaming_sketch_maintenance``: bounded-state streaming aggregation
OUTSIDE Spark's state store — the pattern for metrics that must survive
checkpoint-free restarts and merge across jobs/days. Each microbatch of
the event log builds its own Count-Min increment (4×256 counters over
the portable hash of the partition key) and writes it to a
batch-id-keyed increment dir — replays OVERWRITE their own increment
instead of double-adding (foreachBatch is at-least-once), the standard
write-path idempotence pattern.
Because CMS is linear (proved in-plan by ``sketch_countmin_merge``), the
accumulated sketch must equal the sketch built in one pass over the
whole log — and the oracle rebuilds exactly that from the raw events
table, so the equality is the correctness gate itself. Point queries for
the top users ride along with the no-underestimate invariant.

State is 1024 counters regardless of stream length — the property that
makes this the 100 TB shape for streaming frequency/heavy-hitter
monitoring (per-day sketches merge by addition; no keyed state grows).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..operators.dedup import h60_duck, h60_spark
from . import consume
from .verified import _NULL_PK, _staged_events_log

SKM_ROWS = 4
SKM_WIDTH = 256
SKM_TOPK = 10


def _fan_spark(df: DataFrame, key_col: str) -> DataFrame:
    """(key, n) -> (r, b, n) fan-out over the portable hash."""
    return df.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (F.expr(h60_spark(f"concat('{r}', '|', {key_col})")) % SKM_WIDTH).alias(
                            "b"
                        ),
                    )
                    for r in range(SKM_ROWS)
                ]
            )
        ).alias("rb"),
    ).select(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"), "n")


def sketch_accumulate(stream_df: DataFrame, state_dir: str, checkpoint_dir: str):
    """foreachBatch CMS accumulation (availableNow drain; returns the stopped
    query), idempotent under batch replay.

    An additive merge into one counter file would DOUBLE-COUNT a replayed
    microbatch (a crash between the store write and the checkpoint commit
    re-runs the batch — foreachBatch is at-least-once). So each batch
    writes its own increment to ``inc/batch=<id>`` with overwrite: a
    replay of batch N rewrites the identical increment instead of adding
    it twice — the standard write-path-keyed-by-batchId idempotence
    pattern — and the sketch is the sum over increment dirs (bounded:
    1024 counters per batch). A batch_id of 0 clears leftover increments:
    it only ever fires on a fresh/reset checkpoint, where the whole log
    replays from scratch."""
    import shutil

    inc_root = os.path.join(state_dir, "inc")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0 and os.path.exists(inc_root):
            shutil.rmtree(inc_root)
        keys = batch_df.groupBy(F.col("partition_key").alias("k")).agg(
            F.count(F.lit(1)).alias("n")
        )
        inc = _fan_spark(keys, "k").groupBy("r", "b").agg(F.sum("n").alias("counter"))
        inc.write.mode("overwrite").parquet(os.path.join(inc_root, f"batch={batch_id}"))

    return consume.run_available_now(stream_df, checkpoint_dir, foreach_batch=merge)


def _hash_b_duck(r: int) -> str:
    inner = h60_duck(f"concat('{r}', '|', k)")
    return f"({inner}) % {SKM_WIDTH}"


def _oracle() -> str:
    fan = " UNION ALL ".join(
        f"SELECT {r} AS r, {_hash_b_duck(r)} AS b, n FROM keys" for r in range(SKM_ROWS)
    )
    est = ", ".join(
        f"(SELECT counter FROM cms WHERE cms.r = {r} AND cms.b = {_hash_b_duck(r)}) AS e{r}"
        for r in range(SKM_ROWS)
    )
    least = "LEAST(" + ", ".join(f"e{r}" for r in range(SKM_ROWS)) + ")"
    return f"""
WITH keys AS (
  SELECT COALESCE(CAST(user_id AS VARCHAR), '{_NULL_PK}') AS k, COUNT(*) AS n
  FROM events GROUP BY 1
),
fan AS ({fan}),
cms AS (SELECT r, b, CAST(SUM(n) AS BIGINT) AS counter FROM fan GROUP BY r, b),
topk AS (SELECT k, n FROM keys ORDER BY n DESC, k LIMIT {SKM_TOPK}),
q AS (SELECT k, n, {est} FROM topk)
SELECT k AS user_key, CAST(n AS BIGINT) AS exact_c,
       CAST({least} AS BIGINT) AS est_c,
       {least} >= n AS no_underestimate
FROM q
"""


@register(
    "streaming_sketch_maintenance",
    oracle=_oracle(),
    description="REAL streaming Count-Min maintenance: per-microbatch sketch "
    "increments added into a bounded counter store; final state == the "
    "one-pass batch sketch (linearity), point queries oracle-verified",
    tags=("streaming", "sketch", "countmin", "verified"),
)
def streaming_sketch_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _staged_events_log(spark, sf_dir)
    # the increment store outlives the call (the result reads it)
    base = tempfile.mkdtemp(prefix="cms_stream_")
    with consume.state_partitions(spark), tempfile.TemporaryDirectory(
        prefix="cms_ckpt_"
    ) as ckpt:
        sketch_accumulate(consume.stream_log(spark, root), state_dir=base, checkpoint_dir=ckpt)
    store = os.path.join(base, "inc")
    out_schema = "user_key string, exact_c bigint, est_c bigint, no_underestimate boolean"
    if not os.path.isdir(store):
        return spark.createDataFrame([], out_schema)
    cms = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(store)
        .groupBy("r", "b")
        .agg(F.sum("counter").alias("counter"))
    )
    keys = (
        spark.read.schema(consume.stream_log(spark, root).schema)
        .parquet(root)
        .groupBy(F.col("partition_key").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topk = keys.orderBy(F.desc("n"), "k").limit(SKM_TOPK)
    hashed = topk.select(
        "k",
        "n",
        *[
            (F.expr(h60_spark(f"concat('{r}', '|', k)")) % SKM_WIDTH).alias(f"b{r}")
            for r in range(SKM_ROWS)
        ],
    )
    est = hashed
    for r in range(SKM_ROWS):
        cr = cms.filter(F.col("r") == r).select(
            F.col("b").alias(f"b{r}"), F.col("counter").alias(f"e{r}")
        )
        est = est.join(F.broadcast(cr), f"b{r}")
    least = F.least(*[F.col(f"e{r}") for r in range(SKM_ROWS)])
    return est.select(
        F.col("k").alias("user_key"),
        F.col("n").cast("long").alias("exact_c"),
        least.cast("long").alias("est_c"),
        (least >= F.col("n")).alias("no_underestimate"),
    )
