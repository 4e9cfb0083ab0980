"""Oracle-verified streaming topology, round 4 (third session): the
stateful-processor surface (transformWithStateInPandas /
applyInPandasWithState) promoted from TCK-only to oracle-checked.

``streaming_stateful_high_watermark`` runs the per-key high-water-mark
processor (`streaming/tws.py` — value state, cross-batch fold, regression
counter) through a REAL two-pass log protocol whose every output is
SQL-derivable:

- sequence numbers are the EVENT IDS (the stream overrides
  ``sequence_number`` with the decoded external id), so the high-water
  mark per user is just MAX(event_id);
- pass 1 publishes the EVEN event ids, pass 2 the ODD ones (one
  microbatch per pass via the files_per_trigger knob, the
  late-drop-audit determinism pattern) — so pass 2 replays ids BELOW the
  pass-1 high water and the regression counter fires non-vacuously, with
  the exact count derivable as |odd ids <= max even id| per user;
- state crosses a checkpoint boundary between the passes, so the fold is
  genuinely resumed from the state store, not recomputed.

The final state per key is the append-mode emission with the largest
n_seen (monotone), reduced with one max(struct) aggregate.  A fresh log +
checkpoint is built per call, so the protocol is deterministic under
repeated execution (parity/bench run queries more than once).
"""

from __future__ import annotations

import os
import tempfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from . import consume
from .tws import high_watermarks
from .verified import pk_decode, pk_encode

_HWM_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
),
hw1 AS (
  SELECT user_id, MAX(event_id) AS h
  FROM ev WHERE event_id % 2 = 0 GROUP BY user_id
)
SELECT e.user_id,
       CAST(MAX(e.event_id) AS BIGINT) AS high_water_seq,
       CAST(COUNT(*) AS BIGINT) AS n_seen,
       CAST(SUM(CASE WHEN e.event_id % 2 = 1 AND e.event_id <= h.h
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_regressions
FROM ev e LEFT JOIN hw1 h USING (user_id)
GROUP BY e.user_id
"""


@register(
    "streaming_stateful_high_watermark",
    oracle=_HWM_ORACLE,
    description="Stateful-processor surface oracle-verified: per-key "
    "high-water-mark fold (transformWithStateInPandas where protobuf "
    "exists, applyInPandasWithState twin otherwise) across a 2-pass log "
    "protocol — evens then odds, one microbatch per pass, state resumed "
    "through the checkpoint — so high water, seen count AND the "
    "regression counter are all SQL-derivable and non-vacuous",
    tags=("streaming", "stateful", "tws", "verified"),
)
def streaming_stateful_high_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import MessiLog, ingest_dataframe
    from ..operators.relational import events_tbl

    ev = (
        events_tbl(spark, sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("event_id").isNotNull())
        .select(
            pk_encode(F.col("user_id")).alias("partition_key"),
            F.col("event_id").cast("string").alias("external_id"),
            "ts",
            (F.col("event_id") % 2 == 0).alias("even"),
        )
    )
    # the parquet sink dir outlives the call (the result reads it); log and
    # checkpoint are scratch
    out_dir = tempfile.mkdtemp(prefix="hwm_out_")
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    with tempfile.TemporaryDirectory(prefix="hwmlog_") as scratch:
        root, ckpt = os.path.join(scratch, "log"), os.path.join(scratch, "ckpt")
        log = MessiLog(spark, root, n_shards=4)
        ingest_dataframe(log, ev.filter(F.col("even")).drop("even"), "events", now=t0)
        hwm = high_watermarks(
            consume.stream_log(spark, root, files_per_trigger=1_000_000).select(
                "partition_key",
                F.col("external_id").cast("bigint").alias("sequence_number"),
            )
        )
        consume.run_available_now(hwm, ckpt, path=out_dir)
        ingest_dataframe(log, ev.filter(~F.col("even")).drop("even"), "events", now=t0)
        consume.run_available_now(hwm, ckpt, path=out_dir)

    emitted = spark.read.schema(
        "partition_key string, high_water_seq bigint, n_seen bigint, n_regressions bigint"
    ).parquet(out_dir)
    final = (
        emitted.groupBy("partition_key")
        .agg(F.max(F.struct("n_seen", "high_water_seq", "n_regressions")).alias("s"))
        .select(
            pk_decode(F.col("partition_key")).alias("user_id"),
            F.col("s.high_water_seq").alias("high_water_seq"),
            F.col("s.n_seen").alias("n_seen"),
            F.col("s.n_regressions").alias("n_regressions"),
        )
    )
    return final
