"""Streaming consumption over a MessiLog (SURVEY.md §7.1 M3).

The reference's consumer loop (poll → prefetch → deliver, per shard) maps to
Structured Streaming's microbatch model (SURVEY.md §3.3 lifecycle table):

- source           ↔ `readStream` on the log directory (the file-backed twin
                     of the Kinesis simulator S8); one log shard ↔ one input
                     partition.
- cursor           ↔ `starting cursor` applied as a filter on the unbounded
                     stream (sequence/time predicates are monotone, so rows
                     skipped once are never needed again).
- checkpoint (S9)  ↔ `checkpointLocation` offset/commit logs — strictly
                     stronger than the reference's debounced 5 s file tracker
                     (FileBasedProgressTracker.java:88-126): per-microbatch
                     atomic, no replay window on clean restart.
- at-least-once    ↔ replay after crash is possible (same as the reference's
                     debounce window, O4); `effectively_once` below upgrades
                     delivery using ULID dedup inside the watermark.

At 100 TB the same topology holds: the file source becomes the Kinesis
connector (`spark.readStream.format("aws-kinesis")` with `startingposition`
mapped from the cursor types P1-P4); nothing downstream changes.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cursor import CursorType, MessiCursor
from ..schema import LOG_SCHEMA


def stream_log(
    spark: SparkSession,
    root: str,
    cursor: MessiCursor | None = None,
    files_per_trigger: int = 64,
) -> DataFrame:
    """readStream over a MessiLog directory, optionally positioned by cursor.

    NOW is the one cursor the file source expresses natively
    (`maxFilesPerTrigger` aside, latestFirst/startingOffsets semantics);
    the others become monotone stream filters — pushed into the scan.
    `files_per_trigger` is the microbatch admission knob; topologies whose
    semantics depend on pass == batch (watermark-boundary audits) raise it
    so one availableNow pass is exactly one batch. Build the frame after
    the first file lands: the `shard_id` partition column is inferred from
    the files present when it is created (over an empty root, shard_id
    would become a data column and the drain would fail to encode rows), so
    a root without `shard_id=` dirs raises ValueError here.
    """
    if not (os.path.isdir(root) and any(n.startswith("shard_id=") for n in os.listdir(root))):
        raise ValueError(
            f"no shard_id=<k> partition dirs under {root}: build the stream "
            "after the first file lands in the log"
        )
    df = (
        spark.readStream.schema(LOG_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(root)
    )
    if cursor is None or cursor.type is CursorType.OLDEST_RETAINED:
        return df
    t = cursor.type
    if t is CursorType.AT_PROVIDER_TIME:
        return df.filter(F.col("arrival_ts") >= F.lit(cursor.timestamp.replace(tzinfo=None)))
    if t is CursorType.AT_PROVIDER_SEQUENCE:
        cmp = (
            F.col("sequence_number") >= cursor.sequence_number
            if cursor.inclusive
            else F.col("sequence_number") > cursor.sequence_number
        )
        return df.filter((F.col("shard_id") == cursor.shard_id) & cmp)
    if t is CursorType.AT_ULID:
        cmp = F.col("ulid") >= cursor.ulid.text() if cursor.inclusive else (
            F.col("ulid") > cursor.ulid.text()
        )
        return df.filter(cmp)
    raise ValueError(
        f"cursor type {t.name} requires batch position resolution; "
        "resolve to AT_PROVIDER_SEQUENCE with MessiLog.read first"
    )


def effectively_once(df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """At-least-once → effectively-once via ULID dedup inside the watermark.

    The reference's 5 s checkpoint debounce admits replay duplicates
    (SURVEY.md §7.4 item 4); ULIDs are the idempotency key the reference
    already assigns. `dropDuplicatesWithinWatermark` (not plain
    `dropDuplicates`) is the operator whose state the watermark actually
    EVICTS when the dedup key excludes the event-time column — plain
    dropDuplicates on ["ulid"] alone would accumulate one state row per
    message forever. State size is bounded by (watermark × arrival rate) —
    at 100 TB/day keep the watermark tight; the state store partitions by
    the dedup key automatically.
    """
    return df.withWatermark("arrival_ts", watermark).dropDuplicatesWithinWatermark(
        ["ulid"]
    )


def windowed_counts(
    df: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling/sliding event-time aggregation over the business timestamp."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        df.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "topic")
        .agg(F.count(F.lit(1)).alias("n_messages"))
        .select(F.col("w.start").alias("window_start"), "topic", "n_messages")
    )


def session_windows(
    df: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows keyed by partition_key (user-activity sessionization)."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "partition_key")
        .agg(F.count(F.lit(1)).alias("n_messages"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "partition_key",
            "n_messages",
        )
    )


_SESSION_DIRS: list[str] = []


@atexit.register
def _remove_session_dirs() -> None:
    for d in _SESSION_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def session_tempdir(prefix: str) -> str:
    """A temp dir for a per-session staging cache (a staged events log or
    broker statedir reused by every topology of the session): it outlives
    every drain and is removed at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SESSION_DIRS.append(d)
    return d


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str | None = None,
    *,
    table: str | None = None,
    path: str | None = None,
    foreach_batch=None,
    output_mode: str = "append",
):
    """Drain everything currently in the source and stop (Trigger.AvailableNow,
    the analog of the reference's backfill mode F3) — the one place the
    package starts and waits for a drain.

    Exactly one sink: `table` (in-memory table of that name), `path` (parquet
    file sink) or `foreach_batch` (a `(batch_df, batch_id)` callback).
    Aggregations into a table use output_mode="complete" so unclosed windows
    are still observable. Blocks until the drain ends and returns the
    stopped query, whose `recentProgress` holds this run's microbatches.
    Without `checkpoint_dir` the checkpoint is a scratch dir removed when the
    drain returns; multi-pass protocols pass one dir to every pass. Sets no
    job group or description: callers' own tags attribute the jobs.
    """
    if sum(s is not None for s in (table, path, foreach_batch)) != 1:
        raise ValueError("exactly one of table, path, foreach_batch")
    if checkpoint_dir is None:
        with tempfile.TemporaryDirectory(prefix="drain_ckpt_") as ckpt:
            return run_available_now(
                stream_df, ckpt, table=table, path=path,
                foreach_batch=foreach_batch, output_mode=output_mode,
            )
    w = stream_df.writeStream.option("checkpointLocation", checkpoint_dir).outputMode(
        output_mode
    )
    if table is not None:
        w = w.format("memory").queryName(table)
    elif path is not None:
        w = w.format("parquet").option("path", path)
    else:
        w = w.foreachBatch(foreach_batch)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


@contextmanager
def state_partitions(spark: SparkSession, n: int = 4):
    """Pin `spark.sql.shuffle.partitions` (the streaming state-store
    partition count — frozen into a query's checkpoint at its first batch)
    for the duration of a pass-based verification topology.

    Each stateful microbatch pays a fixed per-partition cost (state-store
    provider init + commit + one output file), so a topology that stages a
    micro-log and runs 2-3 availableNow passes pays 32 x passes of pure
    overhead under the session default (measured: late-drop audit 11.8s ->
    6.5s at sf0.1 with n=4, identical results). This is the same sizing
    decision a production job makes — state partitions proportional to
    throughput, not a global constant; the semantics (watermarks, drops,
    dedup state) are partition-count-invariant, which the oracle hash
    re-verifies on every run."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
