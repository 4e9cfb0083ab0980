"""Oracle-verified streaming topologies, round 3 — registered after all
earlier modules (append-only registry order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .verified import _table, pk_decode
from .verified2 import _staged_kinesis, kinesis_event_type_counts


@register(
    "streaming_kinesis_pipeline_partitioned",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    description="Kinesis consumer path through the EXECUTOR-PARALLEL reader: "
    "one InputPartition per shard, GetRecords in executor workers, "
    "sidecar-reported sequence offsets; oracle = batch aggregation of the "
    "source table",
    tags=("streaming", "kinesis", "consumer", "partitioned", "verified"),
)
def streaming_kinesis_pipeline_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partitioned twin of `streaming_kinesis_pipeline`: same wire-encoded
    broker staging, but consumed via the executor-parallel reader
    (sources/kinesis_partitioned.py) — shard slices fan out to executor
    Python workers, which report consumed sequences through the metadata
    sidecar. The oracle sees the same events straight from parquet, so
    shard-slice planning, executor-side decode, and the sidecar offset
    round-trip all have to be lossless and duplicate-free for the hash to
    match.

    Unlike the simple reader (one prefetched fill per availableNow run),
    a partitioned batch reads each shard to the tip, so ONE availableNow
    pass drains the backlog; the second pass ingests nothing and ends the
    drain loop.
    """
    return kinesis_event_type_counts(
        spark, _staged_kinesis(spark, sf_dir), partitioned=True
    )


@register(
    "streaming_sequence_match",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(COALESCE(substr(event_type, 1, 1), 'x'), ''
                        ORDER BY ts, event_id) AS seq
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(LENGTH(seq) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, 'cv*p')) AS BIGINT) AS n_matches
    FROM seqs
    WHERE len(regexp_extract_all(seq, 'cv*p')) > 0
    """,
    description="STREAMING CEP: the sequence_pattern_match twin through the "
    "real log machinery — complete-mode stateful collect per user, regex "
    "count after the aggregation; oracle = the batch CEP query",
    tags=("streaming", "cep", "sequence", "verified"),
)
def streaming_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP on a stream: per-user ordered symbol state, pattern count on emit.

    The stateful core is a streaming groupBy(user) holding each user's
    (ts, event_id, symbol) structs — the same state any streaming
    sessionizer carries; the symbol string is assembled and regex-counted
    AFTER the aggregate, so matching itself never enters streaming state.
    Complete output mode suits the bounded verification corpus; the
    production shape for unbounded streams is the same aggregate under
    `session_window` (bounding state per session) or
    applyInPandasWithState with a timeout — both exist in streaming/.
    Oracle = the batch CEP query (sequence_pattern_match), so the whole
    publish -> wire-encode -> readStream -> stateful-collect -> match path
    must be lossless and order-faithful for the hash to land.
    """
    from . import consume
    from .verified import _staged_events_log

    root = _staged_events_log(spark, sf_dir)
    stream = consume.stream_log(spark, root)
    ev = stream.select(
        pk_decode(F.col("partition_key")).alias("user_id"),
        F.struct(
            "ts",
            F.col("external_id").cast("bigint").alias("event_id"),
            F.coalesce(
                F.substring(F.col("attributes")["event_type"], 1, 1), F.lit("x")
            ).alias("sym"),
        ).alias("ev"),
    ).filter(F.col("user_id").isNotNull())
    agg = ev.groupBy("user_id").agg(F.collect_list("ev").alias("evs"))
    q = consume.run_available_now(agg, table=_table("seqm"), output_mode="complete")
    seqs = spark.table(q.name).select(
        "user_id",
        F.array_join(F.expr("transform(sort_array(evs), e -> e.sym)"), "").alias("seq"),
    )
    matched = seqs.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        F.size(F.expr("regexp_extract_all(seq, 'cv*p', 0)")).cast("bigint").alias("n_matches"),
    )
    return matched.filter(F.col("n_matches") > 0)
