"""Streaming quantile-digest maintenance, round 8 (appended).

``streaming_quantile_digest_maintenance``: the rank/quantile member of the
streaming sketch family (next to ``streaming_sketch_maintenance``'s
Count-Min). Each microbatch builds its own level-1 digest increment — K
scaled-rank centroids of (count, exact-decimal sum) per event_type, the
``sketch_quantile_digest_merge`` construction (pipeline91) — and writes it
to a batch-id-keyed increment dir (overwrite on replay: foreachBatch is
at-least-once, the verified7 idempotence pattern). The final state is the
MERGE of all batch increments (union + cumulative-weight re-clustering),
answering p50/p90/p99 per event_type.

The correctness claim is the RANK guarantee a quantile sketch actually
makes (KLL, arXiv:1603.05346): each estimate must lie between the exact
order statistics at ranks target ± εn (ε = 3%; the merged cluster mass is
bounded by ntot/K2 + the largest level-1 cluster ≈ 2.1% here). A VALUE
tolerance — what sketch_quantile_digest_merge asserts on smooth lineitem
prices — is the wrong contract for heavy-tailed data: events.value is
exponential-ish and the p99 cluster mean sits ~20% from the interpolated
percentile while being rank-correct, exactly the distinction the KLL
guarantee draws. Both engines compute the same interval check; the oracle
hardcodes TRUE so a rank-guarantee violation fails parity.

Quantile digests are NOT linear (merge(d(b1), d(b2)) != d(b1 ∪ b2)), so —
unlike the CMS topology — the oracle can only replicate the final state if
the microbatch boundaries are deterministic. They are: the events table is
staged in THREE passes by one ``ingest_dataframe(stage_col=...)`` job
(stage = pmod(event_id, 3) + 1) and each pass is promoted into the
streamed root and drained as exactly one microbatch (the verified8
promote/drain protocol), so batch b holds exactly stage b+1's rows and
DuckDB rebuilds every increment from the pmod rule. Rows with NULL
event_id are excluded on both sides (the rank tiebreak is event_id; NULL
ordering is engine-defined — the one divergence class this topology would
otherwise hit).

State per batch is |event_types| x K centroids regardless of stream
length — the bounded-state property that makes this the 100 TB shape for
streaming latency/size percentile dashboards (per-day digests merge at
query time; no keyed state grows).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import register
from ..operators.pipeline91 import _QD_K1, _QD_K2, _QD_PCTS
from ..operators.relational import events_tbl
from . import consume
from .verified import pk_encode

_N_STAGES = 3
_RANK_EPS_PCT = 3  # ε of the rank guarantee, percent of group size


def _est_cols_duck() -> str:
    return ",\n         ".join(
        f"CAST(ROUND(MIN(CASE WHEN mcum >= ({p} * ntot + 99) // 100 "
        f"THEN mmean END), 6) AS DOUBLE) AS est_p{p}"
        for p in _QD_PCTS
    )


def _target(p: str | int, n: str) -> str:
    return f"(({p} * {n} + 99) // 100)"


def _bound_cols_duck() -> str:
    eps = _target(_RANK_EPS_PCT, "n")
    cols = []
    for p in _QD_PCTS:
        t = _target(p, "n")
        cols.append(
            f"MIN(CASE WHEN grn = GREATEST(1, {t} - {eps}) THEN x END) AS lo{p}"
        )
        cols.append(
            f"MIN(CASE WHEN grn = LEAST(n, {t} + {eps}) THEN x END) AS hi{p}"
        )
    return ",\n         ".join(cols)


_SQD_ORACLE = f"""
WITH base AS (
  SELECT event_type AS g, (event_id % {_N_STAGES}) + 1 AS s,
         value AS x, event_id
  FROM events
  WHERE value IS NOT NULL AND event_id IS NOT NULL AND event_type IS NOT NULL
),
ranked AS (
  SELECT g, s, x,
         ROW_NUMBER() OVER (PARTITION BY g, s ORDER BY x, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY g, s) AS n
  FROM base
),
cent AS (
  SELECT g, s, ({_QD_K1} * (rn - 1)) // n AS cl,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         SUM(CAST(x AS DECIMAL(18,6))) AS wsum
  FROM ranked GROUP BY 1, 2, 3
),
centm AS (SELECT g, s, cl, cnt, wsum, CAST(wsum AS DOUBLE) / cnt AS mean FROM cent),
m0 AS (
  SELECT g, cnt, wsum, mean,
         CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY mean, s, cl) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS ntot
  FROM centm
),
merged AS (
  SELECT g, ({_QD_K2} * (cum - cnt)) // ntot AS mcl,
         CAST(SUM(cnt) AS BIGINT) AS mcnt, SUM(wsum) AS mwsum
  FROM m0 GROUP BY 1, 2
),
mergedm AS (SELECT g, mcl, mcnt, CAST(mwsum AS DOUBLE) / mcnt AS mmean FROM merged),
mq AS (
  SELECT g, mmean, mcnt,
         CAST(SUM(mcnt) OVER (PARTITION BY g ORDER BY mmean, mcl) AS BIGINT) AS mcum,
         CAST(SUM(mcnt) OVER (PARTITION BY g) AS BIGINT) AS ntot
  FROM mergedm
),
est AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_centroids,
         {_est_cols_duck()}
  FROM mq GROUP BY g
),
exact AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_rows,
         {", ".join(
             f"CAST(ROUND(quantile_cont(x, {p / 100}), 4) AS DOUBLE) AS exact_p{p}"
             for p in _QD_PCTS
         )}
  FROM base GROUP BY g
),
granked AS (
  SELECT g, x,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, event_id) AS grn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM base
),
bounds AS (
  SELECT g,
         {_bound_cols_duck()}
  FROM granked GROUP BY g
)
SELECT g AS event_type, n_rows, n_centroids,
       est_p50, est_p90, est_p99, exact_p50, exact_p90, exact_p99,
       TRUE AS within_rank_eps
FROM exact JOIN est USING (g) JOIN bounds USING (g)
"""


def digest_accumulate(stream_df: DataFrame, state_dir: str, checkpoint_dir: str):
    """foreachBatch level-1 digest increments (availableNow drain; returns
    the stopped query), idempotent under replay.

    Each batch writes its K-centroid-per-group digest to
    ``inc/batch=<id>`` with overwrite (replays rewrite the identical
    increment — batch contents are deterministic because batch == staged
    pass). batch_id 0 clears leftovers on a fresh checkpoint."""
    import shutil

    inc_root = os.path.join(state_dir, "inc")

    def build(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id == 0 and os.path.exists(inc_root):
            shutil.rmtree(inc_root)
        rows = batch_df.select(
            F.col("attributes")["event_type"].alias("g"),
            F.col("attributes")["value"].cast("double").alias("x"),
            F.col("external_id").cast("long").alias("eid"),
        ).filter(F.col("g").isNotNull() & F.col("x").isNotNull() & F.col("eid").isNotNull())
        w_rank = W.partitionBy("g").orderBy("x", "eid")
        ranked = rows.select(
            "g",
            "x",
            # the stage is derivable per row (batch == staged pass), so the
            # stored increments never depend on batch NUMBERING — an empty
            # stage shifts batch ids but not the merge-order tiebreak
            (F.pmod(F.col("eid"), F.lit(_N_STAGES)) + 1).cast("long").alias("s"),
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("g")).alias("n"),
        )
        cent = (
            ranked.withColumn(
                "cl", F.expr(f"CAST({_QD_K1} * (rn - 1) DIV n AS BIGINT)")
            )
            .groupBy("g", "s", "cl")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum(F.expr("CAST(x AS DECIMAL(18,6))")).alias("wsum"),
            )
        )
        cent.write.mode("overwrite").parquet(os.path.join(inc_root, f"batch={batch_id}"))

    return consume.run_available_now(stream_df, checkpoint_dir, foreach_batch=build)


@register(
    "streaming_quantile_digest_maintenance",
    oracle=_SQD_ORACLE,
    description="REAL streaming quantile-digest maintenance: per-microbatch "
    "K-centroid digest increments (batch-id-keyed, replay-idempotent) over "
    "deterministic staged passes, merged by union + weight re-clustering; "
    "p50/p90/p99 per event_type within 2% of exact (oracle hardcodes TRUE "
    "and rebuilds every increment from the staging rule)",
    tags=("streaming", "sketch", "percentile", "verified"),
)
def streaming_quantile_digest_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log import MessiLog, ingest_dataframe
    from .verified8 import _promote_stage

    out_schema = (
        "event_type string, n_rows bigint, n_centroids bigint, "
        "est_p50 double, est_p90 double, est_p99 double, "
        "exact_p50 double, exact_p90 double, exact_p99 double, "
        "within_rank_eps boolean"
    )
    ev = events_tbl(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    src = ev.select(
        pk_encode(F.col("user_id")).alias("partition_key"),
        F.col("event_id").cast("string").alias("external_id"),
        "ts",
        F.create_map(
            F.lit("event_type"), F.col("event_type"),
            F.lit("value"), F.col("value").cast("string"),
        ).alias("attributes"),
        (F.pmod(F.col("event_id"), F.lit(_N_STAGES)) + 1).cast("int").alias("stage"),
    )
    from datetime import datetime, timezone

    # the increment store outlives the call (the result reads it); logs and
    # checkpoint are scratch
    base = tempfile.mkdtemp(prefix="sqd_state_")
    with tempfile.TemporaryDirectory(prefix="sqd_") as scratch:
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
                    digest_accumulate(
                        consume.stream_log(spark, root, files_per_trigger=1_000_000),
                        state_dir=base,
                        checkpoint_dir=ckpt,
                    )
    store = os.path.join(base, "inc")
    if not os.path.isdir(store):
        return spark.createDataFrame([], out_schema)
    # merge: union of all batch increments + weight re-clustering, then
    # rank queries — the pipeline91 merge over (g, batch, cl) centroids
    cents = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(store)
        .select("g", "s", "cl", "cnt", "wsum")
        .withColumn("mean", F.expr("CAST(wsum AS DOUBLE)") / F.col("cnt"))
    )
    wg = W.partitionBy("g")
    w_m = W.partitionBy("g").orderBy("mean", "s", "cl")
    m0 = cents.select(
        "g",
        "cnt",
        "wsum",
        "mean",
        F.sum("cnt").over(w_m).alias("cum"),
        F.sum("cnt").over(wg).alias("ntot"),
    )
    merged = (
        m0.withColumn("mcl", F.expr(f"CAST({_QD_K2} * (cum - cnt) DIV ntot AS BIGINT)"))
        .groupBy("g", "mcl")
        .agg(F.sum("cnt").cast("long").alias("mcnt"), F.sum("wsum").alias("mwsum"))
        .withColumn("mmean", F.expr("CAST(mwsum AS DOUBLE)") / F.col("mcnt"))
    )
    w_q = W.partitionBy("g").orderBy("mmean", "mcl")
    mq = merged.select(
        "g",
        "mmean",
        F.sum("mcnt").over(w_q).alias("mcum"),
        F.sum("mcnt").over(wg).alias("ntot"),
    )
    est = mq.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_centroids"),
        *[
            F.round(
                F.min(
                    F.when(
                        F.col("mcum") >= F.expr(f"({p} * ntot + 99) DIV 100"),
                        F.col("mmean"),
                    )
                ),
                6,
            )
            .cast("double")
            .alias(f"est_p{p}")
            for p in _QD_PCTS
        ],
    )
    base = ev.select(
        F.col("event_type").alias("g"),
        F.col("value").alias("x"),
        "event_id",
    )
    # ε-rank bounds AND exact interpolated percentiles off ONE rank pass
    # (round 9, the pipeline91 convention): the per-g rank window already
    # orders x within g, so the separate percentile() aggregate (a second
    # full scan + per-group count-map sort of events) is replaced by the
    # order statistics at floor/ceil of Percentile's position = p*(n-1),
    # interpolated with Percentile's exact IEEE expression
    # ((higher-position)*lo + (position-lower)*hi — pinned bitwise against
    # percentile(), see pipeline91). x is NULL-filtered upstream (ev).
    w_gr = W.partitionBy("g").orderBy("x", "event_id")
    granked = base.select(
        "g",
        "x",
        F.row_number().over(w_gr).alias("grn"),
        F.count(F.lit(1)).over(W.partitionBy("g")).alias("n"),
    )
    eps = _target(_RANK_EPS_PCT, "n").replace("//", "DIV")
    bound_cols = [F.max("n").cast("long").alias("n_rows")]
    for p in _QD_PCTS:
        t = _target(p, "n").replace("//", "DIV")
        bound_cols.append(
            F.min(
                F.when(F.col("grn") == F.expr(f"GREATEST(1, {t} - {eps})"), F.col("x"))
            ).alias(f"lo{p}")
        )
        bound_cols.append(
            F.min(
                F.when(F.col("grn") == F.expr(f"LEAST(n, {t} + {eps})"), F.col("x"))
            ).alias(f"hi{p}")
        )
        pos = F.lit(p / 100) * (F.col("n") - 1).cast("double")
        bound_cols.append(
            F.max(
                F.when((F.col("grn") - 1) == F.floor(pos), F.col("x").cast("double"))
            ).alias(f"_plo{p}")
        )
        bound_cols.append(
            F.max(
                F.when((F.col("grn") - 1) == F.ceil(pos), F.col("x").cast("double"))
            ).alias(f"_phi{p}")
        )
    bounds = granked.groupBy("g").agg(*bound_cols)
    exact_cols = []
    for p in _QD_PCTS:
        pos = F.lit(p / 100) * (F.col("n_rows") - 1).cast("double")
        lower, higher = F.floor(pos), F.ceil(pos)
        interp = F.when(higher == lower, F.col(f"_plo{p}")).otherwise(
            (higher.cast("double") - pos) * F.col(f"_plo{p}")
            + (pos - lower.cast("double")) * F.col(f"_phi{p}")
        )
        exact_cols.append(F.round(interp, 4).cast("double").alias(f"exact_p{p}"))
    bounds = bounds.select("g", "n_rows", *exact_cols, *[c for p in _QD_PCTS for c in (f"lo{p}", f"hi{p}")])
    out = est.join(bounds, "g")
    within = F.aggregate(
        F.array(
            *[
                (F.col(f"lo{p}") <= F.col(f"est_p{p}"))
                & (F.col(f"est_p{p}") <= F.col(f"hi{p}"))
                for p in _QD_PCTS
            ]
        ),
        F.lit(True),
        lambda acc, b: acc & b,
    )
    return out.select(
        F.col("g").alias("event_type"),
        "n_rows",
        "n_centroids",
        "est_p50",
        "est_p90",
        "est_p99",
        "exact_p50",
        "exact_p90",
        "exact_p99",
        within.alias("within_rank_eps"),
    )
