"""Round 4 additions, part 5: RFM segmentation, CUPED-adjusted A/B
readout, NDCG@k ranking evaluation.

- ``rfm_segmentation`` — the classic customer-value segmentation: per
  customer Recency (days since last order vs the corpus max date),
  Frequency (order count) and Monetary (decimal-exact spend), each scored
  into exact NTILE(4) quartiles. A naive NTILE is a no-partition global
  window (single-partition scale killer), so each quartile runs through
  the two-pass range-partitioned ranking (`ranking.global_row_number` +
  the closed-form `ntile_of`) — three parallel rankings over the
  CUSTOMER-dimension table (orders are reduced to one row per customer
  first, so the ranked input is dimension-, not fact-, sized).

- ``ab_test_cuped`` — the experiment readout with CUPED variance
  reduction (Deng et al., WSDM'13): users hash-assigned to two arms (the
  portable 60-bit hash — replicable in SQL), the event timeline split at
  the integer-microsecond midpoint into pre/post periods, per-user pre
  (covariate x) and post (metric y) decimal sums, theta = cov(x,y)/var(x)
  from decimal-exact global moments, and per-arm adjusted means
  y_adj = mean_y - theta * (mean_x_arm - mean_x). Every moment
  accumulates as DECIMAL before ONE cast to DOUBLE and a shared IEEE
  expression tree, so both engines produce bit-identical doubles. Shape:
  one fact-table aggregate to user grain, one user-grain aggregate to 2
  arm rows + a 1-row global-moment broadcast (sanctioned scalar BNLJ).

- ``eval_ndcg_at_k`` — graded ranking quality (NDCG@10) per language
  group: deterministic per-doc score and relevance grade from the
  portable hash, per-group top-10 by (score DESC, doc_id) via a
  PARTITIONED window (never global), gains 2^rel - 1, and position
  discounts embedded as scale-9 DECIMAL LITERALS (1/log2(pos+1) is
  precomputed in Python and pinned textually in both engines — no
  transcendental evaluated at query time, so DCG sums are exact decimal
  arithmetic and the only double op is the final dcg/idcg division).

At 100 TB: all three reduce facts to dimension grain map-side before any
wide operation; the rankings are range-partitioned; no unguarded
all-pairs or global windows anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import register
from .dedup import h60_duck, h60_spark
from .ranking import global_row_number, ntile_of
from .relational import events_tbl, tbl

# ---------------------------------------------------------------------------
# rfm_segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey AS custkey,
         COUNT(*) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS monetary,
         MAX(CAST(o_orderdate AS DATE)) AS last_day
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  GROUP BY 1
),
maxd AS (SELECT MAX(last_day) AS corpus_max FROM base),
rfm AS (
  SELECT custkey, frequency, monetary,
         date_diff('day', last_day, corpus_max) AS recency_days
  FROM base CROSS JOIN maxd
),
scored AS (
  SELECT custkey, monetary,
         NTILE(4) OVER (ORDER BY recency_days ASC, custkey ASC) AS r_q,
         NTILE(4) OVER (ORDER BY frequency DESC, custkey ASC) AS f_q,
         NTILE(4) OVER (ORDER BY monetary DESC, custkey ASC) AS m_q
  FROM rfm
)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(custkey) AS BIGINT) AS cust_checksum,
       CAST(SUM(monetary) AS DOUBLE) AS total_monetary
FROM scored GROUP BY 1, 2, 3
"""


@register(
    "rfm_segmentation",
    oracle=_RFM_ORACLE,
    description="RFM customer segmentation: exact NTILE(4) quartiles of "
    "recency/frequency/monetary via three two-pass range-partitioned global "
    "rankings (no single-partition window); per-segment accounting",
    tags=("analytics", "segmentation", "ranking", "extension"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation (see module doc). The input to each
    ranking is one row per CUSTOMER (facts pre-aggregated map-side), and
    quartiles come from `global_row_number` + closed-form `ntile_of` —
    NTILE semantics (larger tiles first) without the global window."""
    o = tbl(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("monetary"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
    )
    maxd = base.agg(F.max("last_day").alias("corpus_max"))
    # Persisted: the three rankings and the final re-association join all
    # read the customer-grain frame (released by the session clearCache
    # contract, relational.py module doc).
    rfm = base.crossJoin(F.broadcast(maxd)).select(
        "custkey",
        "frequency",
        "monetary",
        F.datediff(F.col("corpus_max"), F.col("last_day")).alias("recency_days"),
    ).persist()
    # Round 9 (guide §2.6 "overlap independent jobs"): the three quartile
    # rankings were CHAINED — each two-pass ranking re-range-shuffled the
    # ever-wider frame and its eager offset jobs serialized, 9 jobs end to
    # end. The orderings differ (recency asc / frequency desc / monetary
    # desc) so they cannot share one range partitioning, but they are
    # INDEPENDENT: each now ranks a narrow (custkey, metric) projection and
    # the three eager passes run concurrently from a thread pool; quartiles
    # re-attach by the unique custkey. Identical per-metric ordering +
    # identical ntile_of arithmetic -> identical quartiles -> identical
    # output rows.
    metric = {"r_q": "recency_days", "f_q": "frequency", "m_q": "monetary"}
    orders_by = {
        "r_q": [F.col("recency_days").asc(), F.col("custkey").asc()],
        "f_q": [F.col("frequency").desc(), F.col("custkey").asc()],
        "m_q": [F.col("monetary").desc(), F.col("custkey").asc()],
    }

    def quartile(alias: str) -> DataFrame:
        ranked, n = global_row_number(
            rfm.select("custkey", metric[alias]), orders_by[alias], rn_col="_rn"
        )
        return ranked.select("custkey", ntile_of(F.col("_rn"), n, 4).alias(alias))

    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # inheritable_thread_target copies the caller's local properties (job
    # group, scheduler pool) and session tags into each worker: under pinned
    # threads a plain pool thread starts with none, so a host cancelling by
    # job group or tag would miss these eager jobs
    with ThreadPoolExecutor(max_workers=3) as pool:
        q_r, q_f, q_m = pool.map(
            inheritable_thread_target(spark)(quartile), ["r_q", "f_q", "m_q"]
        )
    return (
        rfm.join(q_r, "custkey")
        .join(q_f, "custkey")
        .join(q_m, "custkey")
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("custkey").cast("long").alias("cust_checksum"),
            F.sum("monetary").cast("double").alias("total_monetary"),
        )
    )


# ---------------------------------------------------------------------------
# ab_test_cuped
# ---------------------------------------------------------------------------

# Shared IEEE double expression tree (identical text in Spark and DuckDB
# over identical double inputs → bit-identical results; the corr_pairs
# pattern). Inputs: nd/sx/sy/sxx/sxy are global, na/sxa/sya per-arm.
_THETA = (
    "CASE WHEN (nd * sxx - sx * sx) > 0 "
    "THEN (nd * sxy - sx * sy) / (nd * sxx - sx * sx) ELSE 0.0 END"
)
_ADJ = "(sya / na) - ({theta}) * ((sxa / na) - (sx / nd))"


def _cuped_sql() -> str:
    arm = h60_duck("CAST(user_id AS VARCHAR)") + " % 2"
    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t, CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
),
bounds AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM ev),
users AS (
  SELECT user_id, {arm} AS arm,
         SUM(CASE WHEN t < mid THEN v ELSE CAST(0 AS DECIMAL(18,6)) END) AS x,
         SUM(CASE WHEN t >= mid THEN v ELSE CAST(0 AS DECIMAL(18,6)) END) AS y
  FROM ev CROSS JOIN bounds
  GROUP BY 1, 2
),
gmo AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(27,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(27,6))) AS DOUBLE) AS sxy
  FROM users
),
arms AS (
  SELECT arm, COUNT(*) AS n_users,
         CAST(COUNT(*) AS DOUBLE) AS na,
         CAST(SUM(x) AS DOUBLE) AS sxa,
         CAST(SUM(y) AS DOUBLE) AS sya
  FROM users GROUP BY 1
)
SELECT CAST(arm AS BIGINT) AS arm,
       CAST(n_users AS BIGINT) AS n_users,
       sxa / na AS mean_pre,
       sya / na AS mean_post,
       {_THETA} AS theta,
       {_ADJ.format(theta=_THETA)} AS mean_post_cuped
FROM arms CROSS JOIN gmo
"""


@register(
    "ab_test_cuped",
    oracle=_cuped_sql(),
    description="A/B experiment readout with CUPED variance reduction: "
    "hash-assigned arms, integer-microsecond midpoint pre/post split, "
    "decimal-exact moments, theta = cov(x,y)/var(x), per-arm adjusted "
    "means via a shared IEEE double tree",
    tags=("analytics", "experimentation", "statistics", "extension"),
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED A/B readout (see module doc). One fact aggregate to user
    grain, one user aggregate to 2 arm rows, a 1-row global-moment
    broadcast (sanctioned scalar BNLJ) — no fact-sized shuffle after the
    first groupBy, which is the 100 TB shape for experiment scorecards."""
    ev = (
        events_tbl(spark, sf_dir)
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "user_id",
            F.unix_micros("ts").alias("t"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
    )
    bounds = ev.agg(
        F.expr("(MIN(t) + MAX(t)) div 2").alias("mid")
    )
    zero = F.lit(0).cast("decimal(18,6)")
    users = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            F.expr(h60_spark("CAST(user_id AS STRING)") + " % 2").alias("arm"),
        )
        .agg(
            F.sum(F.when(F.col("t") < F.col("mid"), F.col("v")).otherwise(zero)).alias("x"),
            F.sum(F.when(F.col("t") >= F.col("mid"), F.col("v")).otherwise(zero)).alias("y"),
        )
    )
    glob = users.agg(
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("nd"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(27,6))")).cast("double").alias("sxx"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(27,6))")).cast("double").alias("sxy"),
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.expr("CAST(COUNT(*) AS DOUBLE)").alias("na"),
        F.sum("x").cast("double").alias("sxa"),
        F.sum("y").cast("double").alias("sya"),
    )
    return arms.crossJoin(F.broadcast(glob)).select(
        F.col("arm").cast("long").alias("arm"),
        F.col("n_users").cast("long").alias("n_users"),
        F.expr("sxa / na").alias("mean_pre"),
        F.expr("sya / na").alias("mean_post"),
        F.expr(_THETA).alias("theta"),
        F.expr(_ADJ.format(theta=_THETA)).alias("mean_post_cuped"),
    )


# ---------------------------------------------------------------------------
# eval_ndcg_at_k
# ---------------------------------------------------------------------------

_NDCG_K = 10
# 1/log2(pos+1), rounded to 9 decimals IN PYTHON and embedded as decimal
# literals in both engines — exact decimal arithmetic, no runtime log.
_DISCOUNTS = [round(1.0 / math.log2(p + 1), 9) for p in range(1, _NDCG_K + 1)]


def _disc_case(pos_col: str) -> str:
    whens = " ".join(
        f"WHEN {pos_col} = {p} THEN CAST('{_DISCOUNTS[p - 1]:.9f}' AS DECIMAL(10,9))"
        for p in range(1, _NDCG_K + 1)
    )
    return f"CASE {whens} END"


def _ndcg_oracle() -> str:
    score = h60_duck("CAST(doc_id AS VARCHAR) || '|score'")
    rel = h60_duck("CAST(doc_id AS VARCHAR) || '|rel'") + " % 4"
    return f"""
WITH docs AS (
  SELECT COALESCE(lang, '') AS lang, doc_id,
         {score} AS score, {rel} AS rel
  FROM documents
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS pos,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rel DESC, doc_id ASC) AS ideal_pos
  FROM docs
),
dcg AS (
  SELECT lang,
         SUM(CASE WHEN pos <= {_NDCG_K}
             THEN (POW(2, rel) - 1)::BIGINT * {_disc_case('pos')}
             ELSE CAST(0 AS DECIMAL(20,9)) END) AS dcg,
         SUM(CASE WHEN ideal_pos <= {_NDCG_K}
             THEN (POW(2, rel) - 1)::BIGINT * {_disc_case('ideal_pos')}
             ELSE CAST(0 AS DECIMAL(20,9)) END) AS idcg,
         COUNT(*) AS n_docs
  FROM ranked GROUP BY 1
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
       CASE WHEN idcg > 0 THEN CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)
            ELSE 0.0 END AS ndcg_at_{_NDCG_K}
FROM dcg
"""


@register(
    "eval_ndcg_at_k",
    oracle=_ndcg_oracle(),
    description=f"NDCG@{_NDCG_K} ranking evaluation per language group: "
    "hash-derived scores and graded relevance, partitioned-window top-k, "
    "position discounts as pinned scale-9 decimal literals (exact decimal "
    "DCG sums; the only double op is the final dcg/idcg division)",
    tags=("evaluation", "retrieval", "ranking", "extension"),
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k per group (see module doc). Windows are PARTITIONED by the
    group key (parallel); at 100 TB groups are query-ids and the per-group
    candidate lists are top-k pruned upstream, so this is the canonical
    ranking-eval reduce."""
    score = F.expr(h60_spark("CAST(doc_id AS STRING) || '|score'"))
    rel = F.expr(h60_spark("CAST(doc_id AS STRING) || '|rel'") + " % 4")
    docs = tbl(spark, sf_dir, "documents").select(
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        "doc_id",
        score.alias("score"),
        rel.alias("rel"),
    )
    wp = W.partitionBy("lang").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    wi = W.partitionBy("lang").orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    ranked = docs.select(
        "lang",
        "rel",
        F.row_number().over(wp).alias("pos"),
        F.row_number().over(wi).alias("ideal_pos"),
    )
    gain = F.expr("CAST(POW(2, rel) - 1 AS BIGINT)")
    zero = F.expr("CAST(0 AS DECIMAL(20,9))")
    dcg = ranked.groupBy("lang").agg(
        F.sum(
            F.when(F.col("pos") <= _NDCG_K, gain * F.expr(_disc_case("pos"))).otherwise(zero)
        ).alias("dcg_dec"),
        F.sum(
            F.when(
                F.col("ideal_pos") <= _NDCG_K, gain * F.expr(_disc_case("ideal_pos"))
            ).otherwise(zero)
        ).alias("idcg_dec"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    return dcg.select(
        "lang",
        "n_docs",
        F.col("dcg_dec").cast("double").alias("dcg"),
        F.col("idcg_dec").cast("double").alias("idcg"),
        F.when(
            F.col("idcg_dec") > 0,
            F.col("dcg_dec").cast("double") / F.col("idcg_dec").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias(f"ndcg_at_{_NDCG_K}"),
    )
