"""Round 4 additions, part 7: kNN-graph construction and deterministic
training-shard planning.

- ``knn_graph_build`` — the k-nearest-neighbor graph over the embedding
  corpus: per vector, its top-{K} neighbors by exact cosine among LSH
  candidates (the primitive under SemDeDup-style clustering, graph-ANN
  index builds, and label propagation over embeddings). Candidates come
  from the SAME 16-bit hyperplane signature + 4x4-bit chunk banding as
  ``dedup_embedding_lsh`` (integer plane literals replicated in the
  oracle, so DuckDB reproduces the exact candidate set — no recall
  assumption), but the reduce differs: symmetric candidate pairs, exact
  cosine rescore, and a per-vector top-{K} PARTITIONED window. Scale: one
  expression-only signature scan, slim (chunk, bucket) shuffle, rescore
  only on candidates, window partitioned by vector id — never global.

- ``corpus_shard_plan`` — the deterministic shuffle-and-shard step every
  training run needs: documents assigned to {N} shards by portable hash,
  ordered within a shard by an independent hash (the reproducible "global
  shuffle" — no RNG state, any engine/worker count produces the same
  plan), with per-shard accounting (docs, chars, id checksum, min/max
  order key) proving balance and determinism. One map-side groupBy; at
  100 TB this is exactly the write-side plan for `repartitionByRange`
  over (shard, order_key) into per-shard sorted files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import register
from .dedup import h60_duck, h60_spark
from .pipeline3 import _BITS_PER_CHUNK, _EMBED_DIM, _PLANE_CHUNKS, _sig_expr_duck, _sig_expr_spark
from .relational import spread, tbl

# ---------------------------------------------------------------------------
# knn_graph_build
# ---------------------------------------------------------------------------

_KNN_K = 3

_KNN_ORACLE = f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
e AS (SELECT * FROM e0 WHERE nrm > 0),
sig AS (SELECT vec_id, {_sig_expr_duck()} AS sig FROM e),
chunks AS (
  SELECT vec_id, (sig >> ({_BITS_PER_CHUNK} * r.c)) & {(1 << _BITS_PER_CHUNK) - 1} AS cv, r.c
  FROM sig CROSS JOIN (SELECT UNNEST(range(0, {_PLANE_CHUNKS})) AS c) r
),
cand AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT c.src, c.dst,
         CAST(ROUND(list_sum(list_transform(range(1, {_EMBED_DIM + 1}),
                    i -> ea.v[i] * eb.v[i])) / (ea.nrm * eb.nrm), 6) AS DOUBLE) AS cos_sim
  FROM cand c
  JOIN e ea ON ea.vec_id = c.src
  JOIN e eb ON eb.vec_id = c.dst
)
SELECT src AS vec_id, CAST(rnk AS BIGINT) AS rnk, dst AS neighbor_id, cos_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                               ORDER BY cos_sim DESC, dst) AS rnk
  FROM scored
) WHERE rnk <= {_KNN_K}
"""


@register(
    "knn_graph_build",
    oracle=_KNN_ORACLE,
    description=f"kNN graph over the embedding corpus: 16-bit hyperplane LSH "
    f"candidates (4x4 chunk banding, exact candidate replication in SQL), "
    f"exact-cosine rescore, per-vector top-{_KNN_K} via a partitioned window "
    "— the SemDeDup/graph-ANN build primitive",
    tags=("similarity", "graph", "lsh", "extension"),
)
def knn_graph_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph build (see module doc). Distinct from dedup_embedding_lsh
    in its reduce: symmetric candidates and a per-VERTEX top-k (graph
    semantics) instead of a global threshold filter on unordered pairs."""
    e = spread(tbl(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        F.expr(
            "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, x) -> acc + x))"
        ).alias("nrm"),
    ).filter(F.col("nrm") > 0)
    # Persist the normalized vectors: the signature scan and BOTH sides of
    # the rescore join re-read them (3 passes over the transform otherwise).
    # At warehouse scale this is the materialized normalized-embedding table.
    e = e.persist()
    sigs = e.select("vec_id", F.expr(_sig_expr_spark()).alias("sig"))
    chunks = sigs.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_PLANE_CHUNKS - 1}), "
                f"c -> shiftright(sig, {_BITS_PER_CHUNK} * c) & {(1 << _BITS_PER_CHUNK) - 1})"
            )
        ).alias("c", "cv"),
    )
    # Candidate generation exploits pair symmetry (round-5 tuning): the
    # bucket relation is symmetric, so mine each unordered pair ONCE
    # (vec_id < vec_id halves the join output AND the distinct input),
    # rescore once (cosine is symmetric), and emit both directions from the
    # scored half-pair with a single explode — no recompute, no second
    # shuffle. Candidate SET and results are bit-identical to the two-sided
    # mining the oracle replicates.
    # Round 9 (the pipeline69 shape, guide §2.4): the vectors ride the
    # bucket self-join itself instead of being re-attached to the slim
    # candidate pairs with two more joins — the pair table is shuffled ONCE
    # (the closing distinct) instead of three times (distinct + join-src +
    # join-dst; e outgrows the broadcast threshold with the corpus). A pair
    # colliding in k<=4 chunks is scored k times before the distinct — that
    # bounded extra fold CPU buys removing two pair-table exchanges.
    # Persist ch, the materialized (LSH index ⋈ normalized vector) table
    # both self-join sides read: unpersisted, each side would evaluate the
    # ~900-node signature expression, which is too wide for whole-stage
    # codegen and so runs interpreted (persisting the signature-derived
    # index measured 2.0 s -> 0.8 s for candidate generation at sf0.1).
    # At warehouse scale this is the stored LSH index table.
    ch = (
        chunks.join(e, "vec_id")
        .select("vec_id", "c", "cv", "v", "nrm")
        .persist()
    )
    xa = ch.select(
        F.col("vec_id").alias("src"), "c", "cv",
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    xb = ch.select(
        F.col("vec_id").alias("dst"), "c", "cv",
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    scored_half = (
        xa.join(xb, ["c", "cv"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            "src",
            "dst",
            F.expr(
                "CAST(ROUND(aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, "
                "(acc, p) -> acc + p) / (na * nb), 6) AS DOUBLE)"
            ).alias("cos_sim"),
        )
        .distinct()
    )
    scored = scored_half.select(
        F.explode(
            F.expr(
                "array(struct(src, dst, cos_sim), "
                "named_struct('src', dst, 'dst', src, 'cos_sim', cos_sim))"
            )
        ).alias("p")
    ).select("p.src", "p.dst", "p.cos_sim")
    w = W.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _KNN_K)
        .select(F.col("src").alias("vec_id"), "rnk", F.col("dst").alias("neighbor_id"), "cos_sim")
    )


# ---------------------------------------------------------------------------
# corpus_shard_plan
# ---------------------------------------------------------------------------

_N_SHARDS = 32


def _shard_oracle() -> str:
    shard = h60_duck("CAST(doc_id AS VARCHAR) || '|shard'") + f" % {_N_SHARDS}"
    okey = h60_duck("CAST(doc_id AS VARCHAR) || '|order'")
    return f"""
WITH d AS (
  SELECT doc_id, COALESCE(n_chars, 0) AS n_chars,
         {shard} AS shard, {okey} AS okey
  FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum,
       CAST(MIN(okey) AS BIGINT) AS first_key,
       CAST(MAX(okey) AS BIGINT) AS last_key
FROM d GROUP BY 1
"""


@register(
    "corpus_shard_plan",
    oracle=_shard_oracle(),
    description=f"Deterministic training-shard plan: documents hashed into "
    f"{_N_SHARDS} shards with an independent hash order key (the "
    "reproducible global shuffle — no RNG state); per-shard balance and "
    "determinism accounting from one map-side groupBy",
    tags=("curation", "sharding", "sampling", "extension"),
)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("n_chars"),
        F.expr(h60_spark("CAST(doc_id AS STRING) || '|shard'") + f" % {_N_SHARDS}").alias(
            "shard"
        ),
        F.expr(h60_spark("CAST(doc_id AS STRING) || '|order'")).alias("okey"),
    )
    return d.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("n_chars_sum"),
        F.min("okey").cast("long").alias("first_key"),
        F.max("okey").cast("long").alias("last_key"),
    )
