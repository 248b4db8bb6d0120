"""Similarity family (SURVEY 2.C C10/C8, 2.B B7, 2.D D6, 2.F F1)"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textops, vector as V
from ..operators import filters as filter_ops
from ..operators import similarity as sim_ops

from .core import _query_vec, _t, register, rnd


@register("cosine_similarity", oracle=f"""
SELECT e.vec_id,
       (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
""")
def cosine_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: cosine of every stored vector against the fixed query vector.
    Reference: src/core/embeddings/processor.py:413-434."""
    qv = _query_vec(spark, sf_dir)
    return (
        sim_ops.similarity_to_query(_t(spark, sf_dir, "embeddings"), qv)
        .select("vec_id", rnd(F.col("sim"), 6).alias("sim"))
    )


@register("round_sim", oracle=f"""
SELECT e.vec_id,
       (round((round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0), 3) + 0)
         AS similarity_score
FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
""")
def round_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: presentation rounding (reference: engine.py:203)."""
    qv = _query_vec(spark, sf_dir)
    return (
        sim_ops.similarity_to_query(_t(spark, sf_dir, "embeddings"), qv)
        .select("vec_id",
                (textops.round_sim(rnd(F.col("sim"), 6)) + F.lit(0.0))
                .alias("similarity_score"))
    )


@register("filter_sim_threshold", oracle=f"""
SELECT vec_id, label, sim FROM (
  SELECT e.vec_id, e.label,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
) WHERE sim >= 0.3
""")
def filter_sim_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: threshold post-filter, default 0.3 (reference:
    embeddings/processor.py:508, server.py:206)."""
    qv = _query_vec(spark, sf_dir)
    scored = (
        sim_ops.similarity_to_query(_t(spark, sf_dir, "embeddings"), qv)
        .withColumn("sim", rnd(F.col("sim"), 6))
    )
    return filter_ops.sim_threshold(scored, 0.3).select("vec_id", "label", "sim")


@register("topk_by_similarity", oracle=f"""
SELECT vec_id, label, sim FROM (
  SELECT e.vec_id, e.label,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
) WHERE sim >= 0.0
ORDER BY sim DESC, vec_id ASC LIMIT 30
""")
def topk_by_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 THE flagship: score -> threshold -> deterministic top-30
    (reference: embeddings/processor.py:528-529; defaults server.py:205).
    Plans TakeOrderedAndProject — per-partition heaps, no global sort."""
    qv = _query_vec(spark, sf_dir)
    return (
        sim_ops.knn_search(_t(spark, sf_dir, "embeddings"), qv, k=30,
                           threshold=0.0)
        .select("vec_id", "label", "sim")
    )


# top-5 cosine neighbours of each of the first 3 vectors
_KNN_JOIN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3
), scored AS (
  SELECT q.q_id, e.vec_id,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)
           AS rank
  FROM scored
)
SELECT q_id, vec_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("knn_broadcast_join", oracle=_KNN_JOIN_ORACLE)
def knn_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: query-set vs corpus broadcast nested-loop KNN (reference
    generalization of embeddings/processor.py:489-525)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding"))
    out = sim_ops.knn_join(emb, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register("knn_join_pandas", oracle=_KNN_JOIN_ORACLE)
def knn_join_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same query-set KNN with per-partition GEMM and PARTIAL
    top-k: each corpus partition emits only its own top-k per query, so
    the global rank window sees k*Q*partitions rows instead of
    corpus*Q — the shuffle reduction that matters at 100 TB.  Same
    oracle as knn_broadcast_join."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = [(r["vec_id"], [float(x) for x in r["embedding"]])
             for r in emb.filter(F.col("vec_id") < 3)
             .select("vec_id", "embedding").collect()]
    out = sim_ops.knn_join_pandas(emb, qrows, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))
