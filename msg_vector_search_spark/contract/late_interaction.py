"""Multi-vector late interaction (ColBERT MaxSim) — VERDICT r12 item 5

Fixture layout: each stored 64-dim embedding read as 8 contiguous
8-dim token vectors (the multi-vector store shape); a query uses its
first 4 token views, so query and doc token counts differ as they do
in real late-interaction serving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..operators import retrieval as retrieval_ops
from ..operators import similarity as sim_ops

from .core import _query_vec, _t, register
from .scans import _with
from .hybrid import _kw_leg, _kw_rank, _rank, _rrf
from .audits import _mmr_oracle


_MAXSIM_QT, _MAXSIM_DT, _MAXSIM_DIM = 4, 8, 8


def _duck_maxsim_terms(qv_sql: str) -> str:
    """The MaxSim score in DuckDB: for each literal query-token index
    i, max over doc-token slices j of the 6dp-rounded cosine (max is
    fold-order-free), terms added in ascending i — the exact Spark
    fold."""
    d = _MAXSIM_DIM
    terms = []
    for i in range(_MAXSIM_QT):
        a = f"({qv_sql}[({i * d}+1):({i * d}+{d})])"
        dv = f"e.embedding[(j*{d}+1):(j*{d}+{d})]"
        terms.append(
            f"list_max(list_transform(generate_series(0, {_MAXSIM_DT - 1}),"
            f" j -> (round({V.duck_cosine(a, dv)}, 6) + 0)))")
    return "(" + "\n + ".join(terms) + ")"


def _maxsim_token_views(vec: list[float]) -> list[list[float]]:
    d = _MAXSIM_DIM
    return [[float(x) for x in vec[t * d:(t + 1) * d]]
            for t in range(_MAXSIM_QT)]


@register("maxsim_topk", oracle=f"""
SELECT vec_id, score FROM (
  SELECT e.vec_id, (round({_duck_maxsim_terms("q.qv")}, 6) + 0) AS score
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
) ORDER BY score DESC, vec_id LIMIT 10
""")
def maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction top-k (ColBERT MaxSim — Khattab &
    Zaharia, SIGIR 2020): score = sum_i max_j cos(q_i, d_j) over the
    query's 4 token vectors vs each doc's 8 token views
    (similarity.maxsim_topk).  The whole score is one codegen
    projection riding the corpus scan + TakeOrderedAndProject — the
    knn_search plan shape with per-token soft alignment; the oracle
    rebuilds every (i, j) pair cosine on the same 6dp grid."""
    qt = _maxsim_token_views(_query_vec(spark, sf_dir))
    return sim_ops.maxsim_topk(_t(spark, sf_dir, "embeddings"), qt,
                               k=10, doc_tokens=_MAXSIM_DT,
                               dim=_MAXSIM_DIM)


_MAXSIM_MANY_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv FROM embeddings
  WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.q_id, e.vec_id,
         (round({_duck_maxsim_terms("q.qv")}, 6) + 0) AS score
  FROM embeddings e CROSS JOIN q
)
SELECT q_id, vec_id, score, rank FROM (
  SELECT q_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY score DESC, vec_id) AS INT)
           AS rank
  FROM scored
) WHERE rank <= 10
"""


def _maxsim_query_rows(spark: SparkSession, sf_dir: str) -> list:
    emb = _t(spark, sf_dir, "embeddings")
    qrows = sorted((int(r["vec_id"]), r["embedding"]) for r in
                   emb.filter(F.col("vec_id") <= 2)
                   .select("vec_id", "embedding").collect())
    return [(qid, _maxsim_token_views(vec)) for qid, vec in qrows]


@register("maxsim_serve_many", oracle=_MAXSIM_MANY_ORACLE)
def maxsim_serve_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched MaxSim serving (similarity.maxsim_serve_many): Q=3
    queries' token vectors broadcast as DATA, ONE corpus scan,
    constant plan in Q — the search_index_many discipline applied to
    late interaction (PLANS.md pins the single-scan plan).  Per-query
    top-10 via the rank window; ties break (score desc, vec_id)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.maxsim_serve_many(emb,
                                     _maxsim_query_rows(spark, sf_dir),
                                     k=10, doc_tokens=_MAXSIM_DT,
                                     dim=_MAXSIM_DIM)


@register("maxsim_join_pandas", oracle=_MAXSIM_MANY_ORACLE)
def maxsim_join_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GEMM scale twin of maxsim_serve_many
    (similarity.maxsim_join_pandas — the knn_join_pandas discipline
    applied to late interaction): one BLAS GEMM per partition over
    the stacked doc-token matrix scores every query, per-partition
    PARTIAL top-k bounds the rank window's shuffle to
    k * Q * partitions rows instead of corpus * Q.  Shares the
    expression form's oracle — per-pair 6dp rounding before the max
    and ascending-i term accumulation make the two bit-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.maxsim_join_pandas(emb,
                                      _maxsim_query_rows(spark, sf_dir),
                                      k=10, doc_tokens=_MAXSIM_DT,
                                      dim=_MAXSIM_DIM)


@register("search_rocchio_feedback", oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.embedding,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
  FROM embeddings e, q
), fb AS (
  SELECT embedding FROM scored ORDER BY sim DESC, vec_id LIMIT 10
), cent AS (
  SELECT idx, (round(avg(CAST(embedding[idx] AS DOUBLE)), 6) + 0) AS c
  FROM fb, range(1, 65) t(idx) GROUP BY idx
), q2 AS (
  SELECT list((round(1.0 * CAST(qv[idx] AS DOUBLE) + 0.5 * c, 6) + 0)
              ORDER BY idx) AS qv2
  FROM cent, q
)
SELECT e.vec_id,
       (round({V.duck_cosine('e.embedding', 'q2.qv2')}, 6) + 0) AS sim
FROM embeddings e, q2
ORDER BY sim DESC, e.vec_id LIMIT 10
""")
def search_rocchio_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback search (Rocchio): brute-force top-10
    as presumed relevant, centroid blended into the query
    (alpha=1.0, beta=0.5, 6dp grid — similarity.rocchio_expand_query),
    then the flagship knn_search re-runs with the expanded vector.
    Two TakeOrderedAndProject corpus passes, centroid math bounded by
    k rows; the oracle rebuilds the feedback set, the centroid, the
    blend, and the second pass end-to-end."""
    emb = _t(spark, sf_dir, "embeddings")
    q2 = sim_ops.rocchio_expand_query(emb, _query_vec(spark, sf_dir),
                                      k_feedback=10, alpha=1.0, beta=0.5)
    # threshold=-1.0 on both passes: the oracle's LIMIT 10 is
    # unconditional, so the serving side must not silently drop
    # negative-sim rows
    return (sim_ops.knn_search(emb, q2, k=10, threshold=-1.0)
            .select("vec_id", "sim"))


@register("ann_signbit_rerank", oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qs AS (
  SELECT {sim_ops.duck_signbit_sketch('qv')} AS qsk FROM q
), sk AS (
  SELECT e.vec_id,
         CAST(bit_count(xor(
           {sim_ops.duck_signbit_sketch('e.embedding')},
           qs.qsk)) AS INT) AS hamming
  FROM embeddings e, qs
), short AS (
  SELECT vec_id, hamming FROM sk ORDER BY hamming ASC, vec_id LIMIT 64
)
SELECT s.vec_id, s.hamming,
       (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
FROM short s JOIN embeddings e ON e.vec_id = s.vec_id, q
ORDER BY sim DESC, s.vec_id LIMIT 10
""")
def ann_signbit_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN (similarity.signbit_rerank_search): 1-bit
    sign sketches (48 dims packed into one long — the binary-index
    storage form, 32x smaller than float32), Hamming xor+popcount
    shortlist against the query's driver-computed sketch literal,
    exact-cosine re-rank — the train-nothing quantized path next to
    int8 (topk_quantized_int8) and the Matryoshka head
    (ann_truncated_rerank).  Shortlist is TakeOrderedAndProject;
    full-precision math touches only 64 rows."""
    return sim_ops.signbit_rerank_search(
        _t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir),
        k=10, shortlist=64)


@register("maxsim_hybrid_rrf", oracle=_with(_kw_leg(), f"""ms_scored AS (
  SELECT e.vec_id AS doc_id,
         (round({_duck_maxsim_terms("q.qv")}, 6) + 0) AS s
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
), ms_top AS (
  SELECT doc_id, s FROM ms_scored ORDER BY s DESC, doc_id LIMIT 50
)""", _rank("ms_rank", "ms_top", "rank_ms"))
    + _rrf(" k.rank_kw AS rank_0, m.rank_ms AS rank_1,",
           leg="ms_rank m", rank="rank_ms"))
def maxsim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid keyword + LATE-INTERACTION retrieval: the BM25 leg and
    the MaxSim leg each produce a bounded top-50 rank frame (one
    corpus scan per leg — the same legs hybrid_search_rrf runs, with
    the single-vector cosine leg upgraded to per-token soft
    alignment), fused by reciprocal rank.  Every stage after the two
    scans is bounded by the candidate count; the oracle replays both
    legs and the fusion arithmetic end-to-end."""
    kw_rank = _kw_rank(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qt = _maxsim_token_views(_query_vec(spark, sf_dir))
    ms = (sim_ops.maxsim_topk(emb, qt, k=50, doc_tokens=_MAXSIM_DT,
                              dim=_MAXSIM_DIM)
          .select(F.col("vec_id").alias("doc_id"), "score"))
    ms_rank = retrieval_ops.bounded_rank(ms, "score", "doc_id", 50)
    return retrieval_ops.rrf_fuse([kw_rank, ms_rank], topk=10)


@register("topk_mmr_diverse", oracle=_mmr_oracle(10, 50, 0.7))
def topk_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-10: greedy
    ``0.7 * sim(q, d) - 0.3 * max_sim(d, selected)`` over a 50-row
    brute-force shortlist.  The corpus contributes one
    TakeOrderedAndProject pass; the sequential greedy loop runs over
    the checkpointed 50-row frame in one applyInPandas group — corpus
    size never reaches it.  Oracle = the same greedy unrolled as 10
    chained argmax CTEs over identically-rounded sims."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.mmr_rerank(emb, _query_vec(spark, sf_dir),
                              k=10, shortlist=50, lam=0.7)
