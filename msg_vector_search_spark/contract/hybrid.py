"""Hybrid retrieval: BM25 keyword leg + reciprocal-rank fusion

The keyword leg is fused with the vector leg (extension surface — the
reference serves cosine only, src/core/search/engine.py:105-183).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import analysis, vector as V
from ..operators import dedup as dedup_ops
from ..operators import ivf as ivf_ops
from ..operators import retrieval as retrieval_ops
from ..operators import similarity as sim_ops
from ..sources import readers
from ..streaming import stream as streaming_ops

from .core import _inverted_index, _query_vec, _t, register, rnd
from .scans import _ASSIGNED, _assign, _seed_cent, _with
from .dedup import _DUCK_TOKENS, _scaled_corpus, _with_scaled_dups
from .text import _DUCK_STOP_RATIO
from .streaming import _STREAM_SEQ


# Fixed keyword query for the lexical leg: two common terms + one rare
# term ('dup' appears in ~5% of documents) so idf spreads the scores.
_BM25_TERMS = ["spark", "query", "dup"]

_BM25_TOP20 = """
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
"""


def _bm25_sql(terms=_BM25_TERMS, tokens: str = _DUCK_TOKENS,
              head: str = "", **kw) -> str:
    """The BM25 top-20 oracle: ``scored`` (``duck_bm25`` of *terms*
    with *kw*) after the *head* CTEs, then :data:`_BM25_TOP20`."""
    return (f"\nWITH {head}scored AS "
            f"({retrieval_ops.duck_bm25(terms, tokens, **kw)})"
            + _BM25_TOP20)


def _bm25_top20(scored: DataFrame) -> DataFrame:
    """The Spark twin of :data:`_BM25_TOP20`."""
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


def _invidx_top20(spark: SparkSession, path: str, terms=_BM25_TERMS,
                  **kw) -> DataFrame:
    """:func:`_bm25_top20` served from the inverted index at *path*."""
    return _bm25_top20(retrieval_ops.search_inverted_index(
        spark, path, terms, **kw))


_BM25_ORACLE = _bm25_sql()
_BM25_AND_ORACLE = _bm25_sql(require_all=True)
# exact BM25 over the documents a 25% age cut leaves
_BM25_SURV_ORACLE = _bm25_sql(head="""surv AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id >= (SELECT count(*) // 4 FROM documents)
), """, from_table="surv")


# Reciprocal-rank fusion (k_rrf 60) of two top-50 legs, each ranked by
# (s desc, doc_id): the BM25 leg ``kw_rank`` and a second leg.
def _rank(name: str, top: str, col: str) -> str:
    """*name*: the rows of *top* ranked 1.. by (s desc, doc_id) as
    *col*."""
    return f"""{name} AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS {col}
  FROM {top}
)"""


def _kw_leg(**kw) -> str:
    """``kw_scored``/``kw_top``/``kw_rank``: the BM25 top-50 ranks of
    :data:`_BM25_TERMS` (*kw* goes to ``duck_bm25``)."""
    return f"""kw_scored AS ({retrieval_ops.duck_bm25(
        _BM25_TERMS, _DUCK_TOKENS, **kw)}),
kw_top AS (
  SELECT doc_id, (round(bm25, 6) + 0) AS s FROM kw_scored
  ORDER BY s DESC, doc_id LIMIT 50
), """ + _rank("kw_rank", "kw_top", "rank_kw")


# ``v_scored``/``v_top``/``v_rank``: brute-force cosine top-50 ranks
_V_LEG = f"""v_scored AS (
  SELECT e.vec_id AS doc_id,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS s
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
), v_top AS (
  SELECT doc_id, s FROM v_scored ORDER BY s DESC, doc_id LIMIT 50
), """ + _rank("v_rank", "v_top", "rank_vec")


def _rrf(cols: str = " k.rank_kw, v.rank_vec,", limit: int = 10,
         leg: str = "v_rank v", rank: str = "rank_vec") -> str:
    """The fused top *limit* of ``kw_rank`` and *leg* (``relation
    alias``, ranks in *rank*), with the *cols* rank columns."""
    a = leg.split()[-1]
    return f"""
SELECT COALESCE(k.doc_id, {a}.doc_id) AS doc_id,{cols}
       (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
            + COALESCE(1.0::DOUBLE / (60 + {a}.{rank}), 0.0), 6) + 0) AS rrf
FROM kw_rank k FULL JOIN {leg} ON k.doc_id = {a}.doc_id
ORDER BY rrf DESC, doc_id LIMIT {limit}
"""


def _kw_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of :func:`_kw_leg`'s ``kw_rank``."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    kw = (retrieval_ops.bm25_scores(docs, _BM25_TERMS)
          .select("doc_id", rnd(F.col("bm25"), 6).alias("s")))
    return retrieval_ops.bounded_rank(kw, "s", "doc_id", 50)


def _vec_rank(emb: DataFrame, qv: list) -> DataFrame:
    """The Spark twin of :data:`_V_LEG`'s ``v_rank``."""
    vec = (sim_ops.similarity_to_query(emb, qv)
           .select(F.col("vec_id").alias("doc_id"),
                   rnd(F.col("sim"), 6).alias("s")))
    return retrieval_ops.bounded_rank(vec, "s", "doc_id", 50)


@register("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed 3-term keyword query — the lexical
    retrieval mode the reference lacks (its search is cosine-only,
    src/core/search/engine.py:105-183).

    Plan: per-term tf as size(filter(tokens)) Column expressions (no
    explode — the query IS the vocabulary, so the corpus-wide DF table
    TF-IDF needs collapses to one broadcast stats row), one map-side-
    partial aggregate for (N, Σdl, df per term), scoring rides a second
    scan, TakeOrderedAndProject for the top-k.  Nothing shuffles on a
    data-dependent key at any corpus size."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return _bm25_top20(retrieval_ops.bm25_scores(docs, _BM25_TERMS))


@register("text_bm25_and_topk", oracle=_BM25_AND_ORACLE)
def text_bm25_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND-mode) BM25 — the other standard keyword
    semantics next to text_bm25_topk's OR mode: only documents
    containing EVERY query term are admitted (Lucene BooleanQuery
    MUST); scoring and idf statistics are mode-independent, so
    AND-mode scores equal the OR scores of the surviving docs.  Same
    scan-riding plan: one broadcast stats row, admission is a tighter
    filter on the same pivoted tf columns — no extra pass, no
    shuffle."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return _bm25_top20(retrieval_ops.bm25_scores(docs, _BM25_TERMS,
                                                 require_all=True))


@register("text_index_and_topk", oracle=_BM25_AND_ORACLE)
def text_index_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-mode BM25 served from the PERSISTED inverted index — the
    index path must reproduce the scan path's conjunction bit-for-bit
    (same oracle as text_bm25_and_topk).  The pruned postings read is
    unchanged (term buckets only); the conjunction is a filter over
    the pivoted per-doc tf columns BEFORE the stats broadcast, so at
    100 TB the admitted set shrinks to the rarest term's postings
    intersection without reading anything extra."""
    path = _inverted_index(spark, sf_dir)
    return _invidx_top20(spark, path, require_all=True)


@register("rerank_cross_encoder", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS)}),
cand AS (
  SELECT doc_id FROM scored
  ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
), tk AS (
  SELECT d.doc_id, {_DUCK_TOKENS} AS toks
  FROM documents d JOIN cand c ON c.doc_id = d.doc_id
), ce AS (
  SELECT doc_id,
         (round(CAST(list_sum(list_transform(toks, d ->
            ((('0x' || substr(md5('spark#' || d), 1, 12))::BIGINT) % 1000)
          + ((('0x' || substr(md5('query#' || d), 1, 12))::BIGINT) % 1000)
          + ((('0x' || substr(md5('dup#' || d), 1, 12))::BIGINT) % 1000)
         )) AS DOUBLE) / (500.0 * 3 * (len(toks) + 1)), 6) + 0)
           AS ce_score
  FROM tk
)
SELECT doc_id, ce_score FROM ce
ORDER BY ce_score DESC, doc_id LIMIT 10
""")
def rerank_cross_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, second stage: BM25 shortlists 20
    candidates, an Arrow-batched pandas UDF scores each (query,
    candidate) PAIR jointly, top-10 by pair score.  Inference cost is
    bounded by the candidate count at any corpus size — the economics
    that make cross-encoders deployable at all.  The scorer here is
    the deterministic md5 interaction fake (term x token weights,
    length-normalized) so the oracle value-checks the whole two-stage
    plan; sentence-transformers' CrossEncoder drops into the same UDF
    when importable (scorer="model", the embed.py gating pattern)."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return retrieval_ops.cross_encoder_rerank(
        docs, _BM25_TERMS, candidates=20, k=10)


@register("hybrid_search_rrf", oracle=_with(_kw_leg(), _V_LEG) + _rrf())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 keyword leg + cosine vector leg fused by
    reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the retrieval
    shape every production vector store serves next to pure ANN.

    Each leg's ranks come from operators.retrieval.bounded_rank: a
    row_number() window fed by an ordered limit(50) prefix
    (TakeOrderedAndProject), so the window's single-partition exchange
    sees 50 rows at any corpus size (the registry-wide guard in
    test_window_guard.py carries this caller as a bounded exemption),
    and the fusion join runs over two 50-row frames regardless of
    corpus size."""
    kw_rank = _kw_rank(spark, sf_dir)
    vec_rank = _vec_rank(_t(spark, sf_dir, "embeddings"),
                         _query_vec(spark, sf_dir))
    fused = retrieval_ops.rrf_fuse([kw_rank, vec_rank], topk=10)
    return fused.select("doc_id",
                        F.col("rank_0").alias("rank_kw"),
                        F.col("rank_1").alias("rank_vec"),
                        "rrf")


@register("dedup_semdedup", oracle=f"""
WITH {_scaled_corpus()}, {_seed_cent("corpus")},
{_assign("corpus", names=_ASSIGNED)},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0)
          >= 0.99
)
SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
""")
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): cluster the embedding space, then
    drop within-cluster cosine near-dups keeping the lowest id — the
    semantic-level dedup a web-scale training pipeline runs AFTER exact
    and MinHash passes (catches paraphrases and re-encodings that share
    no n-grams).  Every 20th vector is re-injected scaled x1.25
    (cosine 1.0 with its original, same cell by scale-invariance) and
    must be dropped; output is every row's (cell, keep) verdict.

    The IVF cells are the quadratic guard: pairwise cosine never
    crosses a cell boundary, so cost is sum of cell^2, bounded by
    nlist sizing — not corpus^2."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = _with_scaled_dups(emb)
    cent = ivf_ops.seed_centroids(corpus, 16)
    return dedup_ops.semdedup(corpus, cent, threshold=0.99)


@register("ann_truncated_rerank", oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
hs AS (
  SELECT e.vec_id,
         (round({V.duck_cosine('e.embedding[1:32]', 'q.qv[1:32]')}, 6) + 0)
           AS hsim
  FROM embeddings e, q
), short AS (
  SELECT vec_id FROM hs ORDER BY hsim DESC, vec_id LIMIT 200
)
SELECT e.vec_id, e.label,
       (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
FROM embeddings e JOIN short USING (vec_id), q
ORDER BY sim DESC, e.vec_id LIMIT 10
""")
def ann_truncated_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive retrieval by dimension truncation (Matryoshka, Kusupati
    et al. 2022): shortlist on the first 32 of 64 dimensions, exact
    re-rank at full width — the train-nothing ANN sketch that reads
    half the vector bytes when the head is a write-time column.
    Completes the sketch family next to IVF (partition prune), LSH
    (bucket prune) and PQ (byte-code scan).

    The head32 x shortlist200 default is MEASURED, not guessed
    (tools/scaling_check.py --trunc, README table): recall@10 0.83 on
    this corpus, where untrained embeddings spread signal uniformly so
    the head carries only head/dim of it — MRL-trained embeddings
    front-load variance and move the knee to smaller heads."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.truncated_rerank_search(
        emb, _query_vec(spark, sf_dir), k=10, head_dims=32, shortlist=200,
        keep_cols=("label",))


@register("streaming_enrich_dim", oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
""")
def streaming_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.H live, stream-STATIC join — the enrichment shape of D1
    (join_user_dim) under streaming execution: every arriving event
    broadcast-joins the static customer dimension inside its
    micro-batch, append mode, no state (a stream-static join holds
    nothing between batches; the dimension is re-resolvable per batch,
    which is exactly how a slowly-changing dim should be consumed).
    Oracle = the batch left join, because append mode with no watermark
    emits every input row exactly once."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_enrich_{next(_STREAM_SEQ)}"
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment"))

    def enrich(events: DataFrame) -> DataFrame:
        return (events
                .join(F.broadcast(cust),
                      events.user_id == cust.c_custkey, "left")
                .select("event_id", "user_id", "c_mktsegment", "value"))

    out = streaming_ops.run_stream_once(
        spark, sf_dir, query_name=name, output_mode="append",
        agg_fn=enrich)
    return out.select("event_id", "user_id", "c_mktsegment", "value")


@register("streaming_interval_join", oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_s
FROM events c JOIN events p ON p.user_id = c.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""")
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.H live, stream-STREAM interval join — the attribution query
    (purchase within 1 h of a click, same user) with BOTH sides
    streaming: watermarks on both legs plus the two-sided event-time
    bound make buffered state evictable at the watermark horizon, and
    inner-join rows emit as soon as both sides arrive, so the
    availableNow replay equals the batch interval join (the oracle)
    row-for-row.  Completes the streaming matrix: windowed agg,
    sessionization, dedup, stream-static enrich, sinks — and now the
    two-stream correlation shape."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_ivjoin_{next(_STREAM_SEQ)}"
    return streaming_ops.stream_interval_join(spark, sf_dir, name)


@register("quality_classifier_score", oracle=f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       (round({analysis.duck_classifier_score('text', 'toks',
                                              _DUCK_STOP_RATIO)}, 6) + 0)
         AS cls_score,
       ((round({analysis.duck_classifier_score('text', 'toks',
                                               _DUCK_STOP_RATIO)}, 6) + 0)
          >= 0.5) AS keep
FROM t
""")
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier-filter step of CCNet/DCLM-style pipelines: a
    fastText-shape model (averaged per-token weights + dense features
    through a logistic link) scored as pure Column math riding the
    scan — no UDF, no shuffle; the keep verdict thresholds at 0.5.
    Per-token weights are a deterministic hash-derived stand-in (a
    deployment broadcast-joins trained weights; same plan), making the
    row fully oracle-checkable.  Completes the quality family: rule
    battery (text_gopher_rules), perplexity gate
    (text_unigram_logprob), heuristic score (text_quality_score), and
    now the learned-classifier shape."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    score = rnd(analysis.classifier_score(F.col("text")), 6)
    return docs.select("doc_id", score.alias("cls_score"),
                       (score >= F.lit(0.5)).alias("keep"))
