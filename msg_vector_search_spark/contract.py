"""Driver-contract query registry.

Every implemented operator from SURVEY.md section 2 (plus the
training-data-pipeline extension surface) registers here as a
``(spark, sf_dir) -> DataFrame`` callable together with the ANSI-SQL
oracle DuckDB runs over the same parquet tables.  ``__spark_entry__.py``
re-exports the registry.

Determinism rules applied uniformly (SURVEY section 7 hard points):

* every computed column is aliased identically in Spark and SQL;
* every float that passes through non-deterministically-ordered
  aggregation is rounded onto a grid far coarser than the worst-case
  float error but finer than the data's true decimals;
* derived floats (avg, ratios) are computed FROM the already-rounded
  inputs so both engines divide identical doubles;
* every top-k / limit is ordered with an explicit unique tiebreak key.
"""

from __future__ import annotations

import itertools
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from . import embed, multimodal
from .functions import analysis, textops, vector as V
from .operators import aggregates as agg_ops
from .operators import ann_index
from .operators import asof as asof_ops
from .operators import corpus as corpus_ops
from .operators import dedup as dedup_ops
from .operators import dims as dims_ops
from .operators import enrich as enrich_ops
from .operators import filters as filter_ops
from .operators import ivf as ivf_ops
from .operators import lsh as lsh_ops
from .operators import packing as packing_ops
from .operators import pq as pq_ops
from .operators import retrieval as retrieval_ops
from .operators import similarity as sim_ops
from .operators import topk as topk_ops
from .session import run_concurrently
from .sources import bucketed, layout, readers, sinks, state
from .streaming import stream as streaming_ops

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def rnd(col, n: int):
    """Grid rounding with signed-zero normalization (+0.0 folds -0.0 to
    0.0 — DuckDB and Spark disagree on round()'s zero sign)."""
    return F.round(col, n) + F.lit(0.0)


def duck_rnd(expr: str, n: int) -> str:
    """DuckDB twin of :func:`rnd`."""
    return f"(round({expr}, {n}) + 0)"


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver hands us its own session; pin the runtime confs the
    # oracle comparison depends on (UTC rendering matches DuckDB's
    # naive timestamps).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # INT64-micros timestamp WRITES (not the INT96 legacy default):
    # INT96 columns carry no min/max stats, which would strip ts
    # row-group pruning AND retention_sweep's footer probe from every
    # store a contract row writes under the driver's vanilla session.
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    return readers.read_table(spark, sf_dir, name)


# The fixed query vector for single-query similarity operators: the
# stored embedding of vec_id = 0 (deterministic, exists at every sf).
# Cached per sf_dir: the fixture is immutable, and the extra .head()
# job otherwise adds a full scheduler round trip (~0.2 s local) to
# every search invocation — a serving deployment embeds its query
# once, it doesn't re-read the store.
_QVEC_CACHE: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    if sf_dir not in _QVEC_CACHE:
        row = (_t(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") == 0).select("embedding").head())
        _QVEC_CACHE[sf_dir] = [float(x) for x in row[0]]
    return _QVEC_CACHE[sf_dir]


_DUCK_QVEC = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"


# =========================================================================
# Trained-artifact publication (the ann_trained_store_exhaustive
# technique, VERDICT r11 item 1, applied to the ADC fold): trained
# centroids / codebooks are seed-DETERMINISTIC but not
# dialect-reproducible in DuckDB, so each trained row PERSISTS its
# artifacts here as part of the query and its oracle replays the whole
# downstream composition (assign -> encode -> ADC -> re-rank) FROM the
# persisted parquet — value-verifying every stage AFTER training.  The
# path is FIXED (not mkdtemp) because oracle_sql() strings are static;
# every run of the query rewrites/re-points it before its oracle
# executes (the gate runs Spark first, then DuckDB, per row).
# SINGLE-WRITER ASSUMPTION: the fixed path means two concurrent gate
# processes (or a gate racing a pytest run of these rows) would rewrite
# each other's artifacts between a row's Spark leg and its oracle leg —
# the driver contract runs one gate at a time, and the artifacts are
# rewritten by every query run, so a clobbered window self-heals on the
# next sequential pass.
# =========================================================================
_TRAINED_ART = os.path.join(tempfile.gettempdir(), "mvs_trained_artifacts")


def _trained_dir(name: str) -> str:
    return os.path.join(_TRAINED_ART, name)


def _publish_codebooks(name: str, books) -> None:
    ann_index._write_codebooks(
        books, os.path.join(_trained_dir(name), "codebooks"))


def _publish_centroids(name: str, cent: DataFrame) -> None:
    _publish_frame(name, cent, "centroids")


def _publish_frame(name: str, df: DataFrame, sub: str) -> None:
    """Publish a small (dimension-bounded) frame under the canonical
    artifact dir so a static oracle string can read it back — the same
    query-writes / oracle-replays contract as the trained ANN rows.

    Written DRIVER-SIDE with pyarrow, not a Spark write job: a
    coalesce(1) parquet write of a 20-row frame measures ~5-7 s of
    pure scheduler/committer overhead on this host (the same
    measurement that shaped ann_index._write_codebooks) — the frames
    published here are centroids/budgets, dimension-bounded by
    contract.  Float32 arrays collect as exact float64s, which is the
    cast both engines score in anyway."""
    import pyarrow as pa

    rows = df.collect()
    table = pa.table({c: [r[c] for r in rows] for c in df.columns})
    ann_index.write_small_parquet(
        table, os.path.join(_trained_dir(name), sub))


# Canonical per-table witness keys for the artifact fingerprints: the
# content columns that actually change across fixture scales (row
# COUNTS do not — sf0.001 and sf0.01 both carry 500 embeddings/
# documents with different contents, measured), rendered identically
# by both engines.  md5(text) folds arbitrary document text to a hex
# token both dialects hash the same way; the embeddings key carries a
# VECTOR digest (per-dim round(x*1e6) summed to one BIGINT — integer
# rendering, so no cross-engine float-formatting hazard) because the
# trained artifacts derive from the vector BYTES: ids/labels alone
# would pass stale artifacts through a regeneration that kept the
# identity set but moved the vectors.
_VEC_DIGEST_SQL = ("CAST(list_sum(list_transform(embedding, x -> "
                   "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))"
                   " AS BIGINT)")
_WITNESS_KEY_SQL = {
    "embeddings": ("CAST(vec_id AS VARCHAR) || ':' || label || ':' || "
                   f"CAST({_VEC_DIGEST_SQL} AS VARCHAR)"),
    "documents": "CAST(doc_id AS VARCHAR) || ':' || md5(text)",
    "events": "CAST(event_id AS VARCHAR)",
}


def _witness_key_col(table: str):
    if table == "embeddings":
        digest = F.aggregate(
            F.col("embedding"), F.lit(0).cast("long"),
            lambda acc, x: acc + F.round(x.cast("double")
                                         * F.lit(1_000_000.0), 0)
            .cast("long"))
        return F.concat(F.col("vec_id").cast("string"), F.lit(":"),
                        F.col("label"), F.lit(":"),
                        digest.cast("string"))
    if table == "documents":
        return F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                        F.md5(F.col("text").cast("binary")))
    return F.col("event_id").cast("string")


def _scale_witness(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Order-independent content checksum of *table*: per row
    ``1000003 + (hash48(key) mod 1000003)`` summed — blends row count
    and content, overflow-safe to ~4.6e12 rows (worst-case per-row
    addend ~2.0e6, so the BIGINT sum crosses 2^63 near 2^63/2.0e6
    ~ 4.6e12 rows; a raw 48-bit sum would overflow near 33k rows).
    Computed with the shared
    md5-prefix hash so :func:`_fp_guard` replays it in DuckDB."""
    h = analysis.token_hash(_witness_key_col(table))
    w = (_t(spark, sf_dir, table)
         .agg(F.sum(F.lit(1000003).cast("long")
                    + F.pmod(h, F.lit(1000003))).alias("w"))
         .head()[0])
    # sum() over zero rows is NULL — an empty anchor table witnesses
    # as 0 instead of raising int(None) at publish time (r14 review)
    return int(w) if w is not None else 0


def _publish_fingerprint(spark: SparkSession, sf_dir: str, name: str,
                         table: str) -> None:
    """Scale witness for a published-artifact row (ADVICE r12): the
    content checksum of the query's anchor table at publish time,
    written next to the artifacts.  The oracle's artifact-reading CTE
    asserts this against the SAME checksum recomputed from its
    registered views (:func:`_fp_guard`), so an artifact left behind
    by a run at a DIFFERENT scale (the realistic clobber: a gate at
    sf0.01 racing a pytest run at sf0.001) empties the CTE and the
    row fails LOUDLY instead of silently comparing against stale
    artifacts.  Same-scale clobber remains benign by construction —
    every trained artifact is seed-deterministic per fixture, so a
    concurrent same-scale writer reproduces byte-equal values (the
    documented single-writer assumption, now enforced across
    scales)."""
    import pyarrow as pa

    ann_index.write_small_parquet(
        pa.table({"witness": [_scale_witness(spark, sf_dir, table)]}),
        os.path.join(_trained_dir(name), "fingerprint"))


def _fp_guard(name: str, table: str) -> str:
    """DuckDB predicate asserting the published fingerprint matches
    the oracle's own content checksum of *table* — AND this into the
    artifact CTE's WHERE so a cross-scale artifact yields zero rows."""
    key = _WITNESS_KEY_SQL[table]
    return (f"(SELECT f.witness FROM read_parquet("
            f"'{_trained_dir(name)}/fingerprint/*.parquet') f)"
            f" = (SELECT sum(1000003 + "
            f"({analysis.duck_token_hash(key)} % 1000003)) FROM {table})")


def _publish_store_link(name: str, target: str) -> None:
    """Atomically re-point the canonical symlink at a (cached) store
    directory — the store itself is built once per fixture (mkdtemp),
    the link lets a static oracle string always read the CURRENT one."""
    os.makedirs(_TRAINED_ART, exist_ok=True)
    link = _trained_dir(name)
    tmp = link + "._lnk"
    try:
        os.remove(tmp)
    except FileNotFoundError:
        pass
    os.symlink(target, tmp)
    os.replace(tmp, link)


# =========================================================================
# Similarity family (SURVEY 2.C C10/C8, 2.B B7, 2.D D6, 2.F F1)
# =========================================================================

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


@register("knn_broadcast_join", oracle=f"""
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
""")
def knn_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: query-set vs corpus broadcast nested-loop KNN (reference
    generalization of embeddings/processor.py:489-525)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding"))
    out = sim_ops.knn_join(emb, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register("knn_join_pandas", oracle="""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3
), scored AS (
  SELECT q.q_id, e.vec_id,
         (round(""" + V.duck_cosine('e.embedding', 'q.qv') + """, 6) + 0)
           AS sim
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC)
           AS rank
  FROM scored
)
SELECT q_id, vec_id, sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""")
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


# =========================================================================
# Scans / sinks / state (SURVEY 2.A)
# =========================================================================

@register("scan_messages", oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents
""")
def scan_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: projected columnar scan (reference: processor.py:428-435)."""
    return readers.scan_messages(spark, sf_dir)


@register("scan_latest_file", oracle="""
SELECT event_id, ts, user_id, event_type, value
FROM events WHERE ts = (SELECT max(ts) FROM events)
""")
def scan_latest_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: newest-snapshot-wins discovery, data-level analog
    (reference: connection.py:56-76)."""
    return readers.scan_latest_rows(spark, sf_dir)


@register("sink_upsert_embeddings", oracle="""
WITH batches AS (
  SELECT vec_id, label, 1 AS batch FROM embeddings
  UNION ALL
  SELECT vec_id, label + 100 AS label, 2 AS batch
  FROM embeddings WHERE vec_id % 5 = 0
), ranked AS (
  SELECT vec_id, label, batch,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY batch DESC, vec_id) AS rn
  FROM batches
)
SELECT vec_id, label, batch FROM ranked WHERE rn = 1
""")
def sink_upsert_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: INSERT OR REPLACE as union + last-writer-wins dedup — batch 2
    re-writes every 5th vector; its rows must shadow batch 1's
    (reference: embeddings/processor.py:326-411)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    b1 = emb.withColumn("batch", F.lit(1))
    b2 = (emb.filter(F.col("vec_id") % 5 == 0)
          .withColumn("label", F.col("label") + 100)
          .withColumn("batch", F.lit(2)))
    merged = b1.unionByName(b2)
    return dedup_ops.dedup_last_wins(merged, "vec_id", "batch") \
        .select("vec_id", "label", "batch")


@register("bucketed_colocated_join", oracle="""
SELECT o.o_orderstatus,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
""")
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed fact-to-fact join: both tables land bucketBy(8, key) on
    their join keys, so the sort-merge join plans with ZERO exchange on
    either input — the write paid the shuffle once, every later join
    reads co-located, bucket-sorted files (tests/test_plan_shapes.py
    pins the no-exchange property).  The third join strategy next to
    broadcast (dims) and shuffle (ad hoc): at 100 TB this is the only
    affordable shape for a RECURRING lineitem x orders join, which
    would otherwise re-shuffle the fact tables every run.  The oracle
    is the plain join — bucketing changes placement, never values."""
    import re as _re

    tag = _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/"))
    t_orders, t_li = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    bucketed.write_bucketed(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        t_orders, "o_orderkey", 8)
    bucketed.write_bucketed(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"),
        t_li, "l_orderkey", 8)
    o = bucketed.read_table(spark, t_orders)
    li = bucketed.read_table(spark, t_li)
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(rnd(F.sum(disc), 4).alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("o_orderstatus"))


def _ivfpq_replay_oracle(art_dir: str, nprobe: int,
                         shortlist: int) -> str:
    """The full IVF x PQ composition replayed in DuckDB FROM persisted
    trained artifacts (centroids + codebooks parquet under *art_dir*):
    cosine cell assignment (9dp, ties to smallest centroid id), probe
    of the query's top-nprobe cells, per-subspace encode (argmax dot,
    9dp, ties to lowest code), the adc_score_col fold (j*ncodes+code
    indexing, 6dp), shortlist, exact-cosine re-rank — identical math
    to the seed oracle _IVFPQ_SEED_ORACLE, with the artifact CTEs
    reading parquet instead of deriving seed picks.  Verifies every
    stage downstream of training at full value fidelity.  The
    centroid CTE carries the fingerprint guard (ADVICE r12): a
    cross-scale artifact empties it and the row fails loudly."""
    return f"""
WITH cent AS (
  SELECT centroid_id, centroid_vec AS cvec
  FROM read_parquet('{art_dir}/centroids/*.parquet')
  WHERE (SELECT f.witness
         FROM read_parquet('{art_dir}/fingerprint/*.parquet') f)
        = (SELECT sum(1000003 +
             ({analysis.duck_token_hash(_WITNESS_KEY_SQL['embeddings'])}
              % 1000003)) FROM embeddings)
), cb AS (
  SELECT j, cw, cv FROM read_parquet('{art_dir}/codebooks/*.parquet')
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cscored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id
  LIMIT {nprobe}
), cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)
), js AS (SELECT DISTINCT j FROM cb),
ev AS (
  SELECT c.vec_id, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot("(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]",
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (
  SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT {shortlist}
)
SELECT c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM cand c JOIN short s ON s.vec_id = c.vec_id
ORDER BY sim DESC, c.vec_id LIMIT 10
"""


@register("ann_ivfpq_trained", oracle=_ivfpq_replay_oracle(
    _trained_dir("ann_ivfpq_trained"), nprobe=8, shortlist=400))
def ann_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained IVF x PQ BUILD-path check: MLlib k-means coarse
    centroids + Lloyd's-trained codebooks through the same
    prune -> ADC -> re-rank composition as ann_ivfpq_topk, trained
    inline so the whole build+serve chain runs in one query.  Serving
    proper reads the persisted artifacts instead —
    ann_ivfpq_materialized_trained.

    FULL oracle since r12: the trained artifacts themselves aren't
    DuckDB-reproducible (k-means|| / Lloyd's), so the query PERSISTS
    them and the oracle replays the whole assign -> encode -> ADC ->
    re-rank composition from the persisted parquet
    (_ivfpq_replay_oracle) — the ann_trained_store_exhaustive
    technique applied to the ADC fold (VERDICT r11 item 1).  The
    nprobe=8 x shortlist=400 operating point (recall@10 0.77) is the
    measured knee from tools/scaling_check.py --knee (README table)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.kmeans_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    cb = pq_ops.kmeans_codebooks(emb, m=8, ncodes=16)
    _publish_centroids("ann_ivfpq_trained", cent)
    _publish_codebooks("ann_ivfpq_trained", cb)
    _publish_fingerprint(spark, sf_dir, "ann_ivfpq_trained", "embeddings")
    return pq_ops.ivfpq_search(assigned, cent, cb,
                               _query_vec(spark, sf_dir),
                               k=10, nprobe=8, shortlist=400)


@register("zorder_clustered_scan", oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       (round(l_extendedprice, 2) + 0) AS price
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 140 AND l_suppkey BETWEEN 10 AND 20
""")
def zorder_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout, end to end: write lineitem clustered
    by the bit-interleave of (l_partkey, l_suppkey) — bucketized to
    the 2^11 key space per the layout contract — then answer a
    conjunctive two-column range query FROM THE CLUSTERED COPY.  The
    oracle runs the same query on the raw table: identical values
    prove the layout is a pure row-order permutation (lossless), while
    tests/test_zorder.py proves the row-group min/max stats the
    re-order creates actually prune (a Z-range covers a small square
    of the key space, so BOTH columns' filters skip row groups — the
    Delta/Iceberg Z-ORDER trick from Spark primitives: pure-Column
    interleave + repartitionByRange + sortWithinPartitions).  At
    100 TB this is table maintenance: cluster once, every multi-key
    point/range scan after that reads a few row groups instead of the
    table."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice")
    out = os.path.join(tempfile.mkdtemp(prefix="zorder_"), "lineitem_z")
    layout.write_zordered(
        li, out,
        [F.pmod(F.col("l_partkey"), F.lit(2048)),
         F.pmod(F.col("l_suppkey"), F.lit(2048))],
        bits=11, target_partitions=8)
    clustered = spark.read.parquet(out)
    return (clustered
            .filter(F.col("l_partkey").between(100, 140)
                    & F.col("l_suppkey").between(10, 20))
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                    rnd(F.col("l_extendedprice"), 2).alias("price")))


@register("sink_delete_keys", oracle="""
SELECT vec_id, label FROM embeddings WHERE vec_id % 7 <> 0
""")
def sink_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure end-to-end (the GDPR path): build the keyed store, then
    delete every 7th key and read the store back — the result must be
    exactly the surviving rows.  The delete is the same
    directory-pruned rewrite as the incremental upsert (anti join
    instead of last-wins; emptied buckets removed), so its cost is
    O(touched buckets + key list) regardless of store size.  With
    upsert/read/rebucket/delete the store lifecycle is complete."""
    store = os.path.join(tempfile.mkdtemp(prefix="delstore_"), "store")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    sinks.upsert_parquet(spark, emb.withColumn("_ord", F.lit(1)),
                         store, key="vec_id", order_col="_ord")
    doomed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    sinks.delete_keys(spark, store, "vec_id", doomed)
    return sinks.read_store(spark, store).select("vec_id", "label")


@register("sink_retention_sweep", oracle="""
SELECT event_id, ts, event_type FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
""")
def sink_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL erasure end-to-end (forget-by-AGE — the lifecycle twin of
    sink_delete_keys' forget-by-KEY): build the arrival-ordered store,
    sweep a 7-day retention window, read it back — the survivors must
    be exactly the rows with ts >= cutoff.  The sweep's probe reads
    parquet FOOTER stats only: on this range-layout store (event_id
    correlates with ts) whole expired directories DROP without a
    rewrite and live directories are never opened — only the O(1)
    boundary bucket rewrites, so retention over a 100 TB store costs
    footers + boundary bytes, not a table scan
    (sinks.retention_sweep; crash-recovery shares delete_keys'
    staged-manifest commit).  The reference has no retention verb —
    its SQLite store grows forever (SURVEY 2.A gap)."""
    store = os.path.join(tempfile.mkdtemp(prefix="ttlstore_"), "store")
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    # ~40 directories at any sf (width scales with the corpus — the
    # per-dir file overhead of a fixed tiny width dominated the row's
    # sf0.1 wall time, and the 7-day cut still expires ~30 of 40 whole)
    n = ev.count()
    sinks.upsert_parquet(spark, ev.withColumn("_ord", F.lit(1)),
                         store, key="event_id", order_col="_ord",
                         layout="range", range_width=max(64, n // 40))
    cutoff = ev.agg(
        F.max("ts") - F.expr("INTERVAL 7 DAYS")).collect()[0][0]
    info = sinks.retention_sweep(spark, store, cutoff, ts_col="ts")
    # the fast path must actually engage on this store: expired
    # directories drop whole (no rewrite) and at most a couple of
    # boundary dirs rewrite — if every bucket rewrote, the layout
    # correlation broke and this row should fail loudly
    assert len(info["dropped"]) >= 1, info
    assert len(info["rewritten"]) <= 2, info
    return sinks.read_store(spark, store).select(
        "event_id", "ts", "event_type")


@register("watermark_read", oracle=f"""
WITH bounds AS (SELECT min(ts) AS min_ts, max(ts) AS max_ts FROM events),
cands AS (
  SELECT 'normal' AS k, min_ts + INTERVAL 1 DAY AS wm, max_ts AS as_of FROM bounds
  UNION ALL
  SELECT 'future', max_ts + INTERVAL 365 DAYS, max_ts FROM bounds
  UNION ALL
  SELECT 'ancient', max_ts - INTERVAL 7300 DAYS, max_ts FROM bounds
)
SELECT k, {state.duck_clamp_watermark('wm', 'as_of')} AS watermark
FROM cands
""")
def watermark_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+H2: the three clamp behaviors (normal passthrough, future ->
    epoch reset, ancient -> as_of - 30 d), deterministic via an explicit
    as-of instant (reference: processor.py:32-75, guards :62-69)."""
    events = _t(spark, sf_dir, "events")
    bounds = events.agg(F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts"))
    cands = bounds.selectExpr(
        "'normal' AS k", "min_ts + INTERVAL 1 DAY AS wm", "max_ts AS as_of"
    ).unionByName(bounds.selectExpr(
        "'future' AS k", "max_ts + INTERVAL 365 DAYS AS wm", "max_ts AS as_of"
    )).unionByName(bounds.selectExpr(
        "'ancient' AS k", "max_ts - INTERVAL 7300 DAYS AS wm", "max_ts AS as_of"
    ))
    return cands.select(
        "k", state.clamp_watermark(F.col("wm"), F.col("as_of")).alias("watermark"))


# =========================================================================
# Filters / predicates (SURVEY 2.B)
# =========================================================================

@register("filter_since_ts", oracle="""
SELECT event_id, ts, user_id FROM events
WHERE ts > (SELECT min(ts) + INTERVAL 5 DAYS FROM events)
""")
def filter_since_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: the incremental watermark predicate (reference:
    processor.py:349-353) — pushed down to the parquet scan."""
    events = _t(spark, sf_dir, "events")
    wm = events.agg(F.expr("min(ts) + INTERVAL 5 DAYS")).head()[0]
    return (filter_ops.since_ts(events, wm)
            .select("event_id", "ts", "user_id"))


@register("filter_like_json_probe", oracle="""
SELECT event_id, props FROM events
WHERE contains(props, '"k":') AND contains(props, '9')
""")
def filter_like_json_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: cheap contains-probe ahead of JSON parsing (reference:
    user_mapper.py:95-100)."""
    return (filter_ops.json_probe(_t(spark, sf_dir, "events"), "props",
                                  '"k":', "9")
            .select("event_id", "props"))


@register("filter_in_list", oracle="""
SELECT event_id, event_type FROM events
WHERE event_type IN ('click', 'view')
""")
def filter_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: type-code membership (reference: user_mapper.py:99)."""
    return (filter_ops.in_list(_t(spark, sf_dir, "events"), "event_type",
                               ["click", "view"])
            .select("event_id", "event_type"))


@register("filter_not_null_distinct", oracle="""
SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
""")
def filter_not_null_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 (reference: user_mapper.py:180)."""
    return filter_ops.not_null_distinct(_t(spark, sf_dir, "events"), "user_id")


_DUCK_DIRTY = ("""(text || ' see https://ex.com/p?id=' || doc_id """
               """|| ' ok✨ end')""")

@register("filter_nonempty_text", oracle=f"""
SELECT doc_id, cleaned FROM (
  SELECT doc_id,
         {textops.duck_clean_text("CASE WHEN doc_id % 7 = 0 THEN '   ' ELSE text END")} AS cleaned
  FROM documents
) WHERE length(trim(cleaned)) > 0
""")
def filter_nonempty_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: drop rows whose cleaned text is empty (reference:
    processor.py:449-451); every 7th row is blanked to exercise it."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "cleaned",
        textops.clean_text(
            F.when(F.col("doc_id") % 7 == 0, F.lit("   "))
            .otherwise(F.col("text"))))
    return filter_ops.nonempty_text(docs, "cleaned").select("doc_id", "cleaned")


@register("filter_dynamic_conj", oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE lang = 'en' AND source = 'src3'
""")
def filter_dynamic_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: optional-parameter conjunctive predicate (reference:
    embeddings/processor.py:472-486); the None parameter is skipped."""
    return filter_ops.dynamic_conjunction(
        _t(spark, sf_dir, "documents"),
        lang="en", source="src3", n_chars=None)


# =========================================================================
# Scalar text / json / time functions (SURVEY 2.C)
# =========================================================================

@register("json_extract_text", oracle="""
WITH c AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN '{"text": "' || substr(text, 1, 20) || '"}'
      WHEN 1 THEN '[{"text": "' || substr(text, 1, 8)
                  || '"}, {"note": 1}, {"text": "' || lang || '"}]'
      WHEN 2 THEN text
      ELSE '{"x": 1}'
    END AS content
  FROM documents
)
SELECT doc_id,
  CASE substr(ltrim(content), 1, 1)
    WHEN '{' THEN CASE WHEN json_valid(content)
                       THEN coalesce(json_extract_string(content, '$.text'), content)
                       ELSE content END
    WHEN '[' THEN array_to_string(list_filter(
                    [json_extract_string(content, '$[0].text'),
                     json_extract_string(content, '$[1].text'),
                     json_extract_string(content, '$[2].text')],
                    x -> x IS NOT NULL), ' ')
    ELSE content
  END AS extracted
FROM c
""")
def json_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: object => .text, array => joined segment texts with
    text-LESS items SKIPPED (reference appends only items that have
    "text", processor.py:141-145 — no separator doubling), non-JSON =>
    raw passthrough, dict-without-text => raw passthrough too (the
    reference's ``"text" in data`` guard falls through to ``return
    content``, processor.py:137-150).  Inputs constructed per doc_id %
    4; the %4==3 branch ({"x": 1}) pins the no-text raw passthrough
    and the %4==1 array carries a text-less MIDDLE item so the skip
    semantics are value-pinned on every fixture row (ADVICE r16: the
    oracle's old ''-coalesce join would double the separator here —
    both sides now implement the skip)."""
    docs = _t(spark, sf_dir, "documents")
    content = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('{"text": "'), F.substring("text", 1, 20),
                        F.lit('"}')))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit('[{"text": "'), F.substring("text", 1, 8),
                       F.lit('"}, {"note": 1}, {"text": "'),
                       F.col("lang"), F.lit('"}]')))
        .when(F.col("doc_id") % 4 == 2, F.col("text"))
        .otherwise(F.lit('{"x": 1}'))
    )
    return docs.select(
        "doc_id",
        textops.extract_text(content).alias("extracted"))


@register("clean_text", oracle=f"""
SELECT doc_id, {textops.duck_clean_text(_DUCK_DIRTY)} AS cleaned
FROM documents
""")
def clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: whitespace collapse -> URL strip -> emoji/non-text strip ->
    trim, reference regexes in reference order (processor.py:153-178);
    a URL and an emoji are appended to every row to exercise all three."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), F.lit(" see https://ex.com/p?id="),
                     F.col("doc_id").cast("string"), F.lit(" ok✨ end"))
    return docs.select("doc_id", textops.clean_text(dirty).alias("cleaned"))


@register("fmt_human_time", oracle="""
SELECT event_id, strftime(ts, '%b %d, %Y at %I:%M %p') AS message_time
FROM events
""")
def fmt_human_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: '%b %d, %Y at %I:%M %p' (reference: processor.py:463-464)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", textops.fmt_human_time(F.col("ts")).alias("message_time"))


@register("conv_type_from_sid", oracle="""
WITH s AS (
  SELECT event_id,
         CASE WHEN user_id % 3 = 0 THEN 'group-' || CAST(user_id AS VARCHAR)
              ELSE 'buddy-' || CAST(user_id AS VARCHAR) END AS session_id
  FROM events
)
SELECT event_id, session_id,
       CASE WHEN starts_with(session_id, 'group-') THEN 'group'
            ELSE 'private' END AS conversation_type,
       regexp_replace(session_id, '^buddy-', '') AS peer_id
FROM s
""")
def conv_type_from_sid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: group/private from the sid prefix + buddy-prefix strip
    (reference: processor.py:203, :250-252)."""
    events = _t(spark, sf_dir, "events")
    sid = (F.when(F.col("user_id") % 3 == 0,
                  F.concat(F.lit("group-"), F.col("user_id").cast("string")))
           .otherwise(F.concat(F.lit("buddy-"), F.col("user_id").cast("string"))))
    return (events.withColumn("session_id", sid)
            .select("event_id", "session_id",
                    textops.conv_type_from_sid(F.col("session_id"))
                    .alias("conversation_type"),
                    textops.buddy_user_id(F.col("session_id")).alias("peer_id")))


@register("truncate_ellipsis", oracle="""
SELECT doc_id,
       CASE WHEN length(text) > 100 THEN substr(text, 1, 100) || '...'
            ELSE text END AS snippet
FROM documents
""")
def truncate_ellipsis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: 100-char context snippet (reference: processor.py:298, :313)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", textops.truncate_ellipsis(F.col("text")).alias("snippet"))


@register("regex_name_from_email", oracle="""
WITH c AS (
  SELECT doc_id,
         'User ID: ' || CAST(doc_id AS VARCHAR) || ' Email: ' || source
         || '.' || lang || '@shopee.com' AS content
  FROM documents
)
SELECT doc_id,
       upper(substr(regexp_extract(content, 'Email: (\\w+)\\.(\\w+)@shopee\\.com', 1), 1, 1))
       || lower(substr(regexp_extract(content, 'Email: (\\w+)\\.(\\w+)@shopee\\.com', 1), 2))
       || ' '
       || upper(substr(regexp_extract(content, 'Email: (\\w+)\\.(\\w+)@shopee\\.com', 2), 1, 1))
       || lower(substr(regexp_extract(content, 'Email: (\\w+)\\.(\\w+)@shopee\\.com', 2), 2))
         AS user_name,
       CAST(regexp_extract(content, 'User ID: (\\d+)', 1) AS BIGINT) AS user_id
FROM c
""")
def regex_name_from_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: capitalized display name + numeric user id from email-bearing
    content (reference: user_mapper.py:24-25, :157-175)."""
    docs = _t(spark, sf_dir, "documents")
    content = F.concat(
        F.lit("User ID: "), F.col("doc_id").cast("string"),
        F.lit(" Email: "), F.col("source"), F.lit("."), F.col("lang"),
        F.lit("@shopee.com"))
    return docs.select(
        "doc_id",
        textops.name_from_email(content).alias("user_name"),
        textops.user_id_from_content(content).alias("user_id"))


@register("is_file_name", oracle="""
WITH n AS (
  SELECT doc_id,
    CASE doc_id % 6
      WHEN 0 THEN source || '.pdf'
      WHEN 1 THEN 'Screenshot ' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'a/b/' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'http://' || source
      WHEN 4 THEN 'x'
      ELSE 'Jane ' || source
    END AS name
  FROM documents
)
SELECT doc_id, name,
       (length(name) < 2 OR length(name) > 100
        OR ends_with(lower(name), '.pdf') OR ends_with(lower(name), '.doc')
        OR ends_with(lower(name), '.docx') OR ends_with(lower(name), '.xls')
        OR ends_with(lower(name), '.xlsx') OR ends_with(lower(name), '.ppt')
        OR ends_with(lower(name), '.pptx') OR ends_with(lower(name), '.png')
        OR ends_with(lower(name), '.jpg') OR ends_with(lower(name), '.jpeg')
        OR ends_with(lower(name), '.gif') OR ends_with(lower(name), '.mp4')
        OR ends_with(lower(name), '.mov') OR ends_with(lower(name), '.zip')
        OR ends_with(lower(name), '.txt')
        OR contains(lower(name), 'screenshot') OR contains(lower(name), 'image')
        OR contains(lower(name), 'photo')
        OR contains(name, '/') OR contains(name, '\\')
        OR starts_with(lower(name), 'http') OR starts_with(lower(name), 'www.')
       ) AS is_file
FROM n
""")
def is_file_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: filename-vs-display-name heuristic (reference:
    user_mapper.py:235-250) over six constructed name shapes."""
    docs = _t(spark, sf_dir, "documents")
    name = (
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.col("source"), F.lit(".pdf")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("Screenshot "), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("a/b/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 6 == 3, F.concat(F.lit("http://"), F.col("source")))
        .when(F.col("doc_id") % 6 == 4, F.lit("x"))
        .otherwise(F.concat(F.lit("Jane "), F.col("source")))
    )
    return (docs.withColumn("name", name)
            .select("doc_id", "name",
                    textops.is_file_name(F.col("name")).alias("is_file")))


@register("derived_pct", oracle="""
SELECT (round(100.0 * (SELECT count(*) FROM embeddings)
              / (SELECT count(*) FROM documents), 1) + 0) AS coverage_pct
""")
def derived_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: coverage percentage (reference: engine.py:274)."""
    emb = _t(spark, sf_dir, "embeddings").agg(F.count("*").alias("e"))
    docs = _t(spark, sf_dir, "documents").agg(F.count("*").alias("d"))
    return emb.crossJoin(docs).select(
        (textops.coverage_pct(F.col("e"), F.col("d")) + F.lit(0.0))
        .alias("coverage_pct"))


@register("group_name_probe", oracle="""
WITH c AS (
  SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN '{"n": "' || source || '"}'
      WHEN 1 THEN '{"gn": "' || source || '"}'
      WHEN 2 THEN '{"group_name": "' || source || '"}'
      WHEN 3 THEN '{"n": ""}'
      ELSE 'not json'
    END AS content
  FROM documents
)
SELECT doc_id,
  CASE WHEN json_valid(content) THEN
    coalesce(
      CASE WHEN length(trim(json_extract_string(content, '$.n'))) > 0
            AND length(trim(json_extract_string(content, '$.n'))) < 100
           THEN trim(json_extract_string(content, '$.n')) END,
      CASE WHEN length(trim(json_extract_string(content, '$.gn'))) > 0
            AND length(trim(json_extract_string(content, '$.gn'))) < 100
           THEN trim(json_extract_string(content, '$.gn')) END,
      CASE WHEN length(trim(json_extract_string(content, '$.group_name'))) > 0
            AND length(trim(json_extract_string(content, '$.group_name'))) < 100
           THEN trim(json_extract_string(content, '$.group_name')) END
    ) END AS conv_name
FROM c
""")
def group_name_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: group display-name probe with fallback keys and the
    0 < len < 100 guard (reference: processor.py:218-247)."""
    docs = _t(spark, sf_dir, "documents")
    content = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit('{"n": "'), F.col("source"), F.lit('"}')))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit('{"gn": "'), F.col("source"), F.lit('"}')))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit('{"group_name": "'), F.col("source"), F.lit('"}')))
        .when(F.col("doc_id") % 5 == 3, F.lit('{"n": ""}'))
        .otherwise(F.lit("not json"))
    )
    return docs.select(
        "doc_id", textops.group_name_probe(content).alias("conv_name"))


# =========================================================================
# Joins / lookups (SURVEY 2.D)
# =========================================================================

@register("join_user_dim", oracle="""
SELECT o.o_orderkey, o.o_custkey,
       coalesce(c.c_name, 'User ' || CAST(o.o_custkey AS VARCHAR)) AS user_name
FROM orders o
LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 != 0) c
  ON o.o_custkey = c.c_custkey
""")
def join_user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: broadcast left lookup join with 'User {id}' fallback
    (reference: user_mapper.py:252-263); a third of the dimension is
    withheld to exercise the fallback path."""
    orders = _t(spark, sf_dir, "orders")
    user_dim = (_t(spark, sf_dir, "customer")
                .filter(F.col("c_custkey") % 3 != 0)
                .select(F.col("c_custkey").alias("user_id"),
                        F.col("c_name").alias("user_name")))
    facts = orders.select("o_orderkey", F.col("o_custkey").alias("user_id"))
    out = enrich_ops.join_user_dim(facts, user_dim)
    return out.select("o_orderkey", F.col("user_id").alias("o_custkey"),
                      "user_name")


@register("join_conv_name", oracle="""
WITH m AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN user_id % 3 = 0 THEN 'group-' || CAST(user_id AS VARCHAR)
              ELSE 'buddy-' || CAST(user_id AS VARCHAR) END AS session_id,
         CASE WHEN event_type = 'view'
              THEN '{"n": "room-' || CAST(user_id AS VARCHAR) || '"}'
              ELSE props END AS content
  FROM events
), cand AS (
  SELECT session_id, ts, event_id,
         CASE WHEN json_valid(content)
               AND length(trim(json_extract_string(content, '$.n'))) > 0
               AND length(trim(json_extract_string(content, '$.n'))) < 100
              THEN trim(json_extract_string(content, '$.n')) END AS nm,
         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS priority
  FROM m WHERE event_type IN ('view', 'click')
), ranked AS (
  SELECT session_id, nm,
         row_number() OVER (PARTITION BY session_id
                            ORDER BY priority, ts, event_id) AS rn
  FROM cand WHERE nm IS NOT NULL
), dim AS (
  SELECT session_id, nm AS conversation_name FROM ranked WHERE rn = 1
)
SELECT s.session_id, coalesce(d.conversation_name, s.session_id)
         AS conversation_name
FROM (SELECT DISTINCT session_id FROM m) s
LEFT JOIN dim d USING (session_id)
""")
def join_conv_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: conversation-name dimension built ONCE (first qualifying
    group-info row per session by priority+time), then a broadcast
    lookup with sid fallback — the decorrelation of the reference's
    per-row LIMIT-1 queries (processor.py:192-264,
    embeddings/processor.py:548-617)."""
    events = _t(spark, sf_dir, "events")
    sid = (F.when(F.col("user_id") % 3 == 0,
                  F.concat(F.lit("group-"), F.col("user_id").cast("string")))
           .otherwise(F.concat(F.lit("buddy-"), F.col("user_id").cast("string"))))
    content = (F.when(F.col("event_type") == "view",
                      F.concat(F.lit('{"n": "room-'),
                               F.col("user_id").cast("string"), F.lit('"}')))
               .otherwise(F.col("props")))
    msgs = (events.withColumn("session_id", sid)
            .withColumn("content", content))
    dim = dims_ops.conversation_dim(
        msgs, "session_id", "ts", "content",
        info_types=["view"], creation_types=["click"],
        type_col="event_type", tiebreak_col="event_id")
    sessions = msgs.select("session_id").distinct()
    return (sessions.join(F.broadcast(dim), "session_id", "left")
            .select("session_id",
                    F.coalesce("conversation_name", "session_id")
                    .alias("conversation_name")))


@register("context_prev_next", oracle="""
SELECT event_id, user_id,
       lag(props) OVER w AS prev_text,
       lead(props) OVER w AS next_text
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, props, event_id)
""")
def context_prev_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: prev/next message text per session via lag/lead — the window
    rewrite of the reference's two correlated point queries per row
    (processor.py:266-318)."""
    events = _t(spark, sf_dir, "events")
    out = enrich_ops.context_prev_next(events, "user_id", "ts", "props",
                                       tiebreak_col="event_id")
    return out.select("event_id", "user_id", "prev_text", "next_text")


@register("anti_join_unnamed", oracle="""
SELECT DISTINCT user_id FROM events
WHERE user_id IS NOT NULL
  AND user_id NOT IN (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'click')
""")
def anti_join_unnamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: users lacking a name = distinct keys minus resolved keys, as
    a left-anti join (reference set difference: user_mapper.py:179-182).
    'Named' here = users with any click event."""
    events = _t(spark, sf_dir, "events")
    all_users = filter_ops.not_null_distinct(events, "user_id")
    named = (events.filter(F.col("event_type") == "click")
             .select("user_id").distinct())
    return dims_ops.unnamed_users(all_users, named)


@register("semi_join_deep_search", oracle="""
WITH unnamed AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL
    AND user_id NOT IN (SELECT DISTINCT user_id FROM events
                        WHERE event_type = 'purchase' AND value > 150)
)
SELECT event_id, user_id, event_type FROM events
WHERE user_id IN (SELECT user_id FROM unnamed)
   OR (props LIKE '%"k": 7%' AND props LIKE '%7}%')
ORDER BY event_id LIMIT 500
""")
def semi_join_deep_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: bounded candidate fetch for unnamed users — id-set membership
    OR content probes, deterministic cap (reference:
    user_mapper.py:188-198 ``u IN (...) OR content LIKE ... LIMIT
    500``).  'Named' = users with a >150-value purchase so the unnamed
    set is nonempty at sf0.01; the probe arm pulls rows from named
    users too, exercising the OR."""
    events = _t(spark, sf_dir, "events")
    all_users = filter_ops.not_null_distinct(events, "user_id")
    named = (events.filter((F.col("event_type") == "purchase")
                           & (F.col("value") > 150))
             .select("user_id").distinct())
    unnamed = dims_ops.unnamed_users(all_users, named)
    out = dims_ops.deep_search_candidates(events, unnamed, cap=500,
                                          order_col="event_id",
                                          content_col="props",
                                          probes=['"k": 7', '7}'])
    return out.select("event_id", "user_id", "event_type")


@register("dedup_last_wins", oracle="""
WITH doubled AS (
  SELECT event_id, ts, value FROM events
  UNION ALL
  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, value + 100 AS value
  FROM events WHERE event_id % 10 = 0
), ranked AS (
  SELECT event_id, ts, value,
         row_number() OVER (PARTITION BY event_id ORDER BY ts DESC, event_id)
           AS rn
  FROM doubled
)
SELECT event_id, ts, value FROM ranked WHERE rn = 1
""")
def dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: last-writer-wins primary-key dedup (INSERT OR REPLACE
    semantics, reference: embeddings/processor.py:382-388); every 10th
    event re-arrives 1 h later with a new value and must shadow the
    original."""
    events = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    newer = (events.filter(F.col("event_id") % 10 == 0)
             .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
             .withColumn("value", F.col("value") + 100))
    return dedup_ops.dedup_last_wins(events.unionByName(newer),
                                     "event_id", "ts")


# =========================================================================
# Aggregates (SURVEY 2.E)
# =========================================================================

@register("agg_count_total", oracle="SELECT count(*) AS total_count FROM events")
def agg_count_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 (reference: engine.py:162, :244-245)."""
    return agg_ops.count_total(_t(spark, sf_dir, "events"))


@register("agg_count_embedded",
          oracle="SELECT count(*) AS total_count FROM embeddings")
def agg_count_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (reference: engine.py:254-255)."""
    return agg_ops.count_total(_t(spark, sf_dir, "embeddings"))


@register("agg_min_max_ts", oracle="""
SELECT min(ts) AS min_ts, max(ts) AS max_ts FROM events
""")
def agg_min_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 (reference: processor.py:362-367)."""
    return agg_ops.min_max_ts(_t(spark, sf_dir, "events"))


@register("agg_count_distinct_users", oracle="""
SELECT count(DISTINCT user_id) AS n_users FROM events
""")
def agg_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 exact variant (reference: user_mapper.py:57, :180); the HLL
    approx variant is the rows-only query ``approx_distinct_users``."""
    return _t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("n_users"))


_ADU_DIR = _trained_dir("approx_distinct_users")
_ADU_RSD = 0.05


@register("approx_distinct_users", oracle=f"""
WITH est AS (
  SELECT n_users_approx
  FROM read_parquet('{_ADU_DIR}/estimate/*.parquet')
  WHERE {_fp_guard("approx_distinct_users", "events")}
), ex AS (SELECT count(DISTINCT user_id) AS n_users_exact FROM events)
SELECT CAST(est.n_users_approx AS BIGINT) AS n_users_approx,
       CAST(ex.n_users_exact AS BIGINT) AS n_users_exact,
       abs(CAST(est.n_users_approx AS DOUBLE) - ex.n_users_exact)
         <= {3 * _ADU_RSD} * ex.n_users_exact AS within_band
FROM est, ex
WHERE abs(CAST(est.n_users_approx AS DOUBLE) - ex.n_users_exact)
        <= {3 * _ADU_RSD} * ex.n_users_exact
""")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 scale variant: HLL++ sketch with a value-BAND oracle
    (VERDICT r12 item 2 — formerly the registry's only non-embed
    rows-only row).  Sketch register internals differ from DuckDB's
    approx_count_distinct, so the ESTIMATE itself is published via
    the trained-artifact contract and the oracle replays the
    verifiable claims around it: the exact count (recomputed
    independently in both engines) and the band check
    |estimate - exact| <= 3*rsd*exact — deterministic booleans, full
    value compare.  The oracle ENFORCES the band, not just reports it
    (its final WHERE keeps the row only when the published estimate
    sits inside the band it recomputed): a sketch gone haywire makes
    the oracle return ZERO rows against Spark's one — row-count
    mismatch, loud fail — rather than both sides agreeing on
    within_band=false."""
    import pyarrow as pa

    ev = _t(spark, sf_dir, "events")
    est = int(ev.agg(F.approx_count_distinct("user_id", _ADU_RSD)
                     .alias("e")).head()[0])
    ann_index.write_small_parquet(
        pa.table({"n_users_approx": [est]}),
        os.path.join(_ADU_DIR, "estimate"))
    _publish_fingerprint(spark, sf_dir, "approx_distinct_users", "events")
    return (ev.agg(F.countDistinct("user_id").alias("n_users_exact"))
            .select(F.lit(est).cast("long").alias("n_users_approx"),
                    F.col("n_users_exact"),
                    (F.abs(F.lit(float(est)) - F.col("n_users_exact"))
                     <= F.lit(3 * _ADU_RSD) * F.col("n_users_exact"))
                    .alias("within_band")))


@register("agg_new_msg_gap", oracle="""
SELECT (SELECT count(*) FROM events) AS total_count,
       (SELECT count(*) FROM embeddings) AS embedded_count,
       (SELECT count(*) FROM events) - (SELECT count(*) FROM embeddings) AS gap
""")
def agg_new_msg_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: the freshness-trigger gap (reference: engine.py:160-175)."""
    return agg_ops.new_message_gap(_t(spark, sf_dir, "events"),
                                   _t(spark, sf_dir, "embeddings"))


@register("agg_group_first", oracle="""
SELECT user_id, event_type AS first_type, ts AS first_ts FROM (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""")
def agg_group_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: first qualifying row per group — the decorrelated form of the
    reference's per-sid LIMIT-1 lookups (processor.py:211-216)."""
    events = _t(spark, sf_dir, "events")
    first = dims_ops.first_per_group(events, "user_id", ["ts", "event_id"])
    return first.select("user_id", F.col("event_type").alias("first_type"),
                        F.col("ts").alias("first_ts"))


@register("agg_running_max_watermark", oracle="""
SELECT max(ts) AS watermark FROM events
""")
def agg_running_max_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: batch max(ts) -> next watermark (reference:
    processor.py:466-468, :488-491)."""
    return agg_ops.running_max_watermark(_t(spark, sf_dir, "events"))


@register("group_agg_events", oracle="""
SELECT event_type, count(*) AS n,
       (round(sum(value), 3) + 0) AS sum_value,
       (round((round(sum(value), 3) + 0) / count(*), 6) + 0) AS avg_value
FROM events GROUP BY event_type
""")
def group_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy aggregation surface (SURVEY 2.E note): map-side partial
    aggregation; avg derived from the grid-rounded sum so both engines
    divide identical doubles."""
    events = _t(spark, sf_dir, "events")
    sum_v = rnd(F.sum("value"), 3)
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        sum_v.alias("sum_value"),
        rnd(sum_v / F.count("*"), 6).alias("avg_value"))


# =========================================================================
# Sorts / limits / top-k (SURVEY 2.F) and windows (2.G)
# =========================================================================

@register("sort_ts_pagination", oracle="""
SELECT event_id, ts, CAST(rn AS INT) AS rn FROM (
  SELECT event_id, ts, row_number() OVER (ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn > 100 AND rn <= 150
""")
def sort_ts_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: deterministic page 3 (rows 101-150) of the time-ordered scan
    (reference pagination loop: processor.py:423-437)."""
    events = _t(spark, sf_dir, "events")
    out = topk_ops.page_by_ts(events, "ts", page=3, page_size=50,
                              tiebreak="event_id")
    return out.select("event_id", "ts", F.col("rn").cast("int").alias("rn"))


@register("keyset_pagination", oracle="""
SELECT event_id, ts, user_id, event_type
FROM events
WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
   OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id > 5000)
ORDER BY ts, event_id LIMIT 50
""")
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 scale twin (hazard pair with sort_ts_pagination): keyset /
    seek pagination from a (ts, event_id) cursor.  The cursor
    predicate pushes to the parquet scan (ts >= cursor prunes row
    groups) and the page is TakeOrderedAndProject — page depth is
    free, unlike OFFSET, which re-counts the prefix every page.  What
    the reference's LIMIT/OFFSET loop (processor.py:423-437) becomes
    at 100 TB."""
    events = _t(spark, sf_dir, "events")
    return (topk_ops.keyset_page(events, "ts", "2024-01-15 00:00:00",
                                 5000, page_size=50, tiebreak="event_id")
            .select("event_id", "ts", "user_id", "event_type"))


@register("kth_ts_offset", oracle="""
SELECT ts AS kth_ts FROM (
  SELECT ts, row_number() OVER (ORDER BY ts DESC, event_id) AS rn
  FROM events
) WHERE rn = 100
""")
def kth_ts_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: timestamp of the 100th most recent row (reference backfill
    cap: processor.py:386-401)."""
    return topk_ops.kth_most_recent_ts(_t(spark, sf_dir, "events"), "ts",
                                       k=100, tiebreak="event_id")


@register("ts_quantile_cut", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_total, TRUE AS within_tol
FROM events
""")
def ts_quantile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 at scale: kth_ts_offset's exact ordered-limit gives way to a
    one-pass approx_percentile sketch when k is a FRACTION of an
    unbounded table (the backfill cap probe a 100 TB deployment runs).
    The sketch is mergeable (map-side partials, one 1-row reduce — no
    sort, no window), but not dialect-reproducible in DuckDB, so the
    driver value-checks the RANK-TOLERANCE INVARIANT instead of the
    cut: the Spark side MEASURES the realized split (fraction of rows
    above its own cut) and emits whether it lands within 2% of the
    requested 20% — against events' 10k rows the sketch's default
    accuracy (1e4) bounds rank error to ~1 row, so a sketch regression
    or a wrong-tail bug flips the emitted verdict and the row goes
    red.  n_total is the exact shared anchor both engines compute.
    (Same invariant property-tested in tests/test_properties.py.)"""
    events = _t(spark, sf_dir, "events")
    cut = topk_ops.ts_quantile_cut(events, "ts", 0.2).head()[0]
    stats = events.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("ts") > F.lit(cut), 1).otherwise(0))
        .alias("n_above"))
    return stats.select(
        F.col("n_total").cast("long").alias("n_total"),
        (F.abs(F.col("n_above") / F.col("n_total") - F.lit(0.2))
         <= F.lit(0.02)).alias("within_tol"))


@register("neighbor_limit1", oracle="""
SELECT event_id, ts FROM events
WHERE ts < (SELECT min(ts) + INTERVAL 5 DAYS FROM events)
ORDER BY ts DESC, event_id LIMIT 1
""")
def neighbor_limit1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: nearest row strictly before a pivot instant (reference:
    processor.py:286-313)."""
    events = _t(spark, sf_dir, "events")
    pivot = events.agg(F.expr("min(ts) + INTERVAL 5 DAYS")).head()[0]
    out = topk_ops.neighbor_limit1(events, "ts", pivot, "before",
                                   tiebreak="event_id")
    return out.select("event_id", "ts")


@register("limit_candidates", oracle="""
SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 500
""")
def limit_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: deterministic bounded candidate cap (reference:
    user_mapper.py:198)."""
    events = _t(spark, sf_dir, "events")
    return (topk_ops.limit_candidates(events, 500, "event_id")
            .select("event_id", "user_id", "event_type"))


@register("topk_per_group", oracle="""
SELECT event_type, event_id, value, CAST(rank AS INT) AS rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rank
  FROM events
) WHERE rank <= 3
""")
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.G: per-group top-k — the windowed generalization of F1."""
    events = _t(spark, sf_dir, "events")
    out = topk_ops.topk_per_group(events, "event_type", "value", k=3,
                                  tiebreak="event_id")
    return out.select("event_type", "event_id", "value",
                      F.col("rank").cast("int").alias("rank"))


@register("rolling_window_agg", oracle="""
SELECT event_id, user_id,
       (round(sum(value) OVER w, 3) + 0) AS rolling_sum,
       (round((round(sum(value) OVER w, 3) + 0) / count(value) OVER w, 6) + 0)
         AS rolling_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""")
def rolling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.G extension: rolling sum/avg over the last 4 events per user
    (frame-spec window, SURVEY 2.G note)."""
    events = _t(spark, sf_dir, "events")
    out = enrich_ops.rolling_agg(events, "user_id", ["ts", "event_id"],
                                 "value")
    return out.select("event_id", "user_id", "rolling_sum", "rolling_avg")


@register("tumbling_window_agg", oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, (round(sum(value), 3) + 0) AS sum_value
FROM events GROUP BY 1, 2
""")
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.H/P5: event-time tumbling-window aggregation — the batch twin
    of streaming.stream.tumbling_event_counts."""
    events = _t(spark, sf_dir, "events")
    return (events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), rnd(F.sum("value"), 3).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "sum_value"))


@register("sessionize", oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 1 HOUR
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
FROM flagged GROUP BY user_id
""")
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a >1 h inactivity gap starts a new session;
    count sessions per user (lag + conditional cumsum — the standard
    Spark sessionization idiom)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # exact MICROSECOND gap like the oracle's interval compare (r14
    # seventh review): cast('long') truncates to whole seconds, so a
    # true gap in (3600 s, 3601 s) — sf0.1 already carries two —
    # agreed with the oracle only when the fractional parts happened
    # to land the floor difference on 3601
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
           > 3_600_000_000),
        F.lit(1)).otherwise(F.lit(0))
    return (events.withColumn("new_session", new_session)
            .groupBy("user_id")
            .agg(F.sum("new_session").alias("n_sessions")))


# =========================================================================
# Relational surface Spark gives for free (SURVEY 2.D note, 7 P5):
# set ops, outer joins, multi-key groupBy, broadcast-join top-k
# =========================================================================

@register("set_ops_nations", oracle="""
SELECT 'union' AS op, n FROM (
  SELECT c_nationkey AS n FROM customer
  UNION SELECT s_nationkey AS n FROM supplier)
UNION ALL
SELECT 'intersect' AS op, n FROM (
  SELECT c_nationkey AS n FROM customer
  INTERSECT SELECT s_nationkey AS n FROM supplier)
UNION ALL
SELECT 'except' AS op, n FROM (
  SELECT c_nationkey AS n FROM customer
  EXCEPT SELECT s_nationkey AS n FROM supplier)
""")
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT in one result, tagged (absent from the
    reference — SURVEY 2.D note; exposed because Spark SQL gives them
    for free)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n"))
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n"))
    u = cust.union(supp).distinct().withColumn("op", F.lit("union"))
    i = cust.intersect(supp).withColumn("op", F.lit("intersect"))
    e = cust.subtract(supp).withColumn("op", F.lit("except"))
    return u.unionByName(i).unionByName(e).select("op", "n")


@register("join_outer_totals", oracle="""
WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
SELECT coalesce(c.nk, s.nk) AS nationkey,
       coalesce(c.n_cust, 0) AS n_cust,
       coalesce(s.n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""")
def join_outer_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer/supplier counts (outer
    joins absent from the reference — SURVEY 2.D note)."""
    c = (_t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk"))
         .agg(F.count("*").alias("n_cust")))
    s = (_t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk"))
         .agg(F.count("*").alias("n_supp")))
    return (c.join(s, "nk", "full_outer")
            .select(F.col("nk").alias("nationkey"),
                    F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
                    F.coalesce("n_supp", F.lit(0)).alias("n_supp")))


@register("tpch_q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       (round(sum(l_quantity), 2) + 0) AS sum_qty,
       (round(sum(l_extendedprice), 2) + 0) AS sum_base_price,
       (round(sum(round(l_extendedprice * (1 - l_discount), 4)), 4) + 0)
         AS sum_disc_price,
       count(*) AS count_order,
       (round((round(sum(l_quantity), 2) + 0) / count(*), 6) + 0) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-key groupBy + sum/avg over
    the star fixtures (the reference has no keyed aggregation — SURVEY
    2.E note).  Per-row products are grid-rounded before the sum so the
    parallel Spark sum and DuckDB's sequential sum agree exactly."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02"))
    sum_qty = rnd(F.sum("l_quantity"), 2)
    disc_price = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        rnd(F.sum(disc_price), 4).alias("sum_disc_price"),
        F.count("*").alias("count_order"),
        rnd(sum_qty / F.count("*"), 6).alias("avg_qty"))


@register("tpch_top_customers", oracle="""
SELECT o.o_custkey, c.c_name,
       (round(sum(o.o_totalprice), 2) + 0) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY o.o_custkey, c.c_name
ORDER BY revenue DESC, o_custkey LIMIT 10
""")
def tpch_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join + grouped sum + deterministic top-10 —
    the F1 pattern on relational data."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey)
            .groupBy("o_custkey", "c_name")
            .agg(rnd(F.sum("o_totalprice"), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
            .limit(10))


@register("tpch_q3_shipping_priority", oracle="""
SELECT l.l_orderkey,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""")
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dimension filter -> broadcast join ->
    fact join -> grouped revenue -> deterministic top-10.  The filtered
    customer segment broadcasts (1/5 of an already-small dimension);
    lineitem, the only big table, is filtered at the scan and shuffles
    once for the aggregation — the join order Catalyst should and does
    pick at any scale."""
    cust = (_t(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01"))
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(rnd(F.sum(disc), 4).alias("revenue"))
            .select("l_orderkey", "revenue", "o_orderdate",
                    "o_orderpriority")
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10))


@register("tpch_q5_local_supplier_volume", oracle="""
SELECT n.n_name,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
              AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name ORDER BY revenue DESC, n_name
""")
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: six-way join with a non-equi-free cycle (the
    customer-nation = supplier-nation condition joins two fact-side
    dimensions).  All dimensions broadcast; the two fact tables meet in
    the only real shuffle; region/nation prune suppliers before they
    touch lineitem."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                      & (F.col("o_orderdate") < F.lit("1997-01-01")))
              .select("o_orderkey", "o_custkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = (_t(spark, sf_dir, "region")
              .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    asia_nations = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name")
    asia_supp = supp.join(
        F.broadcast(asia_nations),
        supp.s_nationkey == asia_nations.n_nationkey)
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(asia_supp),
                  (li.l_suppkey == asia_supp.s_suppkey)
                  & (cust.c_nationkey == asia_supp.s_nationkey))
            .groupBy("n_name")
            .agg(rnd(F.sum(disc), 4).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("n_name")))


@register("tpch_q14_promo_revenue", oracle="""
WITH j AS (
  SELECT round(l.l_extendedprice * (1 - l.l_discount), 4) AS rev,
         p.p_type = 'PROMO' AS is_promo
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
), s AS (
  SELECT (round(sum(CASE WHEN is_promo THEN rev ELSE 0 END), 4) + 0)
           AS promo_revenue,
         (round(sum(rev), 4) + 0) AS total_revenue
  FROM j
)
SELECT promo_revenue, total_revenue,
       (round(100.0 * promo_revenue / total_revenue, 6) + 0) AS promo_pct
FROM s
""")
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share: fact-to-dimension equi
    join + conditional aggregation to a single row.  part broadcasts;
    lineitem is date-pruned at the scan and never shuffles (the final
    aggregate is a map-side partial + 1-row merge).  The percentage is
    derived from the already-rounded sums so both engines divide
    identical doubles."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1996-04-01")))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    promo = rnd(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                      .otherwise(F.lit(0.0))), 4)
    total = rnd(F.sum(rev), 4)
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .agg(promo.alias("promo_revenue"), total.alias("total_revenue"))
            .withColumn("promo_pct",
                        rnd(F.lit(100.0) * F.col("promo_revenue")
                            / F.col("total_revenue"), 6)))


@register("first_order_per_customer", oracle="""
SELECT o_custkey, o_orderkey AS first_order, o_orderdate AS first_date FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""")
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 on relational data: earliest order per customer via
    row_number (min_by with full-row semantics)."""
    orders = _t(spark, sf_dir, "orders")
    first = dims_ops.first_per_group(orders, "o_custkey",
                                     ["o_orderdate", "o_orderkey"])
    return first.select("o_custkey",
                        F.col("o_orderkey").alias("first_order"),
                        F.col("o_orderdate").alias("first_date"))


@register("tpch_q18_large_orders", oracle="""
WITH big AS (
  SELECT l_orderkey, (round(sum(l_quantity), 2) + 0) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING (round(sum(l_quantity), 2) + 0) > 150.0
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
""")
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped (large-volume orders): HAVING-filtered fact
    aggregate joined back to its parents.  The lineitem groupBy is the
    one unavoidable shuffle; the join with orders is on the SAME key,
    so the aggregate side reuses its exchange (no second shuffle of
    the aggregated side) and AQE sizes the orders side at runtime —
    deliberately NOT broadcast, because the having-survivor set is a
    fixed fraction of orders and grows with the data.  customer is a
    broadcast dim.  The having threshold compares the grid-rounded
    sum so both engines cut the same borderline orders.  Top-100 runs
    as TakeOrderedAndProject (no global sort)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(rnd(F.sum("l_quantity"), 2).alias("sum_qty"))
           .filter(F.col("sum_qty") > 150.0))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "sum_qty")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(100))


@register("tpch_q21_waiting_suppliers", oracle="""
WITH per_order AS (
  SELECT l.l_orderkey,
         count(DISTINCT l.l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate
                                  + INTERVAL 90 DAY
                             THEN l.l_suppkey END) AS n_late,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                  THEN l.l_suppkey END) AS late_supp
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order p JOIN supplier s ON s.s_suppkey = p.late_supp
WHERE p.n_supp > 1 AND p.n_late = 1
GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 100
""")
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped (suppliers who kept orders waiting): the
    classic EXISTS/NOT-EXISTS double correlation, rewritten as ONE
    per-order aggregate — "this supplier shipped >90 days late, at
    least one other supplier is on the order, and no other supplier
    was late" becomes (n_supp > 1 AND n_late = 1), with the culprit
    recovered as max(late suppkey) (exactly one late supplier exists
    under n_late = 1, so max is THE supplier).  Two shuffles total
    (order-key aggregate, supplier-name count) instead of the naive
    plan's two extra self-joins of lineitem; the late predicate rides
    the first join, and supplier broadcasts."""
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
    late_key = F.when(late, F.col("l_suppkey"))
    per_order = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                 .groupBy("l_orderkey")
                 .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                      F.countDistinct(late_key).alias("n_late"),
                      F.max(late_key).alias("late_supp")))
    return (per_order
            .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
            .join(F.broadcast(supp),
                  per_order.late_supp == supp.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), F.col("s_name"))
            .limit(100))


@register("tpch_q22_dormant_accounts", oracle="""
WITH cutoff AS (
  SELECT (round(avg(c_acctbal), 6) + 0) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS numcust,
       (round(sum(c.c_acctbal), 2) + 0) AS totacctbal
FROM customer c CROSS JOIN cutoff
WHERE c.c_acctbal > cutoff.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
""")
def tpch_q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped (global-sales-opportunity): above-average
    account balances with no recent orders, per market segment.  The
    scalar subquery (global positive-balance average) is a one-row
    aggregate broadcast back onto the scan — no window, no second
    pass; the rounded cut point makes both engines draw the same
    line.  NOT EXISTS is a left-anti join whose right side is
    date-pruned AT THE SCAN (PushedFilters), so at 100 TB the anti
    join hashes only the recent slice of orders, not the history."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    cutoff = (cust.filter(F.col("c_acctbal") > 0.0)
              .agg(rnd(F.avg("c_acctbal"), 6).alias("avg_bal")))
    recent = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
              .select("o_custkey"))
    rich = (cust.crossJoin(F.broadcast(cutoff))
            .filter(F.col("c_acctbal") > F.col("avg_bal")))
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey,
                        "left_anti")
    return (dormant.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 rnd(F.sum("c_acctbal"), 2).alias("totacctbal"))
            .orderBy("c_mktsegment"))


@register("tpch_q16_supplier_part_counts", oracle="""
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#21'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND NOT EXISTS (SELECT 1 FROM bad WHERE bad.s_suppkey = ps.l_suppkey)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")
def tpch_q16_supplier_part_counts(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped (parts/supplier relationship counts): distinct
    suppliers per (brand, type, size) excluding flagged suppliers.
    The fixtures carry no partsupp table, so the part-supplier
    relation is lineitem's DISTINCT (partkey, suppkey) projection —
    two columns pruned at the scan, deduped in one shuffle.  The
    NOT-IN exclusion list is a left-anti join against a broadcast
    handful of suppliers (anti join, not a negated membership probe,
    so the plan stays null-safe and broadcastable); part filters ride
    its scan before the broadcast join.  The final countDistinct
    re-shuffles on the 3-part group key."""
    ps = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey").distinct())
    bad = (_t(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0.0).select("s_suppkey"))
    part = (_t(spark, sf_dir, "part")
            .filter((F.col("p_brand") != "Brand#21")
                    & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    return (ps.join(F.broadcast(bad),
                    ps.l_suppkey == bad.s_suppkey, "left_anti")
            .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(),
                     "p_brand", "p_type", "p_size"))


@register("tpch_q2_min_cost_supplier", oracle="""
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         (round(avg(l_extendedprice / l_quantity), 4) + 0) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT l_partkey, min(unit_cost) AS min_cost FROM supply
  GROUP BY l_partkey
)
SELECT s.l_partkey AS p_partkey, p.p_brand, sup.s_name,
       s.unit_cost AS min_cost
FROM supply s
JOIN best b ON b.l_partkey = s.l_partkey AND s.unit_cost = b.min_cost
JOIN part p ON p.p_partkey = s.l_partkey
JOIN supplier sup ON sup.s_suppkey = s.l_suppkey
WHERE p.p_size < 10
ORDER BY min_cost, p_partkey, s_name LIMIT 100
""")
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped (minimum-cost supplier): the correlated MIN
    subquery decorrelated into aggregate + self-join on (key, min).
    lineitem stands in for partsupp — per (part, supplier) unit cost is
    itself an aggregate.  Both the supply agg and the per-part min hash
    on l_partkey, so the min side reuses the supply exchange (one
    lineitem shuffle total); part and supplier broadcast.  At 100 TB
    the same plan holds: the pre-aggregated supply relation is
    |parts|x|suppliers-per-part|, orders of magnitude under the fact
    table, and ties on min cost are kept (same as Q2's semantics) so
    the result is deterministic under the (cost, part, name) sort.

    Boundary assumption: winners are picked by equality on the
    4dp-rounded unit_cost, so both engines must land the extremal
    group's average on the same side of a rounding boundary.  The 4dp
    grid is ~5 orders coarser than the worst-case float reorder drift
    of an avg over <100k rows, so a straddle needs an exact ...5 at
    the 5th decimal — not observed on any fixture; acceptable under
    the repo-wide grid-rounding convention (module docstring)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    supply = (li.groupBy("l_partkey", "l_suppkey")
              .agg(rnd(F.avg(F.col("l_extendedprice")
                             / F.col("l_quantity")), 4).alias("unit_cost")))
    best = (supply.groupBy("l_partkey").agg(
        F.min("unit_cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "_best_partkey"))
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_size") < 10).select("p_partkey", "p_brand"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (supply.join(best,
                        (F.col("l_partkey") == F.col("_best_partkey"))
                        & (F.col("unit_cost") == F.col("min_cost")))
            .drop("_best_partkey", "min_cost")
            .join(F.broadcast(part), supply.l_partkey == part.p_partkey)
            .join(F.broadcast(sup), supply.l_suppkey == sup.s_suppkey)
            .select(F.col("l_partkey").alias("p_partkey"), "p_brand",
                    "s_name", F.col("unit_cost").alias("min_cost"))
            .orderBy("min_cost", "p_partkey", "s_name")
            .limit(100))


@register("tpch_q4_order_priority", oracle="""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""")
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped (order-priority checking): EXISTS with a
    correlated non-equi condition, planned as a LEFT SEMI hash join on
    the equi key with the date comparison as the join residual — no
    row explosion, the probe short-circuits on first match.  The date
    window prunes orders at the scan; at scale both sides hash on
    orderkey once and the semi join emits each order at most once
    regardless of how many lineitems qualify."""
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1997-01-01"))
                      & (F.col("o_orderdate") < F.lit("1997-07-01")))
              .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi"))
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


@register("tpch_q15_top_supplier", oracle="""
WITH rev AS (
  SELECT l_suppkey, (round(sum(l_extendedprice * (1 - l_discount)), 2) + 0)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
), top AS (SELECT max(total_revenue) AS max_rev FROM rev)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r CROSS JOIN top
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = top.max_rev
ORDER BY s.s_suppkey
""")
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped (top supplier): the MAX-of-aggregate subquery
    decorrelated into a 1-row global max cross-joined (broadcast) back
    against the per-supplier revenue relation — the classic argmax-
    with-ties shape.  One shuffle on l_suppkey for the revenue agg; the
    global max is a partial-aggregated scalar; supplier broadcasts.
    Revenue is grid-rounded BEFORE the max comparison so both engines
    pick the same winner when two suppliers are within float ulps.
    Same rounding-boundary assumption as Q2: the 2dp grid must not
    split the extremal sum between engines — see the Q2 docstring."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1996-04-01")))
          .select("l_suppkey", "l_extendedprice", "l_discount"))
    rev = (li.groupBy("l_suppkey")
           .agg(rnd(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2)
                .alias("total_revenue")))
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.crossJoin(F.broadcast(top))
            .filter(F.col("total_revenue") == F.col("max_rev"))
            .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


@register("tpch_q17_small_quantity_revenue", oracle="""
WITH avg_qty AS (
  SELECT l_partkey, (round(0.5 * avg(l_quantity), 6) + 0) AS half_avg
  FROM lineitem GROUP BY l_partkey
)
SELECT (round(sum(l.l_extendedprice) / 7.0, 4) + 0) AS avg_yearly
FROM lineitem l
JOIN avg_qty a ON a.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#11' AND l.l_quantity < a.half_avg
""")
def tpch_q17_small_quantity_revenue(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped (small-quantity-order revenue): the correlated
    AVG subquery decorrelated into a per-part aggregate joined back to
    the fact rows it summarizes.  Both the avg and the join hash on
    l_partkey, so the aggregated side reuses the fact exchange — one
    lineitem shuffle, then a broadcast of the brand-filtered part dim.
    The half-average is grid-rounded before the strict comparison so
    borderline lineitems cut identically in both engines.  At 100 TB
    the per-part aggregate is |parts| rows — always the small side.
    The brand predicate is a part attribute, so it is applied BEFORE
    the per-part average (semi-join pre-filter on the fact): the avg
    branch aggregates only the brand's fraction of the fact table
    instead of all of it, with identical per-part averages."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#11").select("p_partkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(F.broadcast(part),
                F.col("l_partkey") == F.col("p_partkey"), "left_semi"))
    avg_qty = (li.groupBy("l_partkey")
               .agg(rnd(F.lit(0.5) * F.avg("l_quantity"), 6)
                    .alias("half_avg")))
    return (li.join(avg_qty, "l_partkey")
            .filter(F.col("l_quantity") < F.col("half_avg"))
            .agg(rnd(F.sum("l_extendedprice") / 7.0, 4)
                 .alias("avg_yearly")))


@register("tpch_q6_forecast_revenue", oracle="""
SELECT (round(sum(round(l_extendedprice * l_discount, 4)), 4) + 0)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure scan-filter-aggregate,
    zero joins, zero keyed shuffles — every predicate reaches
    PushedFilters, the product is grid-rounded per row, and the global
    sum is a map-side partial + 1-row merge.  The simplest possible
    100 TB plan: cost is exactly one pruned column scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return li.agg(rnd(F.sum(F.round(F.col("l_extendedprice")
                                    * F.col("l_discount"), 4)), 4)
                  .alias("revenue"))


@register("tpch_q7_volume_shipping", oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(extract(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""")
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped (volume shipping between two nations): the
    bidirectional nation-pair filter over a five-way join.  Supplier
    and customer are each pre-joined to the (broadcast) two-nation
    slice, shrinking both BEFORE they touch the facts; the disjunctive
    pair condition is applied after the fact join as a cheap residual
    on two in-memory string columns.  lineitem->orders is the one real
    shuffle (orderkey); everything else broadcasts.  At 100 TB the
    filter order is what matters: the two-nation slice cuts supplier
    and customer by ~12x each here (2 of 25 nations), so the fact join
    output — not input — carries the selectivity."""
    nations = (_t(spark, sf_dir, "nation")
               .filter(F.col("n_name").isin("NATION_1", "NATION_2")))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nations),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(nations),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01")))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount"))
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    pair_ok = (((F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2"))
               | ((F.col("supp_nation") == "NATION_2")
                  & (F.col("cust_nation") == "NATION_1")))
    return (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .filter(pair_ok)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(rnd(F.sum(disc), 4).alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


@register("tpch_q8_market_share", oracle="""
WITH vol AS (
  SELECT CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         round(l.l_extendedprice * (1 - l.l_discount), 4) AS volume,
         n2.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
), yr AS (
  SELECT o_year,
         (round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE 0 END), 4) + 0) AS nation_volume,
         (round(sum(volume), 4) + 0) AS total_volume
  FROM vol GROUP BY o_year
)
SELECT o_year, nation_volume, total_volume,
       (round(nation_volume / total_volume, 6) + 0) AS mkt_share
FROM yr ORDER BY o_year
""")
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped (national market share): one supplier nation's
    share of a region's yearly volume in one part type.  Eight-way
    join where every dimension chain collapses to a broadcast —
    ECONOMY parts, AMERICA customers (customer x nation x region
    pre-joined driver-side-small), supplier x nation — so lineitem
    shuffles exactly once (against date-filtered orders on orderkey).
    The share divides two already-grid-rounded sums from the SAME
    aggregation (one pass, conditional sum), never a second scan.  The
    classic join-ordering stress: at 100 TB the only degrees of
    freedom are which side builds the hash tables, and every build
    side here is dimension-sized."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_type") == "ECONOMY").select("p_partkey"))
    nation = _t(spark, sf_dir, "nation")
    region = (_t(spark, sf_dir, "region")
              .filter(F.col("r_name") == "AMERICA").select("r_regionkey"))
    am_cust = (_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
               .join(F.broadcast(
                   nation.join(F.broadcast(region),
                               nation.n_regionkey == region.r_regionkey)
                   .select("n_nationkey")),
                   F.col("c_nationkey") == F.col("n_nationkey"))
               .select("c_custkey"))
    supp = (_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                      & (F.col("o_orderdate") < F.lit("1998-01-01")))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    vol = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(am_cust),
                    orders.o_custkey == am_cust.c_custkey))
    yr = (joined
          .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
          .agg(rnd(F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                         .otherwise(F.lit(0.0))), 4).alias("nation_volume"),
               rnd(F.sum(vol), 4).alias("total_volume")))
    return (yr.select("o_year", "nation_volume", "total_volume",
                      rnd(F.col("nation_volume") / F.col("total_volume"), 6)
                      .alias("mkt_share"))
            .orderBy("o_year"))


@register("tpch_q9_product_profit", oracle="""
SELECT n.n_name AS nation,
       CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount)
                        - 0.5 * p.p_retailprice * l.l_quantity, 4)), 4) + 0)
         AS sum_profit
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""")
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped (product-type profit): profit per supplier
    nation per year over name-matched parts.  The fixture has no
    partsupp, so supply cost is proxied as half the part's retail
    price x quantity — same join graph and measure shape
    (fact x part x supplier x orders x nation), which is what Q9
    exercises: a fact table joining TWO independent dimension chains
    plus its order header.  part (name-filtered, broadcast) prunes
    lineitem FIRST — at 100 TB the '%red%' part slice is what makes
    the orders shuffle affordable; supplier/nation broadcast; the
    only shuffles are lineitem->orders (orderkey) and the final
    (nation, year) aggregation."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_name").like("%red%"))
            .select("p_partkey", "p_retailprice"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity"), 4)
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nation),
                  supp.s_nationkey == nation.n_nationkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(rnd(F.sum(profit), 4).alias("sum_profit"))
            .orderBy("nation", F.col("o_year").desc()))


@register("tpch_q10_returned_items", oracle="""
SELECT c.c_custkey, c.c_name,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue,
       (round(c.c_acctbal, 2) + 0) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""")
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped (returned-item reporting): revenue lost to
    returns per customer in one quarter, top-20.  Returnflag and the
    date window prune both facts at their scans; customer x nation
    pre-joins broadcast-side; lineitem->orders shuffles on orderkey,
    then one aggregation shuffle on the customer grain; top-20 is
    TakeOrderedAndProject.  The grouping carries the customer
    attributes (name, acctbal, nation) through the aggregation — at
    100 TB that widens the shuffle rows but saves a second join back
    to customer, the right trade while the customer grain stays far
    under the fact grain."""
    cust = (_t(spark, sf_dir, "customer")
            .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"))
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_n = (cust.join(F.broadcast(nation),
                        cust.c_nationkey == nation.n_nationkey)
              .select("c_custkey", "c_name", "c_acctbal", "n_name"))
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-10-01"))
                      & (F.col("o_orderdate") < F.lit("1997-01-01")))
              .select("o_orderkey", "o_custkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust_n),
                  orders.o_custkey == cust_n.c_custkey)
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(rnd(F.sum(disc), 4).alias("revenue"))
            .select("c_custkey", "c_name", "revenue",
                    rnd(F.col("c_acctbal"), 2).alias("c_acctbal"), "n_name")
            .orderBy(F.col("revenue").desc(), "c_custkey").limit(20))


@register("tpch_q11_important_stock", oracle="""
WITH supply AS (
  SELECT l.l_partkey, round(l.l_extendedprice * (1 - l.l_discount), 4) AS val
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
), parts AS (
  SELECT l_partkey AS p_partkey, (round(sum(val), 4) + 0) AS value
  FROM supply GROUP BY l_partkey
), tot AS (SELECT (round(sum(val), 4) + 0) AS total FROM supply)
SELECT p.p_partkey, p.value
FROM parts p CROSS JOIN tot t
WHERE p.value > t.total * 0.001
ORDER BY p.value DESC, p.p_partkey
""")
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped (important stock): parts whose supply value
    from one nation's suppliers exceeds a fraction of that nation's
    total.  The fixture has no partsupp, so supply value is the
    nation's shipped lineitem value per part — same decorrelation
    shape: the HAVING-over-global-scalar becomes a 1-row broadcast
    cross join against the per-part aggregate.  The per-part agg and
    the global total are computed from the SAME nation-filtered slice
    (one semi-broadcast prune of lineitem, one partkey shuffle); the
    total is a partial-agg scalar.  Same rounding-boundary note as Q2
    on the fraction comparison."""
    nation = (_t(spark, sf_dir, "nation")
              .filter(F.col("n_name") == "NATION_7")
              .select("n_nationkey"))
    supp = (_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(F.broadcast(supp),
                F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"))
    val = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    supply = li.select("l_partkey", val.alias("val"))
    parts = (supply.groupBy("l_partkey")
             .agg(rnd(F.sum("val"), 4).alias("value"))
             .withColumnRenamed("l_partkey", "p_partkey"))
    tot = supply.agg(rnd(F.sum("val"), 4).alias("total"))
    return (parts.crossJoin(F.broadcast(tot))
            .filter(F.col("value") > F.col("total") * 0.001)
            .select("p_partkey", "value")
            .orderBy(F.col("value").desc(), "p_partkey"))


@register("tpch_q12_shipping_priority_class", oracle="""
SELECT l.l_linestatus AS ship_class,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY ship_class ORDER BY ship_class
""")
def tpch_q12_shipping_priority_class(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped (shipping mode vs priority): priority-class
    counts among late-shipped lines, bucketed by linestatus (the
    fixture's stand-in for shipmode).  The lateness predicate compares
    columns from BOTH sides (l_shipdate vs o_orderdate + 90d), so it
    evaluates as a join residual — the date-window half pushes to the
    lineitem scan, the cross-table half cannot, exactly Q12's shape.
    One orderkey shuffle, then a 2-group aggregation with conditional
    sums (single pass, no pivot)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01")))
          .select("l_orderkey", "l_shipdate", "l_linestatus"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
            .groupBy(F.col("l_linestatus").alias("ship_class"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).cast("long")
                 .alias("low_line_count"))
            .orderBy("ship_class"))


@register("tpch_q13_customer_distribution", oracle="""
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")
def tpch_q13_customer_distribution(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped (customer order-count distribution): histogram
    of per-customer order counts, keeping zero-order customers via the
    LEFT OUTER join (the priority exclusion stands in for the comment
    filter — a predicate on the NULLABLE side, which must live in the
    join condition, not a WHERE, to preserve unmatched customers).
    Two aggregations: custkey grain (reuses the join's custkey
    exchange), then the tiny count-of-counts.  At 100 TB the first
    agg's key is the customer grain — bounded, uniform; the second is
    dozens of rows."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
              .select("o_orderkey", "o_custkey"))
    c_orders = (cust.join(orders,
                          cust.c_custkey == orders.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (c_orders.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


@register("tpch_q20_part_promotion", oracle="""
WITH shipped AS (
  SELECT l_suppkey, l_partkey, (round(sum(l_quantity), 2) + 0) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
), small_parts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
), heavy AS (
  SELECT DISTINCT sh.l_suppkey
  FROM shipped sh JOIN small_parts sp ON sp.p_partkey = sh.l_partkey
  WHERE sh.qty > 40
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN heavy h ON h.l_suppkey = s.s_suppkey
WHERE s.s_nationkey IN
      (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
ORDER BY s.s_suppkey
""")
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped (potential part promotion): suppliers in one
    nation who moved real volume (>40 units in the year) of any
    name-matched part.  The fixture has no partsupp, so availability
    is the shipped-quantity aggregate — preserving Q20's doubly nested
    IN shape: supplier IN {suppliers of {matching parts} over
    threshold}.  Decorrelated bottom-up: (supp, part) quantity agg
    (one lineitem shuffle), semi join to the broadcast name-matched
    part slice, distinct to supplier keys, then a broadcast semi join
    into the nation-filtered supplier dim.  Every membership test is a
    semi join — no EXISTS re-scan, no duplicate inflation."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01")))
          .select("l_suppkey", "l_partkey", "l_quantity"))
    shipped = (li.groupBy("l_suppkey", "l_partkey")
               .agg(rnd(F.sum("l_quantity"), 2).alias("qty")))
    small_parts = (_t(spark, sf_dir, "part")
                   .filter(F.col("p_name").like("small%"))
                   .select("p_partkey"))
    heavy = (shipped.filter(F.col("qty") > 40)
             .join(F.broadcast(small_parts),
                   F.col("l_partkey") == F.col("p_partkey"), "left_semi")
             .select("l_suppkey").distinct())
    nation = (_t(spark, sf_dir, "nation")
              .filter(F.col("n_name") == "NATION_3")
              .select("n_nationkey"))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name"))
    return (supp.join(F.broadcast(heavy),
                      F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
            .select("s_suppkey", "s_name")
            .orderBy("s_suppkey"))


# =========================================================================
# Skew & scale patterns: the explicit two-phase / salted forms
# =========================================================================


@register("distinct_users_twophase", oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS users
FROM events GROUP BY event_type
""")
def distinct_users_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) decomposed into its scale-stable two-phase
    form: dedup (event_type, user_id) pairs first, then count rows
    per type.  Same result as a direct countDistinct, but the first
    shuffle spreads a hot event_type's users across ALL partitions
    (hash of the pair), so no single reducer ever materializes a hot
    key's full distinct set — the rewrite that keeps a 100 TB
    grouped-distinct from OOMing on skew.  Phase 1 partial-aggregates
    map-side, so the shuffle carries already-deduped pairs."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    pairs = ev.distinct()
    return (pairs.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("users")))


@register("join_salted_skew", oracle="""
WITH fs AS (SELECT user_id, min(ts) AS first_seen FROM events GROUP BY 1)
SELECT e.event_id, e.user_id,
       CAST(floor(date_diff('second', fs.first_seen, e.ts) / 86400.0)
            AS BIGINT) AS age_days
FROM events e JOIN fs ON fs.user_id = e.user_id
""")
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: enrich every event with the age since its
    user's first event, with the fact->dim join salted R=8 ways.  The
    fact side gets a deterministic salt (hash of its unique id); the
    dim side is replicated once per salt value; the join key becomes
    (user_id, salt), so a hot user's rows land on 8 reducers instead
    of one.  Result is EXACTLY the unsalted join (the oracle is the
    plain join) — salting changes placement, not semantics.  This is
    the manual form of AQE's skew-join split, usable when the skew is
    known ahead of time or AQE's thresholds won't trigger.  (At
    fixture scale Catalyst broadcasts the tiny sides and the salt is
    inert; the salted key governs placement exactly when the dim
    outgrows the broadcast threshold — the regime this pattern
    exists for.)"""
    r_salt = 8
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id", "ts")
          .withColumn("_salt", F.pmod(F.hash("event_id"),
                                      F.lit(r_salt)).cast("int")))
    dim = (_t(spark, sf_dir, "events")
           .groupBy("user_id").agg(F.min("ts").alias("first_seen")))
    salts = spark.range(r_salt).select(F.col("id").cast("int")
                                       .alias("_salt"))
    dim_rep = dim.crossJoin(salts)
    age = F.floor((F.col("ts").cast("long")
                   - F.col("first_seen").cast("long"))
                  / F.lit(86400.0)).cast("long")
    return (ev.join(dim_rep, ["user_id", "_salt"])
            .select("event_id", "user_id", age.alias("age_days")))


# =========================================================================
# Training-data pipeline: dedup family (extension surface)
# =========================================================================

_DUCK_TOKENS = ("string_split_regex(trim(lower(text)), '\\s+')")


@register("dedup_exact", oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp,
       min(doc_id) AS doc_id, count(*) AS dup_count
FROM corpus GROUP BY 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint; every 10th doc is
    re-injected under a new id and must collapse onto the original
    (dup_count 2, canonical id = min)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (docs.filter(F.col("doc_id") % 10 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000))
    return dedup_ops.dedup_exact(docs.unionByName(dups))


@register("dedup_incremental_new_docs", oracle=f"""
WITH fp AS (
  SELECT doc_id, md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp
  FROM documents
), batch AS (
  SELECT fp, min(doc_id) AS doc_id,
         CAST(count(*) AS BIGINT) AS batch_dups
  FROM fp GROUP BY fp
)
SELECT b.doc_id, b.fp, b.batch_dups
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM fp s
                  WHERE s.doc_id % 2 = 0 AND s.fp = b.fp)
""")
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus hygiene — the shape every recurring crawl
    runs: a fingerprint STORE of previously admitted documents (here:
    the even-id half, persisted to parquet in-query so the anti join
    reads a real store, not lineage) filters a NEW batch down to
    genuinely new documents.  Batch-internal dedup first (groupBy fp,
    canonical = min id, map-side partials), then one LEFT ANTI join
    against the store on the uniform fp key.  At 100 TB the store is
    |corpus-to-date| fingerprints — 16 bytes/doc, bucketed by fp so
    the nightly anti join is co-located; the batch side is one crawl,
    orders of magnitude smaller.  The admission decision never
    rescans admitted TEXT, only fingerprints."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fp = docs.select("doc_id",
                     analysis.fingerprint_md5("text").alias("fp"))
    store_dir = os.path.join(tempfile.mkdtemp(prefix="fpstore_"), "fp")
    (fp.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
     .write.mode("overwrite").parquet(store_dir))
    store = spark.read.parquet(store_dir)
    batch = (fp.groupBy("fp")
             .agg(F.min("doc_id").alias("doc_id"),
                  F.count(F.lit(1)).alias("batch_dups")))
    return (batch.join(store, "fp", "left_anti")
            .select("doc_id", "fp", "batch_dups"))


@register("streaming_incremental_dedup", oracle=f"""
WITH fp AS (
  SELECT doc_id, md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp
  FROM documents
), store AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0
), incoming AS (
  SELECT doc_id, fp, doc_id % 3 AS batch FROM fp WHERE doc_id % 2 = 1
), fresh AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = i.fp)
), ranked AS (
  SELECT doc_id, fp, batch,
         row_number() OVER (PARTITION BY fp
                            ORDER BY batch, doc_id) AS rn
  FROM fresh
)
SELECT doc_id, fp, batch FROM ranked WHERE rn = 1
""")
def streaming_incremental_dedup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The recurring crawl LIVE: odd-id documents arrive as a file
    stream in three micro-batches (one file per doc_id%3 slice,
    mtime-ordered so batch order is deterministic), and each
    foreachBatch admits only fingerprints seen in NEITHER the
    persisted store (pre-seeded with the even-id half) NOR any earlier
    micro-batch — admitting appends both the document row and its
    fingerprint, so the store the next batch anti-joins against has
    grown.  The oracle replays the whole stream as one SQL statement
    (first batch wins per fingerprint, min doc_id within the batch):
    a green row proves cross-batch admission converges to exactly the
    batch-mode answer, i.e. re-sharding or re-batching a crawl never
    changes what gets admitted.  Cost per batch stays
    O(batch + store-probe) — the streaming form of
    dedup_incremental_new_docs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fp = docs.select("doc_id",
                     analysis.fingerprint_md5("text").alias("fp"))

    root = tempfile.mkdtemp(prefix="streamdedup_")
    fp_store = os.path.join(root, "fp_store")
    admitted_store = os.path.join(root, "admitted")
    src = os.path.join(root, "incoming")
    os.makedirs(src)
    (fp.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
     .write.mode("overwrite").parquet(fp_store))

    # three arrival files in deterministic order: doc_id%3 slices with
    # strictly increasing mtimes (FileStreamSource processes oldest
    # first; maxFilesPerTrigger=1 makes each file its own micro-batch)
    odd = fp.filter(F.col("doc_id") % 2 == 1)
    for b in range(3):
        part_dir = os.path.join(root, f"stage_{b}")
        (odd.filter(F.col("doc_id") % 3 == b).coalesce(1)
         .write.mode("overwrite").parquet(part_dir))
        part = next(f for f in os.listdir(part_dir)
                    if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch_{b}.parquet")
        os.rename(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))

    stream = (spark.readStream.schema(odd.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        store = sess.read.parquet(fp_store)
        fresh = (batch_df.groupBy("fp")
                 .agg(F.min("doc_id").alias("doc_id"))
                 .join(store, "fp", "left_anti")
                 .withColumn("batch", F.lit(batch_id).cast("long"))
                 .select("doc_id", "fp", "batch")
                 .localCheckpoint())
        fresh.write.mode("append").parquet(admitted_store)
        fresh.select("fp").write.mode("append").parquet(fp_store)

    ckpt = tempfile.mkdtemp(prefix="ckpt_streamdedup_")
    streaming_ops._drive(
        stream.writeStream.foreachBatch(admit)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt).start())
    return spark.read.parquet(admitted_store) \
        .select("doc_id", "fp", "batch")


@register("pipeline_crawl_admit_index", oracle=f"""
WITH fp AS (
  SELECT doc_id, text, md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp
  FROM documents
), store AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0
), admitted AS (
  SELECT fp, min(doc_id) AS doc_id FROM fp
  WHERE doc_id % 2 = 1 GROUP BY fp
), fresh AS (
  SELECT a.doc_id FROM admitted a
  WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = a.fp)
), gm AS (
  SELECT f.doc_id, t.text, {_DUCK_TOKENS.replace('text', 't.text')} AS toks
  FROM fresh f JOIN documents t ON t.doc_id = f.doc_id
), gated AS (
  SELECT doc_id FROM gm
  WHERE len(toks) BETWEEN 50 AND 100000
    AND CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
        / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0
    AND (len(regexp_extract_all(text, '#'))
         + len(regexp_extract_all(text, '\\.\\.\\.')))
        / CAST(greatest(len(toks), 1) AS DOUBLE) <= 0.1
    AND len(list_filter(string_split(text, chr(10)),
            x -> regexp_matches(x, '^\\s*[-*]')))
        / CAST(len(string_split(text, chr(10))) AS DOUBLE) <= 0.9
    AND len(list_filter(string_split(text, chr(10)),
            x -> regexp_matches(x, '\\.\\.\\.\\s*$')))
        / CAST(len(string_split(text, chr(10))) AS DOUBLE) <= 0.3
    AND len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        / CAST(greatest(len(toks), 1) AS DOUBLE) >= 0.8
    AND (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
       + CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END
       + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
       + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
       + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
       + CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END
       + CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END
       + CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END) >= 1
), cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings WHERE vec_id % 10 <> 3
  ORDER BY vec_id LIMIT 16
), cscored AS (
  SELECT e.vec_id, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e
  JOIN gated g ON g.doc_id = e.vec_id
  CROSS JOIN cent c
)
SELECT vec_id AS doc_id, centroid_id AS cell FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cdist DESC, centroid_id) AS rn
  FROM cscored) WHERE rn = 1
""")
def pipeline_crawl_admit_index(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The crawl-ingestion capstone, one declarative chain: the
    incoming half of the corpus is deduped batch-internally and
    anti-joined against the persisted fingerprint store (admission),
    the admitted documents pass the Gopher quality battery (gating),
    and the survivors' embeddings are assigned to the PERSISTED
    index's coarse cells (the routing step of the ANN upsert) — the
    data-shaping spine of dedup -> filter -> index that a recurring
    crawl runs end to end, composed from the same operators the
    standalone rows verify individually.  The full-oracle output
    (doc_id, cell) value-checks every stage at once: a regression
    anywhere in the chain moves the final assignment."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fpd = docs.select("doc_id",
                      analysis.fingerprint_md5("text").alias("fp"))
    store = (fpd.filter(F.col("doc_id") % 2 == 0)
             .select("fp").distinct())
    admitted = (fpd.filter(F.col("doc_id") % 2 == 1)
                .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
                .join(store, "fp", "left_anti").select("doc_id"))
    flags = analysis.gopher_flags(F.col("text"), min_stopwords=1)
    gated = (admitted.join(docs, "doc_id")
             .filter(flags["keep"]).select("doc_id"))
    cent = ann_index.load_centroids(
        spark, _upsert_base_path(spark, sf_dir))
    emb = _t(spark, sf_dir, "embeddings")
    routed = ivf_ops.assign_cells(
        emb.join(gated, emb.vec_id == gated.doc_id).drop("doc_id"),
        cent)
    return routed.select(F.col("vec_id").alias("doc_id"),
                         F.col("cell").cast("long").alias("cell"))


def _duck_shingles(n: int) -> str:
    """DuckDB twin of dedup.shingles: word n-grams with the short-doc
    fallback (1-indexed lists; range() is 0-based)."""
    joins = " || ' ' || ".join(f"toks[i + {j + 1}]" for j in range(n))
    return (f"CASE WHEN len(toks) - {n - 1} <= 0 "
            f"THEN [array_to_string(toks, ' ')] "
            f"ELSE [{joins} FOR i IN range(len(toks) - {n - 1})] END")


_DUCK_HASH48 = "(('0x' || substr(md5({x}), 1, 12))::BIGINT)"


def _duck_minhash(num_hashes: int) -> str:
    """DuckDB twin of dedup.minhash_signature over an `hs` base-hash
    list: seeded universal hashes (a*h+b) mod p, min per seed."""
    P = dedup_ops.MINHASH_PRIME
    parts = [
        f"list_min(list_transform(hs, h -> "
        f"({dedup_ops.MINHASH_A[i]} * h + {dedup_ops.MINHASH_B[i]}) % {P}))"
        for i in range(num_hashes)
    ]
    return "[" + ", ".join(parts) + "]"


_MINHASH_CTE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
), sh AS (
  SELECT doc_id, {_duck_shingles(3)} AS sh FROM toks
), hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> {_DUCK_HASH48.format(x='s')}) AS hs
  FROM sh
), sig AS (
  SELECT doc_id, {_duck_minhash(8)} AS sig FROM hashed
), banded AS (
  SELECT doc_id,
         unnest(range(4)) AS band_idx,
         unnest([
           CAST(sig[1] AS VARCHAR) || '_' || CAST(sig[2] AS VARCHAR),
           CAST(sig[3] AS VARCHAR) || '_' || CAST(sig[4] AS VARCHAR),
           CAST(sig[5] AS VARCHAR) || '_' || CAST(sig[6] AS VARCHAR),
           CAST(sig[7] AS VARCHAR) || '_' || CAST(sig[8] AS VARCHAR)
         ]) AS band_hash
  FROM sig
)"""

_MINHASH_PAIRS_SQL = _MINHASH_CTE + """
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", oracle=_MINHASH_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands x 2 rows) near-dup candidate pairs over
    3-word shingles — shuffle keys are uniform band hashes, corpus never
    all-paired.  max_block turns on the exact grid-salting skew guard
    (boilerplate mega-buckets spread over ceil(n/32) reducers; output
    identical — the oracle above is the unsalted join)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.dedup_minhash_lsh(docs, num_hashes=8, bands=4,
                                       shingle_n=3, max_block=32)


@register("dedup_lsh_star", oracle=f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
), sh AS (
  SELECT doc_id, {_duck_shingles(3)} AS sh FROM toks
), hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> {_DUCK_HASH48.format(x='s')}) AS hs
  FROM sh
), sig AS (
  SELECT doc_id, {_duck_minhash(8)} AS sig FROM hashed
), banded AS (
  SELECT doc_id,
         unnest(range(4)) AS band_idx,
         unnest([
           CAST(sig[1] AS VARCHAR) || '_' || CAST(sig[2] AS VARCHAR),
           CAST(sig[3] AS VARCHAR) || '_' || CAST(sig[4] AS VARCHAR),
           CAST(sig[5] AS VARCHAR) || '_' || CAST(sig[6] AS VARCHAR),
           CAST(sig[7] AS VARCHAR) || '_' || CAST(sig[8] AS VARCHAR)
         ]) AS band_hash
  FROM sig
), sized AS (
  SELECT doc_id, band_idx, band_hash,
         count(*) OVER (PARTITION BY band_idx, band_hash) AS bsz,
         min(doc_id) OVER (PARTITION BY band_idx, band_hash) AS bmin
  FROM banded
)
SELECT DISTINCT id_a, id_b FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sized a JOIN sized b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.bsz <= 8 AND a.doc_id < b.doc_id
  UNION ALL
  SELECT bmin AS id_a, doc_id AS id_b
  FROM sized WHERE bsz > 8 AND doc_id <> bmin
)
""")
def dedup_lsh_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates with O(n) output for oversized buckets: buckets
    over the threshold emit star (min_id, member) spanning edges instead
    of the quadratic pair set — identical connected components, bounded
    output.  Threshold 8 is artificially low so sf0.01 exercises both
    arms; 100 TB default is O(thousands)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.lsh_star_pairs(docs, num_hashes=8, bands=4,
                                    shingle_n=3, star_threshold=8)


def _duck_simhash(bits: int) -> str:
    h = _DUCK_HASH48.format(x="t")
    terms = []
    for b in range(bits):
        vote = (f"list_sum(list_transform(toks, t -> "
                f"CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END))")
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2 ** b} ELSE 0 END)")
    return " + ".join(terms)


@register("dedup_simhash", oracle=f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
), fp AS (
  SELECT doc_id, CAST({_duck_simhash(16)} AS BIGINT) AS simhash FROM toks
)
SELECT simhash, count(*) AS cluster_size, min(doc_id) AS min_id
FROM fp GROUP BY simhash HAVING count(*) > 1
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash clusters (hamming-0 grouping); sign-vote bits over
    token hashes, one shuffle on the fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.dedup_simhash(docs, bits=16)


@register("dedup_simhash_hamming", oracle=f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
), fp AS (
  SELECT doc_id, CAST({_duck_simhash(16)} AS BIGINT) AS fp FROM toks
), banded AS (
  SELECT doc_id, fp,
         unnest(range(3)) AS block_idx,
         unnest([(fp >> 0) & 63, (fp >> 6) & 31, (fp >> 11) & 31])
           AS block_val
  FROM fp
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.block_idx = b.block_idx AND a.block_val = b.block_val
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 2
""")
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming distance <= 2 via bit-slice
    blocking (3 slices of the 16-bit fingerprint; pigeonhole guarantees
    any <=2-distant pair shares a slice) — candidates are same-slice
    rows only, verified with one xor+popcount each."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup_ops.simhash_hamming_pairs(docs, bits=16, max_distance=2)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


@register("dedup_minhash_estimate", oracle=_MINHASH_CTE + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       (round(CAST(list_sum([CASE WHEN sa.sig[i + 1] = sb.sig[i + 1]
                             THEN 1 ELSE 0 END FOR i IN range(8)])
                   AS DOUBLE) / 8, 6) + 0) AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_a
JOIN sig sb ON sb.doc_id = p.id_b
""")
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-based Jaccard ESTIMATE for the LSH candidate pairs
    (E[component match] = J): num_hashes integer compares per pair
    instead of re-shingling both documents — the cheap prune between
    candidate generation and exact verification at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.minhash_estimate_pairs(docs, num_hashes=8, bands=4,
                                            shingle_n=3)


@register("dedup_embedding_lsh", oracle=f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding, x -> CAST(x * 1.25 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
), planes AS (
  SELECT embedding AS pv, row_number() OVER (ORDER BY vec_id) - 1 AS pidx
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
), buckets AS (
  SELECT c.vec_id, c.embedding,
         CAST(sum(CASE WHEN (round({V.duck_dot('c.embedding', 'p.pv')}, 6)
                             + 0) >= 0
                  THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END) AS BIGINT)
           AS bucket
  FROM corpus c CROSS JOIN planes p
  GROUP BY c.vec_id, c.embedding
)
SELECT a.bucket AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) AS sim
FROM buckets a JOIN buckets b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) >= 0.99
""")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with the block = the vector's own sign-LSH
    bucket (no label column needed — the 100 TB shape, where blocking
    must come from the vectors themselves).  Scale-dup injections (x
    1.25) share their original's bucket EXACTLY: a positive scale
    flips no dot-product sign, so LSH blocking provably cannot miss
    them."""
    emb = _t(spark, sf_dir, "embeddings")
    scaled = (emb.filter(F.col("vec_id") % 20 == 0)
              .withColumn("vec_id", F.col("vec_id") + 1000000)
              .withColumn("embedding", F.transform(
                  "embedding",
                  lambda x: (x * F.lit(1.25)).cast("float"))))
    corpus = emb.unionByName(scaled)
    planes = lsh_ops.seed_planes(emb, 4)
    assigned = lsh_ops.assign_buckets(corpus.select("vec_id", "embedding"),
                                      planes)
    return dedup_ops.embedding_near_dup(assigned, block_col="bucket",
                                        threshold=0.99)


@register("dedup_ngram_jaccard", oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS toks FROM documents
), sh AS (
  SELECT doc_id, source AS block,
         unnest(list_distinct({_duck_shingles(2)})) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, block, count(*) AS set_size FROM sh GROUP BY 1, 2
), inter AS (
  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
  FROM sh a JOIN sh b ON a.block = b.block AND a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
)
SELECT i.block, i.id_a, i.id_b,
       (round(CAST(i.inter_size AS DOUBLE)
              / (sa.set_size + sb.set_size - i.inter_size), 6) + 0) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a AND sa.block = i.block
JOIN sizes sb ON sb.doc_id = i.id_b AND sb.block = i.block
WHERE (round(CAST(i.inter_size AS DOUBLE)
             / (sa.set_size + sb.set_size - i.inter_size), 6) + 0) >= 0.2
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-gram Jaccard >= 0.2 for pairs sharing a source block —
    the verification stage after LSH blocking."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.ngram_jaccard_pairs(docs, "source", shingle_n=2,
                                         threshold=0.2)


@register("dedup_containment", oracle=f"""
WITH lt AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS t FROM documents
), corpus AS (
  SELECT doc_id, source, t FROM lt
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, source,
         t[1:greatest(len(t) // 2, 1)] AS t
  FROM lt WHERE doc_id % 20 = 0
), sh AS (
  SELECT doc_id, source AS block,
         unnest(list_distinct(CASE WHEN len(t) - 1 <= 0
           THEN [array_to_string(t, ' ')]
           ELSE [t[i + 1] || ' ' || t[i + 2] FOR i IN range(len(t) - 1)]
         END)) AS shingle
  FROM corpus
), sizes AS (
  SELECT doc_id, block, count(*) AS set_size FROM sh GROUP BY 1, 2
), inter AS (
  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b,
         count(*) AS inter_size
  FROM sh a JOIN sh b ON a.block = b.block AND a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
), scored AS (
  SELECT i.block, i.id_a, i.id_b,
         (round(CAST(i.inter_size AS DOUBLE)
                / least(sa.set_size, sb.set_size), 6) + 0) AS containment,
         (round(CAST(i.inter_size AS DOUBLE)
                / (sa.set_size + sb.set_size - i.inter_size), 6) + 0)
           AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a AND sa.block = i.block
  JOIN sizes sb ON sb.doc_id = i.id_b AND sb.block = i.block
)
SELECT * FROM scored WHERE containment >= 0.8
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup (Broder's measure — the subset-duplication
    gate): every 20th doc is re-injected as its first-half token
    excerpt; the excerpt's 2-gram shingles are a SUBSET of the
    original's, so containment pins 1.0 while Jaccard sits near 0.5 —
    the asymmetric quote/boilerplate-inclusion case Jaccard
    structurally misses (both scores returned so the gap is in the
    verified values).  Blocked by source like the Jaccard row; at
    100 TB the block is an LSH bucket and this is the verification
    stage (dedup.containment_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    toks = analysis.tokens(F.col("text"))
    excerpt = F.array_join(
        F.slice(toks, 1,
                F.greatest((F.size(toks) / F.lit(2)).cast("int"),
                           F.lit(1))), " ")
    corpus = docs.select("doc_id", "source", "text").unionByName(
        docs.filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
                "source", excerpt.alias("text")))
    return dedup_ops.containment_pairs(corpus, "source", shingle_n=2,
                                       threshold=0.8)


@register("dedup_edit_distance", oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         substr(text, 1, 20) || 'Z' || substr(text, 21) AS text
  FROM documents WHERE doc_id % 15 = 0
), keyed AS (
  SELECT doc_id, lower(substr(text, 1, 12)) AS block,
         substr(text, 1, 64) AS cmp
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.cmp, b.cmp) AS BIGINT) AS dist
FROM keyed a JOIN keyed b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE levenshtein(a.cmp, b.cmp) <= 2
""")
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by bounded edit distance (record-linkage style):
    every 15th doc is re-injected with one character inserted at
    position 21 and must pair with its original at dist 1.  Blocks by
    the 12-char lowercase prefix (untouched by the injected edit);
    levenshtein runs over the first 64 chars only, so per-candidate
    cost is constant regardless of document length.  The operator
    grid-salts hot blocks; the oracle is the plain block join — salt
    changes placement, never the pair set."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mut = (docs.filter(F.col("doc_id") % 15 == 0)
           .withColumn("doc_id", F.col("doc_id") + 2000000)
           .withColumn("text", F.concat(F.substring("text", 1, 20),
                                        F.lit("Z"),
                                        F.expr("substring(text, 21)"))))
    return dedup_ops.edit_distance_pairs(docs.unionByName(mut))


@register("dedup_embedding_cosine", oracle=f"""
WITH corpus AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, label,
         list_transform(embedding, x -> CAST(x * 1.25 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
)
SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) AS sim
FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) >= 0.99
""")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within a label block; every 20th
    vector is re-injected scaled x1.25 (cosine 1.0 with its original)
    and must be caught."""
    emb = _t(spark, sf_dir, "embeddings")
    scaled = (emb.filter(F.col("vec_id") % 20 == 0)
              .withColumn("vec_id", F.col("vec_id") + 1000000)
              .withColumn("embedding", F.transform(
                  "embedding",
                  lambda x: (x * F.lit(1.25)).cast("float"))))
    corpus = emb.unionByName(scaled)
    return dedup_ops.embedding_near_dup(corpus, threshold=0.99)


# =========================================================================
# Text analysis family (training-data-pipeline extension surface):
# language id, quality scoring, token counting, fingerprinting
# =========================================================================

_DUCK_STOP = ", ".join(f"'{w}'" for w in analysis.EN_STOPWORDS)
_DUCK_STOP_RATIO = (
    "(CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
    f"CAST(len(list_filter(toks, t -> t IN ({_DUCK_STOP}))) AS DOUBLE)"
    " / len(toks) END)")
_DUCK_PUNCT_RATIO = (
    "(CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)"
    " / length(text) END)")


@register("text_lang_id", oracle=f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN {_DUCK_STOP_RATIO} >= 0.08 THEN 'en' ELSE 'und' END AS lang_id,
       (round({_DUCK_STOP_RATIO}, 6) + 0) AS stopword_ratio
FROM t
""")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language id by English-stopword density (extension
    surface; no analog in the reference, whose corpus is chat text)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        analysis.lang_id(F.col("text")).alias("lang_id"),
        rnd(analysis.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"))


@register("text_quality_score", oracle=f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       (round(
          0.5 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
        + 0.5 * least({_DUCK_STOP_RATIO} * 5.0, 1.0)
        - 0.25 * least({_DUCK_PUNCT_RATIO} * 5.0, 1.0), 6) + 0) AS quality
FROM t
""")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length band + stopword presence -
    punctuation excess (fixed weights, deterministic)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (analysis.quality_score(F.col("text")) + F.lit(0.0)).alias("quality"))


@register("text_gopher_rules", oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_DUCK_TOKENS} AS toks,
         string_split(text, chr(10)) AS lines,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({_DUCK_TOKENS}) END AS n_words
  FROM documents
), m AS (
  SELECT doc_id, n_words,
         CAST(greatest(n_words, 1) AS DOUBLE) AS nw,
         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
           AS nonspace,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
         CAST(len(lines) AS DOUBLE) AS n_lines,
         len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*]')))
           AS n_bullet,
         len(list_filter(lines, x -> regexp_matches(x, '\\.\\.\\.\\s*$')))
           AS n_ell,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
           AS n_alpha,
         (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)
           AS n_stop
  FROM t
)
SELECT doc_id,
       (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
       (nonspace / nw >= 3.0 AND nonspace / nw <= 10.0)
         AS ok_mean_word_len,
       (n_sym / nw <= 0.1) AS ok_symbol_ratio,
       (n_bullet / n_lines <= 0.9) AS ok_bullet_lines,
       (n_ell / n_lines <= 0.3) AS ok_ellipsis_lines,
       (n_alpha / nw >= 0.8) AS ok_alpha_words,
       (n_stop >= 1) AS ok_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (nonspace / nw >= 3.0 AND nonspace / nw <= 10.0)
        AND (n_sym / nw <= 0.1)
        AND (n_bullet / n_lines <= 0.9)
        AND (n_ell / n_lines <= 0.3)
        AND (n_alpha / nw >= 0.8)
        AND (n_stop >= 1)) AS keep
FROM m
""")
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021 §A.1.1): word
    count, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, required-stopword presence —
    per-rule booleans plus the conjunction, all pure Column
    expressions riding the scan in one narrow shuffle-free stage (the
    higher-order lambdas fall out of whole-stage codegen but stay
    JVM-side).  The per-rule flags (not just `keep`) are the
    operational form: a corpus report groups by failing rule to see
    WHY documents wash out before committing to a filter threshold.
    min_stopwords=1 here (the fixture vocabulary carries only 'the'
    from the required set); the operator default is the paper's 2."""
    docs = _t(spark, sf_dir, "documents")
    flags = analysis.gopher_flags(F.col("text"), min_stopwords=1)
    return docs.select("doc_id",
                       *[c.alias(name) for name, c in flags.items()])


@register("corpus_report", oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_DUCK_TOKENS} AS toks,
         md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp
  FROM documents
), m AS (
  SELECT doc_id, fp,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END
           AS n_words,
         CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
               ELSE CAST(len(list_filter(toks,
                      x -> list_contains(['the','a','an','and','is','to',
                                          'of','in','it','you','that',
                                          'for','on','with','as'], x)))
                    AS DOUBLE) / len(toks) END) >= 0.08
              THEN 1 ELSE 0 END AS is_en
  FROM t
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       CAST(sum(is_en) AS BIGINT) AS n_english,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_docs,
       (round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) + 0)
         AS exact_dup_rate
FROM m
""")
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus dashboard row: document count, token volume,
    language mix, exact-dup rate — the first query a pipeline owner
    runs on a new crawl, composed from the same primitives the
    filtering stages use (so the report numbers MATCH what the
    filters will do).  One scan with map-side partial aggregation; the
    distinct fingerprint count is the only keyed exchange."""
    docs = _t(spark, sf_dir, "documents")
    m = docs.select(
        analysis.fingerprint_md5("text").alias("fp"),
        analysis.whitespace_token_count(F.col("text")).alias("n_words"),
        (analysis.lang_id(F.col("text")) == "en").cast("int")
        .alias("is_en"))
    return m.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        F.sum("is_en").alias("n_english"),
        F.countDistinct("fp").alias("n_distinct_docs"),
        (F.round(F.lit(1.0) - F.countDistinct("fp").cast("double")
                 / F.count(F.lit(1)), 6) + F.lit(0.0))
        .alias("exact_dup_rate"))


@register("skew_report_events", oracle="""
WITH k AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY user_id
), s AS (
  SELECT CAST(sum(n_rows) AS DOUBLE) AS total,
         avg(n_rows) AS mean_n FROM k
)
SELECT k.user_id, k.n_rows,
       (round(k.n_rows / s.total, 6) + 0) AS share,
       (round(k.n_rows / s.mean_n, 6) + 0) AS ratio_to_mean
FROM k, s
ORDER BY k.n_rows DESC, k.user_id LIMIT 10
""")
def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew observability: the top hot keys with their row share
    and ratio-to-mean — the measurement that DECIDES whether a join
    or aggregation on this key needs salting (join_salted_skew) or
    AQE skew handling, instead of guessing.  One keyed aggregation,
    checkpointed at |keys| rows so the totals derivation re-reads the
    key counts, not the corpus; the global totals arrive back as a
    broadcast single row; the top-10 is a bounded heap
    (TakeOrderedAndProject)."""
    ev = _t(spark, sf_dir, "events")
    k = (ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
         .localCheckpoint())
    s = k.agg(F.sum("n_rows").cast("double").alias("total"),
              F.avg("n_rows").alias("mean_n"))
    return (k.crossJoin(F.broadcast(s))
            .select("user_id", "n_rows",
                    rnd(F.col("n_rows") / F.col("total"), 6).alias("share"),
                    rnd(F.col("n_rows") / F.col("mean_n"), 6)
                    .alias("ratio_to_mean"))
            # asc_nulls_last matches DuckDB's default NULLS LAST on
            # the ascending tiebreak (eighth review; Spark defaults
            # NULLS FIRST asc — a NULL user_id group tying at the
            # rank-10 boundary would cut different rows; fixtures
            # carry no NULL user_id, so outputs are identical today)
            .orderBy(F.col("n_rows").desc(),
                     F.col("user_id").asc_nulls_last()).limit(10))


@register("vocab_coverage", oracle=f"""
WITH toks AS (
  SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok
), vocab AS (
  SELECT tok FROM counts ORDER BY n DESC, tok LIMIT 16
)
SELECT CAST(16 AS BIGINT) AS vocab_size,
       CAST(sum(c.n) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN v.tok IS NOT NULL THEN c.n ELSE 0 END)
            AS BIGINT) AS covered_tokens,
       (round(CAST(sum(CASE WHEN v.tok IS NOT NULL THEN c.n ELSE 0 END)
                   AS DOUBLE) / sum(c.n), 6) + 0) AS coverage
FROM counts c LEFT JOIN vocab v ON v.tok = c.tok
""")
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary planning: induce the top-V corpus tokens
    by frequency and measure what fraction of all token occurrences
    they cover — the corpus-side number a vocab-size decision rests
    on (the real BPE merge loop starts from exactly this frequency
    table).  Plan: explode -> one keyed count (map-side partials
    absorb the token Zipf skew), top-V as a bounded heap, coverage as
    a second pass over the COUNTS (vocab-sized, broadcast), never the
    corpus.  The counts table is checkpointed so both consumers (the
    vocab cut and the coverage join) read the |vocab|-row
    materialization — without it Spark re-derives the shared subplan
    per consumer and the corpus is exploded and counted TWICE."""
    docs = _t(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(analysis.tokens(F.col("text")))
                          .alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
              .localCheckpoint())
    vocab = (counts.orderBy(F.col("n").desc(), "tok").limit(16)
             .select(F.col("tok").alias("vtok")))
    joined = counts.join(F.broadcast(vocab),
                         counts.tok == vocab.vtok, "left")
    covered = F.sum(F.when(F.col("vtok").isNotNull(), F.col("n"))
                    .otherwise(F.lit(0)))
    return joined.agg(
        F.lit(16).cast("long").alias("vocab_size"),
        F.sum("n").alias("total_tokens"),
        covered.alias("covered_tokens"),
        rnd(covered.cast("double") / F.sum("n"), 6).alias("coverage"))


@register("doc_length_histogram", oracle=f"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({_DUCK_TOKENS}) END AS n_words
  FROM documents
), s AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM t)
SELECT CAST(n_words // 10 AS INT) AS bucket,
       CAST(min(n_words) AS BIGINT) AS min_words,
       CAST(max(n_words) AS BIGINT) AS max_words,
       CAST(count(*) AS BIGINT) AS n_docs,
       (round(count(*) / s.total, 6) + 0) AS share
FROM t, s
GROUP BY bucket, s.total ORDER BY bucket
""")
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution in 10-token bins — the histogram
    a sequence-length / packing-budget decision reads (pack_fill_stats
    measures the chosen budget's efficiency AFTER the fact; this is
    the BEFORE view).  One narrow pass computes the bin, one keyed
    aggregation builds the histogram (checkpointed at |buckets| rows);
    the doc total is DERIVED from the histogram, not a second corpus
    scan, and joins back as a broadcast single row."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        (analysis.whitespace_token_count(F.col("text")) / 10)
        .cast("int").alias("bucket"),
        analysis.whitespace_token_count(F.col("text")).alias("n_words"))
    hist = (t.groupBy("bucket")
            .agg(F.min("n_words").alias("min_words"),
                 F.max("n_words").alias("max_words"),
                 F.count(F.lit(1)).alias("n_docs"))
            .localCheckpoint())
    s = hist.agg(F.sum("n_docs").cast("double").alias("total"))
    return (hist.crossJoin(F.broadcast(s))
            .select("bucket", "min_words", "max_words", "n_docs",
                    rnd(F.col("n_docs") / F.col("total"), 6).alias("share"))
            .orderBy("bucket"))


@register("integrity_orphans", oracle="""
SELECT CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_without_vec,
       CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS vecs_without_doc,
       CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS matched
FROM documents d FULL JOIN embeddings e ON e.vec_id = d.doc_id
""")
def integrity_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between the document corpus and
    its embedding store (doc_id <-> vec_id): documents that never got
    embedded, embeddings whose document was deleted, and the matched
    count — the invariant an ingest+embed pipeline must report on
    before serving (a nonzero left column means the embed backlog; a
    nonzero right column means erasure missed the vector side).  One
    full outer join on the shared key, both sides pruned to the key
    column at the scan."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = _t(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(e, d.doc_id == e.vec_id, "full")
    return j.agg(
        F.sum(F.col("vec_id").isNull().cast("int"))
        .alias("docs_without_vec"),
        F.sum(F.col("doc_id").isNull().cast("int"))
        .alias("vecs_without_doc"),
        F.sum((F.col("doc_id").isNotNull()
               & F.col("vec_id").isNotNull()).cast("int"))
        .alias("matched"))


@register("text_token_counts", oracle=f"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END
         AS ws_tokens,
       len(regexp_extract_all(text, '{analysis.RE_BPE_TOKEN}')) AS bpe_tokens
FROM documents
""")
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | single symbols)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        analysis.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        analysis.bpe_token_count(F.col("text")).alias("bpe_tokens"))


@register("text_fingerprint", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       md5(array_to_string(toks, ' ')) AS fp_md5,
       CAST(list_sum([
         (('0x' || substr(md5(toks[i + 1]), 1, 8))::BIGINT) * (i + 1)
         FOR i IN range(len(toks))
       ]) AS BIGINT) AS fp_rolling
FROM t
""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact md5 of normalized text plus an
    order-sensitive positional rolling hash."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        analysis.fingerprint_md5("text").alias("fp_md5"),
        analysis.fingerprint_rolling("text").alias("fp_rolling"))


# =========================================================================
# ANN scale path: IVF partition-pruned search (SURVEY 4 custom opportunity)
# =========================================================================

@register("ann_ivf_topk", oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM scored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 2
)
SELECT a.vec_id, a.cell,
       (round({V.duck_cosine('a.embedding', 'qv')}, 6) + 0) AS sim
FROM assigned a, q
WHERE a.cell IN (SELECT cell FROM probe)
ORDER BY sim DESC, a.vec_id LIMIT 10
""")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: 16 deterministic centroids, probe top-2 cells,
    brute-force within — the partition-pruned scale path past the
    brute-force flagship (scanned fraction ~ nprobe/nlist)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    return ivf_ops.ivf_search(assigned, cent, _query_vec(spark, sf_dir),
                              k=10, nprobe=2)


@register("ann_ivf_filtered", oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, label, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM scored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
)
SELECT a.vec_id, a.label, a.cell,
       (round({V.duck_cosine('a.embedding', 'qv')}, 6) + 0) AS sim
FROM assigned a, q
WHERE a.cell IN (SELECT cell FROM probe) AND a.label % 2 = 0
ORDER BY sim DESC, a.vec_id LIMIT 10
""")
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — the hybrid query every vector store serves
    (metadata predicate AND nearest-neighbor): the label filter
    composes with the IVF probe as a plain scan predicate INSIDE the
    probed cells, so selectivity stacks multiplicatively with cell
    pruning (reads nprobe/nlist of the corpus, scores only rows
    passing the filter).  Pre-filtering beats post-filtering the
    top-k (which under-fills k when the predicate is selective);
    nprobe=4 compensates for the ~2x thinner candidate set.  On a
    materialized index the filter pushes into the pruned partitions'
    parquet scan."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent, keep_cols=("label",))
    cells = ivf_ops.probe_cells(cent, _query_vec(spark, sf_dir), 4)
    cand = (assigned
            .join(F.broadcast(cells), "cell", "left_semi")
            .filter(F.col("label") % 2 == 0))
    qv = _query_vec(spark, sf_dir)
    scored = sim_ops.similarity_to_query(cand, qv)
    return (scored
            .withColumn("sim", rnd(F.col("sim"), 6))
            .select("vec_id", "label", "cell", "sim")
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(10))


@register("ann_lsh_topk", oracle=f"""
WITH planes AS (
  SELECT embedding AS pv, row_number() OVER (ORDER BY vec_id) - 1 AS pidx
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
), buckets AS (
  SELECT e.vec_id, e.embedding,
         CAST(sum(CASE WHEN (round({V.duck_dot('e.embedding', 'p.pv')}, 6)
                             + 0) >= 0
                  THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END) AS BIGINT)
           AS bucket
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, e.embedding
), q AS (
  SELECT embedding AS qv, bucket AS qbucket FROM buckets WHERE vec_id = 0
), probe AS (
  SELECT DISTINCT pb FROM (
    SELECT qbucket AS pb FROM q
    UNION ALL
    SELECT xor(qbucket, CAST(1 AS BIGINT) << i) AS pb FROM q, range(4) t(i)
  )
), cand AS (
  SELECT b.vec_id, b.embedding, b.bucket
  FROM buckets b JOIN probe ON b.bucket = probe.pb
)
SELECT c.vec_id, c.bucket,
       (round({V.duck_cosine('c.embedding', 'q.qv')}, 6) + 0) AS sim
FROM cand c, q
ORDER BY sim DESC, c.vec_id LIMIT 10
""")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN search: 4 deterministic hyperplanes -> 16-bucket
    sign index assigned in ONE narrow codegen expression (no shuffle),
    multi-probe of the query bucket's Hamming-1 neighborhood (5 of 16
    buckets), brute-force cosine within — the bucketed scale path the
    brief asks for next to IVF.  The materialized form writes
    ``partitionBy("bucket")`` so the probe prunes partitions."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = lsh_ops.seed_planes(emb, 4)
    return lsh_ops.lsh_search(emb, planes, query_id=0, k=10)


_PQ_ADC_CTE = f"""
WITH seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT e.vec_id, js.j, e.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM embeddings e CROSS JOIN js
), assigned AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM assigned a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
)"""


@register("ann_pq_topk", oracle=_PQ_ADC_CTE + """
SELECT vec_id, adc_sim FROM adc
ORDER BY adc_sim DESC, vec_id LIMIT 10
""")
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al., TPAMI 2011): m=8
    subspaces x 16 seed codewords; corpus encoded to 8 small ints per
    vector (64x smaller than float32); query scored via an asymmetric-
    distance table folded into a codegen expression — m lookups + adds
    per row, no UDF/join/shuffle on the serving path, top-k as
    TakeOrderedAndProject.  The compressed-scan path past brute force
    when even the IVF probe set outgrows memory bandwidth."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_ops.seed_codebooks(emb, m=8, ncodes=16)
    codes = pq_ops.pq_encode(emb, cb)
    table = pq_ops.adc_table(_query_vec(spark, sf_dir), cb)
    return pq_ops.pq_search(codes, table, k=10)


@register("ann_pq_rerank", oracle=_PQ_ADC_CTE + f""",
short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50)
SELECT e.vec_id,
       (round({V.duck_cosine('e.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM embeddings e JOIN short s ON s.vec_id = e.vec_id
ORDER BY sim DESC, e.vec_id LIMIT 10
""")
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ: ADC shortlist (top-50 on the compressed scan) then
    exact cosine re-rank of the survivors — the standard recovery for
    quantization loss.  The exact cosine runs on 50 broadcast-joined
    rows, never the corpus; at 100 TB stage 1 reads ~1/64th of the
    bytes and stage 2 is a point lookup per survivor."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_ops.seed_codebooks(emb, m=8, ncodes=16)
    codes = pq_ops.pq_encode(emb, cb)
    qv = _query_vec(spark, sf_dir)
    table = pq_ops.adc_table(qv, cb)
    return pq_ops.pq_rerank(emb, codes, table, qv, k=10, shortlist=50)


_PQRR_TRAINED_DIR = _trained_dir("ann_pq_rerank_trained")


@register("ann_pq_rerank_trained", oracle=f"""
WITH cb AS (
  SELECT j, cw, cv
  FROM read_parquet('{_PQRR_TRAINED_DIR}/codebooks/*.parquet')
  WHERE {_fp_guard("ann_pq_rerank_trained", "embeddings")}
), js AS (SELECT DISTINCT j FROM cb),
ev AS (
  SELECT e.vec_id, js.j, e.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM embeddings e CROSS JOIN js
), assigned AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot("(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]",
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM assigned a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 200)
SELECT e.vec_id,
       (round({V.duck_cosine('e.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM embeddings e JOIN short s ON s.vec_id = e.vec_id
ORDER BY sim DESC, e.vec_id LIMIT 10
""")
def ann_pq_rerank_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION PQ path: k-means-trained codebooks (bounded
    deterministic sample, operators/pq.py:kmeans_codebooks) + the
    measured-knee shortlist of 200.  Identical plan shape to
    ann_pq_rerank — compressed ADC scan, TakeOrderedAndProject
    shortlist, broadcast exact re-rank — only the codebook literals
    differ.

    FULL oracle since r12 (VERDICT r11 item 1): Lloyd's iterations
    aren't DuckDB-reproducible, so the query persists the trained
    codebooks and the oracle replays encode -> ADC -> re-rank from the
    persisted parquet — ann_pq_rerank's oracle with the codebook CTE
    swapped from seed derivation to read_parquet.  Training QUALITY is
    separately invariant-checked (test_pq.py::
    test_trained_beats_seed_recall; recall table in
    tools/scaling_check.py — 0.37 seed vs 0.83 trained at sf0.1)."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_ops.kmeans_codebooks(emb, m=8, ncodes=16)
    _publish_codebooks("ann_pq_rerank_trained", cb)
    _publish_fingerprint(spark, sf_dir, "ann_pq_rerank_trained", "embeddings")
    codes = pq_ops.pq_encode(emb, cb)
    qv = _query_vec(spark, sf_dir)
    table = pq_ops.adc_table(qv, cb)
    return pq_ops.pq_rerank(emb, codes, table, qv, k=10, shortlist=200)


# The seed-artifact IVF x PQ composition, end to end in SQL — shared by
# the inline row (ann_ivfpq_topk) and the materialized-index row
# (ann_ivfpq_materialized): same artifacts, same parameters, so the
# persisted layout must reproduce the inline computation exactly.
_IVFPQ_SEED_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cscored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
), cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50)
SELECT c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM cand c JOIN short s ON s.vec_id = c.vec_id
ORDER BY sim DESC, c.vec_id LIMIT 10
"""


@register("ann_ivfpq_topk", oracle=_IVFPQ_SEED_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composition (FAISS IVFPQ shape): 16 coarse centroids
    prune the scan to the query's top-4 cells (~1/4 of the corpus
    here, nprobe/nlist in general — literal partition pruning once the
    codes are stored partitionBy(cell)); ADC scores the survivors on
    8-byte codes (1/64th of the raw bytes); exact cosine re-ranks the
    top-50 shortlist via broadcast join.  Every stage seed-picked so
    the DuckDB oracle value-checks the whole composition end-to-end;
    swap seed picks for kmeans_centroids/kmeans_codebooks for the
    trained production variant (same plan, better recall — measured in
    tools/scaling_check.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    cb = pq_ops.seed_codebooks(emb, m=8, ncodes=16)
    return pq_ops.ivfpq_search(assigned, cent, cb,
                               _query_vec(spark, sf_dir),
                               k=10, nprobe=4, shortlist=50)


# Materialized-index cache: the index-build job runs ONCE per
# (fixture, artifact flavor) and every later query serves from the
# persisted store — the "index once, query many" economics the
# lifecycle exists for.  Keyed by sf_dir so the driver's sf never
# collides with tests.
_ANN_INDEX_CACHE: dict[tuple[str, object], str] = {}


def _materialized_index(spark: SparkSession, sf_dir: str,
                        trained: bool = False) -> str:
    key = (sf_dir, trained)
    if key not in _ANN_INDEX_CACHE:
        path = os.path.join(
            tempfile.mkdtemp(prefix="annidx_"), "index")
        ann_index.build_index(spark, _t(spark, sf_dir, "embeddings"),
                              path, nlist=16, m=8, ncodes=16,
                              trained=trained)
        _ANN_INDEX_CACHE[key] = path
    return _ANN_INDEX_CACHE[key]


@register("ann_ivfpq_materialized", oracle=_IVFPQ_SEED_ORACLE)
def ann_ivfpq_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ served from the PERSISTED index (operators/ann_index):
    vectors and PQ codes stored partitionBy(cell) with centroid +
    codebook sidecars; the query probes the sidecar, prunes both
    stores to the probed cells (literal partition pruning — pinned in
    tests/test_ivf_index.py), ADC-scores the pruned codes and
    exact-re-ranks the shortlist.  NO training and NO assignment at
    query time — the build job ran once (cached per fixture).  Seed
    artifacts, so the oracle is ann_ivfpq_topk's verbatim: the
    materialized layout must reproduce the inline composition
    bit-for-bit."""
    path = _materialized_index(spark, sf_dir, trained=False)
    return ann_index.search_index(spark, path, _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50)


# ann_ivfpq_topk's seed composition with the CELL COUNT DERIVED from
# the corpus instead of pinned: nlist = max(16, floor(sqrt(N))) — the
# first-write auto-sizing policy ann_index.build_index applies when
# nlist is not pinned (r17 mechanism 5), replayed in SQL so the
# driver's hash check covers the derived layout end-to-end.  FLOOR(
# SQRT()) equals Python's isqrt at every fixture N (500 -> 22,
# 2000 -> 44); codebook seeds stay ncodes=16 — auto-sizing moves only
# the coarse quantizer.
_IVFPQ_AUTOSIZED_ORACLE = f"""
WITH nl AS (
  SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS nlist
  FROM embeddings
), cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM (
    SELECT vec_id, embedding,
           row_number() OVER (ORDER BY vec_id) AS rn
    FROM embeddings)
  WHERE rn <= (SELECT nlist FROM nl)
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cscored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
), cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50)
SELECT c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM cand c JOIN short s ON s.vec_id = c.vec_id
ORDER BY sim DESC, c.vec_id LIMIT 10
"""


@register("ann_ivfpq_autosized", oracle=_IVFPQ_AUTOSIZED_ORACLE)
def ann_ivfpq_autosized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-SIZED index layout served end-to-end (VERDICT r17
    item 4): build_index with nlist=None derives the cell count from
    the corpus (max(16, isqrt(N)) — a serve pays nlist centroid
    distances plus ~nprobe*N/nlist candidate rows, and sqrt(N)
    equalizes the two growth terms), records it in the meta sidecar,
    and every later verb follows the recorded layout.  The oracle
    replays the same derivation in SQL, so the driver's hash check
    pins the auto-sizing policy itself — not just a pinned-layout
    instance of it.  This is the path the Engine facade now takes
    with nlist=None (ensure_index passes the facade's nlist through;
    the facade's encoder-backed store itself stays oracle-exempt by
    the SURVEY §5.2 model-UDF contract, so the policy is pinned here
    over the deterministic embeddings fixture instead).  Build cached
    per fixture (the offline job); the meta assertion fails loudly if
    the recorded layout ever drifts from the policy."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    key = (sf_dir, "autosized")
    if key not in _ANN_INDEX_CACHE:
        path = os.path.join(tempfile.mkdtemp(prefix="annauto_"), "index")
        ann_index.build_index(spark, emb, path, nlist=None, m=8,
                              ncodes=16)
        _ANN_INDEX_CACHE[key] = path
    path = _ANN_INDEX_CACHE[key]
    meta = ann_index.read_meta(path)
    n = emb.count()
    assert meta["nlist"] == max(16, math.isqrt(int(n))), \
        (meta["nlist"], n)
    return ann_index.search_index(spark, path, _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50)


_TRAINED_STORE_LINK = _trained_dir("trained_index")

# Intrinsic scale guard for the store-link oracles (ADVICE r12): the
# linked store is always a FULL-corpus index, so its stored vectors
# must content-match the oracle's own embeddings view — no
# fingerprint sidecar needed, the store is its own witness.  Both
# operands are computed in DuckDB over identically-typed float
# arrays, so the native hash() rendering agrees; counts alone would
# NOT discriminate (sf0.001 and sf0.01 both hold 500 embeddings).  A
# link left pointing at another scale's store empties the centroid
# CTE and the row fails loudly instead of replaying stale artifacts.
_TRAINED_LINK_GUARD = (
    f"(SELECT sum(hash(CAST(vec_id AS VARCHAR) ||"
    f" CAST(embedding AS VARCHAR))) FROM read_parquet("
    f"'{_TRAINED_STORE_LINK}/vectors/*/*.parquet', "
    f"hive_partitioning = true)) = (SELECT sum(hash("
    f"CAST(vec_id AS VARCHAR) || CAST(embedding AS VARCHAR)))"
    f" FROM embeddings)")


@register("ann_ivfpq_materialized_trained", oracle=f"""
WITH cent AS (
  SELECT centroid_id, centroid_vec AS cvec
  FROM read_parquet('{_TRAINED_STORE_LINK}/centroids/*.parquet')
  WHERE {_TRAINED_LINK_GUARD}
), cb AS (
  SELECT j, cw, cv
  FROM read_parquet('{_TRAINED_STORE_LINK}/codebooks/*.parquet')
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 8
), codes AS (
  SELECT vec_id, codes, CAST(cell AS BIGINT) AS cell
  FROM read_parquet('{_TRAINED_STORE_LINK}/codes/*/*.parquet',
                    hive_partitioning = true)
  WHERE CAST(cell AS BIGINT) IN (SELECT cell FROM probe)
), js AS (SELECT DISTINCT j FROM cb),
expl AS (
  SELECT c.vec_id, js.j, c.codes[js.j + 1] AS cw
  FROM codes c CROSS JOIN js
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot("(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]",
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT e.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM expl e JOIN qtab t ON t.j = e.j AND t.cw = e.cw
  GROUP BY e.vec_id
), short AS (
  SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 400
), vecs AS (
  SELECT vec_id, embedding, CAST(cell AS BIGINT) AS cell
  FROM read_parquet('{_TRAINED_STORE_LINK}/vectors/*/*.parquet',
                    hive_partitioning = true)
  WHERE CAST(cell AS BIGINT) IN (SELECT cell FROM probe)
)
SELECT v.vec_id, v.cell,
       (round({V.duck_cosine('v.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM vecs v JOIN short s ON s.vec_id = v.vec_id
ORDER BY sim DESC, v.vec_id LIMIT 10
""")
def ann_ivfpq_materialized_trained(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The production serving row: trained IVF x PQ artifacts built
    ONCE (cached materialized index), queries served from the
    persisted store with cell partition pruning — no k-means, no
    Lloyd's, no assignment in the query path, unlike
    ann_ivfpq_trained (kept registered as the build-path check).

    FULL oracle since r12 (VERDICT r11 item 1): the query re-points a
    canonical symlink at the cached store and the oracle replays the
    SERVE path from the store's own parquet — probe from the persisted
    centroid sidecar, hive-partition-filtered code scan, the
    adc_score_col fold over the STORED codes (j*ncodes+code indexing,
    6dp), shortlist-400, exact re-rank over the stored vectors.  The
    store's content AND the serving math are both value-verified; only
    the training iterations themselves stay unchecked (they cannot
    be — but a wrong artifact would shift cells/codes and break the
    match)."""
    path = _materialized_index(spark, sf_dir, trained=True)
    _publish_store_link("trained_index", path)
    return ann_index.search_index(spark, path, _query_vec(spark, sf_dir),
                                  k=10, nprobe=8, shortlist=400)


@register("ann_trained_store_exhaustive", oracle=f"""
SELECT vec_id,
       (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
FROM embeddings e,
     (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
ORDER BY sim DESC, vec_id ASC LIMIT 10
""")
def ann_trained_store_exhaustive(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Full-oracle verification of the TRAINED store build — the one
    lifecycle leg the seed twins cannot reach (ann_ivfpq_materialized
    value-checks the same serving plan over SEED artifacts; the
    trained row is rows-only because k-means|| centroids are not
    DuckDB-reproducible).  Served in EXHAUSTIVE mode (nprobe = nlist,
    shortlist = corpus), the result is independent of WHERE the
    trained centroids put each vector: every cell is probed and every
    candidate survives the ADC shortlist into the exact re-rank, so
    the top-10 must equal brute-force cosine over the raw table.  A
    vector lost, duplicated, or corrupted anywhere in the trained
    build chain (k-means assign -> Lloyd's PQ encode ->
    partitionBy(cell) write -> pruned read) breaks the match — the
    store's CONTENT is value-verified even though the trained
    artifacts themselves cannot be.  The ``cell`` column is dropped:
    cell ids are a property of the trained centroids, not of the
    corpus."""
    path = _materialized_index(spark, sf_dir, trained=True)
    n = _t(spark, sf_dir, "embeddings").count()
    return (ann_index.search_index(spark, path,
                                   _query_vec(spark, sf_dir),
                                   k=10, nprobe=16, shortlist=n)
            .select("vec_id", "sim"))


_LABELED_INDEX_CACHE: dict[str, str] = {}


def _labeled_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache for the metadata-carrying materialized index
    (meta_cols=("label",)): both stores carry the label column, so a
    where-predicate at serve time is a PRE-filter on the code scan."""
    if sf_dir not in _LABELED_INDEX_CACHE:
        path = os.path.join(tempfile.mkdtemp(prefix="annidxlab_"),
                            "index")
        ann_index.build_index(spark, _t(spark, sf_dir, "embeddings"),
                              path, nlist=16, m=8, ncodes=16,
                              meta_cols=("label",))
        _LABELED_INDEX_CACHE[sf_dir] = path
    return _LABELED_INDEX_CACHE[sf_dir]


@register("ann_ivfpq_filtered_materialized", oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cscored AS (
  SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, label, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
), cand AS (
  SELECT * FROM celled
  WHERE cell IN (SELECT cell FROM probe) AND label % 2 = 0
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50)
SELECT c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM cand c JOIN short s ON s.vec_id = c.vec_id
ORDER BY sim DESC, c.vec_id LIMIT 10
""")
def ann_ivfpq_filtered_materialized(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Filtered ANN from the PERSISTED index — the production hybrid-
    filter shape ann_ivf_filtered inlines, now index-served: the build
    stored the label column in BOTH stores (meta_cols), so the
    ``label % 2 = 0`` predicate PRE-filters the code scan (stacking
    with the cell partition filter — ADC scores eligible rows only,
    and the shortlist is drawn from eligible rows, no post-filter
    recall loss) and the re-rank scan alike.  The oracle replays the
    seed-IVFPQ composition with the candidate set label-filtered
    before encoding — exactly the pre-filter semantics."""
    path = _labeled_index(spark, sf_dir)
    return ann_index.search_index(spark, path,
                                  _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50,
                                  where="label % 2 = 0")


_MANY_QIDS = [0, 7, 13, 21, 34]
_MANY_QIDS_LARGE = [0, 3, 7, 13, 21, 34, 55, 89]


def _ivfpq_many_oracle(qids: list) -> str:
    return f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(q) for q in qids)})
), cscored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT q.qid, c.centroid_id AS cell
  FROM qs q CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY q.qid
    ORDER BY {V.duck_cosine('c.cvec', 'q.qv')} DESC, c.centroid_id) <= 4
), cand AS (
  SELECT * FROM celled
  WHERE cell IN (SELECT DISTINCT cell FROM probe)
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, c.cell, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, cell, j, cw FROM (
    SELECT ev.vec_id, ev.cell, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT q.qid, cb.j, cb.cw,
         (round({V.duck_dot('q.qv[(cb.j*8+1):(cb.j*8+8)]', 'cb.cv')}, 9)
          + 0) AS d
  FROM qs q CROSS JOIN cb
), adc AS (
  SELECT p.qid, a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a
  JOIN probe p ON p.cell = a.cell
  JOIN qtab t ON t.qid = p.qid AND t.j = a.j AND t.cw = a.cw
  GROUP BY p.qid, a.vec_id
), short AS (
  SELECT qid, vec_id FROM adc
  QUALIFY row_number() OVER (PARTITION BY qid
                             ORDER BY adc_sim DESC, vec_id) <= 50
)
SELECT s.qid, c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', 'q.qv')}, 6) + 0) AS sim
FROM short s
JOIN cand c ON c.vec_id = s.vec_id
JOIN qs q ON q.qid = s.qid
QUALIFY row_number() OVER (PARTITION BY s.qid
                           ORDER BY sim DESC, c.vec_id) <= 10
ORDER BY s.qid, sim DESC, c.vec_id
"""


_IVFPQ_MANY_ORACLE = _ivfpq_many_oracle(_MANY_QIDS)


@register("search_index_many", oracle=_IVFPQ_MANY_ORACLE)
def search_index_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query serving from the persisted IVFPQ index —
    the high-QPS path: five queries in ONE plan.  The probed cells of
    every query union into a single literal partition filter, the
    pruned code scan runs once, per-query scoring follows the
    strategy switch (Q=5 > literal_max=4, so this row serves on the
    broadcast-data path — tables joined on probed cell, constant
    plan; the small-batch literal path is value-verified by the same
    oracle through r10's windows and by the equivalence pins),
    per-query shortlists come from a qid-partitioned
    WindowGroupLimit, and the exact re-rank joins the broadcast
    (qid, id) shortlist plus the broadcast query dim against the
    pruned raw vectors.  Per-query results are bit-identical to five
    separate search_index calls (pinned in tests/test_ivf_index.py);
    the oracle replays the full seed-IVFPQ composition per query with
    QUALIFY windows over a shared candidate set — exactly the batched
    plan's sharing structure."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(_MANY_QIDS))
             .select("vec_id", "embedding").collect()}
    path = _materialized_index(spark, sf_dir, trained=False)
    return ann_index.search_index_many(spark, path, qrows, k=10,
                                       nprobe=4, shortlist=50)


@register("search_index_many_large",
          oracle=_ivfpq_many_oracle(_MANY_QIDS_LARGE))
def search_index_many_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVFPQ serving on the LARGE-Q strategy — the
    constant-plan path search_index_many switches to above
    ``literal_max`` queries (forced here with literal_max=0 so the
    driver value-verifies it directly): the per-query ADC tables move
    from plan literals into a broadcast (qid, table) frame, a
    broadcast (qid, cell) probe frame replicates each code row to
    exactly the queries that probed its cell, and ONE shared
    element_at fold scores every pair — plan size, analysis time and
    codegen constant in Q, per-row work sum_q |rows in q's cells| (the
    same bytes Q single calls would touch).  Same doubles as the
    literal strategy by construction (identical table values, lookup
    indices and summation order — pinned in tests/test_ivf_index.py);
    the oracle is the seed-IVFPQ per-query replay at Q=8."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(_MANY_QIDS_LARGE))
             .select("vec_id", "embedding").collect()}
    path = _materialized_index(spark, sf_dir, trained=False)
    return ann_index.search_index_many(spark, path, qrows, k=10,
                                       nprobe=4, shortlist=50,
                                       literal_max=0)


_HYBRID_TERMS = {0: ["spark", "query", "dup"],
                 7: ["data", "join"],
                 13: ["the", "vector"]}


def _hybrid_many_oracle(doc_from: str = "documents",
                        vec_pred: str | None = None,
                        termsets: dict | None = None) -> str:
    """Batched-hybrid oracle: the seed-IVFPQ composition per qid
    (shared candidate CTEs, per-qid QUALIFY windows — the
    _IVFPQ_MANY_ORACLE construction at leg depth 50) for the vector
    leg, the scan-side BM25 per term set for the keyword leg (the
    index-served path is bit-identical, proven by the text rows), and
    reciprocal-rank fusion with per-qid QUALIFY top-10.

    *doc_from* / *vec_pred* render the FILTERED variant: the keyword
    leg scores over a document slice, the vector leg's candidate set
    is label-gated before ADC (pre-filter, exactly the serve path's
    semantics).  With the defaults both fragments render empty and the
    string is the unfiltered oracle, byte-identical to before.
    *termsets* overrides the qid -> terms map (the large-Q row)."""
    termsets = termsets or _HYBRID_TERMS
    qids = sorted(termsets)
    lbl_sel = "e.label, " if vec_pred else ""
    lbl_out = "label, " if vec_pred else ""
    cand_pred = f" AND ({vec_pred})" if vec_pred else ""
    kw_blocks = []
    for qid in qids:
        kw_blocks.append(f"""
SELECT CAST({qid} AS BIGINT) AS qid, doc_id,
       CAST(row_number() OVER (
         ORDER BY (round(bm25, 6) + 0) DESC, doc_id) AS INT) AS rank_kw
FROM ({retrieval_ops.duck_bm25(termsets[qid], _DUCK_TOKENS,
                               from_table=doc_from)})
QUALIFY row_number() OVER (
  ORDER BY (round(bm25, 6) + 0) DESC, doc_id) <= 50""")
    kwrank = "\nUNION ALL\n".join(kw_blocks)
    return f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(q) for q in qids)})
), cscored AS (
  SELECT e.vec_id, e.embedding, {lbl_sel}c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, {lbl_out}centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT q.qid, c.centroid_id AS cell
  FROM qs q CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY q.qid
    ORDER BY {V.duck_cosine('c.cvec', 'q.qv')} DESC, c.centroid_id) <= 4
), cand AS (
  SELECT * FROM celled
  WHERE cell IN (SELECT DISTINCT cell FROM probe){cand_pred}
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, c.cell, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, cell, j, cw FROM (
    SELECT ev.vec_id, ev.cell, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT q.qid, cb.j, cb.cw,
         (round({V.duck_dot('q.qv[(cb.j*8+1):(cb.j*8+8)]', 'cb.cv')}, 9)
          + 0) AS d
  FROM qs q CROSS JOIN cb
), adc AS (
  SELECT p.qid, a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a
  JOIN probe p ON p.cell = a.cell
  JOIN qtab t ON t.qid = p.qid AND t.j = a.j AND t.cw = a.cw
  GROUP BY p.qid, a.vec_id
), vshort AS (
  SELECT qid, vec_id FROM adc
  QUALIFY row_number() OVER (PARTITION BY qid
                             ORDER BY adc_sim DESC, vec_id) <= 50
), vrank AS (
  SELECT s.qid, c.vec_id AS doc_id,
         CAST(row_number() OVER (
           PARTITION BY s.qid
           ORDER BY (round({V.duck_cosine('c.embedding', 'q.qv')}, 6) + 0)
                      DESC, c.vec_id) AS INT) AS rank_vec
  FROM vshort s
  JOIN cand c ON c.vec_id = s.vec_id
  JOIN qs q ON q.qid = s.qid
), kwrank AS ({kwrank}
)
SELECT COALESCE(k.qid, v.qid) AS qid,
       COALESCE(k.doc_id, v.doc_id) AS doc_id,
       k.rank_kw, v.rank_vec,
       (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
            + COALESCE(1.0::DOUBLE / (60 + v.rank_vec), 0.0), 6) + 0)
         AS rrf
FROM kwrank k FULL JOIN vrank v
  ON k.qid = v.qid AND k.doc_id = v.doc_id
QUALIFY row_number() OVER (
  PARTITION BY COALESCE(k.qid, v.qid)
  ORDER BY (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
               + COALESCE(1.0::DOUBLE / (60 + v.rank_vec), 0.0), 6) + 0)
             DESC,
           COALESCE(k.doc_id, v.doc_id)) <= 10
ORDER BY 1, rrf DESC, 2
"""


@register("hybrid_serve_many", oracle=_hybrid_many_oracle())
def hybrid_serve_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched HYBRID serving — the serving tier's capstone over the
    two batched index serves: three (term-set, query-vector) pairs
    answered with ONE pruned postings read (search_inverted_index_many)
    and ONE pruned code + vector scan (search_index_many), each leg
    ranked by a qid-partitioned window over its 50-row-per-query
    output, fused by reciprocal-rank fusion over two (Q x 50)-row
    frames, per-qid top-10.  Q hybrid queries cost two index reads
    total; everything after the legs is bounded by Q x leg_k.  The
    oracle composes the proven per-leg constructions — scan-side BM25
    (the index-served path is bit-identical) and the shared-candidate
    seed-IVFPQ replay — and fuses them with the same 6dp-grid RRF."""
    emb = _t(spark, sf_dir, "embeddings")
    qids = sorted(_HYBRID_TERMS)
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin(qids))
          .select("vec_id", "embedding").collect()}
    queries = {qid: {"terms": _HYBRID_TERMS[qid], "qvec": qv[qid]}
               for qid in qids}
    tpath = _inverted_index(spark, sf_dir)
    apath = _materialized_index(spark, sf_dir, trained=False)
    return retrieval_ops.hybrid_serve_many(spark, tpath, apath, queries,
                                           leg_k=50, k=10, nprobe=4,
                                           shortlist=50)


_HYBRID_TERMS_LARGE = {0: ["spark", "query", "dup"],
                       7: ["data", "join"],
                       13: ["the", "vector"],
                       21: ["spark", "data"],
                       34: ["query", "join", "vector"],
                       55: ["the", "dup"]}


@register("hybrid_serve_many_large",
          oracle=_hybrid_many_oracle(termsets=_HYBRID_TERMS_LARGE))
def hybrid_serve_many_large(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Batched hybrid serving with BOTH legs on the LARGE-Q strategy
    (forced with literal_max=0): the keyword leg's term sets and the
    vector leg's ADC tables travel as broadcast DATA through
    constant-size plans, ranks fuse exactly as the literal-strategy
    row — fusion is strategy-agnostic because each leg's scores are
    bit-identical either way (pinned per leg in tests/).  Six queries
    so the driver value-verifies the strategy the serving tier
    actually uses at load (literal_max=4 default); the oracle is the
    same per-leg composition at Q=6."""
    emb = _t(spark, sf_dir, "embeddings")
    qids = sorted(_HYBRID_TERMS_LARGE)
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin(qids))
          .select("vec_id", "embedding").collect()}
    queries = {qid: {"terms": _HYBRID_TERMS_LARGE[qid], "qvec": qv[qid]}
               for qid in qids}
    tpath = _inverted_index(spark, sf_dir)
    apath = _materialized_index(spark, sf_dir, trained=False)
    return retrieval_ops.hybrid_serve_many(spark, tpath, apath, queries,
                                           leg_k=50, k=10, nprobe=4,
                                           shortlist=50, literal_max=0)


# Shared by ann_index_upsert and streaming_index_upsert: the final
# index state after folding the vec_id%10==3 batch into the base-built
# artifacts, replayed as one full-corpus assignment + encoding against
# the BASE-derived centroids/codebooks.  Batch-split invariance is the
# point: one upsert call or N micro-batches must land on the same rows.
_INDEX_UPSERT_ORACLE = f"""
WITH base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM base ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
cscored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
), cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50)
SELECT c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM cand c JOIN short s ON s.vec_id = c.vec_id
ORDER BY sim DESC, c.vec_id LIMIT 10
"""


@register("ann_index_upsert", oracle=_INDEX_UPSERT_ORACLE)
def ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance — the ANN side of the recurring
    crawl (pairs with dedup_incremental_new_docs): build the
    materialized index over 90% of the corpus, then fold the held-out
    10% in via ann_index.upsert_index — assignment against the
    PERSISTED centroids, encoding with the PERSISTED codebooks, merge
    rewriting only the cell partitions the batch maps into
    (O(batch + touched cells), never a rebuild).  The query vector IS
    a batch member (vec_id=3), so a green row proves post-upsert
    search finds the new vectors; the oracle replays assignment +
    encoding of the full corpus against the BASE-derived artifacts —
    exactly what build-then-upsert must equal.

    The base-corpus build is an offline scheduled job, so it runs once
    per fixture (cached, like _materialized_index); every invocation
    copies the immutable base artifact and folds the batch into the
    COPY — the upsert + post-upsert search are exercised fresh each
    run, the build is not re-paid."""
    import shutil

    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    path = _upsert_base_copy(spark, sf_dir)
    ann_index.upsert_index(spark, path, batch)
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    return ann_index.search_index(spark, path, qv,
                                  k=10, nprobe=4, shortlist=50)


def _upsert_base_path(spark: SparkSession, sf_dir: str) -> str:
    """The 90%-corpus base index (seed artifacts), built once per
    fixture and cached — the offline build job.  Read-only; callers
    that mutate take :func:`_upsert_base_copy`."""
    key = (sf_dir, "upsert_base")
    if key not in _ANN_INDEX_CACHE:
        base_path = os.path.join(tempfile.mkdtemp(prefix="annups_"),
                                 "index")
        base = (_t(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id") % 10 != 3))
        ann_index.build_index(spark, base, base_path,
                              nlist=16, m=8, ncodes=16)
        _ANN_INDEX_CACHE[key] = base_path
    return _ANN_INDEX_CACHE[key]


def _upsert_base_copy(spark: SparkSession, sf_dir: str) -> str:
    """A writable copy of the cached base index; each caller mutates
    its own copy, so the upsert rows stay independent."""
    import shutil

    base = _upsert_base_path(spark, sf_dir)
    path = os.path.join(tempfile.mkdtemp(prefix="annups_"), "index")
    shutil.copytree(base, path)
    return path


@register("streaming_index_upsert", oracle=_INDEX_UPSERT_ORACLE)
def streaming_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector ingestion into the materialized ANN index —
    the live form of ann_index_upsert: the new-vector batch arrives as
    a file stream (3 files, maxFilesPerTrigger=1, so THREE separate
    micro-batches), and foreachBatch folds each one into the persisted
    index via streaming_ops.stream_index_upsert.  Sharing
    ann_index_upsert's oracle proves batch-split invariance: N
    incremental micro-batch upserts land the index in exactly the
    state one bulk upsert (and the full-corpus replay) produces — the
    property that makes continuous vector ingest safe to retry and
    re-shard.  The in-stream maintenance policy runs OBSERVE-ONLY
    here (maintain_every=2, no thresholds armed): the decay signals
    are evaluated at ingest cadence through the same driver-checked
    row, and with no armed trigger the index state is bit-identical
    to plain streaming upsert.  The armed-threshold lifecycle
    (growth trips exactly one staged rebuild mid-stream) is pinned in
    tests/test_streaming_incremental.py."""
    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    path = _upsert_base_copy(spark, sf_dir)

    src = os.path.join(tempfile.mkdtemp(prefix="annstream_"), "incoming")
    batch.repartition(3).write.parquet(src)
    decisions = streaming_ops.stream_index_upsert(
        spark, path, src, batch.schema, maintain_every=2)
    assert all(not d["rebuilt"] for d in decisions)
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    return ann_index.search_index(spark, path, qv,
                                  k=10, nprobe=4, shortlist=50)


@register("ann_index_rebuild", oracle=_IVFPQ_SEED_ORACLE)
def ann_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance closes the lifecycle loop: build on 90% of
    the corpus, upsert the rest (centroids deliberately frozen — cell
    balance drifts, which ann_index_stats observes), then REBUILD the
    index from the store's own vectors — the scheduled job the decay
    signal triggers.  The oracle is ann_ivfpq_topk's fresh-build
    composition verbatim: after the rebuild, seed artifacts derive
    from the full corpus exactly as a from-scratch build would, so
    upsert-then-rebuild must converge bit-for-bit to the fresh-build
    state — drift is maintenance debt, never permanent error."""
    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    path = _upsert_base_copy(spark, sf_dir)
    ann_index.upsert_index(spark, path, batch)
    ann_index.rebuild_index(spark, path)
    return ann_index.search_index(spark, path,
                                  _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50)


def _full_index_copy(spark: SparkSession, sf_dir: str) -> str:
    """A writable copy of the cached FULL-corpus seed index (the
    _materialized_index artifact); mutating rows (erase, changefeed
    apply) each take their own copy so the cached build stays
    immutable."""
    import shutil

    base = _materialized_index(spark, sf_dir, trained=False)
    path = os.path.join(tempfile.mkdtemp(prefix="annerase_"), "index")
    shutil.copytree(base, path)
    return path


# Erasure replay: the index was BUILT on the full corpus (so centroids
# and PQ codebooks are full-corpus seed artifacts and do NOT move on
# erase — artifact movement is rebuild's job), then the vec_id%10==3
# slice was erased; serving sees only survivors under the unchanged
# layout.  The query vector is itself a victim's (vec_id=3): a green
# row proves an erased vector can no longer be returned even when the
# query is exactly that vector.
_INDEX_ERASE_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
surv AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3),
cscored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM surv e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
), cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50)
SELECT c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM cand c JOIN short s ON s.vec_id = c.vec_id
ORDER BY sim DESC, c.vec_id LIMIT 10
"""


@register("ann_index_erase", oracle=_INDEX_ERASE_ORACLE)
def ann_index_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure propagation into the materialized ANN index — the
    missing store verb's index twin (delete_keys erases the primary
    store; this erases the serving artifact, closing the GDPR loop
    without an O(corpus) rebuild): build the full-corpus index once
    (cached), delete the vec_id%10==3 key set via
    ann_index.delete_index_keys — victims' cells found by a
    column-pruned id scan, both cell-partitioned stores rewritten only
    in those cells through the staged-manifest commit — then query
    with an ERASED vector's own embedding.  The oracle replays the
    composition over survivors under the unchanged full-corpus
    artifacts: erased rows must be unreachable, surviving rows must
    score exactly as before."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _full_index_copy(spark, sf_dir)
    victims = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()
    touched = ann_index.delete_index_keys(spark, path, victims)
    assert touched, "erasure must touch at least one cell"
    return ann_index.search_index(spark, path,
                                  [float(x) for x in qrow[0]],
                                  k=10, nprobe=4, shortlist=50)


@register("streaming_index_erase", oracle=_INDEX_ERASE_ORACLE)
def streaming_index_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure requests arriving LIVE — the streaming twin of
    ann_index_erase, mirroring streaming_index_upsert on the forget
    side: the victim key set reaches the index as a file stream in
    THREE separate micro-batches (maxFilesPerTrigger=1), each folded
    by foreachBatch into delete_index_keys.  Sharing the batch row's
    oracle proves batch-split invariance for the GDPR verb: N partial
    erasures land the index in exactly the state one bulk erasure
    produces, so a deletion queue can be re-sharded and re-tried
    freely — the property that makes forget-on-stream deployable."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _full_index_copy(spark, sf_dir)
    victims = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()

    src = os.path.join(tempfile.mkdtemp(prefix="erasestream_"), "keys")
    victims.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(victims.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def forget(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        ann_index.delete_index_keys(bdf.sparkSession, path, bdf)

    ckpt = tempfile.mkdtemp(prefix="ckpt_erasestream_")
    streaming_ops._drive(
        stream.writeStream.foreachBatch(forget)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt).start())
    return ann_index.search_index(spark, path,
                                  [float(x) for x in qrow[0]],
                                  k=10, nprobe=4, shortlist=50)


@register("ann_index_stats_trained", oracle=f"""
WITH cent AS (
  SELECT centroid_id, centroid_vec AS cvec
  FROM read_parquet('{_TRAINED_STORE_LINK}/centroids/*.parquet')
  WHERE {_TRAINED_LINK_GUARD}
), cscored AS (
  SELECT e.vec_id, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
)
SELECT cell, count(*) AS n_vectors, count(*) AS n_codes
FROM celled GROUP BY cell ORDER BY cell
""")
def ann_index_stats_trained(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """ann_index_stats over the TRAINED store, full-oracle via the r12
    artifact replay: DuckDB re-derives every vector's cell from the
    PERSISTED trained centroids and the counts must equal what the
    physical cell directories hold — the layout-equals-assignment
    invariant for the index the deployment actually serves (the seed
    twin pins the same invariant for the spec artifacts).  Cost: two
    count-per-partition scans, no vector bytes."""
    path = _materialized_index(spark, sf_dir, trained=True)
    _publish_store_link("trained_index", path)
    v = (spark.read.parquet(os.path.join(path, "vectors"))
         .groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors")))
    c = (spark.read.parquet(os.path.join(path, "codes"))
         .groupBy("cell").agg(F.count(F.lit(1)).alias("n_codes")))
    return (v.join(c, "cell", "full")
            .select(F.col("cell").cast("long").alias("cell"),
                    "n_vectors", "n_codes")
            .orderBy("cell"))


@register("ann_index_stats", oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), cscored AS (
  SELECT e.vec_id, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
)
SELECT cell, count(*) AS n_vectors, count(*) AS n_codes
FROM celled GROUP BY cell ORDER BY cell
""")
def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index observability: per-cell occupancy of BOTH persisted stores
    (raw vectors and PQ codes) read straight off the cell-partitioned
    layout — the cell-balance signal that schedules a centroid retrain
    (upsert_index deliberately never moves centroids; decay shows up
    here first) and the stores-agree invariant (n_vectors == n_codes
    per cell, or an upsert half-applied).  The oracle replays the seed
    assignment, so a green row also proves the physical directory
    layout holds exactly the rows the layout function assigns.  Cost:
    two metadata-light scans of count(*) per partition — no vector
    bytes read."""
    path = _materialized_index(spark, sf_dir, trained=False)
    v = (spark.read.parquet(os.path.join(path, "vectors"))
         .groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors")))
    c = (spark.read.parquet(os.path.join(path, "codes"))
         .groupBy("cell").agg(F.count(F.lit(1)).alias("n_codes")))
    return (v.join(c, "cell", "full")
            .select(F.col("cell").cast("long").alias("cell"),
                    "n_vectors", "n_codes")
            .orderBy("cell"))


_RANGE_STORE_CACHE: dict[str, str] = {}
_DAY_PARTITIONED_CACHE: dict[str, str] = {}


@register("partitioned_time_scan", oracle="""
SELECT event_id, user_id, event_type, ts
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-13 00:00:00'
""")
def partitioned_time_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style date partitioning — the third physical layout next
    to Z-order clustering and bucketing: events written
    partitionBy(day), then a 3-day range query FROM THE PARTITIONED
    COPY.  The day predicate binds to the partition column, so
    Catalyst plans it as PartitionFilters — directories outside the
    window are never even LISTED, the dominant economics of every
    time-series corpus at 100 TB (a day of a year-long table is
    ~0.3% of the files).  The residual ts range finishes exactness
    inside the kept days; the oracle is the same query on the raw
    table, proving the partitioned rewrite is lossless.  Write once
    per fixture (cached), query many."""
    if sf_dir not in _DAY_PARTITIONED_CACHE:
        out = os.path.join(tempfile.mkdtemp(prefix="daypart_"), "events")
        ev = _t(spark, sf_dir, "events")
        (ev.withColumn("day", F.to_date("ts"))
         .repartition("day")
         .write.partitionBy("day").parquet(out))
        _DAY_PARTITIONED_CACHE[sf_dir] = out
    part = spark.read.parquet(_DAY_PARTITIONED_CACHE[sf_dir])
    lo, hi = "2024-01-10", "2024-01-13"
    return (part
            .filter((F.col("day") >= F.lit(lo).cast("date"))
                    & (F.col("day") < F.lit(hi).cast("date")))
            .filter((F.col("ts") >= F.lit(f"{lo} 00:00:00").cast("timestamp"))
                    & (F.col("ts") < F.lit(f"{hi} 00:00:00").cast("timestamp")))
            .select("event_id", "user_id", "event_type", "ts"))


@register("store_bucket_stats", oracle="""
SELECT CAST(floor(event_id / 4096) AS INT) AS bucket,
       count(*) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS min_key,
       CAST(max(event_id) AS BIGINT) AS max_key
FROM events GROUP BY 1 ORDER BY 1
""")
def store_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store observability: physical occupancy of the range-layout
    upsert store, read off the _bkt partition directories themselves.
    The oracle recomputes the layout function (key div 4096) from the
    raw table, so a green row proves every key physically lives in the
    directory the layout function maps it to — the invariant ALL
    directory-pruned operations (incremental upsert, delete_keys,
    watermark reads) silently rely on.  min/max per bucket double as
    the contiguity evidence behind the range layout's O(batch/width)
    touched-directory bound."""
    if sf_dir not in _RANGE_STORE_CACHE:
        store = os.path.join(tempfile.mkdtemp(prefix="rangestore_"),
                             "store")
        ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
        sinks.upsert_parquet(spark, ev, store, key="event_id",
                             order_col="ts", layout="range")
        _RANGE_STORE_CACHE[sf_dir] = store
    raw = spark.read.parquet(_RANGE_STORE_CACHE[sf_dir])
    return (raw.groupBy(F.col(sinks.BUCKET_COL).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("event_id").alias("min_key"),
                 F.max("event_id").alias("max_key"))
            .orderBy("bucket"))


_SIM_JOIN_IVF_SQL = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM scored) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
         (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) AS sim
  FROM assigned a JOIN assigned b ON a.cell = b.cell
  WHERE a.vec_id <> b.vec_id
)
SELECT id_a, id_b, cell, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY sim DESC, id_b) AS rn
  FROM pairs) WHERE rn <= 3
"""


@register("sim_join_ivf", oracle=_SIM_JOIN_IVF_SQL)
def sim_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity JOIN, both sides large: every vector's top-3 cosine
    neighbors within its IVF cell — blocked co-location instead of the
    broadcast the query-set KNN uses.  One shuffle on the cell key; the
    quadratic work never leaves a cell.  max_cell turns on the exact
    grid-salting skew guard (output identical — the oracle above is the
    unsalted join)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    # max_cell bounds the hottest reducer at ~max_cell*cell pairs; the
    # cost is replicating side A ceil(cell/max_cell) times, so the cap
    # is set well above the EXPECTED cell size (corpus/nlist) and only
    # bites outlier cells.
    return sim_ops.similarity_join_topk(assigned, "cell", k=3,
                                        max_cell=512)


_SIM_JOIN_IVF_P2_SQL = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM scored) WHERE rn <= 2
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         min(a.cell) AS cell,
         max((round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0))
           AS sim
  FROM assigned a JOIN assigned b ON a.cell = b.cell
  WHERE a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, cell, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY sim DESC, id_b) AS rn
  FROM pairs) WHERE rn <= 3
"""


@register("sim_join_ivf_p2", oracle=_SIM_JOIN_IVF_P2_SQL)
def sim_join_ivf_p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cell similarity join: every vector assigned to its TWO
    nearest cells (ivf.assign_cells_multi), pairs meeting in any shared
    cell, deduped before ranking.  Fixes the p=1 recall gap — a pair of
    near-dups straddling a cell boundary is never compared by
    sim_join_ivf; with p=2 they meet whenever either's second cell is
    the other's first (pair-recall delta measured in
    tools/scaling_check.py).  Runs the GEMM kernel — p=2 quadruples
    within-cell pair volume, exactly when BLAS beats the interpreted
    dot (~2.5x here); the expression form is equality-pinned in
    tests/test_skew_guards.py and shares this oracle (reorder drift
    ~1e-15, 9 orders inside the 6dp grid)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells_multi(emb, cent, nprobe=2)
    return sim_ops.similarity_join_topk_pandas(assigned, "cell", k=3,
                                               dedup_pairs=True)


@register("sim_join_ivf_pandas", oracle=_SIM_JOIN_IVF_SQL)
def sim_join_ivf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same similarity join with the within-cell kernel as ONE
    BLAS matrix multiply per cell (applyInPandas) instead of an
    interpreted higher-order dot per pair — ~10x at sf0.1, and the
    right physical kernel when cells hold thousands of rows.  Same
    oracle as sim_join_ivf: GEMM reorders float accumulation, but the
    ~1e-15 drift sits ~9 orders of magnitude inside the 6dp rounding
    grid."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    return sim_ops.similarity_join_topk_pandas(assigned, "cell", k=3)


@register("topk_quantized_int8", oracle=f"""
WITH q AS (
  SELECT {V.duck_dequantize_int8('embedding')} AS qv
  FROM embeddings WHERE vec_id = 0
), dq AS (
  SELECT vec_id, {V.duck_dequantize_int8('embedding')} AS dvec
  FROM embeddings
)
SELECT d.vec_id,
       (round({V.duck_cosine('d.dvec', 'q.qv')}, 6) + 0) AS sim
FROM dq d, q
ORDER BY sim DESC, d.vec_id LIMIT 30
""")
def topk_quantized_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship top-k over int8-quantized vectors: per-vector
    symmetric quantize/dequantize fused into the scoring expression, so
    the accuracy of the 4x-smaller storage path is value-checked
    end-to-end against the oracle doing identical arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    dq = emb.select("vec_id", V.dequantize_int8("embedding").alias("dvec"))
    qrow = (dq.filter(F.col("vec_id") == 0)
            .select(F.col("dvec").alias("qv")))
    sim = V.cosine(F.col("dvec"), F.col("qv"))
    return (dq.crossJoin(F.broadcast(qrow))
            .withColumn("sim", F.round(sim, 6) + F.lit(0.0))
            .orderBy(F.col("sim").desc(), F.col("vec_id"))
            .limit(30)
            .select("vec_id", "sim"))


@register("dedup_components", oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
walk(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
)
SELECT id, min(comp) AS component FROM walk GROUP BY id
""")
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash+LSH candidate-pair graph:
    the clustering stage that turns near-dup PAIRS into dedup DECISIONS
    (component id = smallest reachable doc id = the canonical doc to
    keep).  Alternating large-star/small-star contraction (Kiveris
    SoCC'14): rounds bounded by log^2(component size), not graph
    diameter, so chain-shaped dup graphs converge too; the oracle is
    DuckDB's recursive CTE over the same pair set.  Min-label
    propagation remains available as connected_components()."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.dedup_minhash_lsh(docs, num_hashes=8, bands=4,
                                        shingle_n=3, max_block=32)
    return dedup_ops.connected_components_star(pairs)


@register("dedup_keep_canonical", oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
walk(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
),
cc AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE id <> component)
""")
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline materialized end-to-end: LSH candidate pairs
    (grid-salted band join — the eighth review aligned this row with
    its guarded siblings; pair set identical, hypothesis-pinned) ->
    connected components -> DROP every non-canonical member (keep the
    smallest id per component) via an anti join against the drop
    list.  NO broadcast hint on the drop list (eighth review): its
    size is O(duplicate documents) — corpus-proportional at a real
    crawl's dup rate, not dimension-bounded — so the planner must be
    free to pick a shuffle anti join at scale (at fixture scale AQE
    still broadcasts it under the threshold, same physical plan)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.dedup_minhash_lsh(docs, num_hashes=8, bands=4,
                                        shingle_n=3, max_block=32)
    comp = dedup_ops.connected_components_star(pairs)
    drops = comp.filter(F.col("id") != F.col("component")).select("id")
    return (docs.join(drops, docs["doc_id"] == drops["id"], "left_anti")
            .select("doc_id", "source"))


@register("dedup_repeated_chunks", oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 10 = 0
), toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM corpus
), sized AS (
  SELECT doc_id, toks,
         CAST(ceil(len(toks) / 16.0) AS INT) AS n FROM toks
), chunks AS (
  SELECT doc_id,
         unnest(range(n)) AS pos,
         unnest([array_to_string(toks[i * 16 + 1 : i * 16 + 16], ' ')
                 FOR i IN range(n)]) AS chunk
  FROM sized WHERE n > 0
), counted AS (
  SELECT doc_id, pos, chunk,
         count(*) OVER (PARTITION BY chunk) AS cnt
  FROM chunks
)
SELECT doc_id, count(*) AS kept_chunks,
       string_agg(chunk, ' ' ORDER BY pos) AS clean_text
FROM counted WHERE cnt <= 1
GROUP BY doc_id
""")
def dedup_repeated_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup (CCNet/Dolma paragraph stage on token
    windows): 16-token chunks repeated anywhere in the corpus are
    dropped and docs reassembled from survivors.  Every 10th doc is
    re-injected verbatim, so BOTH copies lose all their chunks and
    vanish — the exact-boilerplate kill the stage exists for."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (docs.filter(F.col("doc_id") % 10 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000))
    return dedup_ops.dedup_repeated_chunks(docs.unionByName(dups),
                                           chunk_tokens=16,
                                           max_occurrences=1)


@register("dedup_unaligned_substring", oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'zshift' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
  FROM documents WHERE doc_id % 10 = 0
), toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM corpus
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), wins AS (
  SELECT doc_id,
         unnest(range(1, greatest(n - 15, 1) + 1)) AS wpos,
         unnest([(('0x' || substr(md5(
                    array_to_string(t[p : p + 15], ' ')), 1, 12))::BIGINT)
                 FOR p IN range(1, greatest(n - 15, 1) + 1)]) AS whash
  FROM sized
), cnt AS (SELECT whash, count(*) AS c FROM wins GROUP BY 1),
cov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT w.doc_id, unnest(range(w.wpos, w.wpos + 16)) AS pos
    FROM wins w JOIN cnt USING (whash) WHERE cnt.c > 1)
), tokpos AS (
  SELECT doc_id, unnest(range(1, n + 1)) AS pos, unnest(t) AS token
  FROM sized
)
SELECT tp.doc_id, count(*) AS kept_tokens,
       string_agg(tp.token, ' ' ORDER BY tp.pos) AS clean_text
FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
WHERE cov.pos IS NULL
GROUP BY tp.doc_id
""")
def dedup_unaligned_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unaligned repeated-substring dedup (VERDICT r12 item 1 — the
    coverage hole in the chunk-grid stage): every 10th doc is
    re-injected SHIFTED BY ONE TOKEN (a unique 'zshiftN' prefix), so
    none of its copied 16-token chunks land on dedup_repeated_chunks'
    fixed grid — that operator keeps both copies whole — while the
    overlapping-window operator (dedup.dedup_unaligned_substring)
    matches every shared window at its shifted offset: the original
    vanishes entirely and the copy keeps exactly its one novel prefix
    token.  tests/test_dedup_units.py pins the gap this row closes
    (the shifted duplicate IS caught here, is NOT caught by the
    grid)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                    F.concat(F.lit("zshift"),
                             F.col("doc_id").cast("string"), F.lit(" "),
                             F.col("text")).alias("text")))
    return dedup_ops.dedup_unaligned_substring(docs.unionByName(dups),
                                               window_tokens=16,
                                               max_occurrences=1)


@register("text_novelty_score", oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'zshift' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
  FROM documents WHERE doc_id % 10 = 0
), toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM corpus
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), wins AS (
  SELECT doc_id,
         unnest([(('0x' || substr(md5(
                    array_to_string(t[p : p + 15], ' ')), 1, 12))::BIGINT)
                 FOR p IN range(1, greatest(n - 15, 1) + 1)]) AS whash
  FROM sized
), cnt AS (SELECT whash, count(*) AS c FROM wins GROUP BY 1)
SELECT w.doc_id, count(*) AS n_windows,
       CAST(sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_windows,
       (round(1.0 - sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 6) + 0) AS novelty
FROM wins w JOIN cnt USING (whash)
GROUP BY w.doc_id
""")
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (dedup.substring_novelty): fraction of a
    doc's overlapping 16-token window hashes unique in the corpus —
    the quality-GATE rendering of unaligned substring dedup (score
    and threshold/weight first, destructive-rewrite only when
    needed).  Same one-token-shifted injections as the dedup row: the
    originals and copies read novelty ~0 (only the copies' one novel
    prefix window differs), untouched docs read 1.0."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                    F.concat(F.lit("zshift"),
                             F.col("doc_id").cast("string"), F.lit(" "),
                             F.col("text")).alias("text")))
    return dedup_ops.substring_novelty(docs.unionByName(dups),
                                       window_tokens=16)


@register("curate_by_novelty", oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'zshift' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
  FROM documents WHERE doc_id % 10 = 0
), toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM corpus
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
), wins AS (
  SELECT doc_id,
         unnest([(('0x' || substr(md5(
                    array_to_string(t[p : p + 15], ' ')), 1, 12))::BIGINT)
                 FOR p IN range(1, greatest(n - 15, 1) + 1)]) AS whash
  FROM sized
), cnt AS (SELECT whash, count(*) AS c FROM wins GROUP BY 1),
nov AS (
  SELECT w.doc_id,
         (round(1.0 - sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 6) + 0) AS novelty
  FROM wins w JOIN cnt USING (whash)
  GROUP BY w.doc_id
)
SELECT c.doc_id, n.novelty,
       CAST(length(c.text) AS BIGINT) AS n_chars
FROM corpus c JOIN nov n USING (doc_id)
WHERE n.novelty >= 0.5
""")
def curate_by_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty-GATED curation (VERDICT r13 item 4's pipeline half):
    score every doc with dedup.substring_novelty, keep docs whose
    overlapping-window novelty clears 0.5 — the non-destructive
    curation stage that scores first and rewrites never (weight or
    drop by the score; Lee et al. 2022 shape as a quality gate).
    Same one-token-shifted injections as text_novelty_score: both
    members of every shifted pair read ~0 novelty and are dropped;
    untouched docs read 1.0 and survive with their payload intact.
    Plan = the novelty scorer (one explode, one count-over-window on
    the uniform hash key, one per-doc aggregate) plus ONE doc-keyed
    equi-join back to the corpus — nothing corpus-quadratic; the gate
    prunes before any downstream (training) stage sees the rows."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                    F.concat(F.lit("zshift"),
                             F.col("doc_id").cast("string"), F.lit(" "),
                             F.col("text")).alias("text")))
    corpus = docs.unionByName(dups)
    nov = dedup_ops.substring_novelty(corpus, window_tokens=16)
    return (corpus.join(nov.filter(F.col("novelty") >= 0.5)
                        .select("doc_id", "novelty"), "doc_id")
            .select("doc_id", "novelty",
                    F.length("text").cast("long").alias("n_chars")))


@register("pipeline_clean_corpus", oracle=f"""
WITH RECURSIVE kept AS (
  SELECT doc_id, text, n_chars
  FROM (SELECT doc_id, text, n_chars, {_DUCK_TOKENS} AS toks
        FROM documents) t
  WHERE {_DUCK_STOP_RATIO} >= 0.08
    AND (round(
          0.5 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
        + 0.5 * least({_DUCK_STOP_RATIO} * 5.0, 1.0)
        - 0.25 * least({_DUCK_PUNCT_RATIO} * 5.0, 1.0), 6) + 0) >= 0.3
), exact AS (
  SELECT doc_id, text, n_chars FROM (
    SELECT doc_id, text, n_chars,
           row_number() OVER (
             PARTITION BY md5(array_to_string({_DUCK_TOKENS}, ' '))
             ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1
), sh AS (
  SELECT doc_id, {_duck_shingles(3)} AS sh
  FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM exact) t
), hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> {_DUCK_HASH48.format(x='s')}) AS hs
  FROM sh
), sig AS (
  SELECT doc_id, {_duck_minhash(8)} AS sig FROM hashed
), banded AS (
  SELECT doc_id,
         unnest(range(4)) AS band_idx,
         unnest([
           CAST(sig[1] AS VARCHAR) || '_' || CAST(sig[2] AS VARCHAR),
           CAST(sig[3] AS VARCHAR) || '_' || CAST(sig[4] AS VARCHAR),
           CAST(sig[5] AS VARCHAR) || '_' || CAST(sig[6] AS VARCHAR),
           CAST(sig[7] AS VARCHAR) || '_' || CAST(sig[8] AS VARCHAR)
         ]) AS band_hash
  FROM sig
), edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id <> b.doc_id
), walk AS (
  SELECT DISTINCT src AS id, src AS comp FROM edges
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
), cc AS (
  SELECT id, min(comp) AS component FROM walk GROUP BY id
)
SELECT doc_id, n_chars FROM exact
WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> component)
""")
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline end-to-end: language gate -> quality
    gate -> exact dedup (keep smallest id per fingerprint) -> near-dup
    dedup (LSH candidates, star connected components, keep canonical) —
    one composed DataFrame plan.

    Scale shape per stage: the two gates are Column predicates riding
    the scan (no shuffle); exact dedup is one window on the uniform
    fingerprint; LSH is the guarded band join; components is the
    log^2-round star contraction; the final drop is a broadcast anti
    join, so the corpus is never shuffled after dedup decisions are
    made."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    kept = (docs
            .filter(analysis.lang_id(F.col("text")) == "en")
            .filter(analysis.quality_score(F.col("text")) >= 0.3))
    w = W.partitionBy(analysis.fingerprint_md5("text")).orderBy("doc_id")
    exact = (kept.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
    pairs = dedup_ops.dedup_minhash_lsh(exact, num_hashes=8, bands=4,
                                        shingle_n=3, max_block=32)
    comp = dedup_ops.connected_components_star(pairs)
    drops = comp.filter(F.col("id") != F.col("component")).select("id")
    # no broadcast hint: the drop list is O(duplicates), corpus-
    # proportional at a real dup rate (eighth review) — AQE still
    # broadcasts it at fixture scale, shuffles it at 100 TB
    return (exact.join(drops, exact["doc_id"] == drops["id"],
                       "left_anti")
            .select("doc_id", "n_chars"))


@register("stratified_sample", oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} % 100 <
      (CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 80 ELSE 100 END)
""")
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified downsampling — the data-mixing primitive of
    a training pipeline (downweight the dominant language, keep the
    rest).  Deterministic id-hash buckets, not rand(): reproducible
    across runs and retries, and the whole thing is a narrow filter on
    the scan — no shuffle at any scale."""
    docs = _t(spark, sf_dir, "documents")
    rate = (F.when(F.col("lang") == "en", F.lit(40))
            .when(F.col("lang") == "zh", F.lit(80))
            .otherwise(F.lit(100)))
    return (docs.filter(analysis.stratified_keep(F.col("doc_id"), rate))
            .select("doc_id", "lang"))


@register("text_tfidf_topterms", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         (round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) + 0)
           AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rn
  FROM scored) WHERE rn <= 3
""")
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF: per-document top-3 terms scored against
    corpus-wide document frequencies — the two-pass shape (global stats
    joined back to per-doc counts) that keyword extraction, quality
    weighting and weighted MinHash all build on.

    Scale: the DF table is vocabulary-sized, so it does NOT broadcast —
    the term join co-partitions both sides on the (uniform) term key,
    then one more shuffle re-keys by doc for the windowed top-k.  At
    100 TB prune the vocabulary first (df > 1 cutoff drops the hapax
    half) and the per-doc aggregate is map-side partial."""
    docs = _t(spark, sf_dir, "documents")
    tok = readers.widen(docs).select(
        "doc_id", F.explode(analysis.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n))
              .withColumn(
                  "tfidf",
                  rnd(F.col("tf") * F.log(F.col("n_docs").cast("double")
                                          / F.col("df")), 6)))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                             F.col("term"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("doc_id", "term", "tfidf"))


@register("text_unigram_logprob", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
), cnt AS (
  SELECT term, count(*) AS c FROM tok GROUP BY 1
), tot AS (SELECT count(*) AS n FROM tok)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       (round(avg(-ln(CAST(c.c AS DOUBLE) / tot.n)), 6) + 0)
         AS avg_neg_logprob
FROM tok t JOIN cnt c USING (term), tot
GROUP BY t.doc_id
""")
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality gate (the CCNet/Gopher filter shape):
    score every document by the average negative log-probability of
    its tokens under the corpus's own unigram model.  High scores =
    improbable token streams (gibberish, boilerplate soup) — the rows
    a training pipeline drops or down-weights.

    Same two-pass scale shape as TF-IDF: the unigram table is
    vocabulary-sized so it does NOT broadcast — the term join
    co-partitions on the uniform token key; the total-count scalar IS
    broadcast (one row); the per-doc average is map-side partial.  At
    100 TB the model table comes from a held-out reference corpus
    instead of the corpus itself — the plan is identical."""
    docs = _t(spark, sf_dir, "documents")
    tok = readers.widen(docs).select(
        "doc_id", F.explode(analysis.tokens(F.col("text"))).alias("term"))
    cnt = tok.groupBy("term").agg(F.count("*").alias("c"))
    tot = tok.agg(F.count("*").alias("n"))
    return (tok.join(cnt, "term")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_toks"),
                 rnd(F.avg(-F.log(F.col("c").cast("double")
                                  / F.col("n"))), 6)
                 .alias("avg_neg_logprob")))


@register("dsir_importance_sample", oracle=f"""
WITH tok AS (
  SELECT doc_id, (source IN ('src1', 'src3')) AS tgt,
         unnest({_DUCK_TOKENS}) AS term
  FROM documents
), ca AS (SELECT term, count(*) AS c_all FROM tok GROUP BY 1),
ct AS (SELECT term, count(*) AS c_t FROM tok WHERE tgt GROUP BY 1),
vv AS (SELECT count(*) AS v, sum(c_all) AS n_all FROM ca),
tt AS (SELECT count(*) AS n_t FROM tok WHERE tgt),
r AS (
  SELECT ca.term,
         (ln(CAST(coalesce(ct.c_t, 0) + 1 AS DOUBLE) / (tt.n_t + vv.v))
          - ln(CAST(ca.c_all + 1 AS DOUBLE) / (vv.n_all + vv.v))) AS lr
  FROM ca LEFT JOIN ct USING (term), vv, tt
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       (round(avg(r.lr), 6) + 0) AS avg_log_ratio
FROM tok t JOIN r USING (term) WHERE NOT t.tgt
GROUP BY t.doc_id
ORDER BY avg_log_ratio DESC, doc_id LIMIT 100
""")
def dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): rank candidate documents
    by the mean per-token log importance ratio between a target-slice
    unigram model (source in src1/src3 — the held-out quality proxy)
    and the raw-corpus model, add-one smoothed over the shared vocab.
    The keep-the-target-lookalikes primitive a pretraining pipeline
    runs after dedup and before packing.  Scale notes in
    corpus.dsir_importance: vocabulary-sized count tables co-partition
    on the token key (never broadcast), the two scalar totals do
    broadcast, per-doc means are map-side partial, top-k is
    TakeOrderedAndProject."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.dsir_importance(
        docs, F.col("source").isin("src1", "src3"))


@register("dsir_hashed_bigram", oracle=f"""
WITH lt AS (
  SELECT doc_id, (source IN ('src1', 'src3')) AS tgt,
         {_DUCK_TOKENS} AS t
  FROM documents
), tok AS (
  SELECT doc_id, tgt,
         ((('0x' || substr(md5(f), 1, 12))::BIGINT) % 4096) AS b
  FROM (
    SELECT doc_id, tgt,
           unnest(list_concat(
             t, [t[i + 1] || ' ' || t[i + 2]
                 FOR i IN range(len(t) - 1)])) AS f
    FROM lt)
), ca AS (SELECT b, count(*) AS c_all FROM tok GROUP BY 1),
ct AS (SELECT b, count(*) AS c_t FROM tok WHERE tgt GROUP BY 1),
na AS (SELECT sum(c_all) AS n_all FROM ca),
nt AS (SELECT count(*) AS n_t FROM tok WHERE tgt),
r AS (
  SELECT ca.b,
         (ln(CAST(coalesce(ct.c_t, 0) + 1 AS DOUBLE) / (nt.n_t + 4096))
          - ln(CAST(ca.c_all + 1 AS DOUBLE) / (na.n_all + 4096))) AS lr
  FROM ca LEFT JOIN ct USING (b), na, nt
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       (round(avg(r.lr), 6) + 0) AS avg_log_ratio
FROM tok t JOIN r USING (b) WHERE NOT t.tgt
GROUP BY t.doc_id
ORDER BY avg_log_ratio DESC, doc_id LIMIT 100
""")
def dsir_hashed_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR as Xie et al. 2023 actually ship it (section 3, hashed
    n-gram features): unigrams + bigrams hashed into 4096 buckets,
    same importance-ratio estimator as dsir_importance_sample over the
    bucket counts — the model is 4096 rows by construction, so at
    100 TB the count tables are bounded regardless of vocabulary and
    the bigram features add word-order signal (VERDICT r11 item 5).
    Same target slice (source src1/src3) so the two estimators'
    rankings are directly comparable."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.dsir_hashed_ngrams(
        docs, F.col("source").isin("src1", "src3"))


@register("streaming_budget_admit", oracle=f"""
WITH b(source, budget) AS (VALUES ('src0', 500), ('src1', 120), ('src10', 500), ('src11', 500), ('src12', 500), ('src13', 500), ('src14', 500), ('src15', 500), ('src16', 500), ('src17', 500), ('src18', 500), ('src19', 500), ('src2', 500), ('src3', 80), ('src4', 500), ('src5', 500), ('src6', 500), ('src7', 500), ('src8', 500), ('src9', 500)),
d AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM d
)
SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
FROM c JOIN b USING (source)
WHERE c.cum_tokens <= b.budget
""")
def streaming_budget_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-budget gate as a STREAMING stateful operator
    (streaming.stateful_budget_admit): documents arrive, each source
    admits until its budget fills, then closes for the rest of the
    stream — state is (consumed, closed) per source, bounded by the
    source count forever.  Arrival order here is doc_id order (one
    AvailableNow micro-batch over the static fixture, kernel-sorted),
    so the oracle is the plain window cumsum over the same order with
    the same budgets — the batch twin (mix_token_budget) differs only
    in using the reshuffle-stable HASH admit order."""
    from .streaming import stream as stream_ops

    return stream_ops.run_stateful_budget_admit(
        spark, sf_dir, _MIX_BUDGETS,
        query_name=f"budget_admit_{abs(hash(sf_dir)) % 10**6}")


_MIX_BUDGETS = {f"src{i}": 500 for i in range(20)}
_MIX_BUDGETS["src1"] = 120   # small budgets exercise the admit
_MIX_BUDGETS["src3"] = 80    # boundary even at the sf0.001 fixture


@register("mix_token_budget", oracle=f"""
WITH b(source, budget) AS (VALUES ('src0', 500), ('src1', 120), ('src10', 500), ('src11', 500), ('src12', 500), ('src13', 500), ('src14', 500), ('src15', 500), ('src16', 500), ('src17', 500), ('src18', 500), ('src19', 500), ('src2', 500), ('src3', 80), ('src4', 500), ('src5', 500), ('src6', 500), ('src7', 500), ('src8', 500), ('src9', 500)),
d AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           AS n_tokens,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT)
           AS h
  FROM documents
), c AS (
  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM d
)
SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
FROM c JOIN b USING (source)
WHERE c.cum_tokens <= b.budget
""")
def mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing to per-source token budgets (the curriculum /
    mixture-weights primitive): admit each source's documents in the
    deterministic 48-bit-hash order until the source's budget fills.
    Implemented as a DISTRIBUTED PREFIX SUM (corpus.mix_token_budget):
    the hash order is cut into range buckets, (source, bucket) windows
    run in parallel, and the dimension-bounded bucket offsets are
    broadcast back — no per-source serialized window, because at
    100 TB the sources ARE the hot keys.  The oracle replays the total
    as one plain window cumsum over the same order, value-verifying
    the parallel decomposition."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.mix_token_budget(docs, _MIX_BUDGETS)


_TEMP_MIX_DIR = _trained_dir("mix_temperature_budget")


@register("mix_temperature_budget", oracle=f"""
WITH b AS (
  SELECT source, budget
  FROM read_parquet('{_TEMP_MIX_DIR}/budgets/*.parquet')
  WHERE {_fp_guard("mix_temperature_budget", "documents")}
), d AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           AS n_tokens,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT)
           AS h
  FROM documents
), c AS (
  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM d
)
SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
FROM c JOIN b USING (source)
WHERE c.cum_tokens <= b.budget
""")
def mix_temperature_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixed sampling (the T5/multilingual data-mixing
    trick): per-source budgets PROPORTIONAL TO n_s^alpha with
    alpha = 0.5 — upweights small sources relative to their raw share
    — derived from the corpus's own per-source token totals
    (dimension-bounded driver collect: one row per source), then
    admitted by the same distributed-prefix-sum operator as
    mix_token_budget.  Global budget = 40% of corpus tokens.

    The derived budgets are PUBLISHED to the canonical artifact dir
    and the oracle replays the admit FROM them (the trained-ANN
    technique): sqrt/sum arithmetic is driver-side floats whose exact
    doubles a SQL dialect need not reproduce, but the admit given the
    budgets is exact.  The derivation itself is pinned in
    tests/test_corpus_audits.py (weights proportional to sqrt(n_s),
    floor rounding, sum(budgets) <= global budget)."""
    import math as _math

    docs = readers.widen(_t(spark, sf_dir, "documents"))
    toks = analysis.whitespace_token_count(F.col("text")).cast("long")
    totals = {r["source"]: int(r["n"]) for r in
              docs.select("source", toks.alias("n_tokens"))
              .groupBy("source").agg(F.sum("n_tokens").alias("n"))
              .collect()}
    corpus_total = sum(totals.values())
    global_budget = corpus_total * 2 // 5
    sum_w = sum(_math.sqrt(n) for _, n in sorted(totals.items()))
    budgets = {src: int(global_budget * _math.sqrt(n) / sum_w)
               for src, n in sorted(totals.items())}
    _publish_frame(
        "mix_temperature_budget",
        spark.createDataFrame(sorted(budgets.items()),
                              "source string, budget long"),
        "budgets")
    _publish_fingerprint(spark, sf_dir, "mix_temperature_budget", "documents")
    return corpus_ops.mix_token_budget(docs, budgets)


@register("text_bigram_perplexity", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
), cu AS (SELECT term, count(*) AS c_u FROM tok GROUP BY 1),
nt AS (SELECT count(*) AS n FROM tok),
lt AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
big AS (
  SELECT doc_id, p['u'] AS u, p['w'] AS w FROM (
    SELECT doc_id,
           unnest([{{'u': t[i + 1], 'w': t[i + 2]}}
                   FOR i IN range(len(t) - 1)]) AS p
    FROM lt)
), cuw AS (SELECT u, w, count(*) AS c_uw FROM big GROUP BY 1, 2),
sc AS (
  SELECT b.doc_id,
         -ln({0.7!r} * CAST(cuw.c_uw AS DOUBLE) / cu1.c_u
             + {1.0 - 0.7!r} * CAST(cu2.c_u AS DOUBLE) / nt.n) AS nll
  FROM big b
  JOIN cuw ON cuw.u = b.u AND cuw.w = b.w
  JOIN cu cu1 ON cu1.term = b.u
  JOIN cu cu2 ON cu2.term = b.w, nt
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       (round(avg(nll), 6) + 0) AS avg_neg_ll
FROM sc GROUP BY doc_id
ORDER BY avg_neg_ll DESC, doc_id LIMIT 100
""")
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity gate (corpus.bigram_perplexity
    — the word-order-aware upgrade over text_unigram_logprob): mean
    -ln(lam * c(u,w)/c(u) + (1-lam) * c(w)/N) per document, counts
    from the corpus itself.  Count tables co-partition on their token
    keys (vocabulary-sized — never broadcast), the scalar total
    broadcasts, per-doc means map-side partial, top-k is
    TakeOrderedAndProject.  The scoring join input is pre-aggregated
    to per-doc distinct bigrams and the mean weighted by their counts
    (r12 item 3 — strictly less shuffle volume); the oracle stays the
    naive per-occurrence mean, value-verifying the weighted
    decomposition against the definition."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.bigram_perplexity(docs, lam=0.7)


@register("span_corruption", oracle=f"""
WITH lt AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
), base AS (SELECT doc_id, t, len(t) AS n FROM lt),
built AS (
  SELECT doc_id, n,
    flatten([CASE
       WHEN p = (((p - 1) // 20) * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST((p - 1) // 20 AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1)
         THEN ['<extra_id_' || CAST((p - 1) // 20 AS VARCHAR) || '>']
       WHEN p > (((p - 1) // 20) * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST((p - 1) // 20 AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) AND p <= (((p - 1) // 20) * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST((p - 1) // 20 AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) + 2
         THEN []
       ELSE [t[p]] END
      FOR p IN range(1, n + 1)]) AS inp,
    flatten([['<extra_id_' || CAST(b AS VARCHAR) || '>']
              || t[(b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) : least((b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) + 2, n)]
             FOR b IN range(CAST(ceil(n / 20.0) AS INT))
             IF (b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) <= n]) AS tgt,
    coalesce(list_sum([least(3, n - (b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) + 1)
             FOR b IN range(CAST(ceil(n / 20.0) AS INT))
             IF (b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) <= n]), 0) AS n_masked
  FROM base
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(n_masked AS BIGINT) AS n_masked,
       coalesce(array_to_string(inp, ' '), '') AS input_text,
       coalesce(array_to_string(tgt, ' '), '') AS target_text
FROM built
""")
def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span corruption as a deterministic transform
    (corpus.span_corruption_pairs): one 3-token span masked per
    20-token block (the paper's ~15% rate), sentinel-in / sentinel+
    span-out pair layout, span starts drawn from the shared 48-bit
    hash of (doc_id, block) so pairs are reproducible from identity
    alone.  Block-local spans make the transform a per-position O(1)
    codegen expression — no sequential scan — and the oracle rebuilds
    both strings token-for-token."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.span_corruption_pairs(docs)


@register("decontaminate_ngram", oracle=f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct({_duck_shingles(3)})) AS sh FROM toks
), ev AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
), tr AS (
  SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0
)
SELECT tr.doc_id, count(DISTINCT tr.sh) AS n_shared
FROM tr JOIN ev ON tr.sh = ev.sh
GROUP BY tr.doc_id
""")
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one 3-gram shingle with the held-out eval set (here the
    deterministic doc_id%50 slice stands in for a benchmark suite).

    Scale shape: in a REAL deployment the eval shingle set is
    benchmark-sized (a few eval suites, tiny next to a 100 TB corpus)
    and broadcasts.  This row's stand-in eval set is a 2% CORPUS
    SLICE — corpus-proportional, a different scale class — so the
    broadcast is left to the PLANNER (eighth review: a forced hint
    here would bypass the threshold and OOM at scale on the stand-in;
    AQE broadcasts it at fixture scale, producing the documented
    map-side plan, and a production caller with a true
    benchmark-sized eval set may force the hint safely)."""
    docs = _t(spark, sf_dir, "documents")
    sh = readers.widen(docs).select(
        "doc_id",
        F.explode(F.array_distinct(
            dedup_ops.shingles(F.col("text"), 3))).alias("sh"))
    ev = (sh.filter(F.col("doc_id") % 50 == 0)
          .select("sh").distinct())
    tr = sh.filter(F.col("doc_id") % 50 != 0)
    return (tr.join(ev, "sh")
            .groupBy("doc_id")
            .agg(F.countDistinct("sh").alias("n_shared")))


@register("shard_assignment", oracle=f"""
WITH h AS (
  SELECT doc_id,
         {analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
)
SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard,
       row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
FROM h
""")
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled training-shard assignment: every document lands in one
    of 8 shards by id hash, ordered pseudo-randomly (hash order) within
    its shard — reproducible global shuffle without a rand() in sight.
    The write path this models is ``repartition(shard)`` +
    ``sortWithinPartitions(h)``: one shuffle with uniform keys, each
    shard written by exactly one task in shuffled order."""
    docs = _t(spark, sf_dir, "documents")
    h = analysis.token_hash(F.col("doc_id").cast("string"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (docs.select("doc_id", h.alias("h"),
                        (h % 8).cast("long").alias("shard"))
            .withColumn("pos", F.row_number().over(w))
            .select("doc_id", "shard", "pos"))


_PACK_INPUT_SQL = f"""
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           AS BIGINT) AS n_tok,
         CAST({analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} % 16
           AS BIGINT) AS shard
  FROM documents
"""


def _pack_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        analysis.whitespace_token_count(F.col("text")).cast("long")
        .alias("n_tok"),
        (analysis.token_hash(F.col("doc_id").cast("string")) % 16)
        .cast("long").alias("shard"))


@register("pack_sequences_budget", oracle=f"""
WITH t AS ({_PACK_INPUT_SQL})
SELECT doc_id, shard, n_tok,
       CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tok) / 512.0) AS BIGINT) AS pack_id
FROM t
""")
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, scan-riding form: concatenate each shard's
    documents (hash-sharded, id-ordered) into 512-token training
    sequences via pack_id = floor(exclusive-prefix-tokens / budget) —
    a pure partitioned-window cumsum, one shard-key shuffle, no
    Python.  A document may straddle a pack boundary (GPT-style
    stream packing slices the token stream anyway); pack_greedy is
    the never-split twin.  The reference serves search, not training
    batches — this is the extension surface's dataloader leg."""
    return packing_ops.pack_sequential(
        _pack_input(spark, sf_dir), 512, "shard", "doc_id", "n_tok")


@register("pack_fill_stats", oracle=f"""
WITH RECURSIVE t AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM ({_PACK_INPUT_SQL})
), rec AS (
  SELECT shard, rn, doc_id, n_tok, n_tok AS run,
         CAST(0 AS BIGINT) AS pack_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tok,
         CASE WHEN rec.run + t.n_tok > 512 AND rec.run > 0 THEN t.n_tok
              ELSE rec.run + t.n_tok END,
         CASE WHEN rec.run + t.n_tok > 512 AND rec.run > 0
              THEN rec.pack_id + 1 ELSE rec.pack_id END
  FROM rec JOIN t ON t.shard = rec.shard AND t.rn = rec.rn + 1
)
SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens
FROM rec GROUP BY shard, pack_id
""")
def pack_fill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the greedy packs: docs and token
    fill per pack — the number a dataloader publishes (padding waste =
    1 - pack_tokens/budget).  One extra keyed aggregation on the
    (shard, pack_id) grain riding the packing pass's shard exchange."""
    packed = packing_ops.pack_greedy(
        _pack_input(spark, sf_dir), 512, "shard", "doc_id", "n_tok")
    return packing_ops.pack_stats(packed, "shard", "n_tok")


@register("pipeline_training_batches", oracle=f"""
WITH RECURSIVE wts AS (
  SELECT source,
         (round(least(1.0, 150.0 / (round(avg(n_chars), 2) + 0)), 6) + 0)
           AS keep_frac
  FROM documents GROUP BY source
), sampled AS (
  SELECT d.doc_id,
         CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(d.text), '\\s+')) END
           AS BIGINT) AS n_tok,
         CAST({analysis.duck_token_hash("CAST(d.doc_id AS VARCHAR)")} % 16
           AS BIGINT) AS shard
  FROM documents d JOIN wts w ON d.source = w.source
  WHERE {analysis.duck_token_hash("CAST(d.doc_id AS VARCHAR)")} % 1000000
        < CAST(floor(w.keep_frac * 1000000) AS BIGINT)
), t AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM sampled
), rec AS (
  SELECT shard, rn, doc_id, n_tok, n_tok AS run,
         CAST(0 AS BIGINT) AS pack_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tok,
         CASE WHEN rec.run + t.n_tok > 512 AND rec.run > 0 THEN t.n_tok
              ELSE rec.run + t.n_tok END,
         CASE WHEN rec.run + t.n_tok > 512 AND rec.run > 0
              THEN rec.pack_id + 1 ELSE rec.pack_id END
  FROM rec JOIN t ON t.shard = rec.shard AND t.rn = rec.rn + 1
)
SELECT doc_id, n_tok, shard, pack_id FROM rec
""")
def pipeline_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataloader path end-to-end: corpus mixture re-weighting
    (per-source keep fractions, stable hash admission) feeding greedy
    sequence packing (never-split, 512-token budget) per shard — raw
    corpus in, training batches out, every stage deterministic and the
    whole composition value-checked by one nested-CTE oracle.  Plan:
    one dimension-sized stats aggregate broadcast back, a scan-riding
    hash filter, one shard-key exchange shared by the packing pass —
    at 100 TB nothing in the chain shuffles more than once."""
    docs = _t(spark, sf_dir, "documents")
    wts = (docs.groupBy("source")
           .agg(rnd(F.avg("n_chars"), 2).alias("avg_chars"))
           .select("source",
                   rnd(F.least(F.lit(1.0), F.lit(150.0)
                               / F.col("avg_chars")), 6)
                   .alias("keep_frac")))
    h = analysis.token_hash(F.col("doc_id").cast("string")) % 1000000
    sampled = (docs.join(F.broadcast(wts), "source")
               .filter(h < F.floor(F.col("keep_frac") * 1000000).cast("long"))
               .select(
                   "doc_id",
                   analysis.whitespace_token_count(F.col("text"))
                   .cast("long").alias("n_tok"),
                   (analysis.token_hash(F.col("doc_id").cast("string"))
                    % 16).cast("long").alias("shard")))
    return packing_ops.pack_greedy(sampled, 512, "shard", "doc_id",
                                   "n_tok")


@register("pack_sequences_greedy", oracle=f"""
WITH RECURSIVE t AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM ({_PACK_INPUT_SQL})
), rec AS (
  SELECT shard, rn, doc_id, n_tok, n_tok AS run,
         CAST(0 AS BIGINT) AS pack_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tok,
         CASE WHEN rec.run + t.n_tok > 512 AND rec.run > 0 THEN t.n_tok
              ELSE rec.run + t.n_tok END,
         CASE WHEN rec.run + t.n_tok > 512 AND rec.run > 0
              THEN rec.pack_id + 1 ELSE rec.pack_id END
  FROM rec JOIN t ON t.shard = rec.shard AND t.rn = rec.rn + 1
)
SELECT doc_id, n_tok, shard, pack_id FROM rec
""")
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, exact dataloader semantics: documents never
    split; a new 512-token pack starts when the next document would
    overflow (oversized documents pack alone).  The reset recurrence
    is order-sequential per shard, so it runs as ONE applyInPandas
    pass per shard — the shard is the parallel grain, O(1) state per
    task.  The DuckDB oracle replays the same recurrence as a
    recursive CTE, so the driver value-checks a genuinely stateful
    non-window computation end-to-end."""
    return packing_ops.pack_greedy(
        _pack_input(spark, sf_dir), 512, "shard", "doc_id", "n_tok")


@register("text_pii_scrub", oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' Contact u' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://ex.com/d/' || CAST(doc_id AS VARCHAR)
              || ' ref ' || CAST(10000000 + doc_id AS VARCHAR) AS text
  FROM documents
), scrubbed AS (
  SELECT doc_id, {analysis.duck_pii_scrub('text')} AS clean FROM seeded
)
SELECT doc_id, clean,
       CAST((length(clean) - length(replace(clean, '<PII>', '')))
            / {len(analysis.PII_TOKEN)} AS BIGINT) AS n_redactions
FROM scrubbed
""")
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, URLs, long digit runs -> a placeholder) —
    narrow regexp_replace chain in the scan stage.  Deterministic PII is
    seeded into every document (the fixture corpus has none) so the
    regexes are genuinely exercised; n_redactions counts placeholder
    occurrences."""
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" Contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://ex.com/d/"),
            F.col("doc_id").cast("string"), F.lit(" ref "),
            (F.lit(10000000) + F.col("doc_id")).cast("string"),
        ).alias("text"))
    clean = analysis.pii_scrub(F.col("text"))
    return seeded.select(
        "doc_id",
        clean.alias("clean"),
    ).withColumn(
        "n_redactions",
        ((F.length("clean")
          - F.length(F.regexp_replace("clean", analysis.PII_TOKEN, "")))
         / len(analysis.PII_TOKEN)).cast("long"))


# =========================================================================
# Embedding UDF (SURVEY 2.I I1/I2) and multimodal plumbing — the model
# itself is not SQL-expressible, so these are rows-only checks except
# where the output is model-free (multimodal metadata).
# =========================================================================

@register("udf_embed_batch")
def udf_embed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1 ``udf_embed_batch``: Arrow-batched pandas-UDF embedding of the
    documents table (deterministic fake encoder; rows-only check).
    Output is the model-free part: id, dimension, unit norm.
    Reference: src/core/embeddings/processor.py:174-324."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = embed.with_embeddings(readers.widen(docs), text_col="text")
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        rnd(V.norm("embedding"), 3).alias("norm"))


@register("udf_embed_query")
def udf_embed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 ``udf_embed_query`` + the full search path: embed one query
    string driver-side, broadcast it as a literal, cosine top-k against
    the stored corpus (rows-only: the query vector is model output).
    Reference: embeddings/processor.py:461-529."""
    qv = embed.embed_query_vector("test message")
    emb = _t(spark, sf_dir, "embeddings")
    # Scalar projection only: the driver's pandas canonicalizer cannot
    # hash array cells, and the embedding column is knn_search
    # passthrough baggage — (vec_id, sim) IS the search answer.
    return sim_ops.knn_search(emb, qv, k=10, threshold=-1.0).select(
        "vec_id", "sim")


@register("multimodal_features", oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       octet_length(encode(text)) AS n_bytes
FROM documents
""")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary payload column ->
    mapInPandas feature extraction (byte histograms standing in for
    codec+CNN) -> typed metadata.  The oracle checks the model-free
    metadata columns; the feature vectors are covered by unit tests."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(readers.widen(media))
    return feats.select("media_id", "media_type", "n_bytes")


@register("multimodal_dedup_bytes", oracle="""
WITH media AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS media_id, text
  FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(text) AS payload_md5, min(media_id) AS media_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM media GROUP BY payload_md5
""")
def multimodal_dedup_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact multimodal dedup: group opaque binary payloads by
    content hash (md5 computed JVM-side on the binary column — no
    decode, no Python), canonical = smallest id.  Every 7th payload is
    re-injected under a new id and must collapse onto its original.
    The first pass of any multimodal pipeline: at 100 TB the hash
    rides the scan and the only shuffle carries (16-byte digest, id)
    pairs, never payload bytes — identical shape to dedup_exact but on
    raw media bytes instead of normalized text.  (Spark hashes the
    BINARY column; DuckDB's md5 is VARCHAR-only, so the oracle hashes
    the text whose UTF-8 encoding IS that byte stream.)"""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.encode("text", "UTF-8").alias("payload"))
    dups = (docs.filter(F.col("doc_id") % 7 == 0)
            .select((F.col("doc_id") + 500000).alias("media_id"),
                    F.encode("text", "UTF-8").alias("payload")))
    return (media.unionByName(dups)
            .groupBy(F.md5("payload").alias("payload_md5"))
            .agg(F.min("media_id").alias("media_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def _media_with_truncated_dups(docs: DataFrame) -> DataFrame:
    """Shared media-fixture construction for the two multimodal dedup
    rows (r14 seventh review: previously duplicated verbatim): every
    9th payload re-injected truncated to 80% of its bytes — the
    stand-in for a re-encode.

    ORACLE-MODEL NOTE: payloads are UTF-8 encodings of
    ``documents.text``, and these rows' DuckDB oracles window the TEXT
    by CHARACTERS while the engine windows the payload BYTES — equal
    exactly when the text is single-byte (pure ASCII), which every
    fixture is (asserted by tests/test_oracle_model_boundaries.py);
    multibyte text is off-model for the ORACLES (this DuckDB build has
    no blob substring/md5 to express byte windows), never for the
    engine, whose byte windows are the real media semantics."""
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.encode("text", "UTF-8").alias("payload"))
    dups = (docs.filter(F.col("doc_id") % 9 == 0)
            .select((F.col("doc_id") + 500000).alias("media_id"),
                    F.encode(F.expr(
                        "substring(text, 1, "
                        "cast(floor(length(text) * 0.8) as int))"),
                        "UTF-8").alias("payload")))
    return media.unionByName(dups)


@register("multimodal_dedup_near", oracle=f"""
WITH media AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS media_id,
         substring(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
  FROM documents WHERE doc_id % 9 = 0
), wins AS (
  SELECT media_id, substring(text, CAST(i*4+1 AS INT), 8) AS win
  FROM media, LATERAL unnest(range((length(text) - 8) // 4 + 1)) t(i)
  WHERE length(text) >= 8
  UNION ALL
  SELECT media_id, text AS win FROM media
  WHERE length(text) > 0 AND length(text) < 8
), hashed AS (
  SELECT media_id, {analysis.duck_token_hash('win')} AS h FROM wins
), votes AS (
  SELECT media_id, b.bit,
         sum(CASE WHEN (h >> CAST(b.bit AS INT)) % 2 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(32)) AS bit) b
  GROUP BY media_id, b.bit
), fp AS (
  SELECT m.media_id,
         CAST(coalesce(sum(CASE WHEN v.v > 0
                           THEN CAST(1 AS BIGINT) << CAST(v.bit AS INT)
                           END), 0) AS BIGINT) AS fp
  FROM media m LEFT JOIN votes v ON v.media_id = m.media_id
  GROUP BY m.media_id
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.media_id < b.media_id
WHERE bit_count(xor(a.fp, b.fp)) <= 4
""")
def multimodal_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup multimodal dedup — the perceptual twin of
    multimodal_dedup_bytes (which only catches byte-identical copies):
    every 9th payload is re-injected TRUNCATED to 80% of its bytes
    (the fixture's stand-in for a re-encode), fingerprinted with the
    32-bit strided-window SimHash (multimodal.perceptual_simhash), and
    paired at hamming distance <= 4 through the same bit-slice
    blocking as text SimHash (dedup.hamming_pairs — 5 slices, never
    all-pairs).  The oracle computes the identical fingerprint in SQL
    (md5-prefix window hashes + integer votes) and verifies the pair
    list ALL-PAIRS — proving the pigeonhole blocking loses nothing.
    Plan: narrow fingerprint map riding the scan, one exchange on the
    (block_idx, block_val) key; corrupted copies land within the
    distance budget while unrelated payloads sit ~bits/2 apart."""
    docs = _t(spark, sf_dir, "documents")
    fps = multimodal.perceptual_simhash(
        readers.widen(_media_with_truncated_dups(docs)),
        bits=32, window=8, stride=4)
    pairs = dedup_ops.hamming_pairs(fps, id_col="media_id",
                                    fp_col="fp", bits=32,
                                    max_distance=4)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


@register("multimodal_frame_dedup", oracle="""
WITH media AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS media_id,
         substring(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
  FROM documents WHERE doc_id % 9 = 0
), frames AS (
  SELECT media_id,
         md5(substring(text, CAST(i*64+1 AS INT), 64)) AS fh
  FROM media, LATERAL unnest(
    range(0, greatest(1, CAST(ceil(length(text) / 64.0) AS INT)), 2)
  ) t(i)
), f AS (SELECT DISTINCT media_id, fh FROM frames)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared_frames
FROM f a JOIN f b ON a.fh = b.fh AND a.media_id < b.media_id
GROUP BY 1, 2
""")
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip detection — the content-ID shape: videos sharing ANY
    near-identical frame pair up through an inverted index on
    per-frame fingerprints (here md5 of the stubbed 64-byte frame
    slice; a deployment swaps in a perceptual frame hash and keeps
    the plan).  The whole-payload SimHash (multimodal_dedup_near)
    misses partial reuse — a clip embedded in a longer video moves
    most payload windows — while the frame index finds it from one
    surviving frame.  Plan: frame fan-out is a narrow mapInPandas
    (rows out > rows in, no shuffle), then ONE equi-join on the frame
    hash — candidates are only frame-hash collisions, never
    all-pairs, exactly the MinHash-band economics at video scale.
    Every 9th payload re-injected truncated to 80%: the copy shares
    its surviving full frames with the original, unrelated videos
    share none."""
    docs = _t(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(
        readers.widen(_media_with_truncated_dups(docs)),
        frame_size=64, stride=2)
    f = (frames.select("media_id", F.md5("frame_payload").alias("fh"))
         .distinct())
    a = f.select(F.col("media_id").alias("id_a"),
                 F.col("fh").alias("fh_a"))
    b = f.select(F.col("media_id").alias("id_b"),
                 F.col("fh").alias("fh_b"))
    return (a.join(b, (F.col("fh_a") == F.col("fh_b"))
                   & (F.col("id_a") < F.col("id_b")))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_frames")))


@register("multimodal_resize", oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CASE WHEN doc_id % 3 = 0 THEN 64 ELSE CAST(NULL AS INTEGER) END AS width,
       CASE WHEN doc_id % 3 = 0 THEN 64 ELSE CAST(NULL AS INTEGER) END AS height,
       CASE WHEN doc_id % 3 = 0 THEN 4096
            ELSE octet_length(encode(text)) END AS n_bytes
FROM documents
""")
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage plumbing: image rows resampled to 64x64 (stubbed
    codec, true byte-count contract payload==W*H), other modalities
    pass through.  The oracle checks the full metadata surface; payload
    bytes are pinned by unit tests."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    resized = multimodal.resize_images(readers.widen(media), 64, 64)
    return resized.select(
        "media_id", "media_type", "width", "height",
        F.length("payload").cast("long").alias("n_bytes"))


@register("multimodal_frame_sample", oracle="""
WITH media AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS L
  FROM documents WHERE doc_id % 3 = 2
), f AS (
  SELECT media_id, L,
         greatest(1, CAST(ceil(L / 256.0) AS BIGINT)) AS n_frames
  FROM media
)
SELECT media_id,
       CAST(unnest(range(0, n_frames, 2)) AS INTEGER) AS frame_idx,
       least(256, L - CAST(unnest(range(0, n_frames, 2)) AS BIGINT) * 256)
         AS frame_bytes,
       n_frames
FROM f
""")
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: every video payload explodes to every
    2nd 256-byte frame (stubbed demux, metadata-faithful) — the
    UDTF-shaped mapInPandas a video pipeline runs before per-frame
    embedding.  Oracle checks the whole fan-out metadata (frame index
    set, per-frame sizes, frame counts)."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs).filter(
        F.col("media_type") == "video")
    frames = multimodal.sample_frames(readers.widen(media),
                                      frame_size=256, stride=2)
    return frames.select("media_id", "frame_idx", "frame_bytes", "n_frames")


@register("search_topk_enriched", oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         (round({V.duck_cosine('e.embedding', 'qv')}, 6) + 0) AS sim
  FROM embeddings e, q
), topk AS (
  SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 30
)
SELECT t.vec_id, t.sim, (round(t.sim, 3) + 0) AS similarity_score,
       n.n_name AS label_name
FROM topk t JOIN nation n ON t.label = n.n_nationkey
""")
def search_topk_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 3.1 read path composed: brute-force cosine top-k, then
    broadcast dimension enrichment ON THE K ROWS (the reference re-ran
    correlated lookups per result, embeddings/processor.py:532-617) and
    the reference's 3-dp display rounding (engine.py:203)."""
    emb = _t(spark, sf_dir, "embeddings")
    topk = sim_ops.knn_search(emb, _query_vec(spark, sf_dir), k=30,
                              threshold=-1.0)
    dim = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("label"),
        F.col("n_name").alias("label_name"))
    return (topk.join(F.broadcast(dim), "label")
            .select("vec_id", "sim",
                    (F.round(F.col("sim"), 3) + F.lit(0.0))
                    .alias("similarity_score"),
                    "label_name"))


@register("udtf_explode_users", oracle="""
SELECT c_custkey AS user_id, trim(c_name) AS user_name FROM customer
""")
def udtf_explode_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDTF-shaped surface (SURVEY 2.I): struct/array -> JSON text
    at the storage boundary (C9, to_json), then the read side's LIKE
    pre-filter -> from_json -> explode of the member array (reference:
    src/core/database/user_mapper.py:95-137).  The oracle checks the
    round trip preserved the full (uid, name) relation."""
    cust = _t(spark, sf_dir, "customer")
    grouped = (cust.groupBy("c_nationkey")
               .agg(F.sort_array(F.collect_list(F.struct(
                   F.col("c_custkey").alias("uid"),
                   F.col("c_name").alias("n")))).alias("u")))
    json_msgs = grouped.select(F.to_json(F.struct(
        F.concat(F.lit("Group "), F.col("c_nationkey").cast("string"))
         .alias("n"),
        F.col("u"))).alias("c"))
    return dims_ops.users_from_group_info(json_msgs, "c")


@register("train_test_split", oracle=f"""
SELECT doc_id,
       CASE WHEN {analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} % 100 < 80
            THEN 'train' ELSE 'test' END AS split
FROM documents
""")
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/test assignment by hashing the stable
    id — reproducible across runs/retries (a rand() split is neither),
    and shuffle-free: the split is a narrow projection, so downstream
    per-split writes partition by this column."""
    docs = _t(spark, sf_dir, "documents")
    bucket = analysis.token_hash(F.col("doc_id").cast("string")) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train")).otherwise(F.lit("test"))
         .alias("split"))


@register("corpus_weighted_sample", oracle=f"""
WITH stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         (round(avg(n_chars), 2) + 0) AS avg_chars
  FROM documents GROUP BY source
), wts AS (
  SELECT source, n_docs,
         (round(least(1.0, 150.0 / avg_chars), 6) + 0) AS keep_frac
  FROM stats
)
SELECT d.doc_id, d.source, w.keep_frac
FROM documents d JOIN wts w ON d.source = w.source
WHERE {analysis.duck_token_hash("CAST(d.doc_id AS VARCHAR)")} % 1000000
      < CAST(floor(w.keep_frac * 1000000) AS BIGINT)
""")
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture re-weighting — the sampling step that turns raw
    source proportions into a training mixture: per-source statistics
    (one aggregation; here a quality proxy — shorter-doc sources keep
    more) become per-source keep fractions, and a document survives
    iff its STABLE id-hash falls under its source's threshold.  Two
    stages only: a dimension-sized stats aggregate broadcast back, and
    a scan-riding hash filter — no rand() (reproducible across runs
    and retries, the property a resumable 100 TB pipeline needs), no
    per-source shuffles, and the realized sample converges to
    keep_frac per source by hash uniformity."""
    docs = _t(spark, sf_dir, "documents")
    wts = (docs.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                rnd(F.avg("n_chars"), 2).alias("avg_chars"))
           .select("source",
                   rnd(F.least(F.lit(1.0), F.lit(150.0)
                               / F.col("avg_chars")), 6)
                   .alias("keep_frac")))
    h = analysis.token_hash(F.col("doc_id").cast("string")) % 1000000
    return (docs.join(F.broadcast(wts), "source")
            .filter(h < F.floor(F.col("keep_frac") * 1000000).cast("long"))
            .select("doc_id", "source", "keep_frac"))


@register("zscore_by_group", oracle="""
WITH stats AS (
  SELECT event_type,
         (round(avg(value), 6) + 0) AS mu,
         (round(stddev_samp(value), 6) + 0) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       (round((e.value - s.mu) / s.sigma, 4) + 0) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE s.sigma > 0
""")
def zscore_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise feature normalization (z-score within event_type):
    the two-pass broadcast form — moments from ONE partial-aggregated
    pass over the scan (never a per-row window: an unbounded
    avg/stddev window would re-shuffle the fact table and serialize
    hot groups), joined back as a dimension-sized build side so the
    normalization itself rides the scan.  Moments are grid-rounded
    before the division so both engines divide identical doubles."""
    events = _t(spark, sf_dir, "events")
    stats = (events.groupBy("event_type")
             .agg(rnd(F.avg("value"), 6).alias("mu"),
                  rnd(F.stddev_samp("value"), 6).alias("sigma")))
    return (events.join(F.broadcast(stats), "event_type")
            .filter(F.col("sigma") > 0)
            .select("event_id", "event_type",
                    rnd((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
                    .alias("z")))


@register("text_chunking", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(len(toks) / 32.0) AS BIGINT))) AS chunk_idx,
         toks
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, chunk_idx,
       array_to_string(toks[chunk_idx * 32 + 1 : (chunk_idx + 1) * 32], ' ')
         AS chunk_text,
       least(32, len(toks) - chunk_idx * 32) AS n_tokens
FROM chunks
""")
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: split each document into <=32-token
    chunks with a stable chunk index — the pre-tokenization chunker of
    a training pipeline.  One narrow pass: bind tokens once, transform
    over chunk indices, posexplode; no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    size = 32

    def build(toks):
        n_chunks = F.ceil(F.size(toks) / F.lit(float(size))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                F.concat_ws(" ", F.slice(toks, i * size + 1, size))
                 .alias("chunk_text"),
                F.least(F.lit(size), F.size(toks) - i * size)
                 .alias("n_tokens")))

    chunks = analysis.bind_once(analysis.tokens(F.col("text")), build)
    return (docs.filter(F.size(analysis.tokens(F.col("text"))) > 0)
            .select("doc_id", F.posexplode(chunks)
                    .alias("chunk_idx", "chunk"))
            .select("doc_id", F.col("chunk_idx").cast("long"),
                    F.col("chunk.chunk_text").alias("chunk_text"),
                    F.col("chunk.n_tokens").cast("long").alias("n_tokens")))


@register("text_repetition", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       (round(CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END,
              6) + 0) AS distinct_ratio
FROM t
""")
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal: distinct-token ratio (low values =
    boilerplate/spam, a standard pretraining filter)."""
    docs = _t(spark, sf_dir, "documents")
    ratio = analysis.bind_once(
        analysis.tokens(F.col("text")),
        lambda toks: F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)))
    return docs.select("doc_id", (F.round(ratio, 6) + F.lit(0.0))
                       .alias("distinct_ratio"))


@register("topk_prenormalized", oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qn AS (SELECT list_transform(qv, x -> CAST(x AS DOUBLE)
                / sqrt(list_dot_product(list_transform(qv, y -> CAST(y AS DOUBLE)),
                                        list_transform(qv, y -> CAST(y AS DOUBLE)))))
         AS qv FROM q),
norm_corpus AS (
  SELECT vec_id,
         CASE WHEN {V.duck_norm('embedding')} = 0.0
              THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)
                     / {V.duck_norm('embedding')}) END AS nvec
  FROM embeddings
)
SELECT vec_id,
       (round(list_dot_product(nvec, qv), 6) + 0) AS sim
FROM norm_corpus, qn
ORDER BY sim DESC, vec_id LIMIT 30
""")
def topk_prenormalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-time pre-normalization design (SURVEY 4a): store
    l2-normalized vectors once, and query-time cosine degenerates to a
    single dot product — no per-row norm at all, ~3x less arithmetic on
    the 100 TB scan side.  Matches plain cosine top-k up to rounding."""
    emb = _t(spark, sf_dir, "embeddings")
    normed = emb.select("vec_id", V.l2_normalize("embedding").alias("nvec"))
    qv = _query_vec(spark, sf_dir)
    import math
    qn = math.sqrt(sum(x * x for x in qv)) or 1.0
    qlit = F.array(*[F.lit(float(x) / qn) for x in qv])
    return (normed
            .select("vec_id",
                    (F.round(V.dot(F.col("nvec"), qlit), 6) + F.lit(0.0))
                    .alias("sim"))
            .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            .limit(30))


@register("group_centroids_pandas", oracle="""
SELECT label, count(*) AS n, CAST(idx - 1 AS INTEGER) AS dim_idx,
       (round(avg(CAST(embedding[idx] AS DOUBLE)), 6) + 0) AS value
FROM embeddings, range(1, 65) t(idx)
GROUP BY label, idx
""")
def group_centroids_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Arrow surface (applyInPandas): per-label embedding
    centroids computed with vectorized NumPy per group — the plan shape
    of per-cluster model fitting at scale (one shuffle on the group
    key, then pure Arrow batches).  The centroid array is exploded to
    (label, n, dim_idx, value) rows so the driver's pandas
    canonicalizer (which cannot hash list cells) can sort/hash the
    result.  Oracle: per-dimension averages via a range cross join."""
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings")

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        # sequential fold + half-away grid (r14 review; the rocchio
        # centroid precedent): np.mean's pairwise summation and
        # np.round's half-to-even both differ from DuckDB's
        # sequential avg + half-away round on tie-class values
        acc = np.zeros(mat.shape[1], dtype=np.float64)
        for row in mat:
            acc = acc + row
        c = sim_ops._np_round6(acc / float(len(mat))) + 0.0
        return pd.DataFrame({"label": [pdf["label"].iloc[0]],
                             "n": [len(pdf)],
                             "centroid": [c.tolist()]})

    grouped = emb.groupBy("label").applyInPandas(
        centroid, "label int, n bigint, centroid array<double>")
    return grouped.select(
        "label", "n",
        F.posexplode("centroid").alias("dim_idx", "value"))


@register("event_value_percentiles", oracle="""
SELECT event_type,
       (round(quantile_cont(value, 0.5), 6) + 0) AS p50,
       (round(quantile_cont(value, 0.9), 6) + 0) AS p90,
       (round(quantile_cont(value, 0.99), 6) + 0) AS p99
FROM events GROUP BY event_type
""")
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact percentiles (interpolated) — the stats surface the
    reference lacks entirely.  At 100 TB the exact sort-based percentile
    gives way to approx_percentile (t-digest sketch, one pass,
    mergeable); the plan shape is the same single keyed shuffle."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        rnd(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        rnd(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        rnd(F.expr("percentile(value, 0.99)"), 6).alias("p99"))


# =========================================================================
# Time-series / relational operators beyond the reference (brief-named
# custom ops: as-of join, range join, rollup)
# =========================================================================

@register("asof_join_events", oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
), ranked AS (
  SELECT c.event_id, c.user_id, c.ts,
         v.value AS asof_value, v.ts AS asof_ts,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM clicks c LEFT JOIN views v
    ON v.user_id = c.user_id AND v.ts <= c.ts
)
SELECT event_id, user_id, ts, asof_value, asof_ts
FROM ranked WHERE rn = 1
""")
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the latest prior (or simultaneous)
    view's value per user — union+window composition, ONE shuffle on
    the key, no correlated scan.

    Oracle note (r14 seventh review): DuckDB's native ASOF JOIN
    leaves the matched row UNSPECIFIED when two views tie on a user's
    maximal prior ts, while the Spark side tie-breaks on event_id —
    the oracle is therefore the tie-broken window formulation
    (latest (ts, event_id) view per click; the old native-ASOF form
    agreed only because the fixture has no duplicate (user_id, ts)
    view pairs).  The oracle's pair join is O(clicks x views per
    user) at sf0.01 — fine for the gate; the ENGINE side stays the
    one-shuffle union+window plan."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = events.filter(F.col("event_type") == "view") \
        .select("event_id", "user_id", "ts", "value",
                F.col("ts").alias("view_ts"))
    out = asof_ops.asof_join(clicks, views, key="user_id", ts="ts",
                             value_cols=["value", "view_ts"],
                             tiebreak="event_id")
    return out.select("event_id", "user_id", "ts",
                      F.col("asof_value"),
                      F.col("asof_view_ts").alias("asof_ts"))


@register("range_join_ship_window", oracle="""
SELECT o.o_orderkey,
       count(l.l_linenumber) AS n_shipped_90d
FROM orders o LEFT JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAYS
GROUP BY o.o_orderkey
""")
def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join (absent from the reference): line items shipped
    within 90 days of their order date.  The equi key keeps it a hash
    join with the range as a residual predicate — never a cross
    product."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # INTERVAL addition, not date_add (r14 seventh review): date_add
    # silently casts the TIMESTAMP order date to DATE, dropping its
    # time-of-day and shrinking the window vs the oracle's exact
    # o_orderdate + INTERVAL 90 DAYS — masked only because every
    # fixture date is midnight-aligned (the q4/q12/q21 siblings
    # already use the interval form)
    cond = ((li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate >= orders.o_orderdate)
            & (li.l_shipdate
               < orders.o_orderdate + F.expr("INTERVAL 90 DAYS")))
    return (orders.join(li, cond, "left")
            .groupBy("o_orderkey")
            .agg(F.count("l_linenumber").alias("n_shipped_90d")))


@register("rollup_order_status", oracle="""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n,
       (round(sum(o_totalprice), 2) + 0) AS total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""")
def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set ROLLUP (absent from the reference; free in Spark):
    per-(priority,status) counts plus priority and grand totals in one
    pass — partial aggregation applies to every grouping set."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count("*").alias("n"),
                 rnd(F.sum("o_totalprice"), 2).alias("total"))
            .select(F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"),
                    F.coalesce("o_orderstatus", F.lit("ALL"))
                    .alias("status"), "n", "total"))


@register("rollup_two_level_time", oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         count(*) AS n, sum(value) AS sv
  FROM events GROUP BY 1, 2
)
SELECT date_trunc('day', h) AS day, event_type,
       CAST(sum(n) AS BIGINT) AS n,
       (round(sum(sv), 4) + 0) AS sum_value
FROM hourly GROUP BY 1, 2
""")
def rollup_two_level_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: daily numbers RE-AGGREGATED
    from the hourly rollup (counts and sums are mergeable), not from raw
    rows — at 100 TB the daily pass reads the tiny hourly table."""
    events = _t(spark, sf_dir, "events")
    hourly = (events.groupBy(F.date_trunc("hour", "ts").alias("h"),
                             "event_type")
              .agg(F.count("*").alias("n"), F.sum("value").alias("sv")))
    return (hourly.groupBy(F.date_trunc("day", "h").alias("day"),
                           "event_type")
            .agg(F.sum("n").alias("n"),
                 rnd(F.sum("sv"), 4).alias("sum_value")))


# =========================================================================
# Analytics widening (round 4): pivot, CUBE, histogram, SCD2 history,
# disjunctive-pushdown join, ntile/percent_rank/cume_dist, grouped
# moment statistics, bigram counts, time-RANGE rolling window.
# =========================================================================

@register("pivot_event_type_daily", oracle="""
SELECT date_trunc('day', ts) AS day,
       CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS view
FROM events GROUP BY 1
""")
def pivot_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): daily counts per event type as columns.
    The pivot VALUES are explicit — at 100 TB an implicit pivot costs a
    distinct-values pre-job on the full corpus and risks a
    million-column explosion; pinning the dictionary keeps it one
    groupBy with map-side partials."""
    events = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (events.groupBy(F.date_trunc("day", "ts").alias("day"))
           .pivot("event_type", kinds).count())
    # pivot yields NULL for empty cells; the oracle's FILTER count is 0
    return out.select("day", *[F.coalesce(F.col(k), F.lit(0)).alias(k)
                               for k in kinds])


@register("cube_order_priority", oracle="""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       count(*) AS n,
       (round(sum(o_totalprice), 2) + 0) AS total
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
""")
def cube_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all four grouping sets in one
    pass, disambiguated by grouping_id (bit i set = dimension i rolled
    up — same encoding both engines).  Partial aggregation applies to
    every set; one shuffle total."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.cube("o_orderpriority", "o_orderstatus")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count("*").alias("n"),
                 rnd(F.sum("o_totalprice"), 2).alias("total"))
            .select(F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"),
                    F.coalesce("o_orderstatus", F.lit("ALL"))
                    .alias("status"), "gid", "n", "total"))


@register("event_value_histogram", oracle="""
SELECT CAST(least(floor(value / 25), 19) AS BIGINT) AS bin,
       count(*) AS n,
       (round(sum(value), 4) + 0) AS sum_value
FROM events GROUP BY 1
""")
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (25-unit bins over [0, 500), top bin
    clamped): binning is a pure projection riding the scan, then one
    20-group aggregation — the profile pass a training pipeline runs
    over every numeric column at 100 TB for near-free."""
    events = _t(spark, sf_dir, "events")
    bin_col = F.least(F.floor(F.col("value") / 25), F.lit(19)) \
        .cast("long").alias("bin")
    return (events.groupBy(bin_col)
            .agg(F.count("*").alias("n"),
                 rnd(F.sum("value"), 4).alias("sum_value")))


@register("scd2_customer_status", oracle="""
SELECT o_custkey, o_orderkey, o_orderstatus,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey)
         AS valid_to
FROM orders
""")
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 assembly: each customer's order
    states become [valid_from, valid_to) intervals via lead() — the
    standard dimension-history build, one shuffle on the entity key
    (open interval = NULL valid_to).  Unique o_orderkey tiebreak makes
    equal-date sequences deterministic."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"))


@register("tpch_q19_disjunctive", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       (round(sum(l_extendedprice * (1 - l_discount)), 2) + 0) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 40)
""")
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.  Catalyst
    splits the disjunction into per-side implied filters (brand/size
    prune part, quantity prunes lineitem BEFORE the join) — the
    predicate-pushdown stress test for disjunctive conditions; part is
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm1 = ((F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20))
    arm2 = ((F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40))
    return (j.filter(arm1 | arm2)
            .agg(F.count("*").alias("n"),
                 rnd(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


_CUST_SPEND_SQL = """
SELECT o_custkey, (round(sum(o_totalprice), 2) + 0) AS total
FROM orders GROUP BY o_custkey
"""


@register("ntile_customer_quartiles", oracle=f"""
WITH spend AS ({_CUST_SPEND_SQL})
SELECT o_custkey, total,
       CAST(ntile(4) OVER (ORDER BY total DESC, o_custkey) AS BIGINT)
         AS quartile
FROM spend
""")
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing: customers into spend quartiles.  The global
    ORDER BY window is the scale hazard (single-partition sort) — at
    100 TB this becomes approx-quantile cutpoints + a scan-side bucket
    projection; here the exact form IS the oracle-checkable spec."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    w = Window.orderBy(F.col("total").desc(), F.col("o_custkey"))
    return spend.select("o_custkey", "total",
                        F.ntile(4).over(w).cast("long").alias("quartile"))


@register("spend_quartile_scan", oracle=f"""
WITH spend AS ({_CUST_SPEND_SQL}),
cuts AS (
  SELECT (round(quantile_cont(total, 0.25), 6) + 0) AS c1,
         (round(quantile_cont(total, 0.50), 6) + 0) AS c2,
         (round(quantile_cont(total, 0.75), 6) + 0) AS c3
  FROM spend
)
SELECT s.o_custkey, s.total,
       CAST(1 + CAST(s.total > c.c1 AS BIGINT)
              + CAST(s.total > c.c2 AS BIGINT)
              + CAST(s.total > c.c3 AS BIGINT) AS BIGINT) AS quartile
FROM spend s CROSS JOIN cuts c
""")
def spend_quartile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing WITHOUT the global window — the 100 TB form
    of ntile_customer_quartiles: exact quartile cutpoints from one
    aggregation (three driver-sized numbers, broadcast back), bucket
    assignment as a scan-riding comparison.  No single-partition sort
    anywhere; at extreme scale the cutpoint pass swaps to
    approx_percentile with the same downstream plan.  (Semantics
    differ from ntile at ties: equal totals share a bucket here
    instead of being split to balance bucket sizes.)"""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    cuts = spend.agg(
        rnd(F.expr("percentile(total, 0.25)"), 6).alias("c1"),
        rnd(F.expr("percentile(total, 0.50)"), 6).alias("c2"),
        rnd(F.expr("percentile(total, 0.75)"), 6).alias("c3"))
    q = (F.lit(1)
         + (F.col("total") > F.col("c1")).cast("long")
         + (F.col("total") > F.col("c2")).cast("long")
         + (F.col("total") > F.col("c3")).cast("long"))
    return (spend.crossJoin(F.broadcast(cuts))
            .select("o_custkey", "total", q.cast("long").alias("quartile")))


@register("percent_rank_cume_dist", oracle=f"""
WITH spend AS ({_CUST_SPEND_SQL})
SELECT o_custkey, total,
       (round(percent_rank() OVER (ORDER BY total, o_custkey), 6) + 0)
         AS pct_rank,
       (round(cume_dist() OVER (ORDER BY total, o_custkey), 6) + 0)
         AS cume
FROM spend
""")
def percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks over customer spend (percent_rank /
    cume_dist) — unique (total, custkey) ordering makes both exact and
    deterministic.  PARITY FORM: the global ORDER BY window is a
    single-partition sort at scale; percent_rank_scan is the
    scale-safe twin (same oracle, same values, bucketed two-level
    rank), as spend_quartile_scan is for ntile."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    w = Window.orderBy("total", "o_custkey")
    return spend.select(
        "o_custkey", "total",
        rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
        rnd(F.cume_dist().over(w), 6).alias("cume"))


@register("window_rank_family", oracle="""
SELECT o_custkey, o_orderkey,
       (round(o_totalprice, 2) + 0) AS price,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       (round(first_value(o_totalprice) OVER w2, 2) + 0) AS max_price,
       (round(last_value(o_totalprice) OVER w2, 2) + 0) AS min_price,
       (round(nth_value(o_totalprice, 2) OVER w2, 2) + 0) AS second_price
FROM orders
WHERE o_custkey % 100 = 0
WINDOW w  AS (PARTITION BY o_custkey
              ORDER BY round(o_totalprice, 2) DESC, o_orderkey),
       w2 AS (PARTITION BY o_custkey
              ORDER BY round(o_totalprice, 2) DESC, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining 2.G window functions in one partitioned pass:
    rank / dense_rank on the ordered frame, first / last / nth_value
    on the full-partition frame (last_value REQUIRES the explicit
    unbounded-following frame — the default current-row frame is the
    classic silent-wrong-answer).  All windows share one partition key
    and ordering, so the plan is a single exchange + sort; no global
    window anywhere.  Prices grid-rounded BEFORE ordering so tie
    groups (which rank vs dense_rank exist to distinguish) are
    identical in both engines."""
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_custkey") % 100 == 0))
    price = rnd(F.col("o_totalprice"), 2)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("price").desc(), F.col("o_orderkey"))
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (orders.withColumn("price", price)
            .select("o_custkey", "o_orderkey", "price",
                    F.rank().over(w).cast("long").alias("rnk"),
                    F.dense_rank().over(w).cast("long").alias("drnk"),
                    rnd(F.first("price").over(w2), 2).alias("max_price"),
                    rnd(F.last("price").over(w2), 2).alias("min_price"),
                    rnd(F.nth_value("price", 2).over(w2), 2)
                    .alias("second_price")))


@register("percent_rank_scan", oracle=f"""
WITH spend AS ({_CUST_SPEND_SQL})
SELECT o_custkey, total,
       (round(percent_rank() OVER (ORDER BY total, o_custkey), 6) + 0)
         AS pct_rank,
       (round(cume_dist() OVER (ORDER BY total, o_custkey), 6) + 0)
         AS cume
FROM spend
""")
def percent_rank_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist WITHOUT the global window — the 100 TB
    twin of percent_rank_cume_dist (same oracle, same values), via
    two-level distributed rank:

    1. 31 exact-percentile cutpoints over `total` (one aggregation,
       broadcast back as a 1-row build side — spend_quartile_scan's
       pattern);
    2. scan-riding bucket assignment (count of cutpoints below);
    3. per-bucket counts -> prefix offsets via a broadcast theta-join
       over the <=32-row bucket relation (no window at all);
    4. within-bucket row_number over a PARTITIONED window
       (Window.partitionBy(bucket)) — global rank = offset +
       local rank, exact because buckets are value ranges, so
       bucket order extends total order.

    Every stage is either scan-riding, a partitioned window, or
    dimension-sized broadcast; the WindowExec-no-partition hazard the
    parity form carries (contract.percent_rank_cume_dist) never
    appears.  The unique (total, o_custkey) ordering key makes
    percent_rank = (rank-1)/(n-1) and cume_dist = rank/n exact."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    nbuckets = 32
    qs = ",".join(str(i / nbuckets) for i in range(1, nbuckets))
    cuts = spend.agg(F.expr(f"percentile(total, array({qs}))").alias("cs"))
    bucket = (F.lit(1) + F.aggregate(
        "cs", F.lit(0),
        lambda acc, c: acc + (F.col("total") > c).cast("int")))
    b_spend = (spend.crossJoin(F.broadcast(cuts))
               .withColumn("bucket", bucket).drop("cs"))
    counts = b_spend.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (a.join(F.broadcast(b),
                      F.col("b.bucket") < F.col("a.bucket"), "left")
               .groupBy(F.col("a.bucket").alias("bucket"))
               .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).alias("offset")))
    w = Window.partitionBy("bucket").orderBy("total", "o_custkey")
    # n from the bucket counts, not a fourth pass over the spend agg
    # (at 100 TB you'd persist `spend` — it's customer-grain — and let
    # exchange reuse collapse the remaining shared subtrees)
    nrow = counts.agg(F.sum("cnt").alias("n"))
    ranked = (b_spend.join(F.broadcast(offsets), "bucket")
              .withColumn("rank", F.col("offset") + F.row_number().over(w))
              .crossJoin(F.broadcast(nrow)))
    pct = F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
        (F.col("rank") - 1) / (F.col("n") - 1))
    return ranked.select(
        "o_custkey", "total",
        rnd(pct, 6).alias("pct_rank"),
        rnd(F.col("rank") / F.col("n"), 6).alias("cume"))


@register("corr_stats_events", oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       (round(avg(value), 4) + 0) AS mean_value,
       (round(stddev_samp(value), 4) + 0) AS sd_value,
       (round(corr(value, CAST(extract(hour FROM ts) AS DOUBLE)), 4) + 0)
         AS corr_value_hour
FROM events GROUP BY event_type
""")
def corr_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped moment statistics (mean / sample stddev / Pearson
    correlation with hour-of-day): all computed from mergeable
    co-moments, so the plan is one keyed shuffle with map-side
    partials — the feature-statistics pass of a training pipeline.
    Rounded to 4dp: parallel co-moment merge order perturbs the last
    couple of double ulps."""
    events = _t(spark, sf_dir, "events")
    hour = F.hour("ts").cast("double")
    return (events.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 rnd(F.avg("value"), 4).alias("mean_value"),
                 rnd(F.stddev_samp("value"), 4).alias("sd_value"),
                 rnd(F.corr(F.col("value"), hour), 4)
                 .alias("corr_value_hour")))


@register("text_bigram_top20", oracle="""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
), big AS (
  SELECT unnest(list_transform(list_zip(t[:-1], t[2:]),
                               x -> x[1] || ' ' || x[2])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n
FROM big WHERE bigram IS NOT NULL
GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 20
""")
def text_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (the n-gram language-model building block):
    tokenize -> adjacent-pair -> explode -> count -> top-20.  All
    array ops are codegen'd column expressions riding the scan; the
    count is one shuffle with map-side partials and the top-20 is
    TakeOrderedAndProject — no global sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"),
                    lambda x: x != F.lit(""))
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))
    return (docs.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "bigram").limit(20))


@register("topk_with_ties", oracle="""
SELECT o_custkey, total, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT o_custkey, (round(sum(o_totalprice), 2) + 0) AS total,
         rank() OVER (ORDER BY (round(sum(o_totalprice), 2) + 0) DESC)
           AS rnk
  FROM orders GROUP BY o_custkey)
WHERE rnk <= 10
""")
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH TIES top-k: rank() instead of row_number(), so equal spend
    totals all make the cut — membership is a pure function of the
    data, no arbitrary tie survivor.  Ranking on the ROUNDED total
    keeps tie groups identical across engines."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    w = Window.orderBy(F.col("total").desc())
    return (spend.withColumn("rnk", F.rank().over(w).cast("long"))
            .filter(F.col("rnk") <= 10))


@register("unpivot_daily_counts", oracle="""
WITH d AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
k AS (SELECT unnest(['click','error','purchase','signup','view']) AS kind),
c AS (SELECT date_trunc('day', ts) AS day, event_type AS kind,
             count(*) AS n
      FROM events GROUP BY 1, 2)
SELECT d.day, k.kind, CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM d CROSS JOIN k LEFT JOIN c USING (day, kind)
""")
def unpivot_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long, the melt inverse of
    pivot_event_type_daily): the pivoted daily matrix back to (day,
    kind, n) rows — zero-filled cells become explicit zero rows, which
    is the densified form a feature store wants.  Unpivot is a
    projection-time explode: no shuffle beyond the pivot's own."""
    kinds = ["click", "error", "purchase", "signup", "view"]
    wide = pivot_event_type_daily(spark, sf_dir)
    return (wide.unpivot("day", kinds, "kind", "n")
            .select("day", "kind", F.col("n").cast("long").alias("n")))


@register("user_event_type_sets", oracle="""
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',')
         AS kinds,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_kinds
FROM events GROUP BY user_id
""")
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped set aggregation: each user's distinct event types as a
    sorted, comma-joined string (string-joined rather than an array
    column so the value-hash comparison is canonical).  collect_set's
    state is bounded by the type dictionary, not event count — map-side
    partials apply."""
    events = _t(spark, sf_dir, "events")
    return (events.groupBy("user_id")
            .agg(F.concat_ws(",", F.sort_array(
                     F.collect_set("event_type"))).alias("kinds"),
                 F.count_distinct("event_type").alias("n_kinds")))


@register("funnel_signup_click_purchase", oracle="""
WITH s AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.t0
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t1
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after
""")
def funnel_signup_click_purchase(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who signed up, then clicked at or
    after signup, then purchased at or after that click.  Each stage is
    one keyed aggregation joined forward — per-user state never leaves
    its shuffle partition and stage outputs shrink monotonically, so
    the funnel costs steps x one co-partitioned join, not a
    self-join explosion."""
    events = _t(spark, sf_dir, "events")
    s = (events.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("t0")))
    c = (events.filter(F.col("event_type") == "click")
         .join(s, "user_id")
         .filter(F.col("ts") >= F.col("t0"))
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    p = (events.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") >= F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    return (s.agg(F.count("*").alias("n_signup"))
            .crossJoin(c.agg(F.count("*").alias("n_click_after")))
            .crossJoin(p.agg(F.count("*").alias("n_purchase_after"))))


@register("cohort_weekly_retention", oracle="""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT f.cohort,
       CAST(date_diff('week', f.cohort, a.wk) AS BIGINT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM first_seen f JOIN activity a USING (user_id)
GROUP BY 1, 2
""")
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week,
    counted as active per week offset.  Two keyed aggregations and one
    user-key join; both sides shrink to (user, week) granularity before
    anything joins, so the triangle's cost is user-cardinality, not
    event-cardinality.  Both engines truncate weeks to Monday, and
    week offsets of week-truncated instants are exact."""
    events = _t(spark, sf_dir, "events")
    first_seen = (events.groupBy("user_id")
                  .agg(F.date_trunc("week", F.min("ts")).alias("cohort")))
    activity = (events.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")).distinct())
    return (first_seen.join(activity, "user_id")
            .groupBy("cohort",
                     (F.floor(F.datediff("wk", "cohort") / 7)
                      .cast("long").alias("week_offset")))
            .agg(F.count_distinct("user_id").alias("n_active")))


@register("rolling_1h_range_agg", oracle="""
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       (round(sum(value) OVER w, 4) + 0) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""")
def rolling_1h_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE rolling window: per event, that user's event count
    and value sum over the trailing hour — a VALUE-based frame (all
    peers of an equal timestamp included), unlike the row-based
    rolling_window_agg.  Ordered by unix_micros so the frame bound is
    exact to the stored microsecond, matching the oracle's INTERVAL
    arithmetic."""
    events = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"))
         .rangeBetween(-3_600_000_000, 0))
    return events.select(
        "event_id", "user_id",
        F.count("*").over(w).alias("n_1h"),
        rnd(F.sum("value").over(w), 4).alias("sum_1h"))


# =========================================================================
# Structured Streaming surface (SURVEY 2.H) — the streaming twins run
# for real (readStream -> Trigger.AvailableNow -> memory/foreachBatch
# sink) and their materialized results are oracle-checked against the
# same batch SQL the batch twins use.  Each run gets a fresh memory
# table name so repeated driver invocations in one session don't
# collide.
# =========================================================================

_STREAM_SEQ = itertools.count()


@register("streaming_tumbling_availablenow", oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, (round(sum(value), 3) + 0) AS sum_value
FROM events GROUP BY 1, 2
""")
def streaming_tumbling_availablenow(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """2.H H1/H2 live: event-time tumbling window with watermark, run
    as a real streaming query (Trigger.AvailableNow, memory sink,
    complete mode) and materialized — must equal the batch twin
    ``tumbling_window_agg`` exactly (reference's polling loop semantics,
    src/core/search/engine.py:57-103)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_tumbling_{next(_STREAM_SEQ)}"
    out = streaming_ops.run_stream_once(
        spark, sf_dir, query_name=name, output_mode="complete",
        round_digits=None)
    return out.select("window_start", "event_type", "n",
                      rnd(F.col("sum_value"), 3).alias("sum_value"))


@register("streaming_append_finalized", oracle="""
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOURS AS w FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, (round(sum(value), 3) + 0) AS sum_value
FROM events, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
""")
def streaming_append_finalized(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """2.H live, APPEND mode — the production emission semantics the
    complete-mode rows don't exercise: a window row is emitted exactly
    once, when the event-time watermark (max ts - 2 h late allowance)
    passes its end, and the trailing unfinalized windows stay in state
    (AvailableNow's closing no-data micro-batch advances the watermark
    so finalized windows flush).  The oracle is the batch twin
    RESTRICTED to windows closed below the final watermark — the
    append contract stated as SQL.  This is what a downstream consumer
    of the stream actually sees: immutable finalized rows, an
    append-only sink (files/Kafka), no in-place updates."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_append_{next(_STREAM_SEQ)}"
    out = streaming_ops.run_stream_once(
        spark, sf_dir, query_name=name, output_mode="append",
        round_digits=None)
    return out.select("window_start", "event_type", "n",
                      rnd(F.col("sum_value"), 3).alias("sum_value"))


@register("streaming_sliding_window", oracle="""
WITH ks AS (SELECT unnest([0, 1]) AS k),
exploded AS (
  SELECT TIMESTAMP '2024-01-01 00:00:00'
         + INTERVAL 1 MINUTE * (30 * (
             CAST(floor(date_diff('second',
                                  TIMESTAMP '2024-01-01 00:00:00',
                                  ts) / 1800.0) AS BIGINT) - ks.k))
           AS window_start,
         event_type, value
  FROM events CROSS JOIN ks
)
SELECT window_start, event_type, count(*) AS n,
       (round(sum(value), 3) + 0) AS sum_value
FROM exploded GROUP BY 1, 2
""")
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.H live: event-time SLIDING window (1 h window, 30 min slide —
    every event in exactly two overlapping windows) run as a real
    streaming query (Trigger.AvailableNow, complete mode) and
    value-compared to the batch SQL that explodes each event into its
    two containing windows.  The overlap is what tumbling can't
    express; state = window/slide open windows per key, still evicted
    by the watermark."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_sliding_{next(_STREAM_SEQ)}"
    out = streaming_ops.run_stream_once(
        spark, sf_dir, query_name=name, output_mode="complete",
        agg_fn=streaming_ops.sliding_event_counts)
    return out.select("window_start", "event_type", "n",
                      rnd(F.col("sum_value"), 3).alias("sum_value"))


@register("streaming_sessionize_stateful", oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
agg AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg
QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
""")
def streaming_sessionize_stateful(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Custom stateful operator live (applyInPandasWithState): gap-based
    sessions (30 min) assembled across micro-batches; emits CLOSED
    sessions — each user's trailing session stays in the state store, so
    the oracle drops each user's last session.  Session boundaries
    depend only on ts gaps, so equal-ts ordering ambiguity cannot move a
    row across sessions."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_sessions_{next(_STREAM_SEQ)}"
    return streaming_ops.run_stateful_sessions(
        spark, sf_dir, gap_minutes=30, query_name=name).select(
        "user_id", "session_start", "session_end", "n_events")


@register("streaming_dedup_within_watermark", oracle="""
SELECT DISTINCT event_id // 2 AS mid FROM events
""")
def streaming_dedup_within_watermark(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """H5 live: dropDuplicatesWithinWatermark on a synthesized duplicate
    key (event_id div 2 — every key arrives ~twice) emits EXACTLY one
    row per key, with state evicted past the watermark horizon; the
    surviving key set must equal the source's distinct key set."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_dedup_{next(_STREAM_SEQ)}"
    return streaming_ops.run_stream_dedup(
        spark, sf_dir, query_name=name).select("mid")


@register("streaming_upsert_store", oracle="""
SELECT event_id, user_id, event_type FROM events
""")
def streaming_upsert_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 end-to-end live: stream -> foreachBatch -> range-layout upsert
    sink, then read the store back.  Unique source keys mean the store
    must hold exactly the source rows — the idempotent-replay twin of
    the reference's INSERT OR REPLACE ingest
    (src/core/embeddings/processor.py:382-391)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_upsert_{next(_STREAM_SEQ)}"
    store = os.path.join(tempfile.mkdtemp(prefix=name + "_"), "store")
    streaming_ops.stream_upsert(spark, sf_dir, store, query_name=name)
    return sinks.read_store(spark, store).select(
        "event_id", "user_id", "event_type")


@register("streaming_retention_sweep", oracle="""
SELECT event_id, user_id, event_type FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
""")
def streaming_retention_sweep(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Lifecycle x streaming: the TTL twin of streaming_upsert_store —
    every micro-batch upserts into the range store AND runs the
    retention sweep with a fixed 7-day window off the source's max
    ts, so expiry happens at ingest cadence (a compliance window
    enforced continuously, not by a nightly job).  The final store
    must hold exactly the live-window rows whatever the micro-batch
    boundaries: the sweep is idempotent, already-expired arrivals are
    dropped by the first sweep after they land, and rows at the
    boundary (ts == cutoff) are KEPT (the sweep expires strictly
    older).  At 100 TB each per-batch sweep is the footer probe plus
    at most one boundary-bucket rewrite — O(touched), never
    O(store)."""
    import datetime as dt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_ttl_{next(_STREAM_SEQ)}"
    store = os.path.join(tempfile.mkdtemp(prefix=name + "_"), "store")
    ev = readers.read_table(spark, sf_dir, "events")
    cutoff = (ev.agg(F.max("ts")).collect()[0][0]
              - dt.timedelta(days=7))
    streaming_ops.stream_upsert_ttl(spark, sf_dir, store, cutoff,
                                    query_name=name)
    return sinks.read_store(spark, store).select(
        "event_id", "user_id", "event_type")


# =========================================================================
# Hybrid retrieval: BM25 keyword leg + reciprocal-rank fusion with the
# vector leg (extension surface — the reference serves cosine only,
# src/core/search/engine.py:105-183)
# =========================================================================

# Fixed keyword query for the lexical leg: two common terms + one rare
# term ('dup' appears in ~5% of documents) so idf spreads the scores.
_BM25_TERMS = ["spark", "query", "dup"]


@register("text_bm25_topk", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS)})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
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
    scored = retrieval_ops.bm25_scores(docs, _BM25_TERMS)
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


@register("text_bm25_and_topk", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS,
                                         require_all=True)})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
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
    scored = retrieval_ops.bm25_scores(docs, _BM25_TERMS,
                                       require_all=True)
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


@register("text_index_and_topk", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS,
                                         require_all=True)})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def text_index_and_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-mode BM25 served from the PERSISTED inverted index — the
    index path must reproduce the scan path's conjunction bit-for-bit
    (same oracle as text_bm25_and_topk).  The pruned postings read is
    unchanged (term buckets only); the conjunction is a filter over
    the pivoted per-doc tf columns BEFORE the stats broadcast, so at
    100 TB the admitted set shrinks to the rarest term's postings
    intersection without reading anything extra."""
    path = _inverted_index(spark, sf_dir)
    scored = retrieval_ops.search_inverted_index(
        spark, path, _BM25_TERMS, require_all=True)
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


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


@register("hybrid_search_rrf", oracle=f"""
WITH kw_scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS)}),
kw_top AS (
  SELECT doc_id, (round(bm25, 6) + 0) AS s FROM kw_scored
  ORDER BY s DESC, doc_id LIMIT 50
), kw_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS rank_kw
  FROM kw_top
), v_scored AS (
  SELECT e.vec_id AS doc_id,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS s
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
), v_top AS (
  SELECT doc_id, s FROM v_scored ORDER BY s DESC, doc_id LIMIT 50
), v_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS rank_vec
  FROM v_top
)
SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id, k.rank_kw, v.rank_vec,
       (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
            + COALESCE(1.0::DOUBLE / (60 + v.rank_vec), 0.0), 6) + 0) AS rrf
FROM kw_rank k FULL JOIN v_rank v ON k.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id LIMIT 10
""")
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
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    kw = (retrieval_ops.bm25_scores(docs, _BM25_TERMS)
          .select("doc_id", rnd(F.col("bm25"), 6).alias("s")))
    kw_rank = retrieval_ops.bounded_rank(kw, "s", "doc_id", 50)
    qv = _query_vec(spark, sf_dir)
    vec = (sim_ops.similarity_to_query(_t(spark, sf_dir, "embeddings"), qv)
           .select(F.col("vec_id").alias("doc_id"),
                   rnd(F.col("sim"), 6).alias("s")))
    vec_rank = retrieval_ops.bounded_rank(vec, "s", "doc_id", 50)
    fused = retrieval_ops.rrf_fuse([kw_rank, vec_rank], topk=10)
    return fused.select("doc_id",
                        F.col("rank_0").alias("rank_kw"),
                        F.col("rank_1").alias("rank_vec"),
                        "rrf")


@register("dedup_semdedup", oracle=f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(embedding, x -> CAST(x * 1.25 AS FLOAT))
           AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
), cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM corpus ORDER BY vec_id LIMIT 16
), scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM corpus e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM scored) WHERE rn = 1
), dropped AS (
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
    scaled = (emb.filter(F.col("vec_id") % 20 == 0)
              .withColumn("vec_id", F.col("vec_id") + 1000000)
              .withColumn("embedding", F.transform(
                  "embedding",
                  lambda x: (x * F.lit(1.25)).cast("float"))))
    corpus = emb.unionByName(scaled)
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


# =========================================================================
# Incremental aggregate maintenance (the "never rescan the corpus"
# stats path)
# =========================================================================
# A 100 TB corpus's dashboard stats cannot be recomputed corpus-wide
# per batch.  The scale answer is MERGEABLE STATE: persist per-group
# partial aggregates (sufficient statistics / sketches), fold each
# arriving batch's partials in with an algebraic merge, and derive the
# published metrics from the merged state at read time.  Cost per
# refresh is O(batch + |state|), with |state| dimension-sized —
# independent of corpus size.  These rows prove merge(state(base),
# partials(batch)) == agg(corpus) exactly, which is the invariant that
# makes the maintenance loop safe to run forever.

@register("incremental_agg_merge", oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       (round(sum(value), 3) + 0) AS sum_value,
       (round((round(sum(value), 3) + 0) / count(*), 6) + 0) AS avg_value,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM events GROUP BY event_type
""")
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of per-group counters: a persisted
    state table (event_type -> n, sum_value, min_ts, max_ts over the
    90% base corpus, written to parquet in-query so the merge reads a
    real store, not lineage) is folded with the arriving batch's
    partials (the held-out event_id%10==7 slice) by a pure algebraic
    merge — sum of counts, sum of sums, min of mins, max of maxes —
    and avg is DERIVED from the merged state at read.  The oracle is
    the full-corpus aggregate: a green row proves the fold is exact,
    i.e. the nightly stats refresh never needs to rescan history.
    State carries UNROUNDED sums (rounding is a read-time projection);
    both engines round the final sum to the 3dp grid before deriving
    avg, per the module's determinism rules.  At 100 TB the state is
    |groups| rows and the refresh shuffles only the batch — the same
    economics as dedup_incremental_new_docs, applied to aggregation
    (partial aggregates are what Spark's own map-side combine ships;
    this row persists them across jobs instead of across stages)."""
    ev = _t(spark, sf_dir, "events")
    partials = (lambda df: df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts")))
    state_dir = os.path.join(tempfile.mkdtemp(prefix="aggstate_"), "state")
    partials(ev.filter(F.col("event_id") % 10 != 7)) \
        .write.mode("overwrite").parquet(state_dir)
    state = spark.read.parquet(state_dir)
    batch = partials(ev.filter(F.col("event_id") % 10 == 7))
    merged = (state.unionByName(batch)
              .groupBy("event_type")
              .agg(F.sum("n").alias("n"),
                   F.sum("sum_value").alias("raw_sum"),
                   F.min("min_ts").alias("min_ts"),
                   F.max("max_ts").alias("max_ts")))
    sum_v = rnd(F.col("raw_sum"), 3)
    return merged.select(
        "event_type", "n", sum_v.alias("sum_value"),
        rnd(sum_v / F.col("n"), 6).alias("avg_value"),
        "min_ts", "max_ts")


@register("incremental_distinct_sketch", oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS users_exact,
       TRUE AS sketch_merge_consistent
FROM events GROUP BY event_type
""")
def incremental_distinct_sketch(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Incremental COUNT(DISTINCT) via mergeable HLL sketches — the
    one dashboard stat counters can't maintain (distinct doesn't sum).
    The base corpus's per-group Datasketches HLL state
    (hll_sketch_agg, binary) is persisted to parquet; the batch's
    sketch folds in with hll_union_agg — register-wise max, the
    lossless sketch merge — and the row publishes
    ``sketch_merge_consistent``: whether the MERGED estimate agrees
    with the single-pass whole-corpus sketch estimate within 2%
    (estimator-path tolerance — see the inline note), computed
    in-query by joining the two.  The oracle pins that flag to TRUE
    (merge must lose nothing) and value-checks ``users_exact`` — the exact
    distinct in its skew-stable two-phase form (see
    distinct_users_twophase) — so the approximate path is verified
    against an exactly-checked column in the same row.  At 100 TB the
    persisted state is |groups| x 1.5 KiB of registers, the refresh
    reads only the batch, and the estimate's error bound (~0.8% at
    lgK=12) never degrades with corpus growth because union is
    lossless."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "user_id")
    sketch = (lambda df: df.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")))
    state_dir = os.path.join(tempfile.mkdtemp(prefix="hllstate_"), "state")
    sketch(ev.filter(F.col("event_id") % 10 != 7)) \
        .write.mode("overwrite").parquet(state_dir)
    state = spark.read.parquet(state_dir)
    batch = sketch(ev.filter(F.col("event_id") % 10 == 7))
    merged = (state.unionByName(batch)
              .groupBy("event_type")
              .agg(F.hll_sketch_estimate(
                  F.hll_union_agg("sk")).alias("merged_est")))
    single = (sketch(ev)
              .select("event_type",
                      F.hll_sketch_estimate("sk").alias("single_est")))
    exact = (ev.select("event_type", "user_id").distinct()
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("users_exact")))
    return (exact.join(merged, "event_type")
            .join(single, "event_type")
            .select("event_type", "users_exact",
                    # Two-regime check (r15 review tightening r14's
                    # blanket 2%): in the sketches' EXACT regime the
                    # estimates must agree exactly — a blanket
                    # tolerance there would mask a genuinely lossy
                    # merge.  Measured onset (lgK=12, this Spark/
                    # Datasketches build): single vs merged estimates
                    # are identical-and-exact through n=380 and first
                    # diverge at n=400 (the estimator handoff out of
                    # the exact coupon regime — NOT the 3/4*2^lgK
                    # dense promotion, which is much later), so the
                    # exact branch applies below 256 (1.7x above the
                    # sf0.01 driver fixture's 150 distinct/group,
                    # comfortably inside the verified-equal band).
                    # Above it the union path's composite estimator
                    # and the single-pass HIP estimator legitimately
                    # drift ~0.5-1% (sf0.1's 1500/group measures
                    # <=0.4%), so 2% relative applies only there.
                    F.when(F.col("single_est") < F.lit(256.0),
                           F.col("merged_est") == F.col("single_est"))
                    .otherwise(
                        F.abs(F.col("merged_est") - F.col("single_est"))
                        <= F.lit(0.02) * F.col("single_est"))
                    .alias("sketch_merge_consistent")))


@register("incremental_topk_sketch", oracle="""
WITH counts AS (
  SELECT source, lang, count(*) AS cnt FROM documents GROUP BY source, lang
), ranked AS (
  SELECT source, lang, cnt,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, lang) AS rk
  FROM counts
)
SELECT source, lang, cnt, rk FROM ranked WHERE rk <= 3
""")
def incremental_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental per-group TOP-K via mergeable frequent-items
    sketches (Datasketches ItemsSketch through approx_top_k_accumulate
    / _combine / _estimate) — the heavy-hitters twin of
    incremental_distinct_sketch: the base corpus's per-source state is
    PERSISTED (binary column, |groups| x O(maxItemsTracked) bytes), a
    batch's state folds in with approx_top_k_combine (counter-wise
    merge), and serving explodes the estimate and re-ranks with the
    deterministic (count DESC, item) tiebreak shared with the oracle.
    At fixture cardinality (5 langs << 64 tracked) every count is
    EXACT, so the oracle value-checks the full top-3 rows; at 100 TB
    the same state serves epsilon-approximate heavy hitters with the
    refresh reading only the batch — a dashboard counter no exact
    GROUP BY can maintain incrementally."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "lang")
    acc = (lambda df: df.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(lang, 64)").alias("st")))
    state_dir = os.path.join(tempfile.mkdtemp(prefix="topkstate_"), "st")
    acc(docs.filter(F.col("doc_id") % 10 != 7)) \
        .write.mode("overwrite").parquet(state_dir)
    state = spark.read.parquet(state_dir)
    batch = acc(docs.filter(F.col("doc_id") % 10 == 7))
    merged = (state.unionByName(batch)
              .groupBy("source")
              .agg(F.expr("approx_top_k_combine(st, 64)").alias("st")))
    est = merged.select(
        "source",
        F.explode(F.expr("approx_top_k_estimate(st, 32)")).alias("e"))
    out = est.select("source", F.col("e.item").alias("lang"),
                     F.col("e.count").cast("long").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), "lang")
    return (out.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 3))


@register("theta_sketch_setops", oracle="""
WITH hi_p AS (SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase' AND value >= 90),
     hi_c AS (SELECT DISTINCT user_id FROM events
              WHERE event_type = 'click' AND value >= 90)
SELECT 'intersection' AS op,
       (SELECT count(*) FROM (SELECT user_id FROM hi_p
        INTERSECT SELECT user_id FROM hi_c)) AS users
UNION ALL
SELECT 'purchase_minus_click',
       (SELECT count(*) FROM (SELECT user_id FROM hi_p
        EXCEPT SELECT user_id FROM hi_c))
UNION ALL
SELECT 'union',
       (SELECT count(*) FROM (SELECT user_id FROM hi_p
        UNION SELECT user_id FROM hi_c))
ORDER BY op
""")
def theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set ALGEBRA on mergeable Theta sketches — what HLL
    can't do: HLL unions only, Theta also intersects and subtracts, so
    'high-value purchasers who never high-value clicked' serves from
    two persisted sketches without touching row data.  The purchase
    sketch is deliberately built from TWO half-sketches folded with
    theta_union_agg (the incremental-state path); both sketches sit in
    exact mode at fixture cardinality (<< 2^lgK = 4096 retained), so
    the estimates are integers the oracle value-checks against exact
    EXCEPT / INTERSECT / UNION counts.  At 100 TB the same algebra is
    epsilon-approximate with state size fixed at O(2^lgK) per set —
    audience-overlap analytics at constant memory."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type",
                                            "value")
    hi = ev.filter(F.col("value") >= 90)
    click = (hi.filter(F.col("event_type") == "click")
             .agg(F.expr("theta_sketch_agg(user_id)").alias("c_st")))
    purchase = (hi.filter(F.col("event_type") == "purchase")
                .withColumn("h", F.col("user_id") % 2)
                .groupBy("h")
                .agg(F.expr("theta_sketch_agg(user_id)").alias("st"))
                .agg(F.expr("theta_union_agg(st)").alias("p_st")))
    both = purchase.crossJoin(F.broadcast(click))
    est = (lambda expr, op: both.select(
        F.lit(op).alias("op"),
        F.round(F.expr(f"theta_sketch_estimate({expr})"))
        .cast("long").alias("users")))
    return (est("theta_intersection(p_st, c_st)", "intersection")
            .unionByName(est("theta_difference(p_st, c_st)",
                             "purchase_minus_click"))
            .unionByName(est("theta_union(p_st, c_st)", "union"))
            .orderBy("op"))


@register("incremental_quantile_sketch", oracle="""
SELECT event_type, count(*) AS n, TRUE AS median_rank_ok
FROM events GROUP BY event_type
""")
def incremental_quantile_sketch(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Incremental QUANTILES via mergeable KLL sketches — the
    order-statistics member of the incremental-dashboard family
    (distinct = HLL, top-k = ItemsSketch, quantiles = KLL): per-group
    KllDoublesSketch state over ``value`` is persisted, the batch
    folds in with kll_merge_agg_double, and the merged state answers
    rank/quantile queries without re-reading history.  Value-checked
    columns: ``n`` (items collected — EXACT by construction, pinned to
    count(*)) and ``median_rank_ok`` — the EXACT rank of the merged
    sketch's median estimate (one scan: fraction of raw values <= the
    estimate) must sit within ±0.05 of 0.5.  KLL k=200 normalized
    rank error is ~1.33% at 99% confidence, so 5% only trips on a
    broken merge, while exact equality would be dishonest for a
    randomized sketch.  (The probe is inverted — sketch quantile,
    exact rank — because kll_sketch_get_rank_double requires a
    foldable literal, and the exact median isn't one.)  At 100 TB the
    state is |groups| x ~3 KB and the refresh reads only the batch —
    percentile dashboards without nightly full scans."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "value")
    sk = (lambda df: df.groupBy("event_type").agg(
        F.expr("kll_sketch_agg_double(value, 200)").alias("st")))
    state_dir = os.path.join(tempfile.mkdtemp(prefix="kllstate_"), "st")
    sk(ev.filter(F.col("event_id") % 10 != 7)) \
        .write.mode("overwrite").parquet(state_dir)
    state = spark.read.parquet(state_dir)
    batch = sk(ev.filter(F.col("event_id") % 10 == 7))
    merged = (state.unionByName(batch)
              .groupBy("event_type")
              .agg(F.expr("kll_merge_agg_double(st, 200)").alias("st"))
              .select("event_type",
                      F.expr("kll_sketch_get_n_double(st)")
                      .cast("long").alias("n"),
                      F.expr("kll_sketch_get_quantile_double(st, 0.5)")
                      .alias("med_est")))
    rank = (ev.join(F.broadcast(merged), "event_type")
            .groupBy("event_type", "n")
            .agg(F.avg((F.col("value") <= F.col("med_est"))
                       .cast("double")).alias("exact_rank")))
    return (rank.select("event_type", "n",
                        (F.abs(F.col("exact_rank") - F.lit(0.5))
                         <= F.lit(0.05)).alias("median_rank_ok"))
            .orderBy("event_type"))


@register("pipeline_retention_forget", oracle=f"""
WITH n AS (SELECT count(*) AS n FROM embeddings),
surv AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id >= (SELECT n // 4 FROM n)
), cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM surv e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM scored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
)
SELECT a.vec_id, a.cell,
       (round({V.duck_cosine('a.embedding', 'qv')}, 6) + 0) AS sim
FROM assigned a, q
WHERE a.cell IN (SELECT cell FROM probe)
ORDER BY sim DESC, a.vec_id LIMIT 10
""")
def pipeline_retention_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention CAPSTONE: forget-by-age must reach the SERVING
    surface, not just the store.  Flow: (1) arrival-ordered store
    (synthesized ts = origin + vec_id minutes, so age aligns with the
    range layout exactly as ingest ids do); (2) materialized IVF index
    (frozen 16-centroid layout, partitionBy(cell)); (3) victims read
    BEFORE the sweep via a ts-pruned store scan (INT64-micros footer
    stats prune the live buckets — the r15 INT96 fix is what makes
    this read O(expired)); (4) ``sinks.retention_sweep`` drops the
    expired store dirs; (5) the victims' cells come from O(batch)
    re-assignment against the PERSISTED centroids
    (delete_index_keys' fast path) and ``erase_partitions`` removes
    them from the index, touching only victim cells; (6) serving
    probes 4 cells of the post-erase index.  The oracle replays
    assignment + probe + exact cosine over the SURVIVORS — an expired
    vector surfacing in the top-k fails the hash.  At 100 TB every
    stage is O(expired + touched cells): nothing rescans the live
    corpus."""
    import datetime as dt

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    origin = dt.datetime(2024, 1, 1)
    stored = emb.withColumn(
        "ts", F.lit(origin) + F.make_interval(
            mins=F.col("vec_id").cast("int")))
    root = tempfile.mkdtemp(prefix="retforget_")
    store = os.path.join(root, "store")
    cent = ivf_ops.seed_centroids(emb, 16)
    index = os.path.join(root, "ivf_index")

    # store build and index build are independent artifacts — run
    # them as concurrent job streams (guide §2.6); likewise, once the
    # victims are checkpointed, the store sweep and the index erase
    # proceed independently (disjoint artifacts)
    def _build_store() -> None:
        # ~40 directories at any sf (width scales with the corpus), so
        # the 25% retention cut expires ~10 of them WHOLE at every
        # fixture size
        sinks.upsert_parquet(spark, stored.withColumn("_ord", F.lit(1)),
                             store, key="vec_id", order_col="_ord",
                             layout="range", range_width=max(32, n // 40))

    def _build_index() -> None:
        ivf_ops.assign_cells(emb, cent).write.mode("overwrite") \
            .partitionBy("cell").parquet(index)

    run_concurrently(_build_store, _build_index)

    cutoff = origin + dt.timedelta(minutes=n // 4)
    # victims BEFORE the sweep: ts-pruned store read (live buckets
    # skipped via row-group stats), vectors kept for the cell lookup
    victims = (sinks.read_store(spark, store)
               .filter(F.col("ts") < F.lit(cutoff))
               .select("vec_id", "embedding").localCheckpoint())

    def _sweep_store() -> dict:
        return sinks.retention_sweep(spark, store, cutoff)

    def _erase_index() -> None:
        vcells = (ivf_ops.assign_cells(victims, cent)
                  .select("vec_id", "cell"))
        touched = sorted(r[0] for r in
                         vcells.select("cell").distinct().collect())
        sinks.erase_partitions(spark, index, "vec_id",
                               vcells.select("vec_id"), touched,
                               part_col="cell")

    info, _ = run_concurrently(_sweep_store, _erase_index)
    assert len(info["dropped"]) >= 1, info  # the fast path engaged
    on_disk = spark.read.parquet(index)
    return ivf_ops.ivf_search(on_disk, cent,
                              _query_vec(spark, sf_dir), k=10, nprobe=4)


@register("pipeline_retention_forget_text", oracle=f"""
WITH surv AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id >= (SELECT count(*) // 4 FROM documents)
), scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS,
                                       from_table="surv")})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def pipeline_retention_forget_text(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The TEXT twin of the retention capstone (VERDICT r15 item 1:
    forget-by-age must reach BOTH serving indexes — the ANN capstone
    above proves the vector surface; this row proves BM25 serving).
    Flow: (1) arrival-ordered store (ts = origin + doc_id minutes);
    (2) persisted inverted index over the full corpus; (3) victims
    read BEFORE the sweep via the ts-pruned store scan; (4)
    ``sinks.retention_sweep`` drops the expired store dirs whole; (5)
    the victim ids feed ``delete_inverted_docs`` — ONE O(expired)
    tombstone append, no postings touched, physical removal stays
    compaction's job; (6) BM25 serves from the post-tombstone index.
    Tombstones gate postings AND every corpus statistic (N, Σdl, df
    recount over live docs only), so the oracle replays exact BM25
    over the SURVIVORS — an expired doc surfacing in the top-k, or
    stats still counting expired docs, fails the hash.  At 100 TB:
    sweep is O(expired dirs + boundary), tombstone is O(expired),
    serving is bucket-pruned postings + doclen; nothing rescans the
    live corpus.  Engine.apply_retention renders this same flow as a
    facade verb (engine.py) next to the ANN erase."""
    import datetime as dt

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    origin = dt.datetime(2024, 1, 1)
    stored = docs.withColumn(
        "ts", F.lit(origin) + F.make_interval(
            mins=F.col("doc_id").cast("int")))
    root = tempfile.mkdtemp(prefix="retforget_text_")
    store = os.path.join(root, "store")
    index = os.path.join(root, "text_index")

    # store build and index build are independent artifacts; after the
    # victim ids are CHECKPOINTED (read before the sweep can touch the
    # store), the index tombstone append and the store sweep are too —
    # overlap both pairs as concurrent job streams (guide §2.6)
    def _build_store() -> None:
        sinks.upsert_parquet(spark, stored.withColumn("_ord", F.lit(1)),
                             store, key="doc_id", order_col="_ord",
                             layout="range", range_width=max(32, n // 40))

    def _build_index() -> None:
        retrieval_ops.build_inverted_index(docs, index)

    run_concurrently(_build_store, _build_index)

    cutoff = origin + dt.timedelta(minutes=n // 4)
    victims = (sinks.read_store(spark, store)
               .filter(F.col("ts") < F.lit(cutoff))
               .select("doc_id").localCheckpoint())
    _, info = run_concurrently(
        lambda: retrieval_ops.delete_inverted_docs(victims, index),
        lambda: sinks.retention_sweep(spark, store, cutoff))
    assert len(info["dropped"]) >= 1, info  # the fast path engaged
    scored = retrieval_ops.search_inverted_index(spark, index,
                                                 _BM25_TERMS)
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


@register("text_index_ttl_sweep", oracle=f"""
WITH surv AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id >= (SELECT count(*) // 4 FROM documents)
), scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS,
                                       from_table="surv")})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def text_index_ttl_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-SIDE forget-by-age for the text surface — no store scan
    anywhere: the index records the doc timestamp as a meta column at
    build time, so ``retention_sweep_inverted_index`` reads victims
    from the DOCLEN SIDECAR (index metadata — (doc_id, dl, ts), never
    the corpus text) and expires them through the same O(expired)
    tombstone append as the GDPR verb.  This is the deployment shape
    where the serving tier owns retention (store archived cold);
    ``pipeline_retention_forget_text`` above proves the store-driven
    twin.  The oracle is exact BM25 over the survivors — identical to
    the store-driven capstone's, because both must converge on
    serving == index-built-on-survivors.  At 100 TB the victim read
    is a column-pruned metadata scan and the sweep never touches a
    posting."""
    import datetime as dt

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    origin = dt.datetime(2024, 1, 1)
    aged = docs.withColumn(
        "ts", F.lit(origin) + F.make_interval(
            mins=F.col("doc_id").cast("int")))
    index = os.path.join(tempfile.mkdtemp(prefix="ttl_text_"), "index")
    retrieval_ops.build_inverted_index(aged, index, meta_cols=("ts",))
    info = retrieval_ops.retention_sweep_inverted_index(
        spark, index, origin + dt.timedelta(minutes=n // 4))
    assert info["tombstoned"] > 0, info
    scored = retrieval_ops.search_inverted_index(spark, index,
                                                 _BM25_TERMS)
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


_ANN_TTL_ORACLE = _IVFPQ_SEED_ORACLE.replace(
    "SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)",
    "SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)\n"
    "    AND vec_id >= (SELECT count(*) // 4 FROM embeddings)")
assert _ANN_TTL_ORACLE != _IVFPQ_SEED_ORACLE  # the splice anchor held


@register("ann_index_ttl_erase", oracle=_ANN_TTL_ORACLE)
def ann_index_ttl_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-SIDE forget-by-age for the ANN surface — the vector twin
    of text_index_ttl_sweep: the build records the row timestamp in
    meta_cols (the same recorded metadata that serves as a search
    pre-filter), so ``delete_index_where`` finds victims AND their
    cells in one column-pruned scan of the vectors sidecar (id + ts +
    cell pages, no vector bytes, no store access) and rewrites only
    the victim cells through the staged codes-first commit.  Serving
    after the erase probes the UNfiltered index; the oracle replays
    the full seed-IVFPQ composition with the candidate set cut to the
    survivors — an expired vector surfacing anywhere in the top-k, or
    the ADC shortlist still drawing on erased codes, fails the hash.
    Centroids and codebooks deliberately do not move (rebuild_index's
    job), exactly like the GDPR key-erase verb."""
    import datetime as dt

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    origin = dt.datetime(2024, 1, 1)
    aged = emb.withColumn(
        "ts", F.lit(origin) + F.make_interval(
            mins=F.col("vec_id").cast("int")))
    index = os.path.join(tempfile.mkdtemp(prefix="ttl_ann_"), "index")
    ann_index.build_index(spark, aged, index, nlist=16, m=8, ncodes=16,
                          meta_cols=("ts",))
    cutoff = origin + dt.timedelta(minutes=n // 4)
    touched = ann_index.delete_index_where(
        spark, index,
        f"ts < timestamp'{cutoff.strftime('%Y-%m-%d %H:%M:%S')}'")
    assert touched, "the erase must reach at least one cell"
    return ann_index.search_index(spark, index,
                                  _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50)


@register("pipeline_ttl_hybrid_serve", oracle=_hybrid_many_oracle(
    doc_from="(SELECT doc_id, text FROM documents "
             "WHERE doc_id >= (SELECT count(*) // 4 FROM documents))",
    vec_pred="vec_id >= (SELECT count(*) // 4 FROM embeddings)"))
def pipeline_ttl_hybrid_serve(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TTL capstone THROUGH fusion: both serving surfaces self-expire
    with the r16 index-side verbs (text: doclen-sidecar ts ->
    ``retention_sweep_inverted_index``; ANN: vectors-sidecar ts ->
    ``delete_index_where``), then batched hybrid serving fuses the
    post-TTL legs — an expired doc surfacing in EITHER leg's rank or
    the fused top-k fails the hash, as do corpus statistics still
    counting the expired quarter.  The oracle is the parameterized
    batched-hybrid construction with the keyword leg scored over the
    surviving documents and the vector candidate set cut to the
    surviving vectors — i.e. serving after TTL must be bit-identical
    to a hybrid stack BUILT on the survivors.  At 100 TB both expiries
    are index-local (metadata scans + tombstone/cell rewrites), and
    the serve stays two index reads."""
    import datetime as dt

    origin = dt.datetime(2024, 1, 1)
    root = tempfile.mkdtemp(prefix="ttl_hybrid_")

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings")
    tpath = os.path.join(root, "text_index")
    apath = os.path.join(root, "ann_index")

    # the two serving surfaces build and self-expire INDEPENDENTLY
    # (disjoint artifacts, no shared state) — run the legs as
    # concurrent job streams (guide §2.6); the fused serve starts
    # once both have committed
    def _text_leg() -> None:
        n_d = docs.count()
        retrieval_ops.build_inverted_index(
            docs.withColumn("ts", F.lit(origin) + F.make_interval(
                mins=F.col("doc_id").cast("int"))),
            tpath, meta_cols=("ts",))
        retrieval_ops.retention_sweep_inverted_index(
            spark, tpath, origin + dt.timedelta(minutes=n_d // 4))

    def _ann_leg() -> None:
        n_v = emb.count()
        ann_index.build_index(
            spark, emb.withColumn("ts", F.lit(origin) + F.make_interval(
                mins=F.col("vec_id").cast("int"))),
            apath, nlist=16, m=8, ncodes=16, meta_cols=("ts",))
        vcut = origin + dt.timedelta(minutes=n_v // 4)
        ann_index.delete_index_where(
            spark, apath,
            f"ts < timestamp'{vcut.strftime('%Y-%m-%d %H:%M:%S')}'")

    run_concurrently(_text_leg, _ann_leg)

    qids = sorted(_HYBRID_TERMS)
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin(qids))
          .select("vec_id", "embedding").collect()}
    queries = {qid: {"terms": _HYBRID_TERMS[qid], "qvec": qv[qid]}
               for qid in qids}
    return retrieval_ops.hybrid_serve_many(spark, tpath, apath, queries,
                                           leg_k=50, k=10, nprobe=4,
                                           shortlist=50)


_STOPWORD_TOKENS = ("string_split_regex(trim(lower(text || ' zstopz')), "
                    "'\\s+')")


@register("text_index_stopword_prune", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(["spark", "dup"],
                                         _STOPWORD_TOKENS)})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def text_index_stopword_prune(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Stopword pruning as index maintenance: a token appended to
    EVERY document (df ratio 1.0) is physically dropped from the
    postings by ``prune_inverted_index_stopwords``, and a query that
    still asks for it must score EXACTLY as if the term were removed
    from the query — zero contribution, docs matching only the
    stopword out of the matched set, doc lengths still counting the
    pruned token (dl is a document property, not a vocabulary one).
    The oracle scores the two SURVIVING terms over the stopword-
    bearing corpus (dl includes the appended token), so any residue of
    the pruned posting list — or a prune that touched the wrong
    buckets — fails the hash.  At 100 TB this is the classic
    index-size lever: the handful of terms above half the corpus own
    a huge share of posting bytes at ~zero idf; the prune rewrites
    only their term buckets through the staged crash-safe commit."""
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.concat(F.col("text"), F.lit(" zstopz"))
                    .alias("text")))
    index = os.path.join(tempfile.mkdtemp(prefix="stopword_"), "index")
    retrieval_ops.build_inverted_index(docs, index)
    info = retrieval_ops.prune_inverted_index_stopwords(spark, index,
                                                        max_df_ratio=0.9)
    assert info["pruned"] == ["zstopz"], info
    scored = retrieval_ops.search_inverted_index(
        spark, index, ["zstopz", "spark", "dup"])
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


_RECYCLE_CORPUS = ("(SELECT doc_id, text || ' zstopz' AS text "
                   "FROM documents UNION ALL "
                   "SELECT 1000000 + doc_id, 'qrecycle zstopz' "
                   "FROM documents WHERE doc_id % 50 = 0) corpus")


@register("text_index_stopword_recycle", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(["spark", "dup", "qrecycle"],
                                         _DUCK_TOKENS,
                                         from_table=_RECYCLE_CORPUS)})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def text_index_stopword_recycle(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Maintenance-family INTERPLAY capstone (VERDICT r16 item 6):
    prune -> upsert (the pruned term COMES BACK) -> re-prune -> serve,
    end-to-end on one persisted index.  A stopword prune is not a
    one-shot: on a live index the next document batch can reintroduce
    the pruned term at a fresh generation (upsert touches only the
    batch's term buckets and knows nothing of past prunes), so the
    prune must be re-runnable as SCHEDULED maintenance and each pass
    must re-derive stopwords from the CURRENT live df — never from a
    remembered list.  Sequence pinned here:

    1. build on the full corpus with ' zstopz' appended to every doc
       (df ratio 1.0) -> prune(0.9) drops exactly ['zstopz'] — the
       natural vocabulary's densest terms sit below that ratio;
    2. one upsert batch re-ingests EVERY doc (unchanged text, so each
       doc's zstopz posting returns at gen+1, shadowing its old
       generation) PLUS 10 brand-new docs carrying a rare term
       'qrecycle' -> a serving probe pins that the stopword genuinely
       came back (nonzero bm25);
    3. re-prune(0.9) re-derives df over the 510 live docs: zstopz is
       live in all of them (1.0 > 0.9) -> pruned AGAIN; qrecycle at
       10/510 survives — the threshold is a live-df property, not a
       vocabulary memory (and the cut scales with the grown corpus:
       459, not the build-time 450);
    4. the final serve asks for the stopword anyway — its
       contribution must be an EXACT zero while spark/dup/qrecycle
       score over the post-upsert corpus (originals keep the appended
       token in dl; the 10 new docs rank on qrecycle's high idf).

    The oracle scores the three SURVIVING terms over the upserted
    corpus rendered as SQL, so residue of either prune pass, a prune
    that forgot the reintroduced generation, or an upsert that failed
    to shadow cleanly all fail the hash.  At 100 TB every stage stays
    bucket-local: upsert appends O(batch) postings, each prune pass
    is one map-side-partial df aggregation plus a staged rewrite of
    only the stopword's term buckets."""
    base = (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.concat(F.col("text"), F.lit(" zstopz"))
                    .alias("text")))
    index = os.path.join(tempfile.mkdtemp(prefix="stopword_rec_"),
                         "index")
    retrieval_ops.build_inverted_index(base, index)
    first = retrieval_ops.prune_inverted_index_stopwords(
        spark, index, max_df_ratio=0.9)
    assert first["pruned"] == ["zstopz"], first
    batch = (base.unionByName(
        base.filter(F.col("doc_id") % 50 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.lit("qrecycle zstopz").alias("text"))))
    retrieval_ops.upsert_inverted_index(batch, index)
    # the stopword is BACK: the upserted generation serves it again
    came_back = retrieval_ops.search_inverted_index(
        spark, index, ["zstopz"])
    assert came_back.limit(1).count() == 1, "upsert must reintroduce"
    second = retrieval_ops.prune_inverted_index_stopwords(
        spark, index, max_df_ratio=0.9)
    assert second["pruned"] == ["zstopz"], second  # qrecycle survives
    scored = retrieval_ops.search_inverted_index(
        spark, index, ["zstopz", "spark", "dup", "qrecycle"])
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


_INVIDX_CACHE: dict[str, str] = {}


def _inverted_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache for the persisted inverted index (the text twin
    of _materialized_index): the fixture is immutable, so the offline
    index build runs once per sf_dir and every query serves from it."""
    if sf_dir not in _INVIDX_CACHE:
        path = os.path.join(tempfile.mkdtemp(prefix="invidx_"), "index")
        docs = readers.widen(_t(spark, sf_dir, "documents"))
        retrieval_ops.build_inverted_index(docs, path)
        _INVIDX_CACHE[sf_dir] = path
    return _INVIDX_CACHE[sf_dir]


@register("text_inverted_index_topk", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS)})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def text_inverted_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED inverted index — the text-side
    materialized-index lifecycle, mirroring ann_ivfpq_materialized on
    the ANN side: postings partitioned by term bucket (query terms
    prune to <= |terms| directories), doc lengths from the sidecar, NO
    tokenization and NO corpus text read at query time.  The oracle is
    text_bm25_topk's verbatim: integer inputs (tf, df, dl, N, Σdl) are
    identical to the scan-side path and the scoring expression tree is
    shared code (retrieval._bm25_score_col), so the index must
    reproduce the scan bit-for-bit."""
    path = _inverted_index(spark, sf_dir)
    scored = retrieval_ops.search_inverted_index(spark, path, _BM25_TERMS)
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


_MANY_TERMSETS = {"q1": ["spark", "query", "dup"],
                  "q2": ["data", "join"],
                  "q3": ["the", "vector"]}

_MANY_TERMSETS_LARGE = {"q1": ["spark", "query", "dup"],
                        "q2": ["data", "join"],
                        "q3": ["the", "vector"],
                        "q4": ["spark"],
                        "q5": ["join", "vector", "query"],
                        "q6": ["data"]}


def _text_many_oracle(termsets: dict | None = None,
                      doc_from: str = "documents") -> str:
    subs = []
    for qid, terms in sorted((termsets or _MANY_TERMSETS).items()):
        subs.append(f"""
SELECT '{qid}' AS qid, doc_id, CAST(dl AS BIGINT) AS dl,
       (round(bm25, 6) + 0) AS bm25
FROM ({retrieval_ops.duck_bm25(terms, _DUCK_TOKENS,
                               from_table=doc_from)})
QUALIFY row_number() OVER (
  ORDER BY (round(bm25, 6) + 0) DESC, doc_id) <= 20""")
    return "\nUNION ALL\n".join(subs)


@register("text_search_many", oracle=_text_many_oracle())
def text_search_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query BM25 from the persisted inverted index —
    the text twin of search_index_many and the keyword leg's high-QPS
    path: three term-set queries in ONE plan.  The union of all query
    terms prunes the postings once (term-bucket partition filter,
    checkpointed at the matching-postings working set), doclen
    contributes one corpus-stats row plus one matching-docs dl join,
    and each query's scoring subplan reuses the single-query path's
    exact BM25 expression tree over those shared checkpoints — scores
    are bit-identical to three separate index serves, which is why
    the oracle is simply the per-query scan-side BM25 stacked with
    QUALIFY top-20s."""
    path = _inverted_index(spark, sf_dir)
    return retrieval_ops.search_inverted_index_many(
        spark, path, _MANY_TERMSETS, k=20)


@register("text_search_many_large",
          oracle=_text_many_oracle(_MANY_TERMSETS_LARGE))
def text_search_many_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 serving on the LARGE-Q strategy — the
    constant-plan path search_inverted_index_many switches to above
    ``literal_max`` queries (forced here with literal_max=0 so the
    driver value-verifies it directly): the term sets move from Q
    unioned projection subplans into a broadcast (qid, term, qpos,
    df) frame that replicates each pruned posting to exactly the
    queries containing its term, ONE (qid, doc) aggregation pivots
    tf/df per query-term position, and one gated scoring fold ranks
    every query — plan size constant in Q, per-row work sum_q
    |postings matching q's terms| (the same postings Q single calls
    would touch).  Same doubles as the literal strategy (identical
    per-term contribution tree from identical integer inputs, padding
    terms exact zeros — pinned in tests/test_retrieval.py); the
    oracle stacks per-query scan-side BM25 top-20s at Q=6."""
    path = _inverted_index(spark, sf_dir)
    return retrieval_ops.search_inverted_index_many(
        spark, path, _MANY_TERMSETS_LARGE, k=20, literal_max=0)


def _invidx_copy(spark: SparkSession, sf_dir: str,
                 base90: bool = False, old5: bool = False) -> str:
    """A writable copy of a cached inverted-index build: the full
    corpus (default), the 90% base (``base90`` — the pre-crawl state
    the upsert row folds the held-out slice into), or the doc_id%5!=0
    old snapshot (``old5`` — the pre-diff state the changefeed row
    applies a feed to).  Builds are offline jobs, cached per fixture;
    mutating rows each take a copy."""
    import shutil

    key = ((sf_dir, "base90") if base90
           else (sf_dir, "old5") if old5 else sf_dir)
    if key not in _INVIDX_CACHE:
        path = os.path.join(tempfile.mkdtemp(prefix="invidx_"), "index")
        docs = readers.widen(_t(spark, sf_dir, "documents"))
        if base90:
            docs = docs.filter(F.col("doc_id") % 10 != 3)
        elif old5:
            docs = docs.filter(F.col("doc_id") % 5 != 0)
        retrieval_ops.build_inverted_index(docs, path)
        _INVIDX_CACHE[key] = path
    out = os.path.join(tempfile.mkdtemp(prefix="invidx_mut_"), "index")
    shutil.copytree(_INVIDX_CACHE[key], out)
    return out


def _invidx_top20(spark: SparkSession, path: str) -> DataFrame:
    scored = retrieval_ops.search_inverted_index(spark, path, _BM25_TERMS)
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


@register("text_index_upsert", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS)})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def text_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the persisted inverted index — the
    text twin of ann_index_upsert, closing the crawl loop's BM25 leg
    (pipeline_crawl_admit_index admits documents whose keyword serving
    would otherwise go stale): build on 90% of the corpus (cached
    offline job), fold the held-out 10% in via upsert_inverted_index —
    postings/doclen APPEND at a fresh generation touching only the
    batch's term buckets, prior versions tombstoned, O(batch) always —
    then serve.  The oracle is the full-corpus scan-side BM25
    verbatim: build-then-upsert must equal the single-shot build
    bit-for-bit, integer inputs and all."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    path = _invidx_copy(spark, sf_dir, base90=True)
    retrieval_ops.upsert_inverted_index(
        docs.filter(F.col("doc_id") % 10 == 3), path)
    return _invidx_top20(spark, path)


_TEXT_ERASE_ORACLE = f"""
WITH scored AS ({retrieval_ops.duck_bm25(
    _BM25_TERMS, _DUCK_TOKENS,
    from_table="(SELECT * FROM documents WHERE doc_id % 10 <> 3)")})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
"""


@register("text_index_erase", oracle=_TEXT_ERASE_ORACLE)
def text_index_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure in the text index — the GDPR verb's keyword twin,
    O(batch) and touching NO postings: delete_inverted_docs appends
    tombstones that kill every stored version of the victim ids, and
    serving filters through the (compaction-bounded) tombstone
    broadcast with corpus stats (N, Σdl, df) recounted over live rows
    only.  The oracle is the scan-side BM25 over the surviving
    documents: erased docs must be unreachable AND absent from the
    statistics — a tombstone that hid rows but left them in the stats
    would shift every idf and fail the value check."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    path = _invidx_copy(spark, sf_dir)
    retrieval_ops.delete_inverted_docs(
        docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"), path)
    return _invidx_top20(spark, path)


@register("text_index_compact", oracle=_TEXT_ERASE_ORACLE)
def text_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduled job that bounds the tombstone set: after the
    erasure, compact_inverted_index physically drops dead rows from
    postings and doclen (staged rewrite, swap, tombstones cleared) —
    and serving the compacted index must return exactly what the
    tombstone-filtered index served (same oracle as text_index_erase):
    compaction moves bytes, never results."""
    import os as _os

    docs = readers.widen(_t(spark, sf_dir, "documents"))
    path = _invidx_copy(spark, sf_dir)
    retrieval_ops.delete_inverted_docs(
        docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"), path)
    stats = retrieval_ops.compact_inverted_index(spark, path)
    assert stats["postings_after"] < stats["postings_before"]
    assert stats["doclen_after"] < stats["doclen_before"]
    assert not _os.path.isdir(_os.path.join(path, "tombstones"))
    return _invidx_top20(spark, path)


_SRC_SLICE = "('src1', 'src3', 'src5', 'src7')"


@register("text_index_filtered_search", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(
    _BM25_TERMS, _DUCK_TOKENS,
    from_table=f"(SELECT doc_id, text FROM documents "
               f"WHERE source IN {_SRC_SLICE})")})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def text_index_filtered_search(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Filtered keyword serving from the persisted inverted index —
    the text twin of the label-filtered ANN serve: the build stored
    the source column in the doclen sidecar (meta_cols), so a
    ``where`` predicate serves the query WITHIN a corpus slice —
    eligibility gates through the doclen join, and every statistic
    (N, Σdl, per-term df) is recounted over eligible docs only.  The
    oracle is the scan-side BM25 over the slice: filtered serving
    must be bit-identical to an index built on the slice alone."""
    path = _src_inverted_index(spark, sf_dir)
    scored = retrieval_ops.search_inverted_index(
        spark, path, _BM25_TERMS,
        where=f"source IN {_SRC_SLICE}")
    return (scored.select("doc_id",
                          F.col("dl").cast("long").alias("dl"),
                          rnd(F.col("bm25"), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(20))


def _src_inverted_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache for the metadata-carrying inverted index
    (meta_cols=("source",))."""
    key = (sf_dir, "src")
    if key not in _INVIDX_CACHE:
        path = os.path.join(tempfile.mkdtemp(prefix="invidxsrc_"),
                            "index")
        docs = readers.widen(_t(spark, sf_dir, "documents"))
        retrieval_ops.build_inverted_index(docs, path,
                                           meta_cols=("source",))
        _INVIDX_CACHE[key] = path
    return _INVIDX_CACHE[key]


@register("text_filtered_many_large", oracle=_text_many_oracle(
    _MANY_TERMSETS_LARGE,
    doc_from=f"(SELECT doc_id, text FROM documents "
             f"WHERE source IN {_SRC_SLICE})"))
def text_filtered_many_large(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Batched + FILTERED + large-Q BM25 in one driver row — the
    serving-envelope cross-product the per-axis rows pin separately:
    six term-set queries on the broadcast-data strategy
    (literal_max=0) served WITHIN a source slice of the meta_cols
    index.  The slice gate must compose with the strategy exactly as
    it does with the literal one: eligibility flows through the
    doclen semi join BEFORE the (qid, doc) aggregation, and every
    statistic — N, Σdl, and the per-union-term df values that ride
    the broadcast frame from the dimension-bounded collect — recounts
    over eligible docs only, so the oracle is simply the scan-side
    BM25 of the SLICED corpus stacked per query."""
    path = _src_inverted_index(spark, sf_dir)
    return retrieval_ops.search_inverted_index_many(
        spark, path, _MANY_TERMSETS_LARGE, k=20, literal_max=0,
        where=f"source IN {_SRC_SLICE}")


@register("hybrid_filtered_serve", oracle=_hybrid_many_oracle(
    doc_from=f"(SELECT doc_id, text FROM documents "
             f"WHERE source IN {_SRC_SLICE})",
    vec_pred="label % 2 = 0"))
def hybrid_filtered_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED batched hybrid serving — the full production shape in
    one row: Q (term-set, query-vector) pairs answered inside a corpus
    slice, the keyword leg gated by a source predicate over the text
    index's recorded meta_cols (statistics recounted over the slice),
    the vector leg label-gated BEFORE any ADC work (pre-filter
    stacking with cell pruning), fused with the same 6dp-grid RRF.
    Still two index reads for the whole batch.  The oracle is the
    proven batched-hybrid construction with the keyword leg scored
    over the document slice and the vector candidate set label-gated
    before encoding — filter-at-serve must equal slice semantics end
    to end."""
    emb = _t(spark, sf_dir, "embeddings")
    qids = sorted(_HYBRID_TERMS)
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin(qids))
          .select("vec_id", "embedding").collect()}
    queries = {qid: {"terms": _HYBRID_TERMS[qid], "qvec": qv[qid]}
               for qid in qids}
    tpath = _src_inverted_index(spark, sf_dir)
    apath = _labeled_index(spark, sf_dir)
    return retrieval_ops.hybrid_serve_many(
        spark, tpath, apath, queries, leg_k=50, k=10, nprobe=4,
        shortlist=50, where_text=f"source IN {_SRC_SLICE}",
        where_ann="label % 2 = 0")


@register("hybrid_filtered_many_large", oracle=_hybrid_many_oracle(
    doc_from=f"(SELECT doc_id, text FROM documents "
             f"WHERE source IN {_SRC_SLICE})",
    vec_pred="label % 2 = 0",
    termsets=_HYBRID_TERMS_LARGE))
def hybrid_filtered_many_large(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The COMPLETE serving envelope as one driver row: six hybrid
    queries, BOTH legs on the broadcast-data strategy (literal_max=0),
    BOTH legs slice-gated (source predicate on the text index's
    recorded meta_cols with statistics recounted over the slice;
    label pre-filter stacking with cell pruning on the vector leg),
    fused on the 6dp RRF grid — batched x filtered x large-Q x hybrid
    in a single value-checked plan.  The lifecycle model test drives
    this cross-product under maintenance; this row gives the driver
    the static-corpus value check with the fully parameterized
    batched-hybrid oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    qids = sorted(_HYBRID_TERMS_LARGE)
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin(qids))
          .select("vec_id", "embedding").collect()}
    queries = {qid: {"terms": _HYBRID_TERMS_LARGE[qid], "qvec": qv[qid]}
               for qid in qids}
    tpath = _src_inverted_index(spark, sf_dir)
    apath = _labeled_index(spark, sf_dir)
    return retrieval_ops.hybrid_serve_many(
        spark, tpath, apath, queries, leg_k=50, k=10, nprobe=4,
        shortlist=50, where_text=f"source IN {_SRC_SLICE}",
        where_ann="label % 2 = 0", literal_max=0)


@register("streaming_text_index_upsert", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS)})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def streaming_text_index_upsert(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Streaming document ingestion into the persisted inverted index
    — the text twin of streaming_index_upsert, closing the live-crawl
    loop's keyword leg: the held-out 10% of the corpus arrives as a
    file stream (3 files, maxFilesPerTrigger=1, so THREE separate
    micro-batches), and foreachBatch folds each one in via
    upsert_inverted_index — every micro-batch lands at its own
    generation, touching only its term buckets.  Sharing
    text_index_upsert's full-corpus oracle proves batch-split
    invariance: N micro-batch generations serve bit-identically to
    one bulk upsert and to the single-shot build — what makes
    continuous keyword ingest safe to retry and re-shard."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    batch = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id", "text")
    path = _invidx_copy(spark, sf_dir, base90=True)

    src = os.path.join(tempfile.mkdtemp(prefix="txtstream_"), "incoming")
    batch.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def fold(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        retrieval_ops.upsert_inverted_index(bdf, path)

    ckpt = tempfile.mkdtemp(prefix="ckpt_txtstream_")
    streaming_ops._drive(
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt).start())
    return _invidx_top20(spark, path)


@register("streaming_text_index_erase", oracle=_TEXT_ERASE_ORACLE)
def streaming_text_index_erase(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Streaming erasure of the inverted index — the text twin of
    streaming_index_erase (the live GDPR feed): victim ids arrive as a
    3-file id stream, foreachBatch appends tombstones via
    delete_inverted_docs (O(batch), no postings touched), and serving
    filters through the tombstone broadcast with stats recounted over
    live rows.  Same oracle as text_index_erase: N micro-batch
    tombstone appends must serve exactly like one bulk delete — the
    idempotent-under-resharding property a retryable forget pipeline
    needs."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    victims = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id")
    path = _invidx_copy(spark, sf_dir)

    src = os.path.join(tempfile.mkdtemp(prefix="txterase_"), "victims")
    victims.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(victims.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def forget(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        retrieval_ops.delete_inverted_docs(bdf, path)

    ckpt = tempfile.mkdtemp(prefix="ckpt_txterase_")
    streaming_ops._drive(
        stream.writeStream.foreachBatch(forget)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt).start())
    return _invidx_top20(spark, path)


@register("text_index_stats", oracle=f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks
  FROM documents WHERE doc_id % 10 <> 3
), p AS (SELECT doc_id, unnest(toks) AS term FROM t)
SELECT (SELECT count(*) FROM t) AS n_docs,
       (SELECT CAST(sum(len(toks)) AS BIGINT) FROM t) AS sum_dl,
       (SELECT count(DISTINCT term) FROM p) AS n_terms,
       (SELECT count(*) FROM (SELECT DISTINCT doc_id, term FROM p))
         AS n_postings,
       (SELECT count(*) FROM documents WHERE doc_id % 10 = 3)
         AS n_tombstoned
""")
def text_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-index observability — the twin of ann_index_stats: live
    doc count, Σdl, vocabulary size and postings rows (metadata-light
    partial aggregates, no text read) plus the tombstone backlog, the
    signal that schedules compact_inverted_index exactly as cell-
    balance decay schedules the ANN rebuild.  Computed here after
    erasing the doc_id%10==3 slice, so the oracle checks both the
    live-side invariants and the backlog count against the raw
    corpus."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    path = _invidx_copy(spark, sf_dir)
    retrieval_ops.delete_inverted_docs(
        docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"), path)
    return retrieval_ops.inverted_index_stats(spark, path)


@register("changefeed_apply_text_index", oracle=f"""
WITH scored AS ({retrieval_ops.duck_bm25(
    _BM25_TERMS, _DUCK_TOKENS,
    from_table="(SELECT doc_id, CASE WHEN doc_id % 3 = 0 "
               "THEN text || ' spark query' ELSE text END AS text "
               "FROM documents WHERE doc_id % 7 <> 0)")})
SELECT doc_id, CAST(dl AS BIGINT) AS dl, (round(bm25, 6) + 0) AS bm25
FROM scored
ORDER BY (round(bm25, 6) + 0) DESC, doc_id LIMIT 20
""")
def changefeed_apply_text_index(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Changefeed-driven TEXT-index maintenance — the wiring that ends
    the serving tier's last manual leg (the ANN index already self-
    maintains from store_changefeed deltas; this is the inverted
    index's twin): two corpus snapshots are diffed exactly as
    store_changefeed does (full-outer join on the key; old =
    doc_id%5!=0, new = doc_id%7!=0 with the %3==0 slice's text
    appended ' spark query', so all three action kinds occur AND
    updates genuinely change postings, df and dl for the query
    terms), and the feed is applied by
    retrieval.apply_changefeed_text_index — deletes append tombstones
    (O(batch), no postings touched); inserts and updates fold in via
    upsert_inverted_index, whose tombstone-at-old-generation shadows
    every prior posting of an updated doc wherever its old terms
    scattered.  The oracle is the scan-side BM25 over the NEW snapshot
    — the state apply must converge to, whatever the diff contained —
    bit-for-bit, stats (N, Σdl, df) included."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    perturbed = F.concat(F.col("text"), F.lit(" spark query"))
    old = (docs.filter(F.col("doc_id") % 5 != 0)
           .select("doc_id", F.col("text").alias("old_text")))
    new = (docs.filter(F.col("doc_id") % 7 != 0)
           .select(F.col("doc_id").alias("n_id"),
                   F.when(F.col("doc_id") % 3 == 0, perturbed)
                   .otherwise(F.col("text")).alias("new_text")))
    diff = old.join(new, old.doc_id == new.n_id, "full_outer")
    feed = (diff.filter(F.col("doc_id").isNull()
                        | F.col("n_id").isNull()
                        | (F.col("old_text") != F.col("new_text")))
            .select(F.coalesce("doc_id", "n_id").alias("doc_id"),
                    F.when(F.col("doc_id").isNull(), F.lit("insert"))
                    .when(F.col("n_id").isNull(), F.lit("delete"))
                    .otherwise(F.lit("update")).alias("action"),
                    "old_text", "new_text"))
    path = _invidx_copy(spark, sf_dir, old5=True)
    stats = retrieval_ops.apply_changefeed_text_index(spark, path, feed)
    assert stats["deleted"] and stats["upserted"]
    return _invidx_top20(spark, path)


@register("pipeline_forget_and_serve", oracle=f"""
WITH base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3),
surv AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 7),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM base ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cscored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM surv e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
), cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50),
v_top AS (
  SELECT c.vec_id AS doc_id,
         (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6)
          + 0) AS s
  FROM cand c JOIN short sh ON sh.vec_id = c.vec_id
  ORDER BY s DESC, doc_id LIMIT 50
), v_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS rank_vec
  FROM v_top
), kw_scored AS ({retrieval_ops.duck_bm25(
    _BM25_TERMS, _DUCK_TOKENS,
    from_table="(SELECT * FROM documents WHERE doc_id % 10 <> 7)")}),
kw_top AS (
  SELECT doc_id, (round(bm25, 6) + 0) AS s FROM kw_scored
  ORDER BY s DESC, doc_id LIMIT 50
), kw_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS rank_kw
  FROM kw_top
)
SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id, k.rank_kw, v.rank_vec,
       (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
            + COALESCE(1.0::DOUBLE / (60 + v.rank_vec), 0.0), 6) + 0) AS rrf
FROM kw_rank k FULL JOIN v_rank v ON k.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id LIMIT 10
""")
def pipeline_forget_and_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed index lifecycle a deployment actually runs —
    forget, admit, serve, in one flow: (1) the primary store erases a
    key set (delete_keys) and upserts a crawl batch (upsert_parquet);
    (2) BOTH serving indexes are maintained incrementally — the ANN
    store via delete_index_keys (victims' cells from the O(batch) fast
    path: their current rows are read bucket-pruned from the store
    BEFORE the erase and assigned against the persisted centroids) +
    upsert_index, the text index via tombstones + generation append;
    (3) hybrid search serves the merged truth with both legs reading
    the MAINTAINED indexes — BM25 from pruned postings, vectors from
    the cell-pruned IVFPQ store — fused by RRF over two 50-row rank
    frames.  The oracle replays the whole composition over the merged
    corpus (base minus erased plus admitted) under the base-build
    artifacts: a stale leg, a resurrected victim, or a missed
    admission all shift ranks and fail the value check.  Every stage
    is O(batch) or candidate-bounded except the two index-serving
    reads, which prune to probed cells / query-term buckets."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    erase_ids = (emb.filter(F.col("vec_id") % 10 == 7)
                 .select("vec_id").localCheckpoint())
    batch_emb = emb.filter(F.col("vec_id") % 10 == 3)

    # source-of-truth store: base corpus (built once per fixture and
    # cached like the index builds — each invocation mutates a copy),
    # then the two verbs
    import shutil as _shutil

    cache_key = (sf_dir, "forget_store")
    if cache_key not in _ANN_INDEX_CACHE:
        base_store = os.path.join(tempfile.mkdtemp(prefix="forget_"),
                                  "store")
        sinks.upsert_parquet(spark,
                             emb.filter(F.col("vec_id") % 10 != 3),
                             base_store, key="vec_id",
                             order_col="vec_id")
        _ANN_INDEX_CACHE[cache_key] = base_store
    store = os.path.join(tempfile.mkdtemp(prefix="forget_"), "store")
    _shutil.copytree(_ANN_INDEX_CACHE[cache_key], store)
    # the victims' current rows, read BEFORE the store erase — the
    # O(batch) cell-lookup input for the ANN-side erasure
    victim_rows = (sinks.read_store(spark, store)
                   .join(F.broadcast(erase_ids), "vec_id", "semi")
                   .localCheckpoint())

    # The three maintenance legs — primary store, ANN index, text
    # index — touch disjoint artifacts and share only the checkpointed
    # erase/batch frames, so they run as concurrent job streams (guide
    # §2.6), exactly as a production scheduler would dispatch them;
    # each leg keeps its own internal ordering (erase before admit).
    # The serve below starts when both index legs have committed.
    def _store_leg() -> None:
        sinks.delete_keys(spark, store, "vec_id", erase_ids)
        sinks.upsert_parquet(spark, batch_emb, store,
                             key="vec_id", order_col="vec_id")

    def _ann_leg() -> str:
        path = _upsert_base_copy(spark, sf_dir)
        ann_index.delete_index_keys(spark, path, erase_ids,
                                    vectors=victim_rows)
        ann_index.upsert_index(spark, path, batch_emb)
        return path

    def _txt_leg() -> str:
        path = _invidx_copy(spark, sf_dir, base90=True)
        retrieval_ops.delete_inverted_docs(
            docs.filter(F.col("doc_id") % 10 == 7).select("doc_id"),
            path)
        retrieval_ops.upsert_inverted_index(
            docs.filter(F.col("doc_id") % 10 == 3), path)
        return path

    _, ann_path, txt_path = run_concurrently(_store_leg, _ann_leg,
                                             _txt_leg)

    kw = (retrieval_ops.search_inverted_index(spark, txt_path,
                                              _BM25_TERMS)
          .select("doc_id", rnd(F.col("bm25"), 6).alias("s")))
    kw_rank = retrieval_ops.bounded_rank(kw, "s", "doc_id", 50)
    vec = (ann_index.search_index(spark, ann_path,
                                  _query_vec(spark, sf_dir),
                                  k=50, nprobe=4, shortlist=50)
           .select(F.col("vec_id").alias("doc_id"),
                   F.col("sim").alias("s")))
    vec_rank = retrieval_ops.bounded_rank(vec, "s", "doc_id", 50)
    fused = retrieval_ops.rrf_fuse([kw_rank, vec_rank], topk=10)
    return fused.select("doc_id",
                        F.col("rank_0").alias("rank_kw"),
                        F.col("rank_1").alias("rank_vec"),
                        "rrf")


def _cfeed_old_copy(spark: SparkSession, sf_dir: str) -> str:
    """Writable copy of the index built on the changefeed row's OLD
    snapshot (vec_id%5<>0, embeddings cast to double so the update
    payloads union cleanly); cached like the other build jobs."""
    import shutil

    key = (sf_dir, "cfeed_old")
    if key not in _ANN_INDEX_CACHE:
        base_path = os.path.join(tempfile.mkdtemp(prefix="cfeed_"),
                                 "index")
        old = (_t(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") % 5 != 0)
               .select("vec_id",
                       F.transform("embedding",
                                   lambda x: x.cast("double"))
                       .alias("embedding")))
        ann_index.build_index(spark, old, base_path,
                              nlist=16, m=8, ncodes=16)
        _ANN_INDEX_CACHE[key] = base_path
    path = os.path.join(tempfile.mkdtemp(prefix="cfeed_"), "index")
    shutil.copytree(_ANN_INDEX_CACHE[key], path)
    return path


@register("changefeed_apply_index", oracle=f"""
WITH oldc AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0
), newc AS (
  SELECT vec_id,
         CASE WHEN vec_id % 3 = 0
              THEN list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) + 0.5)
              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE))
         END AS embedding
  FROM embeddings WHERE vec_id % 7 <> 0
), cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM oldc ORDER BY vec_id LIMIT 16
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cscored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM newc e CROSS JOIN cent c
), celled AS (
  SELECT vec_id, embedding, centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM cscored) WHERE rn = 1
), probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 4
), cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe)
), seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM oldc ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
), ev AS (
  SELECT c.vec_id, js.j, c.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM cand c CROSS JOIN js
), coded AS (
  SELECT vec_id, j, cw FROM (
    SELECT ev.vec_id, ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
), short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50)
SELECT c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM cand c JOIN short s ON s.vec_id = c.vec_id
ORDER BY sim DESC, c.vec_id LIMIT 10
""")
def changefeed_apply_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changefeed-driven index maintenance — the wiring that makes the
    index a DERIVED artifact of the store: two snapshots are diffed
    exactly as store_changefeed does (full-outer join on the key; here
    the payload is the embedding itself, with the %3==0 slice of the
    new snapshot perturbed so all three action kinds occur AND updates
    genuinely move vectors), and the resulting feed is applied by
    ann_index.apply_changefeed_index — deletes and updates erase first
    through the O(batch) fast path (the feed's OLD payloads locate
    their cells by centroid assignment, no index scan; erase-first is
    what keeps a cell-moving update from stranding its stale copy),
    then inserts and updates merge their NEW payloads.  The oracle
    replays the IVFPQ composition over the NEW snapshot under the
    OLD snapshot's artifacts — exactly the state apply must converge
    to, whatever the diff contained."""
    emb = _t(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    perturbed = F.transform("embedding",
                            lambda x: x.cast("double") + F.lit(0.5))
    old = (emb.filter(F.col("vec_id") % 5 != 0)
           .select("vec_id", as_double.alias("old_embedding")))
    new = (emb.filter(F.col("vec_id") % 7 != 0)
           .select(F.col("vec_id").alias("n_id"),
                   F.when(F.col("vec_id") % 3 == 0, perturbed)
                   .otherwise(as_double).alias("new_embedding")))
    diff = old.join(new, old.vec_id == new.n_id, "full_outer")
    feed = (diff.filter(F.col("vec_id").isNull()
                        | F.col("n_id").isNull()
                        | (F.col("old_embedding")
                           != F.col("new_embedding")))
            .select(F.coalesce("vec_id", "n_id").alias("vec_id"),
                    F.when(F.col("vec_id").isNull(), F.lit("insert"))
                    .when(F.col("n_id").isNull(), F.lit("delete"))
                    .otherwise(F.lit("update")).alias("action"),
                    "old_embedding", "new_embedding"))
    path = _cfeed_old_copy(spark, sf_dir)
    stats = ann_index.apply_changefeed_index(spark, path, feed)
    assert stats["erased_cells"] and stats["merged_cells"]
    return ann_index.search_index(spark, path,
                                  _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50)


@register("store_changefeed", oracle="""
WITH old AS (
  SELECT vec_id, label FROM embeddings WHERE vec_id % 5 <> 0
), new AS (
  SELECT vec_id,
         CASE WHEN vec_id % 3 = 0 THEN label + 10 ELSE label END AS label
  FROM embeddings WHERE vec_id % 7 <> 0
)
SELECT COALESCE(o.vec_id, n.vec_id) AS vec_id,
       CASE WHEN o.vec_id IS NULL THEN 'insert'
            WHEN n.vec_id IS NULL THEN 'delete'
            ELSE 'update' END AS action,
       o.label AS old_label, n.label AS new_label
FROM old o FULL OUTER JOIN new n ON n.vec_id = o.vec_id
WHERE o.vec_id IS NULL OR n.vec_id IS NULL OR o.label <> n.label
""")
def store_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data capture between two store snapshots: the feed a
    100 TB store's downstream consumers (index maintainers, caches,
    replicas) subscribe to instead of re-reading the table.  Two
    snapshots are written to parquet in-query (old = vec_id%5!=0;
    new = vec_id%7!=0 with labels bumped on the %3==0 slice, so all
    three action kinds occur), then diffed with ONE full-outer join on
    the key: key only in new -> insert, only in old -> delete, payload
    changed -> update, identical rows drop out.  On the bucketed store
    both snapshots share the layout, so at scale the join co-locates
    bucket-by-bucket with no wide exchange, and byte-identical bucket
    directories can be skipped entirely before the join (file-level
    pruning) — the diff costs O(changed buckets), not O(store)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    root = tempfile.mkdtemp(prefix="cdc_")
    old_dir, new_dir = os.path.join(root, "old"), os.path.join(root, "new")
    emb.filter(F.col("vec_id") % 5 != 0).write.parquet(old_dir)
    (emb.filter(F.col("vec_id") % 7 != 0)
     .withColumn("label",
                 F.when(F.col("vec_id") % 3 == 0, F.col("label") + 10)
                 .otherwise(F.col("label")))
     .write.parquet(new_dir))
    old = spark.read.parquet(old_dir).select(
        F.col("vec_id").alias("o_id"), F.col("label").alias("old_label"))
    new = spark.read.parquet(new_dir).select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("new_label"))
    diff = old.join(new, old.o_id == new.n_id, "full_outer")
    return (diff.filter(F.col("o_id").isNull() | F.col("n_id").isNull()
                        | (F.col("old_label") != F.col("new_label")))
            .select(F.coalesce("o_id", "n_id").alias("vec_id"),
                    F.when(F.col("o_id").isNull(), F.lit("insert"))
                    .when(F.col("n_id").isNull(), F.lit("delete"))
                    .otherwise(F.lit("update")).alias("action"),
                    "old_label", "new_label"))


# =========================================================================
# Corpus audits: cross-source overlap, snapshot drift, reservoirs, BPE
# =========================================================================

@register("corpus_overlap_matrix", oracle=f"""
WITH toks AS (
  SELECT source, {_DUCK_TOKENS} AS toks FROM documents
), sh AS (
  SELECT DISTINCT source AS src, unnest({_duck_shingles(3)}) AS shingle
  FROM toks
), per AS (
  SELECT src, count(*) AS n_sh FROM sh GROUP BY src
), inter AS (
  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.src < b.src
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, pa.n_sh AS n_a, pb.n_sh AS n_b, i.n_inter,
       (round(CAST(i.n_inter AS DOUBLE)
              / (pa.n_sh + pb.n_sh - i.n_inter), 6) + 0) AS jaccard,
       (round(CAST(i.n_inter AS DOUBLE)
              / least(pa.n_sh, pb.n_sh), 6) + 0) AS containment
FROM inter i
JOIN per pa ON pa.src = i.src_a
JOIN per pb ON pb.src = i.src_b
ORDER BY jaccard DESC, src_a, src_b LIMIT 20
""")
def corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: exact shingle-set Jaccard and
    containment for every source pair, top-20 by overlap.  The join key
    is the shingle (one shuffle, vocabulary-bounded) — sources^2 counts
    come out of map-side partials, never an all-pairs document join."""
    docs = _t(spark, sf_dir, "documents")
    return corpus_ops.source_shingle_overlap(docs, shingle_n=3, top=20)


@register("sample_fixed_k_per_group", oracle=f"""
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_DUCK_HASH48.format(x="CAST(doc_id AS VARCHAR)")},
                    doc_id) AS rk
  FROM documents
) WHERE rk <= 5
""")
def sample_fixed_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k reservoir per source: hash-order
    row_number <= 5.  Same 5 docs every run under any partitioning —
    the balanced-eval-set builder ``rand()`` sampling can't provide.
    Window is partitioned by source (guard-compliant)."""
    docs = _t(spark, sf_dir, "documents")
    return (corpus_ops.deterministic_group_sample(
        docs, group_col="source", id_col="doc_id", k=5)
        .select("source", "doc_id", "n_chars"))


@register("grouping_sets_report", oracle="""
SELECT event_type, day, count(*) AS n,
       (round(sum(value), 3) + 0) AS sum_value
FROM (SELECT event_type, date_trunc('day', ts) AS day, value FROM events)
GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
""")
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the remaining member of the multi-granularity
    aggregate family next to ``rollup_order_status`` / ``cube_order_
    priority``: per (type, day), per type, per day, and grand total in
    ONE pass (Spark expands then aggregates; partial aggregation still
    applies per set).  At 100 TB this replaces four separate scans of
    the fact table with one."""
    ev = (_t(spark, sf_dir, "events")
          .withColumn("day", F.date_trunc("day", "ts")))
    return (ev.groupingSets([["event_type", "day"], ["event_type"],
                             ["day"], []],
                            "event_type", "day")
            .agg(F.count("*").alias("n"),
                 rnd(F.sum("value"), 3).alias("sum_value")))


@register("bpe_pair_frequencies", oracle=f"""
WITH toks AS (
  SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
), al AS (
  SELECT tok FROM toks
  WHERE regexp_full_match(tok, '[a-z]+') AND length(tok) >= 2
), pairs AS (
  SELECT unnest([tok[i + 1] || tok[i + 2]
                 FOR i IN range(length(tok) - 1)]) AS pair
  FROM al
)
SELECT pair, count(*) AS cnt FROM pairs
GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
""")
def bpe_pair_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character-pair counts over alphabetic tokens —
    the argmax of the first BPE merge (tokenizer vocabulary induction,
    audit form).  Aggregate key domain is |alphabet|^2, so map-side
    partials collapse the shuffle to a constant regardless of corpus
    size."""
    docs = _t(spark, sf_dir, "documents")
    return corpus_ops.bpe_pair_counts(docs, top=20)


def _bpe_round_ctes(k: int) -> str:
    """The shared K-round BPE training CTE chain (t0, b1, t1 ... tK):
    one (pair-count argmax, rewrite) CTE pair per round — the DuckDB
    rendering of the Spark driver loop, merge-for-merge (greedy
    sequential training is not expressible in a recursive CTE for the
    same reason as greedy MMR: the recursive term can't aggregate over
    its own accumulation).  Composed by BOTH the training oracle
    (_bpe_rounds_sql) and the encode oracle (_bpe_encode_sql) so the
    two agree on every merge by construction."""
    parts = [f"""
WITH t0 AS (
  SELECT trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS s FROM (
    SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
  ) WHERE regexp_full_match(tok, '[a-z]+') AND length(tok) >= 2
)"""]
    for r in range(1, k + 1):
        parts.append(f""", b{r} AS MATERIALIZED (
  SELECT pair, count(*) AS cnt FROM (
    SELECT unnest([l[i+1] || ' ' || l[i+2]
                   FOR i IN range(len(l) - 1)]) AS pair
    FROM (SELECT string_split(s, ' ') AS l FROM t{r - 1})
  ) GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
), t{r} AS (
  SELECT trim(replace(' ' || s || ' ',
                      ' ' || (SELECT pair FROM b{r}) || ' ',
                      ' ' || replace((SELECT pair FROM b{r}), ' ', '')
                          || ' ')) AS s
  FROM t{r - 1}
)""")
    return "".join(parts)


def _bpe_rounds_sql(k: int) -> str:
    """Unrolled K-round BPE training oracle over the shared round
    CTEs: one (round, pair, merged, cnt) row per round."""
    selects = [f"SELECT CAST({r} AS INT) AS round, pair, "
               f"replace(pair, ' ', '') AS merged, cnt FROM b{r}"
               for r in range(1, k + 1)]
    return _bpe_round_ctes(k) + "\n" + "\nUNION ALL ".join(selects)


def _bpe_encode_sql(k: int) -> str:
    """Encode-the-corpus oracle: derive the K merges with the shared
    training CTEs, then re-apply them per document — space out each
    gated token's characters, chain the K space-sentinel replaces in
    training order, split to symbols, and map each symbol to its
    1-based position in the sorted (alphabet + merged symbols)
    vocabulary — the exact construction of corpus_ops.bpe_encode.
    DuckDB forbids subqueries inside lambda bodies, so the merge
    strings and the vocab list are hoisted into row scope via
    one-row cross joins (mrg, vocab) and referenced as columns."""
    letters = ", ".join(f"'{c}'" for c in "abcdefghijklmnopqrstuvwxyz")
    pair_cols = ", ".join(
        f"(SELECT pair FROM b{r}) AS p{r}, "
        f"(SELECT replace(pair, ' ', '') FROM b{r}) AS m{r}"
        for r in range(1, k + 1))
    enc = "' ' || trim(regexp_replace(t, '(.)', '\\1 ', 'g')) || ' '"
    for r in range(1, k + 1):
        enc = (f"replace({enc}, ' ' || p{r} || ' ', "
               f"' ' || m{r} || ' ')")
    merged_cols = ", ".join(f"m{r}" for r in range(1, k + 1))
    return _bpe_round_ctes(k) + f""", mrg AS MATERIALIZED (
  SELECT {pair_cols}
), vocab AS MATERIALIZED (
  SELECT list_sort([{letters}, {merged_cols}]) AS v FROM mrg
), dtoks AS (
  SELECT doc_id,
         list_filter({_DUCK_TOKENS},
                     t -> regexp_full_match(t, '[a-z]+')) AS toks
  FROM documents
), enc AS (
  SELECT doc_id,
         flatten(list_transform(toks,
                 t -> string_split(trim({enc}), ' '))) AS syms
  FROM dtoks, mrg
)
SELECT doc_id, CAST(len(syms) AS BIGINT) AS n_tokens,
       list_transform(syms,
           s -> CAST(list_position(v, s) AS INT)) AS token_ids
FROM enc, vocab
"""


@register("bpe_merge_rounds", oracle=_bpe_rounds_sql(3))
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the actual iterative loop (3 merge
    rounds) — the sequential algorithm bpe_pair_frequencies is the
    first step of: each round counts adjacent-symbol pairs (one
    map-side-partial aggregate), merges the argmax pair (1-row driver
    decision), and rewrites the corpus symbol sequences with a
    scan-riding literal replace, checkpointed so K rounds cost K
    scans.  The oracle unrolls the identical rounds in SQL; matching
    all three (pair, count) rows proves the merge RESULTS feed the
    next round's statistics correctly — the inter-round dependency a
    single-pass audit can't see."""
    docs = _t(spark, sf_dir, "documents")
    return corpus_ops.bpe_merge_rounds(docs, rounds=3)


@register("bpe_encode_corpus", oracle=f"""
SELECT doc_id, n_tokens,
       coalesce(array_to_string(token_ids, ' '), '') AS token_ids
FROM ({_bpe_encode_sql(3)})
""")
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode/apply — the step that makes the trained tokenizer
    USABLE: train 3 merge rounds (bpe_merge_rounds), then tokenize the
    whole corpus with them, emitting per-document token-id arrays (the
    frames pack_sequences_* packs and vocab_coverage audits — the
    pipeline's GPU-facing output).  Encoding is one narrow projection
    riding the corpus scan: per-token higher-order expressions apply
    the merges in training order as the training rewrite's own
    space-sentinel replace, and symbols map to ids by position in the
    sorted (alphabet + merged symbols) vocabulary — defined by the
    tokenizer, not the corpus, so any two corpora agree on every id.
    The oracle re-derives the merges with the shared round CTEs and
    re-applies them per document, so merge DERIVATION and APPLICATION
    are both value-checked end-to-end.

    The registered ROW projects the id array to a space-joined string
    (every id, in order — no information dropped): the driver's
    canonicalizer sorts columns through pandas, which cannot hash a
    list-typed cell (r10's TypeError).  The library API
    (corpus_ops.bpe_encode) still returns the real array<int> column;
    only this registration flattens it.  Spark's array_join on an
    empty array yields '' while DuckDB's array_to_string yields NULL,
    hence the coalesce in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    enc = corpus_ops.bpe_encode(docs, _bpe_merges(spark, sf_dir))
    return enc.select(
        "doc_id", "n_tokens",
        F.array_join(F.col("token_ids").cast("array<string>"), " ")
        .alias("token_ids"))


_BPE_MERGES_CACHE: dict[str, list] = {}


def _bpe_merges(spark: SparkSession, sf_dir: str, rounds: int = 3) -> list:
    """Train-once cache for the BPE merge list (the _materialized_index
    pattern): tokenizer training is an offline job, so the sequential
    K-round loop runs once per fixture and every encode invocation
    applies the cached merges — exactly how a deployment ships a
    trained tokenizer to its encode jobs."""
    key = (sf_dir, rounds)
    if key not in _BPE_MERGES_CACHE:
        docs = _t(spark, sf_dir, "documents")
        rows = sorted(
            corpus_ops.bpe_merge_rounds(docs, rounds=rounds).collect(),
            key=lambda r: r["round"])
        _BPE_MERGES_CACHE[key] = [r["pair"] for r in rows]
    return _BPE_MERGES_CACHE[key]


@register("pipeline_tokenize_and_pack", oracle=f"""
WITH enc AS (SELECT doc_id, n_tokens FROM ({_bpe_encode_sql(3)})),
t AS (
  SELECT doc_id, n_tokens AS n_tok,
         CAST({analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} % 16
           AS BIGINT) AS shard
  FROM enc
), packed AS (
  SELECT shard, n_tok,
         CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tok) / 512.0) AS BIGINT) AS pack_id
  FROM t
)
SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens
FROM packed GROUP BY shard, pack_id
""")
def pipeline_tokenize_and_pack(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Tokenizer-to-dataloader capstone: the packing rows above count
    whitespace tokens; a real training run packs by the TOKENIZER's
    counts, which only exist once bpe_encode_corpus runs.  This row
    composes the chain — trained-merge BPE encode (cached merges, one
    narrow scan), hash-shard, 512-token stream packing (partitioned
    window cumsum, one shard exchange), per-pack fill stats — so the
    pipeline's GPU-facing unit (packs of real token ids) is
    value-checked end-to-end: the oracle re-derives the merges,
    re-encodes, and re-packs in SQL."""
    docs = _t(spark, sf_dir, "documents")
    enc = corpus_ops.bpe_encode(docs, _bpe_merges(spark, sf_dir))
    inp = enc.select(
        "doc_id", F.col("n_tokens").alias("n_tok"),
        (analysis.token_hash(F.col("doc_id").cast("string")) % 16)
        .cast("long").alias("shard"))
    packed = packing_ops.pack_sequential(inp, 512, "shard", "doc_id",
                                         "n_tok")
    return packing_ops.pack_stats(packed, "shard", "n_tok")


@register("tokenizer_fertility_by_source", oracle=f"""
WITH enc AS (SELECT doc_id, n_tokens FROM ({_bpe_encode_sql(3)})),
words AS (
  SELECT doc_id, source,
         CAST(len(list_filter({_DUCK_TOKENS},
                  t -> regexp_full_match(t, '[a-z]+'))) AS BIGINT)
           AS n_words
  FROM documents
)
SELECT w.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(w.n_words) AS BIGINT) AS n_words,
       (round(CAST(sum(e.n_tokens) AS DOUBLE) / sum(w.n_words), 6) + 0)
         AS fertility
FROM words w JOIN enc e USING (doc_id)
GROUP BY w.source HAVING sum(w.n_words) > 0
""")
def tokenizer_fertility_by_source(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit — BPE tokens per gated word, by
    source: the metric that decides whether a trained tokenizer fits a
    corpus slice (high fertility = the merges don't cover that
    slice's vocabulary, so its documents cost more sequence budget per
    word; the standard go/no-go check before committing a tokenizer
    to a pretraining mix).  Rides the SAME cached trained merges and
    scan-riding encode as the packing capstone — one corpus scan for
    the token counts, one for the gated word counts, one
    partial-aggregated groupBy(source).  The oracle re-derives the
    merges and re-encodes through the shared CTE chain, so fertility
    is value-checked against the actual trained tokenizer, not a
    proxy count."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    enc = corpus_ops.bpe_encode(docs, _bpe_merges(spark, sf_dir))
    words = docs.select(
        "doc_id", "source",
        F.size(F.filter(analysis.tokens(F.col("text")),
                        lambda t: t.rlike("^[a-z]+$")))
        .cast("long").alias("n_words"))
    return (words.join(enc.select("doc_id", "n_tokens"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.sum("n_words").alias("n_words"),
                 (F.round(F.sum("n_tokens").cast("double")
                          / F.sum("n_words"), 6) + F.lit(0.0))
                 .alias("fertility"))
            .filter(F.col("n_words") > 0))


@register("embedding_centroid_drift", oracle="""
WITH oldc AS (
  SELECT label, i AS pos, (round(avg(embedding[i]), 6) + 0) AS c_old
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
  WHERE vec_id % 5 <> 0 GROUP BY label, i
), newc AS (
  SELECT label, i AS pos, (round(avg(embedding[i]), 6) + 0) AS c_new
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
  GROUP BY label, i
), no AS (
  SELECT label, count(*) AS n_old FROM embeddings
  WHERE vec_id % 5 <> 0 GROUP BY label
), nn AS (
  SELECT label, count(*) AS n_new FROM embeddings GROUP BY label
)
SELECT o.label, no.n_old, nn.n_new,
       (round(sqrt(sum(power(n.c_new - o.c_old, 2))), 6) + 0) AS drift
FROM oldc o
JOIN newc n ON n.label = o.label AND n.pos = o.pos
JOIN no ON no.label = o.label
JOIN nn ON nn.label = o.label
GROUP BY o.label, no.n_old, nn.n_new
""")
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L2 shift between the previous snapshot (every
    vec_id % 5 == 0 row absent — the last crawl's subset) and the
    current store.  The drift monitor that decides which labels need
    re-indexing after an ingest.  posexplode -> grouped avg on
    (label, pos): one shuffle, labels x dim rows after partials."""
    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    return corpus_ops.centroid_drift(old, emb)


@register("streaming_centroid_drift", oracle="""
WITH oldc AS (
  SELECT label, i AS pos, (round(avg(embedding[i]), 6) + 0) AS c_old
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
  WHERE vec_id % 5 <> 0 GROUP BY label, i
), newc AS (
  SELECT label, i AS pos, (round(avg(embedding[i]), 6) + 0) AS c_new
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
  GROUP BY label, i
), no AS (
  SELECT label, count(*) AS n_old FROM embeddings
  WHERE vec_id % 5 <> 0 GROUP BY label
), nn AS (
  SELECT label, count(*) AS n_new FROM embeddings GROUP BY label
)
SELECT o.label, no.n_old, nn.n_new,
       (round(sqrt(sum(power(n.c_new - o.c_old, 2))), 6) + 0) AS drift
FROM oldc o
JOIN newc n ON n.label = o.label AND n.pos = o.pos
JOIN no ON no.label = o.label
JOIN nn ON nn.label = o.label
GROUP BY o.label, no.n_old, nn.n_new
""")
def streaming_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor fed by LIVE ingest — embedding_centroid_drift
    with the current crawl arriving as a file stream: the vec_id%5==0
    slice lands in THREE separate micro-batches (maxFilesPerTrigger=1)
    appended into the snapshot store by foreachBatch, and after the
    stream drains the monitor diffs the prior snapshot against the
    accreted store.  Sharing the batch row's oracle proves the
    composition: N micro-batch appends produce exactly the monitored
    state one bulk ingest produces, so a deployment can hang the
    re-index trigger off the stream without a reconciliation pass."""
    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)

    root = tempfile.mkdtemp(prefix="driftstream_")
    store = os.path.join(root, "store")
    src = os.path.join(root, "incoming")
    old.write.parquet(store)
    batch.repartition(3).write.parquet(src)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def fold(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        bdf.write.mode("append").parquet(store)

    ckpt = tempfile.mkdtemp(prefix="ckpt_drift_")
    streaming_ops._drive(
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt).start())
    return corpus_ops.centroid_drift(old, spark.read.parquet(store))


@register("dedup_cluster_histogram", oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
walk(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
full_docs AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
),
sizes AS (SELECT component, count(*) AS sz FROM full_docs GROUP BY component)
SELECT sz AS cluster_size, count(*) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs
FROM sizes GROUP BY sz
""")
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dup-rate report every curation run ends with: distribution
    of near-dup cluster sizes over the WHOLE corpus (size 1 =
    singletons — docs in no candidate pair).  Composition: LSH pairs ->
    star-contraction components -> left join back to documents ->
    two tiny grouped counts.  The histogram key domain is cluster
    sizes, so everything after the component step is effectively
    free."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.dedup_minhash_lsh(docs, num_hashes=8, bands=4,
                                        shingle_n=3, max_block=32)
    comp = dedup_ops.connected_components_star(pairs)
    full = (docs.select("doc_id")
            .join(comp, docs.doc_id == comp.id, "left")
            .select(F.coalesce("component", "doc_id").alias("component")))
    sizes = full.groupBy("component").agg(F.count("*").alias("sz"))
    return (sizes.groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.count("*").alias("n_clusters"),
                 F.sum("sz").alias("n_docs")))


@register("dpp_dim_filtered_scan", oracle="""
WITH dim AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
  WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
    AND CAST(ts AS DATE) <  DATE '2024-01-12'
)
SELECT e.event_id, e.user_id, e.event_type
FROM events e JOIN dim d ON CAST(e.ts AS DATE) = d.day
""")
def dpp_dim_filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the runtime counterpart of
    ``partitioned_time_scan``'s static pruning: the fact side is the
    day-partitioned store, the dimension's day filter is only known at
    RUN time (it arrives through a join, not a literal), and Catalyst
    injects the broadcast dim's day set into the fact scan as
    ``dynamicpruningexpression(day IN dynamicpruning#N)`` inside
    PartitionFilters (pinned in tests/test_plan_shapes.py) — at 100 TB
    the fact table lists only the dimension-selected day directories,
    the mechanism every star-schema time filter rides in a warehouse.
    The oracle runs the same join on the raw table: the partitioned
    rewrite plus runtime pruning is lossless."""
    if sf_dir not in _DAY_PARTITIONED_CACHE:
        # partitioned_time_scan owns the cache; reuse its layout
        REGISTRY["partitioned_time_scan"](spark, sf_dir).count()
    part = spark.read.parquet(_DAY_PARTITIONED_CACHE[sf_dir])
    ev = _t(spark, sf_dir, "events")
    dim = (ev.select(F.to_date("ts").alias("day")).distinct()
           .filter((F.col("day") >= F.lit("2024-01-10").cast("date"))
                   & (F.col("day") < F.lit("2024-01-12").cast("date"))))
    return (part.join(dim, "day")
            .select("event_id", "user_id", "event_type"))


@register("bloom_filter_join_agg", oracle="""
SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
       (round(sum(l.l_quantity), 6) + 0) AS sum_qty
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag
""")
def bloom_filter_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join (SPARK-32268) — the third runtime
    pruning mechanism next to DPP and static partition filters: with a
    selective dimension side and a shuffle join, Catalyst builds a
    bloom_filter_agg over the dim keys and injects a might_contain
    probe into the FACT scan, dropping rows that cannot join BEFORE
    the exchange — at 100 TB that is most of the shuffle for a
    selective dim filter.  The size thresholds exist for exactly the
    reason this row lowers them: the fixture fact side is far below
    the 10 GB application-side default, while at warehouse scale the
    defaults fire on their own.  The injection happens at optimization
    time, so the row materializes INSIDE the conf scope, asserts both
    bloom operators in the executed plan, restores the confs (they
    must not leak into the rest of the driver's sweep), and returns
    the dimension-sized aggregate.  The oracle is the plain join: the
    bloom filter is a pure reduction, never a semantics change."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        # size the filter to the build side: the numBits DEFAULT is
        # 8M bits — a 1 MB bitmap serialized into EVERY task binary of
        # every stage under the subquery, measured 15 s of pure
        # overhead at sf0.1; 1M bits holds 100k keys under 1% fpp and
        # the same query runs in the no-bloom SMJ's time
        "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems":
            "100000",
        "spark.sql.optimizer.runtime.bloomFilter.numBits": "1048576",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = _t(spark, sf_dir, "lineitem")
        orders = (_t(spark, sf_dir, "orders")
                  .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  rnd(F.sum("l_quantity"), 6).alias("sum_qty")))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "bloom build side missing"
        assert "might_contain" in plan, "bloom probe missing"
        rows = j.collect()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, j.schema)


@register("aqe_skew_join_agg", oracle="""
WITH k AS (
  SELECT event_id,
         CASE WHEN event_id % 100 = 0 THEN 1 ELSE user_id END AS uid
  FROM events
), f AS (
  SELECT k.uid,
         md5(CAST(k.event_id AS VARCHAR) || '-' || CAST(t.i AS VARCHAR))
           AS payload
  FROM k
  CROSS JOIN LATERAL unnest(generate_series(1,
        CASE WHEN k.event_id % 100 = 0 THEN 200 ELSE 1 END)) AS t(i)
), d AS (SELECT DISTINCT uid, uid % 7 AS grp FROM k)
SELECT d.grp, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(f.payload)) AS BIGINT) AS payload_bytes
FROM f JOIN d ON d.uid = f.uid
GROUP BY d.grp
""")
def aqe_skew_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join — the RUNTIME answer to key skew, next to the
    compile-time salting of join_salted_skew (same disease, the two
    production cures): one user's rows are amplified x400 so its hash
    partition dwarfs the rest, and with the size thresholds lowered to
    fixture scale (the exact reason they're confs: at warehouse scale
    the 256 MB default fires on its own) AQE's OptimizeSkewedJoin
    splits the hot partition across PartialReducerPartitionSpec ranges
    — the plan is asserted to carry ``SortMergeJoin(skew=true)`` with
    a skewed AQEShuffleRead.  Two shapes this row pins because both
    silently veto the optimization when absent: the fact side must
    arrive from MULTIPLE mappers (a skewed reduce partition splits by
    map-output ranges, so a single-split scan can never split — hence
    the widen), and the rule's pattern wants the shuffle directly
    under the join's Sort (an aggregate between them breaks the match
    — hence the dim is materialized first).  The payload is md5 text
    so column-pruned shuffle compression can't erase the skew the
    thresholds measure.  Materialized inside the conf scope (AQE
    decides at run time), confs restored after; the oracle is the
    plain join — skew handling is pure partitioning, never semantics.
    """
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "24KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "24KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # the hot key is MANUFACTURED, not found: 1% of events remap to
        # uid 1 and amplify x200, so the hot partition carries ~2x the
        # rest of the corpus at EVERY fixture sf (a natural "hot user"
        # stops being hot once the user count scales with the corpus —
        # at sf0.1 the busiest of 1,498 users is only ~4x the median,
        # and the optimizer rightly leaves that alone)
        ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
        keyed = readers.widen(ev.withColumn(
            "uid", F.when(F.col("event_id") % 100 == 0,
                          F.lit(1).cast("long"))
            .otherwise(F.col("user_id"))))
        fact = (keyed
                .withColumn("_r", F.explode(F.sequence(
                    F.lit(1),
                    F.when(F.col("event_id") % 100 == 0, F.lit(200))
                    .otherwise(F.lit(1)))))
                .withColumn("payload",
                            F.md5(F.concat_ws("-", "event_id", "_r"))))
        dim = (keyed.select("uid").distinct()
               .withColumn("grp", F.col("uid") % 7)
               .localCheckpoint())
        j = (fact.join(dim, "uid")
             .groupBy("grp")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.length("payload")).cast("long")
                  .alias("payload_bytes")))
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE skew-join did not engage"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, j.schema)


# session-lifetime cache of the "previous crawl" component store per
# sf_dir (immutable fixture, read-only artifact)
_CC_BASE_CACHE: dict[str, str] = {}


@register("dedup_components_incremental", oracle=f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
walk(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
)
SELECT id, min(comp) AS component FROM walk GROUP BY id
""")
def dedup_components_incremental(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Incremental dup-graph maintenance — the CC side of the
    recurring crawl (pairs with ``dedup_incremental_new_docs`` and
    ``ann_index_upsert``): the previous crawl's components are a
    PERSISTED artifact; a new batch contributes only (a) its band-join
    edges against the corpus (at 100 TB the join target is the
    persisted band-posting store, so edge generation is O(batch x
    bucket), never a re-band of the corpus) and (b) one star edge per
    previously-clustered doc (id -> component).  Star contraction then
    runs over new edges + star edges — the old graph enters
    pre-contracted, so iteration cost tracks the BATCH's connectivity,
    not the corpus's.  The oracle is the from-scratch recursive CTE
    over the full pair set: incremental maintenance must converge to
    exactly the fresh-build labeling (the same invariant
    ann_index_rebuild pins for the ANN index)."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 4 == 0)

    # the previous crawl's artifact: persisted once per session (the
    # fixture is immutable and the store is only ever read — the same
    # cached-base mechanic as _upsert_base_path), read back per run
    if sf_dir not in _CC_BASE_CACHE:
        store = os.path.join(tempfile.mkdtemp(prefix="ccstore_"), "comp")
        old = docs.filter(F.col("doc_id") % 4 != 0)
        dedup_ops.connected_components_star(
            dedup_ops.dedup_minhash_lsh(old, num_hashes=8, bands=4,
                                        shingle_n=3,
                                        max_block=32)).write.parquet(store)
        _CC_BASE_CACHE[sf_dir] = store
    comp_old = spark.read.parquet(_CC_BASE_CACHE[sf_dir])

    # band the BATCH only; the full banded corpus stands in for the
    # persisted posting store a deployment maintains incrementally
    def banded(df: DataFrame) -> DataFrame:
        arr = dedup_ops.lsh_band_hashes(
            dedup_ops.shingles(F.col("text"), 3), 8, 4)
        return dedup_ops.widen(df).select(
            F.col("doc_id"),
            F.posexplode(arr).alias("band_idx", "band_hash"))

    new_edges = (banded(new).select(F.col("doc_id").alias("id_n"),
                                    "band_idx", "band_hash")
                 .join(banded(docs), ["band_idx", "band_hash"])
                 .filter(F.col("id_n") != F.col("doc_id"))
                 .select(F.least("id_n", "doc_id").alias("id_a"),
                         F.greatest("id_n", "doc_id").alias("id_b"))
                 .distinct())
    star_edges = (comp_old.filter(F.col("id") != F.col("component"))
                  .select(F.col("component").alias("id_a"),
                          F.col("id").alias("id_b")))
    return dedup_ops.connected_components_star(
        new_edges.unionByName(star_edges))


@register("ann_index_compact", oracle=_INDEX_UPSERT_ORACLE)
def ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction for the materialized ANN index — the
    maintenance job the incremental upsert path creates the need for:
    each ``upsert_index`` merge appends the batch's rows as extra files
    in every touched cell directory (the shuffle-free merge trades a
    corpus-wide exchange for exactly this accretion), so after the
    batch arrives as TWO sub-batches every touched cell is
    fragmented.  ``compact_store`` collapses the fragmented cell
    directories of both the vectors and codes stores to one file each
    — a rewrite of O(fragmented bytes), untouched cells never read —
    and the post-compaction search must return exactly what the
    one-shot-upsert oracle computes: compaction moves bytes, never
    rows."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _upsert_base_copy(spark, sf_dir)
    ann_index.upsert_index(spark, path,
                           emb.filter(F.col("vec_id") % 30 == 3))
    ann_index.upsert_index(spark, path,
                           emb.filter((F.col("vec_id") % 30 == 13)
                                      | (F.col("vec_id") % 30 == 23)))
    # the two stores compact independently — concurrent job streams
    # (guide §2.6), same overlap the upsert path's auto-sweep uses
    stats_v, _ = run_concurrently(
        lambda: sinks.compact_store(spark, os.path.join(path, "vectors"),
                                    part_col="cell"),
        lambda: sinks.compact_store(spark, os.path.join(path, "codes"),
                                    part_col="cell"))
    assert stats_v["compacted"], "upserts must fragment some cell"
    assert stats_v["files_after"] < stats_v["files_before"]
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()
    return ann_index.search_index(spark, path,
                                  [float(x) for x in qrow[0]],
                                  k=10, nprobe=4, shortlist=50)


def _mmr_steps(k: int, lam: float) -> str:
    """Unrolled greedy-MMR selection steps: one CTE per step (greedy
    argmax is not expressible in a DuckDB recursive CTE — the recursive
    term can't aggregate over the accumulated set).  Assumes CTEs
    ``short(vec_id, simq, embedding)`` (simq rounded to 6dp) and
    ``pair(ia, ib, sim)`` (sim rounded to 6dp) are already defined —
    any shortlist provider composes (brute force in topk_mmr_diverse,
    the materialized-index serving path in ann_mmr_materialized)."""
    mu = 1.0 - lam
    parts = [f""", sel1 AS (
  SELECT vec_id, mmr_score, CAST(1 AS BIGINT) AS step FROM (
    SELECT vec_id, (round({lam} * simq, 6) + 0) AS mmr_score
    FROM short
  ) ORDER BY mmr_score DESC, vec_id LIMIT 1
), selu1 AS MATERIALIZED (SELECT * FROM sel1)"""]
    for n in range(2, k + 1):
        parts.append(f""", sel{n} AS MATERIALIZED (
  SELECT vec_id, mmr_score, CAST({n} AS BIGINT) AS step FROM (
    SELECT s.vec_id,
           (round({lam} * s.simq - {mu} * max(p.sim), 6) + 0)
             AS mmr_score
    FROM short s JOIN pair p ON p.ia = s.vec_id
         AND p.ib IN (SELECT vec_id FROM selu{n - 1})
    WHERE s.vec_id NOT IN (SELECT vec_id FROM selu{n - 1})
    GROUP BY s.vec_id, s.simq
  ) ORDER BY mmr_score DESC, vec_id LIMIT 1
), selu{n} AS MATERIALIZED (
  SELECT vec_id, mmr_score, step FROM selu{n - 1}
  UNION ALL SELECT vec_id, mmr_score, step FROM sel{n}
)""")
    parts.append(f"\nSELECT step, vec_id, mmr_score FROM selu{k}")
    return "".join(parts)


def _mmr_pair_cte() -> str:
    """Pairwise rounded cosines over the ``short`` CTE."""
    return f""", pair AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0)
           AS sim
  FROM short a JOIN short b ON a.vec_id <> b.vec_id
)"""


def _mmr_oracle(k: int = 10, shortlist: int = 50,
                lam: float = 0.7) -> str:
    """Brute-force-shortlist MMR oracle: every sim rounded to the same
    6dp grid the Spark side rounds to BEFORE any comparison."""
    prefix = f"""
WITH short AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS simq
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
  ORDER BY simq DESC, e.vec_id LIMIT {shortlist}
)"""
    return prefix + _mmr_pair_cte() + _mmr_steps(k, lam)


_ANN_MMR_ORACLE = (
    _IVFPQ_SEED_ORACLE.rsplit("), short AS", 1)[0]
    + f"""), adcshort AS (
  SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50
), short AS MATERIALIZED (
  SELECT c.vec_id, c.embedding,
         (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6)
          + 0) AS simq
  FROM cand c JOIN adcshort s ON s.vec_id = c.vec_id
  ORDER BY simq DESC, c.vec_id LIMIT 30
)"""
    + _mmr_pair_cte() + _mmr_steps(10, 0.7))


_ANN_RECALL_ORACLE = (
    _IVFPQ_SEED_ORACLE.rsplit("), short AS", 1)[0]
    + f"""), adcshort AS (
  SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50
), served AS (
  SELECT c.vec_id,
         (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6)
          + 0) AS sim
  FROM cand c JOIN adcshort s ON s.vec_id = c.vec_id
  ORDER BY sim DESC, c.vec_id LIMIT 10
), truth AS (
  SELECT e.vec_id,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
  FROM embeddings e, q
  ORDER BY sim DESC, e.vec_id LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
       (round(count(*) / 10.0, 6) + 0) AS recall
FROM served s JOIN truth t ON t.vec_id = s.vec_id""")


@register("ann_recall_audit_trained", oracle=f"""
WITH cent AS (
  SELECT centroid_id, centroid_vec AS cvec
  FROM read_parquet('{_TRAINED_STORE_LINK}/centroids/*.parquet')
  WHERE {_TRAINED_LINK_GUARD}
), cb AS (
  SELECT j, cw, cv
  FROM read_parquet('{_TRAINED_STORE_LINK}/codebooks/*.parquet')
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 8
), codes AS (
  SELECT vec_id, codes, CAST(cell AS BIGINT) AS cell
  FROM read_parquet('{_TRAINED_STORE_LINK}/codes/*/*.parquet',
                    hive_partitioning = true)
  WHERE CAST(cell AS BIGINT) IN (SELECT cell FROM probe)
), js AS (SELECT DISTINCT j FROM cb),
expl AS (
  SELECT c.vec_id, js.j, c.codes[js.j + 1] AS cw
  FROM codes c CROSS JOIN js
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot("(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]",
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT e.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM expl e JOIN qtab t ON t.j = e.j AND t.cw = e.cw
  GROUP BY e.vec_id
), short AS (
  SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 400
), vecs AS (
  SELECT vec_id, embedding
  FROM read_parquet('{_TRAINED_STORE_LINK}/vectors/*/*.parquet',
                    hive_partitioning = true)
  WHERE CAST(cell AS BIGINT) IN (SELECT cell FROM probe)
), served AS (
  SELECT v.vec_id,
         (round({V.duck_cosine('v.embedding', '(SELECT qv FROM q)')}, 6)
          + 0) AS sim
  FROM vecs v JOIN short s ON s.vec_id = v.vec_id
  ORDER BY sim DESC, v.vec_id LIMIT 10
), truth AS (
  SELECT e.vec_id,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
  FROM embeddings e, q
  ORDER BY sim DESC, e.vec_id LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
       (round(count(*) / 10.0, 6) + 0) AS recall
FROM served s JOIN truth t ON t.vec_id = s.vec_id
""")
def ann_recall_audit_trained(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """recall@10 of the PRODUCTION index — the trained materialized
    store at its measured operating point (nprobe=8 x shortlist=400) —
    against brute-force ground truth, FULL-oracle via the r12 store
    replay: the query re-points the canonical symlink at the cached
    trained store and DuckDB replays probe -> ADC -> re-rank from the
    persisted artifacts, then intersects with its own brute-force
    top-10.  The seed twin (ann_recall_audit) value-checks the
    composition spec; this row value-checks the quality number a
    deployment actually watches (Engine.audit_recall serves the same
    measurement through the facade)."""
    path = _materialized_index(spark, sf_dir, trained=True)
    _publish_store_link("trained_index", path)
    qv = _query_vec(spark, sf_dir)
    served = ann_index.search_index(spark, path, qv, k=10,
                                    nprobe=8, shortlist=400)
    truth = sim_ops.knn_search(_t(spark, sf_dir, "embeddings"), qv, k=10)
    return (served.select("vec_id")
            .join(truth.select("vec_id"), "vec_id")
            .agg(F.lit(10).cast("long").alias("k"),
                 F.count("*").alias("n_hits"))
            .withColumn("recall",
                        rnd(F.col("n_hits") / F.lit(10.0), 6)))


@register("ann_recall_audit", oracle=_ANN_RECALL_ORACLE)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index quality as a first-class query: recall@10 of the seed
    IVFPQ composition against brute-force ground truth, in ONE plan —
    the per-deployment audit that decides when nprobe/shortlist (or a
    retrain, see ann_index_stats) must move.  Ground truth costs one
    full codegen scan + TakeOrderedAndProject (k rows); the join of
    two 10-row frames is free.  At 100 TB the same query runs over a
    held-out query SAMPLE — the plan shape is per-query identical.
    Both legs and the intersection are value-checked by the oracle
    (the knee table in tools/scaling_check.py measures the same
    quantity over 10 held-out queries and picks the serving
    default)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    cb = pq_ops.seed_codebooks(emb, m=8, ncodes=16)
    served = pq_ops.ivfpq_search(assigned, cent, cb, qv,
                                 k=10, nprobe=4, shortlist=50)
    truth = sim_ops.knn_search(emb, qv, k=10)
    return (served.select("vec_id")
            .join(truth.select("vec_id"), "vec_id")
            .agg(F.lit(10).cast("long").alias("k"),
                 F.count("*").alias("n_hits"))
            .withColumn("recall",
                        rnd(F.col("n_hits") / F.lit(10.0), 6)))


@register("ann_mmr_materialized", oracle=_ANN_MMR_ORACLE)
def ann_mmr_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production serving stack composed: persisted IVFPQ
    index (cell-pruned probe -> ADC -> exact re-rank, NO training or
    assignment at query time) feeds its top-30 exact-scored candidates
    into MMR diversification — index serving and result-set
    diversification in one bounded plan.  The corpus-facing work is
    the pruned index read; everything after is bounded by 30 rows.
    Oracle = the seed IVFPQ composition's shortlist spliced into the
    unrolled greedy CTEs (the same _mmr_steps the brute-force row
    uses) — both layers value-checked end-to-end."""
    path = _materialized_index(spark, sf_dir, trained=False)
    served = ann_index.search_index(spark, path,
                                    _query_vec(spark, sf_dir),
                                    k=30, nprobe=4, shortlist=50,
                                    keep_vec=True)
    short = served.select("vec_id", F.col("sim").alias("simq"),
                          "embedding")
    return sim_ops.mmr_select(short, k=10, lam=0.7)


_SERVE_CAPSTONE_ORACLE = (f"""
WITH kw_scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS)}),
kw_top AS (
  SELECT doc_id, (round(bm25, 6) + 0) AS s FROM kw_scored
  ORDER BY s DESC, doc_id LIMIT 50
), kw_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS rank_kw
  FROM kw_top
), v_scored AS (
  SELECT e.vec_id AS doc_id,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS s
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
), v_top AS (
  SELECT doc_id, s FROM v_scored ORDER BY s DESC, doc_id LIMIT 50
), v_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS rank_vec
  FROM v_top
), fused AS (
  SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
         (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
              + COALESCE(1.0::DOUBLE / (60 + v.rank_vec), 0.0), 6) + 0)
           AS rrf
  FROM kw_rank k FULL JOIN v_rank v ON k.doc_id = v.doc_id
  ORDER BY rrf DESC, doc_id LIMIT 20
), short AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS simq
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id IN (SELECT doc_id FROM fused)
)"""
    + _mmr_pair_cte() + _mmr_steps(8, 0.7))


@register("pipeline_serving_capstone", oracle=_SERVE_CAPSTONE_ORACLE)
def pipeline_serving_capstone(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The COMPLETE serving stack as one declarative plan: hybrid
    candidate generation (BM25 keyword leg + cosine vector leg, RRF
    fusion over two 50-row rank frames), exact-cosine re-scoring of
    the fused top-20, then MMR diversification to 8 results.  Corpus
    cost = the two leg scans; every later stage is bounded by the
    candidate count.  Every stage value-checked end-to-end: the hybrid
    CTEs feed the spliced greedy-MMR CTEs in the oracle exactly as the
    Spark stages feed mmr_select."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    kw = (retrieval_ops.bm25_scores(docs, _BM25_TERMS)
          .select("doc_id", rnd(F.col("bm25"), 6).alias("s")))
    kw_rank = retrieval_ops.bounded_rank(kw, "s", "doc_id", 50)
    qv = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    vec = (sim_ops.similarity_to_query(emb, qv)
           .select(F.col("vec_id").alias("doc_id"),
                   rnd(F.col("sim"), 6).alias("s")))
    vec_rank = retrieval_ops.bounded_rank(vec, "s", "doc_id", 50)
    fused = retrieval_ops.rrf_fuse([kw_rank, vec_rank], topk=20)
    cand = fused.select(F.col("doc_id").alias("vec_id"))
    short = (sim_ops.similarity_to_query(emb, qv, out_col="simq")
             .join(F.broadcast(cand), "vec_id")
             .select("vec_id", rnd(F.col("simq"), 6).alias("simq"),
                     "embedding"))
    return sim_ops.mmr_select(short, k=8, lam=0.7)


# =========================================================================
# Multi-vector late interaction (ColBERT MaxSim) — VERDICT r12 item 5
# =========================================================================
# Fixture layout: each stored 64-dim embedding read as 8 contiguous
# 8-dim token vectors (the multi-vector store shape); a query uses its
# first 4 token views, so query and doc token counts differ as they do
# in real late-interaction serving.
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


@register("maxsim_hybrid_rrf", oracle=f"""
WITH kw_scored AS ({retrieval_ops.duck_bm25(_BM25_TERMS, _DUCK_TOKENS)}),
kw_top AS (
  SELECT doc_id, (round(bm25, 6) + 0) AS s FROM kw_scored
  ORDER BY s DESC, doc_id LIMIT 50
), kw_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS rank_kw
  FROM kw_top
), ms_scored AS (
  SELECT e.vec_id AS doc_id,
         (round({_duck_maxsim_terms("q.qv")}, 6) + 0) AS s
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
), ms_top AS (
  SELECT doc_id, s FROM ms_scored ORDER BY s DESC, doc_id LIMIT 50
), ms_rank AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)
           AS rank_ms
  FROM ms_top
)
SELECT COALESCE(k.doc_id, m.doc_id) AS doc_id,
       k.rank_kw AS rank_0, m.rank_ms AS rank_1,
       (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
            + COALESCE(1.0::DOUBLE / (60 + m.rank_ms), 0.0), 6) + 0)
         AS rrf
FROM kw_rank k FULL JOIN ms_rank m ON k.doc_id = m.doc_id
ORDER BY rrf DESC, doc_id LIMIT 10
""")
def maxsim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid keyword + LATE-INTERACTION retrieval: the BM25 leg and
    the MaxSim leg each produce a bounded top-50 rank frame (one
    corpus scan per leg — the same legs hybrid_search_rrf runs, with
    the single-vector cosine leg upgraded to per-token soft
    alignment), fused by reciprocal rank.  Every stage after the two
    scans is bounded by the candidate count; the oracle replays both
    legs and the fusion arithmetic end-to-end."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    kw = (retrieval_ops.bm25_scores(docs, _BM25_TERMS)
          .select("doc_id", rnd(F.col("bm25"), 6).alias("s")))
    kw_rank = retrieval_ops.bounded_rank(kw, "s", "doc_id", 50)
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


# =========================================================================
# Driver-verification ordering
# =========================================================================
# The driver's correctness gate covers roughly the first 50 registry
# entries, in order. Rounds 1-5 (CORRECTNESS_r01..r05.json) together
# verified every name below — the full registry is green (r05's
# 50-query window passed 48 oracle + 2 rows-only-by-design with zero
# errs). Rotate: queries without a driver-verified row yet go first so
# every operator accrues one across rounds. Purely a presentation
# order — REGISTRY itself keeps source order.
DRIVER_VERIFIED = frozenset({
    # round 18 rotation discipline (optimization round 2): ABSENT
    # (pending-first in the r18 window) = rows whose EXECUTED path
    # changed in the r18 diff —
    # * NEW row: ann_ivfpq_autosized (the auto-sized layout policy
    #   pinned end-to-end, VERDICT r17 item 4) leads never-checked;
    # * every text-index verb/serve re-routes through the r18
    #   _read_text_meta scheme dispatch + fs-probed _tombstone_frame,
    #   and the upsert/build/compact verbs gained concurrent writes +
    #   the footer-probe gen check: text_index_upsert/erase/compact/
    #   stats/filtered_search/and_topk/ttl_sweep/stopword_prune,
    #   text_inverted_index_topk, text_search_many(+_large),
    #   text_filtered_many_large, changefeed_apply_text_index,
    #   streaming_text_index_upsert/erase, pipeline_retention_forget_
    #   text (also leg-overlapped);
    # * the ANN sidecar reads (read_meta/_read_small_parquet_rows
    #   scheme dispatch) + build_index seed-pick checkpoint +
    #   overlapped store writes rotate ann_index_stats(+_trained),
    #   ann_ivfpq_trained, pipeline_crawl_admit_index (and keep the
    #   r17-absent ANN lifecycle/serving rows absent — touched again);
    # * pipeline_retention_forget (store/index legs overlapped);
    # * bpe_merge_rounds + bpe_encode_corpus (widened training loop).
    # All rotated rows full-oracle green at sf0.001 and/or sf0.01 at
    # commit time this round (round-end full sweep: 270 ok / 2
    # rows-only / 0 failed).  write_watermark's driver-side rewrite is
    # facade/bench-only (no contract row writes the state store) —
    # covered by tests/test_engine_facade.py + test_freshness_gate.
    # CORRECTNESS_r17's 50 sampled greens were ALL touched again by
    # the r18 diff (they are the streaming/ANN/text maintenance tier
    # this round optimized), so none re-list; they rotate with the
    # rest.
    # r16-window greens re-listed in r17 (CORRECTNESS_r16: 49
    # full-oracle green + udf_embed_query rows-only-by-contract;
    # their serving code is untouched by the r17 diff):
    "sink_upsert_embeddings", "sink_delete_keys", "sink_retention_sweep",
    "json_extract_text",
    "udf_embed_query", "streaming_upsert_store",
    "streaming_retention_sweep", # round 17 rotation discipline: ABSENT (pending-first in the r17
    # window) = rows whose EXECUTED path changed in the r17 diff —
    # BOTH halves of VERDICT r16 item 2 landed, so every ANN
    # cell-store read now goes through sinks._read_buckets
    # (explicit-dirs + basePath, O(touched/probed) listing instead of
    # O(nlist) partition discovery):
    # * the maintenance merge (_upsert_cells) rotates the rows that
    #   merge into the cell stores: ann_index_upsert,
    #   streaming_index_upsert, ann_index_rebuild (pre-rebuild
    #   upsert), ann_index_compact, changefeed_apply_index,
    #   pipeline_forget_and_serve;
    # * the serving reads (_read_cells in search_index /
    #   search_index_many) rotate every row that SERVES from the
    #   index: ann_ivfpq_materialized(+_trained, _filtered),
    #   ann_trained_store_exhaustive, search_index_many(+_large),
    #   hybrid_serve_many(+_large), hybrid_filtered_serve,
    #   hybrid_filtered_many_large, ann_recall_audit_trained,
    #   ann_mmr_materialized, ann_index_erase, streaming_index_erase,
    #   ann_index_ttl_erase, pipeline_ttl_hybrid_serve;
    # * plus the NEW maintenance-interplay capstone
    #   text_index_stopword_recycle (VERDICT r16 item 6).
    # All 23 verified full-oracle at sf0.001 AND sf0.01 at commit
    # time (0 failed).  Engine.apply_retention's
    # text_index_tombstoned recount (ADVICE r16) is facade-only (no
    # contract row constructs an Engine) — covered by
    # tests/test_engine_facade.py; the _read_buckets docstring note
    # and tools/gen_coverage SECTIONS entry change no executed path.
    # The 25-row overdue tail (<= r8) follows pending via
    # verification_order's max-age bump and still drains this window:
    # 20 pending in quota + 25 overdue + 3 pending overflow = 48 of
    # the ~50 slots (VERDICT r16 item 1).
    # r15-window greens re-listed in r16 (CORRECTNESS_r15: all 48
    # full-oracle green + 2 rows-only-by-contract; their serving code
    # is untouched by the r16 diff):
    "streaming_incremental_dedup",
    "ann_lsh_topk",
    "streaming_budget_admit", "udf_embed_batch",
    "streaming_tumbling_availablenow", "streaming_append_finalized",
    "streaming_sliding_window", "streaming_sessionize_stateful",
    "streaming_dedup_within_watermark",
    "text_bm25_and_topk", "streaming_enrich_dim", "streaming_interval_join",
    "incremental_distinct_sketch", "incremental_topk_sketch",
    "theta_sketch_setops", "incremental_quantile_sketch",
    "streaming_centroid_drift",
    # round 16 rotation discipline: ABSENT (pending-first in the r16
    # window, never-checked leading) = rows whose EXECUTED serving
    # path changed in the r16 diff —
    # * NEW rows: pipeline_retention_forget_text (text-index retention
    #   capstone, VERDICT r15 item 1), text_index_ttl_sweep +
    #   ann_index_ttl_erase (index-side TTL verbs);
    # * json_extract_text (array fixture now carries a text-less
    #   middle item; oracle array branch rewritten to skip semantics,
    #   ADVICE r16 low);
    # * sink_retention_sweep + pipeline_retention_forget
    #   (retention_sweep footer probe thread-pooled, VERDICT r15 item
    #   6, + the pruned-listing rewrite read);
    # * udf_embed_query (embed_query_vector dim default -> None,
    #   ADVICE r16 medium);
    # * the sinks._read_buckets pruned-listing read changed the
    #   touched-bucket read of EVERY incremental store/erase verb —
    #   rotate the rows that execute it: sink_upsert_embeddings,
    #   streaming_upsert_store, sink_delete_keys, ann_index_erase,
    #   ann_index_compact, changefeed_apply_index,
    #   streaming_index_erase, pipeline_forget_and_serve.
    # Engine.apply_retention/ensure_text_index/search_text/
    # search_hybrid changes are facade-only (no contract row
    # constructs an Engine) — covered by tests/test_engine_facade.py.
    # full-oracle or rows-only-by-contract green; their serving
    # code is untouched by the r15 diff):
    "knn_join_pandas", "context_prev_next", "kth_ts_offset", "sessionize", "dedup_edit_distance", "dedup_repeated_chunks", "dedup_unaligned_substring", "text_novelty_score", "curate_by_novelty", "multimodal_features", "udtf_explode_users", "group_centroids_pandas", "asof_join_events", "range_join_ship_window", "maxsim_join_pandas",
    "search_rocchio_feedback", "ann_signbit_rerank",
    # round 15 rotation discipline: ABSENT (pending-first in the r15
    # window) = every row whose EXECUTED serving path changed in the
    # r15 diff — the 13 streaming rows (shared `_run_to_memory` /
    # `_drive` harness + availableNow on the two stragglers, VERDICT
    # r14 item 2), udf_embed_batch / udf_embed_query (dual-branch dim
    # guard + dim=None bulk path in embed._load_model, ADVICE r15),
    # sink_upsert_embeddings (upsert_parquet count_new threading,
    # VERDICT r14 item 1), json_extract_text (valid-object-without-
    # $.text now raw passthrough + list items lacking "text" skipped,
    # ADVICE r15 medium), incremental_distinct_sketch (two-regime
    # merge-consistency check, ADVICE r15), ann_lsh_topk (deterministic
    # duplicate-id query tiebreak, ADVICE r15) — plus the carried-over
    # late-r14 rotations below.  VERDICT r14 item 5's stale tail
    # (r8-era agg_*/topk §2 rows) follows pending rows oldest-first
    # via verification_order's age sort.
    # round 14 rotation discipline (VERDICT r13 item 1 — CONSOLIDATION:
    # pending ended at 17 — 8 from the consolidation diff + 9 honest
    # rotations from the five late-r14 review passes
    # (streaming_sessionize_stateful, dedup_edit_distance,
    # json_extract_text, ann_lsh_topk, kth_ts_offset,
    # context_prev_next, plus tail rows asof_join_events,
    # multimodal_features, and udtf_explode_users whose rotation is
    # slot-NEUTRAL: they were already inside the window).  The
    # 50-slot window = 17 pending + 33 tail slots, so every remaining
    # r2 and r3 row is still covered plus the oldest 15 of 29
    # remaining r4 rows; the r4 rows that miss the window are covered
    # by this round's full local sweeps — README "Full-registry gate
    # artifact", 0 failed — and rotate first in r15.  A correctness
    # fix always outranks the slot budget: rotating a changed row is
    # not optional.)  Deliberately
    # ABSENT (pending-first in the r14 window): curate_by_novelty
    # (new), plus every row whose serving path changed in the
    # r14 diff: dedup_repeated_chunks, dedup_unaligned_substring,
    # text_novelty_score (corpus counts rewritten groupBy+join-back ->
    # count(*) over (partition by hash), VERDICT item 2);
    # maxsim_join_pandas, search_rocchio_feedback (half-away-from-zero
    # _np_round6 grid + sequential centroid fold, ADVICE r13);
    # ann_signbit_rerank (signbit_sketch_py + try_element_at
    # short-vector 0-bit parity + NaN-dim 1-bit engine parity,
    # ADVICE r13 + r14 second review); streaming_index_upsert
    # (maintain_index -> index_maintenance_stats persist_backfill
    # opt-in, ADVICE r13); streaming_sessionize_stateful (late-event
    # cross-batch semantics fix, r14 second review — see the inline
    # note at its old listing position below).
    # DOCUMENTED EXCEPTION to the path-based rule: the r14 hardening of
    # the shared _cc_free cleanup helper (VERDICT item 8) touches ~20
    # transitive callers (index lifecycle, retrieval checkpoints, CC
    # rounds), but it executes strictly AFTER each operator's output is
    # committed and cannot affect any result — rotating all its callers
    # out would defeat item 1's consolidation budget, so they stay
    # listed and the helper carries its own direct both-path unit tests
    # (tests/test_dedup_units.py::test_cc_free_*).  The same reasoning
    # covers the late-r14 crash-recovery hardening of the index verbs
    # (second review: upsert/rebuild/stats now roll a crashed
    # erasure's pending manifest forward before reading, read_meta
    # heals a root stranded mid-swap, upsert staging moved off the
    # erasure's staging suffix, build_index frees its assignment
    # checkpoint): every added step is a no-op on a store WITHOUT
    # crash artifacts — the fixture-built stores every registry row
    # serves — so committed outputs are bit-identical; the crashed
    # states themselves are pinned by direct unit tests
    # (tests/test_ivf_index.py::test_*_rolls_forward_*, *heal_root*,
    # *stats_heals*, *empty_queries*).  Likewise the late-r14
    # retrieval/engine edge-path fixes (empty-term-list guards,
    # bootstrap id_col recording, changefeed meta_cols validation,
    # hybrid's dynamic ANN id column, audit_recall's |truth| divisor,
    # whole-call search_time_ms): each is unreachable or
    # result-identical for every registry row's fixture inputs
    # (fixture indexes use the default id column, non-empty term
    # lists, and feeds carrying their recorded columns), pinned by
    # tests/test_retrieval.py::test_empty_terms_*,
    # *bootstrap_upsert*, *carries_meta_cols*, *non_default_ann*, and
    # tests/test_engine_facade.py::test_audit_recall_small_store*.
    # Same treatment for the fifth-review fingerprint_md5 NULL-text
    # pin (NULL -> NULL fp matching the DuckDB twin): it touches every
    # fingerprint-based row, but NO fixture carries a null text at any
    # SF (asserted by tests/test_oracle_model_boundaries.py::
    # test_fixture_corpus_inside_model), so outputs are bit-identical;
    # pinned by test_edge_semantics.py::test_fingerprint_md5_null*.
    # And for the sixth-review half-away rounding completion in the
    # PQ encode/ADC kernels and the cell sim-join kernel: np.round's
    # half-to-even differs from the rows' half-away DuckDB round()
    # oracles ONLY on exact grid-half values — a fixture value in that
    # class would already have hash-FAILED those green rows, so the
    # change is provably bit-identical on every fixture (the two
    # affected TAIL rows, knn_join_pandas and group_centroids_pandas,
    # rotate anyway at zero slot cost; the reference-model property
    # tests pin the grid).  The seventh-review _media_with_truncated_
    # dups extraction is PLAN-identical (the two multimodal dedup rows
    # now share the construction expression verbatim via a helper), so
    # those rows stay listed with the boundary documented in the
    # helper's docstring.  The eighth-review scale alignments —
    # max_block=32 on the remaining unsalted LSH rows (pair set
    # IDENTICAL by construction, hypothesis-pinned by
    # test_grid_salted_lsh_equals_unsalted_on_random_corpora),
    # planner-free anti joins on the corpus-proportional drop/eval
    # lists (AQE still broadcasts them at fixture scale), and the
    # NULLS LAST tiebreak alignment in skew_report_events (fixtures
    # carry no NULL user_id) — are likewise output-identical at the
    # gate's scale and stay listed, each re-verified full-oracle at
    # commit time.
    # The r13 window's other green rows are re-listed below.
    # (r17: the index-SERVING rows formerly re-listed here —
    # ann_ivfpq_materialized(+_trained, _filtered),
    # ann_trained_store_exhaustive, search_index_many(+_large),
    # hybrid_serve_many(+_large), hybrid_filtered_serve,
    # hybrid_filtered_many_large, ann_recall_audit_trained,
    # ann_mmr_materialized — rotated out: their probed-cell reads now
    # go through _read_cells; see the r17 note at the top.)
    "approx_distinct_users", "dedup_ngram_jaccard",
    "dedup_containment", "ann_pq_rerank_trained",
    "mix_temperature_budget", "text_bigram_perplexity",
    # (r16: ann_index_erase, ann_index_compact, changefeed_apply_index,
    # pipeline_forget_and_serve rotated out — their erase path now
    # reads touched cells via sinks._read_buckets)
    "maxsim_topk", "maxsim_serve_many", "maxsim_hybrid_rrf",
    # round 13 rotation discipline: of CORRECTNESS_r12's 50 green
    # rows, re-listed below are only those UNCHANGED by the r13 diff.
    # Deliberately ABSENT (pending-first in the r13 window):
    # (a) new rows — dedup_unaligned_substring, maxsim_topk,
    # maxsim_serve_many; (b) rows whose serving code changed —
    # dedup_ngram_jaccard + dedup_containment (shared
    # _blocked_shingle_intersections refactor; ngram_jaccard also
    # REMOVED from its round-2 block below), text_bigram_perplexity
    # (pre-aggregated scoring join), approx_distinct_users (band
    # oracle + published estimate; removed from the round-1 block),
    # streaming_index_upsert (rewired through
    # streaming.stream_index_upsert); (c) every published-artifact row
    # whose oracle gained the fingerprint/content-witness guard —
    # ann_ivfpq_trained, ann_pq_rerank_trained,
    # ann_ivfpq_materialized_trained, ann_index_stats_trained,
    # ann_recall_audit_trained, mix_temperature_budget; (d) every row
    # serving through ivf.probe_cells_local (the new dimension-
    # mismatch guard is result-neutral, but the discipline is
    # path-based): ann_ivfpq_materialized,
    # ann_ivfpq_filtered_materialized, ann_trained_store_exhaustive,
    # ann_index_upsert/rebuild/erase/compact, streaming_index_erase,
    # pipeline_forget_and_serve, changefeed_apply_index,
    # ann_mmr_materialized, search_index_many(_large),
    # hybrid_serve_many(_large), hybrid_filtered_serve,
    # hybrid_filtered_many_large.
    "dsir_hashed_bigram", "mix_token_budget",
    "span_corruption", "pipeline_serving_capstone",
    # round 12 rotation discipline: (a) the three trained-ANN rows are
    # deliberately ABSENT (removed from their r5/r6 blocks) — r12 gave
    # each a real DuckDB oracle over its own persisted artifacts
    # (VERDICT r11 item 1), so they verify pending-first and the
    # window's only remaining rows-only entries are the two embed-UDF
    # rows; (b) udf_embed_batch / udf_embed_query are ABSENT too
    # (VERDICT item 3: r11 touched the embed path — Arrow batch_size
    # threading + preload_model — so they re-verify rows-only with
    # fresh spark_rows > 0); (c) every row served through
    # search_index_many / search_inverted_index_many /
    # hybrid_serve_many is ABSENT (removed from the r11 block below)
    # because r12 changed those paths (driver-side probe, with_rank,
    # rank-reusing threaded fusion — VERDICT item 4):
    # search_index_many(_large), text_search_many(_large),
    # text_filtered_many_large, hybrid_serve_many(_large),
    # hybrid_filtered_serve, hybrid_filtered_many_large,
    # pipeline_serving_capstone; (d) likewise every row serving
    # through the SINGLE-query search_index (its probe moved
    # driver-side too), incl. ann_trained_store_exhaustive
    # (result-neutral there — it probes every cell — but the
    # discipline is path-based): ann_ivfpq_materialized,
    # ann_ivfpq_filtered_materialized, ann_index_upsert/rebuild/
    # erase/compact, streaming_index_upsert/erase,
    # pipeline_forget_and_serve, changefeed_apply_index,
    # ann_mmr_materialized.
    # round 11 rotation discipline: (a) never-verified rows are
    # pending by construction (bpe_encode_corpus — red in r10, now
    # re-registered with a hashable token_ids projection;
    # search_index_many_large / text_search_many_large /
    # ann_trained_store_exhaustive — new this round); (b) rows whose
    # serving code CHANGED in the r11 diff are deliberately absent so
    # they verify pending-first: search_index_many, text_search_many,
    # hybrid_serve_many, hybrid_filtered_serve (the batched strategy
    # switch + joined default), and per VERDICT r10 item 2 the
    # r10-refactored single-query serve rows text_inverted_index_topk,
    # text_index_stats, text_bm25_topk, hybrid_search_rrf (removed
    # from their earlier blocks), plus pipeline_serving_capstone
    # (VERDICT item 5 asks for a re-run after the facade change).
    # round 11 (CORRECTNESS_r11.json — 49 full-oracle green + 1
    # rows-only-by-design): the r11 window's fresh names.  NOTE
    # ann_ivfpq_trained is NOT here despite its r11 row — its serving
    # fn changed in r12 (artifact publication + new oracle), so it
    # stays pending-first along with its two trained siblings.
    "dsir_importance_sample",
    "text_bm25_topk", "hybrid_search_rrf", "tokenizer_fertility_by_source",
    # round 10 (CORRECTNESS_r10.json — 48 full-oracle green; the
    # re-verified lifecycle and serve rows):
    "dedup_minhash_estimate", "ann_pq_topk", "ann_pq_rerank",
    "ann_ivfpq_topk", "pipeline_tokenize_and_pack",
    "ann_recall_audit", # round 10: the text-index path names are deliberately ABSENT from
    # this set (removed from their round-6/7 blocks below) — round 9
    # changed operators/retrieval.py materially (_ensure_gen_layout
    # migration, _live's gen-default semantics, coalesce(1) tombstone
    # writes, auto_compact_tombstones) without a fresh oracle row.
    # Dropping them puts them pending-first in the r10 window, exactly
    # as r9 did for the IVF path: text_index_upsert, text_index_erase,
    # text_index_compact, text_index_stats, text_inverted_index_topk,
    # hybrid_search_rrf, pipeline_forget_and_serve,
    # streaming_index_upsert, streaming_index_erase.
    # (r9 re-verified the IVF-path names full-oracle — CORRECTNESS_r09:
    # ann_ivf_topk, ann_ivf_filtered, sim_join_ivf(_p2)(_pandas),
    # ann_index_upsert/erase/rebuild/compact, changefeed_apply_index,
    # ann_ivfpq_topk, ann_ivfpq_materialized all green.)
    # ALSO absent by the same r10 discipline (this round's own diff):
    # pq.py's scoring expression was factored into adc_score_col, so
    # every PQ-scored row re-verifies — ann_pq_topk, ann_pq_rerank,
    # ann_ivfpq_topk, ann_ivfpq_materialized — and dedup.py's
    # minhash_estimate_pairs switched from persist to released
    # checkpoints, so dedup_minhash_estimate re-verifies too.
    # r10 late addendum: build_index/search_index/upsert_index/
    # rebuild_index gained meta_cols + where (filtered serving), so
    # every materialized-lifecycle row re-verifies in the r10 window:
    # ann_index_upsert/erase/rebuild/compact, changefeed_apply_index,
    # ann_recall_audit, ann_mmr_materialized dropped below.
    "ann_ivf_topk", "ann_ivf_filtered", "sim_join_ivf",
    "sim_join_ivf_p2", "sim_join_ivf_pandas",
    # round 7 (CORRECTNESS_r07.json — 49 full-oracle + 1 rows-only by
    # design, zero errs; re-verified names already listed under earlier
    # rounds are not repeated)
    "bloom_filter_join_agg", "aqe_skew_join_agg",
    # round 6 (CORRECTNESS_r06.json — 49 full-oracle + 1 rows-only by
    # design, zero errs; re-verified names already listed under earlier
    # rounds are not repeated)
    "ts_quantile_cut", "text_gopher_rules", "corpus_report",
    "skew_report_events", "vocab_coverage", "doc_length_histogram",
    "integrity_orphans",
    "partitioned_time_scan", "store_bucket_stats",
    "multimodal_dedup_near", "multimodal_frame_dedup",
    "rerank_cross_encoder", "dedup_semdedup",
    "ann_truncated_rerank", "quality_classifier_score",
    # incremental_distinct_sketch: rotated OUT late-r14 — the
    # merge-consistency flag moved from exact estimate equality to
    # the 2% estimator-path tolerance (seventh review), so the row
    # re-verifies pending-first
    "incremental_agg_merge",
    "store_changefeed",
    "corpus_overlap_matrix", "sample_fixed_k_per_group",
    "grouping_sets_report", "bpe_pair_frequencies",
    "embedding_centroid_drift", "dedup_cluster_histogram",
    "dpp_dim_filtered_scan", "dedup_components_incremental",
    "topk_mmr_diverse",
    # round 5 (CORRECTNESS_r05.json — re-verified names already listed
    # under earlier rounds are not repeated)
    "bucketed_colocated_join", "zorder_clustered_scan", "keyset_pagination",
    # (r16: sink_delete_keys rotated out — pruned-listing erase read)
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q9_product_profit",
    "tpch_q10_returned_items", "tpch_q11_important_stock",
    "tpch_q12_shipping_priority_class", "tpch_q13_customer_distribution",
    "tpch_q20_part_promotion", "dedup_incremental_new_docs",
    "pack_sequences_budget", "pack_fill_stats",
    "pipeline_training_batches", "pack_sequences_greedy",
    "multimodal_dedup_bytes", "corpus_weighted_sample",
    "zscore_by_group", "window_rank_family", "percent_rank_scan",
    # round 4 (CORRECTNESS_r04.json — 50/50 green; re-verified names
    # already listed under earlier rounds are not repeated)
    "tpch_q18_large_orders", "tpch_q21_waiting_suppliers",
    "tpch_q22_dormant_accounts", "tpch_q16_supplier_part_counts",
    "tpch_q2_min_cost_supplier", "tpch_q4_order_priority",
    "tpch_q15_top_supplier", "tpch_q17_small_quantity_revenue",
    # dedup_edit_distance: rotated OUT late-r14 — its inline salted
    # self-join was refactored onto the shared _grid_salted_self_pairs
    # helper (payload_cols generalization, r14 second review), so the
    # row re-verifies pending-first
    "distinct_users_twophase", "join_salted_skew",
    "text_unigram_logprob", "pivot_event_type_daily",
    "cube_order_priority", "event_value_histogram",
    "scd2_customer_status", "tpch_q19_disjunctive",
    "ntile_customer_quartiles", "spend_quartile_scan",
    "percent_rank_cume_dist", "corr_stats_events", "text_bigram_top20",
    "topk_with_ties", "unpivot_daily_counts", "user_event_type_sets",
    "funnel_signup_click_purchase", "cohort_weekly_retention",
    "rolling_1h_range_agg", # streaming_sessionize_stateful: rotated OUT late-r14 — the
    # stateful sessionizer's late-event handling changed (events
    # preceding the open session now extend it backwards / close as
    # their own earlier sessions instead of silently folding in;
    # r14 second-review finding), so the row re-verifies pending-first
    # round 3 (CORRECTNESS_r03.json)
    # group_centroids_pandas + knn_join_pandas: rotated OUT late-r14
    # (both tail rows already inside the window — slot-neutral): their
    # pandas kernels moved to the half-away rounding grid (and the
    # centroid to a sequential fold), the sixth-review remnants of the
    # ADVICE r13 _np_round6 fix
    # round 2 (CORRECTNESS_r02.json)
    "tpch_top_customers", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q14_promo_revenue",
    "first_order_per_customer", "dedup_exact", "dedup_minhash_lsh",
    "dedup_lsh_star", "dedup_simhash", "dedup_simhash_hamming",
    "dedup_embedding_lsh",
    "dedup_embedding_cosine", "text_lang_id",
    "text_quality_score", "text_token_counts", "text_fingerprint",
    # ann_lsh_topk: rotated OUT late-r14 — lsh_search's query row
    # gained limit(1) (duplicate-id corpora no longer duplicate the
    # top-k; r14 fourth review), so the row re-verifies pending-first
    "topk_quantized_int8", "dedup_components", "dedup_keep_canonical",
    "pipeline_clean_corpus", "stratified_sample",
    # (dedup_repeated_chunks REMOVED r14 — count-over-window rewrite)
    "text_tfidf_topterms", "decontaminate_ngram", "shard_assignment",
    # multimodal_features + asof_join_events: rotated OUT late-r14
    # (fourth review; both were r2-tail rows already inside the
    # window, so the rotation is slot-neutral) — extract_features now
    # prunes to its three consumed columns before the Arrow transfer,
    # and asof_join takes the latest right ROW atomically via one
    # last(struct) (the per-column ignorenulls form skipped NULL
    # values back to stale rows and could mix fields across rows)
    "text_pii_scrub",
    "multimodal_resize", "multimodal_frame_sample",
    # udtf_explode_users: rotated OUT late-r14 (r2-tail, slot-neutral)
    # — users_from_group_info picks min(name) per uid instead of a
    # nondeterministic dropDuplicates survivor (fifth review)
    "search_topk_enriched", "train_test_split",
    "text_chunking", "text_repetition", "topk_prenormalized",
    "event_value_percentiles",
    # range_join_ship_window: rotated OUT late-r14 (r2 tail,
    # slot-neutral) — date_add's silent TIMESTAMP->DATE cast
    # replaced with the oracle's exact INTERVAL arithmetic
    "rollup_order_status",
    "rollup_two_level_time",
    # round 1 (CORRECTNESS_r01.json)
    "cosine_similarity", "round_sim", "filter_sim_threshold",
    "topk_by_similarity", "knn_broadcast_join", "scan_messages",
    "scan_latest_file", "watermark_read",
    "filter_since_ts", "filter_like_json_probe", "filter_in_list",
    "filter_not_null_distinct", "filter_nonempty_text",
    # json_extract_text: rotated OUT late-r14 — extract_text's
    # malformed-object branch changed to raw passthrough (reference
    # parity, r14 third review; oracle updated with the matching
    # json_valid CASE), so the row re-verifies pending-first
    "filter_dynamic_conj", "clean_text",
    "fmt_human_time", "conv_type_from_sid", "truncate_ellipsis",
    "regex_name_from_email", "is_file_name", "derived_pct",
    "group_name_probe", "join_user_dim", "join_conv_name",
    # context_prev_next: rotated OUT late-r14 — the lag/lead window
    # (and its oracle) gained the unique event_id tiebreak making the
    # order TOTAL (fifth review), so the row re-verifies pending-first
    "anti_join_unnamed", "semi_join_deep_search",
    "dedup_last_wins", "agg_count_total", "agg_count_embedded",
    "agg_min_max_ts", "agg_count_distinct_users",
    "agg_new_msg_gap", "agg_group_first",
    "agg_running_max_watermark", "group_agg_events",
    # kth_ts_offset: rotated OUT late-r14 — the kth probe's aggregate
    # gained the kept-row-count guard (NULL under k rows; fourth
    # review), so the row re-verifies pending-first
    "sort_ts_pagination", "neighbor_limit1",
    "limit_candidates", "topk_per_group", "rolling_window_agg",
    # sessionize: rotated OUT late-r14 (r3 tail, slot-neutral) —
    # the gap compare moved from whole-second cast('long') to the
    # oracle's exact microsecond interval (seventh review)
    "tumbling_window_agg", "set_ops_nations",
    "join_outer_totals", "tpch_q1_pricing_summary",
})


_LAST_CHECKED_CACHE: dict | None = None


def _last_checked_rounds() -> dict:
    """Per-row most-recent SUCCESSFUL driver check, read from the
    CORRECTNESS_r*.json artifacts at the repo root (the driver and the
    local gate both run from there).  Names never appearing map to 0.
    Only green checks count toward freshness (ADVICE r12): a full-
    oracle row needs rows_match AND schema_match AND hash_match with
    no err (a value-hash mismatch with equal row counts is exactly
    the regression the value oracles exist to catch); a
    rows-only-by-contract row (err == 'no_oracle') needs
    spark_rows > 0.  A FAILED check
    leaves the row's last good round old, so it rotates FORWARD in
    the window instead of being treated as freshly verified.
    Failure-tolerant: no artifacts (fresh clone) -> empty dict and the
    caller falls back to registration order."""
    global _LAST_CHECKED_CACHE
    if _LAST_CHECKED_CACHE is not None:
        return _LAST_CHECKED_CACHE
    import glob as _glob
    import json as _json

    def green(row) -> bool:
        if not isinstance(row, dict):
            return False
        if row.get("err") == "no_oracle":
            return (row.get("spark_rows") or 0) > 0
        return (bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and bool(row.get("hash_match"))
                and row.get("err") is None)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for f in sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            round_no = int(f.rsplit("_r", 1)[1].split(".")[0])
            with open(f) as fh:
                rows = _json.load(fh)
        except (ValueError, OSError, _json.JSONDecodeError):
            continue
        if isinstance(rows, dict):
            for name, row in rows.items():
                if green(row):
                    # (named round_no, not rnd — the module-level rnd()
                    # rounding helper must stay reachable here)
                    last[name] = max(last.get(name, 0), round_no)
    _LAST_CHECKED_CACHE = last
    return last


# The rotation's hard staleness bound (VERDICT r15 item 3, replacing
# the hand-curated one-window ROTATION_PRIORITY tuple): a listed row
# whose last green driver check is more than this many rounds behind
# the newest CORRECTNESS artifact is OVERDUE.  Overdue rows outrank
# everything except a small reserved quota of pending (new/changed)
# rows — when a large overdue backlog and a large pending set compete
# for the ~50-row window, the age bound wins beyond that quota (the
# excess pending rows are covered by the round's local full sweep and
# land in the NEXT window; an overdue row has had no hard driver
# signal for 8+ rounds).  Within each block the sort is
# oldest-check-first, so the backlog drains at nearly the full window
# rate and the mechanism self-disarms: a freshly checked row ages out
# of the overdue set by definition.  Unlike its ROTATION_PRIORITY
# predecessor this needs no per-round curation — ANY row that falls
# behind the bound is bumped automatically, forever.
MAX_CHECK_AGE_ROUNDS = 8

#: window slots guaranteed to this round's new/changed rows even when
#: the overdue backlog alone would fill the window — a changed row's
#: driver check is the correctness gate's primary signal and must not
#: be starved by the staleness drain (nor vice versa).  Sized as a
#: CEILING, not a target: a normal round's pending set (5-17 rows)
#: fits entirely, so every changed row gets its driver check the same
#: round; only a pathological 20+-row pending set spills, and even
#: then the overdue drain keeps >= 30 window slots.
PENDING_WINDOW_QUOTA = 20


def verification_order(mapping: dict) -> dict:
    """Reorder ``mapping`` (REGISTRY or ORACLES) for the driver's
    ~50-row window: first up to PENDING_WINDOW_QUOTA names without a
    driver CORRECTNESS row or whose serving code changed this round
    (curated out of DRIVER_VERIFIED), never-checked first then oldest
    signal first; then every OVERDUE row (older than
    MAX_CHECK_AGE_ROUNDS vs the newest artifact — the enforced
    staleness bound) oldest first; then any pending overflow; then
    everything else OLDEST driver check first
    (VERDICT r11 item 2: the age-based rotation that cycles stale rows
    back through the window at ~25-45/round)."""
    last = _last_checked_rounds()
    cur = max(last.values(), default=0)
    cut = cur - MAX_CHECK_AGE_ROUNDS
    reg_pos = {k: i for i, k in enumerate(REGISTRY)}
    age = (lambda k: (last.get(k, 0), reg_pos[k]))
    overdue = sorted((k for k in REGISTRY
                      if k in DRIVER_VERIFIED and last.get(k, 0) <= cut),
                     key=age)
    # pending sorted oldest-signal-first: a NEVER-checked row (a brand
    # new query) outranks a changed row that was green last round, so
    # when the quota bites, the rows with no driver signal at all
    # keep their slot
    pending = sorted((k for k in REGISTRY if k not in DRIVER_VERIFIED),
                     key=age)
    head = set(pending) | set(overdue)
    done = sorted((k for k in REGISTRY
                   if k in DRIVER_VERIFIED and k not in head),
                  key=age)
    q = PENDING_WINDOW_QUOTA
    return {k: mapping[k]
            for k in (*pending[:q], *overdue, *pending[q:], *done)
            if k in mapping}
