"""Scans / sinks / state (SURVEY 2.A)

Also home of the IVF x PQ oracle builder: the DuckDB CTE segments
every ANN oracle replays.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vector as V
from ..operators import dedup as dedup_ops
from ..operators import ivf as ivf_ops
from ..operators import pq as pq_ops
from ..sources import bucketed, layout, readers, sinks, state

from .core import (
    _fp_guard, _publish_centroids, _publish_codebooks, _publish_fingerprint,
    _query_vec, _t, _trained_dir, register, rnd,
)


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


# -------------------------------------------------------------------------
# IVF x PQ oracle builder
# -------------------------------------------------------------------------
# The serving composition (assign -> probe -> encode -> ADC -> re-rank)
# as DuckDB CTE segments, shared by every oracle that replays it.  Seed
# centroids are the first 16 vectors by id; seed codebooks cut the same
# 16 vectors into 8 subspaces of 8 dims.  Assignment, encoding and
# table entries round to 9dp, ADC sums and re-rank cosines to 6dp, ties
# to the lower id — the grid the Spark side rounds to.  Each function
# returns CTE text (a segment may hold several CTEs); _with joins them.
# The IVF-only rows (no PQ) name the assignment CTEs ``scored`` /
# ``assigned`` (_ASSIGNED) and end in _probe_cells + _ivf_exact.
#
# The other shared oracle builders sit next to their first user, after
# the dialect helpers they need: _minhash_bands / _MINHASH_CTE (shingle
# -> MinHash -> LSH band chain), _CC_WALK / _CC_ORACLE (connected
# components of the LSH pair graph), _scaled_corpus (the x1.25 near-dup
# injection; Spark twin _with_scaled_dups), _SHIFTED_CORPUS /
# _WINDOW_COUNTS (the one-token-shifted duplicates and their 16-token
# window counts; Spark twin _with_shifted_dups), _budget_admit /
# _MIX_BUDGETS_SQL (per-source token-budget admit), _greedy_packs
# (greedy sequence packing), _TRUNCATED_MEDIA, _DUCK_GOPHER_STOPS,
# _bm25_sql / _BM25_TOP20 (BM25 top-20; Spark twins _bm25_top20 /
# _invidx_top20), and _kw_leg / _V_LEG / _rank / _rrf (RRF legs and
# fusion; Spark twins _kw_rank / _vec_rank).  Rows that must agree
# share one oracle constant
# (_KNN_JOIN_ORACLE, _TUMBLING_ORACLE, _CC_ORACLE, _PCT_RANK_ORACLE,
# _BM25_ORACLE, _BM25_AND_ORACLE, _BM25_SURV_ORACLE, _DRIFT_ORACLE, ...).
# Fixture builds are cached by _built and copied by _copy.

def _with(*ctes: str) -> str:
    """The WITH clause over *ctes*, in order."""
    out = "\nWITH " + ctes[0]
    for cte in ctes[1:]:
        out += (", " if out.endswith("\n)") else ",\n") + cte
    return out


def _seed_cent(src: str = "embeddings",
               pick: str = "ORDER BY vec_id LIMIT 16") -> str:
    """``cent``: the vectors of *src* that *pick* selects (by default
    the first 16) as centroids."""
    return f"""cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM {src} {pick}
)"""


def _q(qid: int = 0) -> str:
    """``q``: the query vector, row *qid*'s embedding."""
    return ("q AS (SELECT embedding AS qv FROM embeddings "
            f"WHERE vec_id = {qid})")


def _qs(qids) -> str:
    """``qs``: one (qid, qv) row per batched query."""
    return f"""qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(q) for q in qids)})
)"""


def _assign(src: str = "embeddings", carry=("embedding",),
            names=("cscored", "celled"), cells: int = 1) -> str:
    """*names* (``cscored``/``celled``): each row of *src* in its
    *cells* nearest cells by cosine, with the *carry* columns."""
    scored, celled = names
    sel = "".join(f"e.{c}, " for c in carry)
    out = "".join(f"{c}, " for c in carry)
    keep = "rn = 1" if cells == 1 else f"rn <= {cells}"
    return f"""{scored} AS (
  SELECT e.vec_id, {sel}c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM {src} e CROSS JOIN cent c
), {celled} AS (
  SELECT vec_id, {out}centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM {scored}) WHERE {keep}
)"""


# the IVF-only rows' names for the same two CTEs
_ASSIGNED = ("scored", "assigned")


def _probe_cells(nprobe: int = 4) -> str:
    """``probe``: the query's *nprobe* nearest cells."""
    return f"""probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT {nprobe}
)"""


def _probe(nprobe: int = 4, where: str = "") -> str:
    """``probe``/``cand``: the query's *nprobe* nearest cells and their
    rows, pre-filtered by *where*."""
    gate = f" AND {where}" if where else ""
    return _probe_cells(nprobe) + f""", cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe){gate}
)"""


def _ivf_exact(cols: str = "", where: str = "") -> str:
    """The final select of the IVF-only rows: ``assigned`` rows in the
    probed cells (and *where*), exact cosine to ``q``, top 10."""
    gate = f" AND {where}" if where else ""
    return f"""
SELECT a.vec_id, {cols}a.cell,
       (round({V.duck_cosine('a.embedding', 'qv')}, 6) + 0) AS sim
FROM assigned a, q
WHERE a.cell IN (SELECT cell FROM probe){gate}
ORDER BY sim DESC, a.vec_id LIMIT 10
"""


def _probe_many(nprobe: int = 4, where: str = "") -> str:
    """Batched ``probe`` (qid, cell) and ``cand``, the rows of every
    probed cell, pre-filtered by *where*."""
    gate = f" AND {where}" if where else ""
    return f"""probe AS (
  SELECT q.qid, c.centroid_id AS cell
  FROM qs q CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY q.qid
    ORDER BY {V.duck_cosine('c.cvec', 'q.qv')} DESC, c.centroid_id) <= {nprobe}
), cand AS (
  SELECT * FROM celled
  WHERE cell IN (SELECT DISTINCT cell FROM probe){gate}
)"""


def _seed_codebooks(src: str = "embeddings") -> str:
    """``seeds``/``js``/``cb``: the first 16 vectors of *src* as the
    codewords of every subspace."""
    return f"""seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM {src} ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
)"""


# trained codebooks carry their own subspace ids
_TRAINED_JS = "js AS (SELECT DISTINCT j FROM cb)"


def _encode(src: str = "cand c", out: str = "coded", carry=()) -> str:
    """``ev``/*out*: each row of *src* (``relation alias``) encoded to
    its nearest codeword per subspace, with the *carry* columns."""
    a = src.split()[-1]
    sel = "".join(f"{a}.{c}, " for c in carry)
    evs = "".join(f"ev.{c}, " for c in carry)
    cols = "".join(f"{c}, " for c in carry)
    return f"""ev AS (
  SELECT {a}.vec_id, {sel}js.j, {a}.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM {src} CROSS JOIN js
), {out} AS (
  SELECT vec_id, {cols}j, cw FROM (
    SELECT ev.vec_id, {evs}ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
)"""


def _adc(coded: str = "coded") -> str:
    """``qtab``/``adc``: the query's codeword table and the ADC score
    of every row of *coded*."""
    return f"""qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM {coded} a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
)"""


def _adc_many(shortlist: int = 50, short: str = "short") -> str:
    """Batched ``qtab``/``adc`` (a row scores only for the queries that
    probed its cell) and *short*, the top *shortlist* ids per qid."""
    return f"""qtab AS (
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
), {short} AS (
  SELECT qid, vec_id FROM adc
  QUALIFY row_number() OVER (PARTITION BY qid
                             ORDER BY adc_sim DESC, vec_id) <= {shortlist}
)"""


def _short(shortlist: int = 50) -> str:
    """``short``: the top *shortlist* ids by ADC score."""
    return ("short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, "
            f"vec_id LIMIT {shortlist})")


def _rerank(src: str = "cand c", cell: bool = True) -> str:
    """The final select: the shortlisted rows of *src* (``relation
    alias``) re-ranked by exact cosine, top 10."""
    a = src.split()[-1]
    cols = f"{a}.vec_id, {a}.cell," if cell else f"{a}.vec_id,"
    cos = V.duck_cosine(f"{a}.embedding", "(SELECT qv FROM q)")
    return f"""
SELECT {cols}
       (round({cos}, 6) + 0)
         AS sim
FROM {src} JOIN short s ON s.vec_id = {a}.vec_id
ORDER BY sim DESC, {a}.vec_id LIMIT 10
"""


# The seed composition every seed-artifact IVFPQ oracle replays.
_IVFPQ_SEED_CTES = (_seed_cent(), _q(), _assign(), _probe(),
                    _seed_codebooks(), _encode(), _adc())

_IVFPQ_TRAINED_DIR = _trained_dir("ann_ivfpq_trained")


# The full IVF x PQ composition replayed from the trained artifacts the
# row persists (centroids + codebooks parquet): identical math to the
# seed oracle, with the artifact CTEs reading parquet instead of
# deriving seed picks, so every stage downstream of training is
# value-checked.  The centroid CTE carries the fingerprint guard: a
# cross-scale artifact empties it and the row fails.
@register("ann_ivfpq_trained", oracle=_with(
    f"""cent AS (
  SELECT centroid_id, centroid_vec AS cvec
  FROM read_parquet('{_IVFPQ_TRAINED_DIR}/centroids/*.parquet')
  WHERE {_fp_guard("ann_ivfpq_trained", "embeddings")}
), cb AS (
  SELECT j, cw, cv
  FROM read_parquet('{_IVFPQ_TRAINED_DIR}/codebooks/*.parquet')
)""",
    _q(), _assign(), _probe(8), _TRAINED_JS, _encode(), _adc(),
    """short AS (
  SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 400
)""") + _rerank())
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
    re-rank composition from the persisted parquet (the IVF x PQ
    oracle builder) — the ann_trained_store_exhaustive
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
