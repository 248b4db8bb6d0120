"""Scans / sinks / state (SURVEY 2.A)"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators import ivf as ivf_ops
from ..operators import pq as pq_ops
from ..sources import bucketed, layout, readers, sinks, state

from .core import (
    _fp_guard, _publish_centroids, _publish_codebooks, _publish_fingerprint,
    _query_vec, _t, _trained_dir, register, rnd,
)
from .ivfpq_oracle import (
    _TRAINED_JS, _adc, _assign, _encode, _probe, _q, _rerank, _with,
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
