"""Incremental aggregate maintenance: the "never rescan the corpus" path

A 100 TB corpus's dashboard stats cannot be recomputed corpus-wide
per batch.  The scale answer is MERGEABLE STATE: persist per-group
partial aggregates (sufficient statistics / sketches), fold each
arriving batch's partials in with an algebraic merge, and derive the
published metrics from the merged state at read time.  Cost per
refresh is O(batch + |state|), with |state| dimension-sized —
independent of corpus size.  These rows prove merge(state(base),
partials(batch)) == agg(corpus) exactly, which is the invariant that
makes the maintenance loop safe to run forever.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions import vector as V
from ..operators import ann_index
from ..operators import ivf as ivf_ops
from ..operators import retrieval as retrieval_ops
from ..session import run_concurrently
from ..sources import readers, sinks
from ..streaming import stream as streaming_ops

from .core import (
    _ann_built, _built, _copy, _inverted_index, _query_vec, _t,
    _upsert_base_path, register, rnd,
)
from .scans import (
    _ASSIGNED, _adc, _assign, _encode, _ivf_exact, _probe, _probe_cells, _q,
    _rerank, _seed_cent, _seed_codebooks, _short, _with,
)
from .dedup import _DUCK_TOKENS
from .ann import (
    _HYBRID_TERMS, _HYBRID_TERMS_LARGE, _hybrid_many_oracle, _hybrid_queries,
    _labeled_index,
)
from .hybrid import (
    _BM25_ORACLE, _BM25_SURV_ORACLE, _BM25_TERMS, _bm25_sql, _invidx_top20,
    _kw_leg, _rank, _rrf,
)


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


@register("pipeline_retention_forget", oracle=_with(
    """n AS (SELECT count(*) AS n FROM embeddings),
surv AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id >= (SELECT n // 4 FROM n)
)""", _seed_cent(), _q(), _assign("surv", names=_ASSIGNED), _probe_cells())
    + _ivf_exact())
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


@register("pipeline_retention_forget_text", oracle=_BM25_SURV_ORACLE)
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
    return _invidx_top20(spark, index)


@register("text_index_ttl_sweep", oracle=_BM25_SURV_ORACLE)
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
    return _invidx_top20(spark, index)


_ANN_TTL_ORACLE = _with(
    _seed_cent(), _q(), _assign(),
    _probe(where="vec_id >= (SELECT count(*) // 4 FROM embeddings)"),
    _seed_codebooks(), _encode(), _adc(), _short()) + _rerank()


@register("ann_index_ttl_erase", oracle=_ANN_TTL_ORACLE)
def ann_index_ttl_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-SIDE forget-by-age for the ANN surface — the vector twin
    of text_index_ttl_sweep: the build records the row timestamp in
    meta_cols (the same recorded metadata that serves as a search
    pre-filter), so ``delete_index_where`` finds victims AND their
    cells in one column-pruned scan of the vectors sidecar (id + ts +
    cell pages, no vector bytes, no store access) and rewrites only
    the victim cells through the staged-manifest commit.  Serving
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

    queries = _hybrid_queries(emb, _HYBRID_TERMS)
    return retrieval_ops.hybrid_serve_many(spark, tpath, apath, queries,
                                           leg_k=50, k=10, nprobe=4,
                                           shortlist=50)


_STOPWORD_TOKENS = ("string_split_regex(trim(lower(text || ' zstopz')), "
                    "'\\s+')")


@register("text_index_stopword_prune",
          oracle=_bm25_sql(["spark", "dup"], _STOPWORD_TOKENS))
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
    return _invidx_top20(spark, index, ["zstopz", "spark", "dup"])


_RECYCLE_CORPUS = ("(SELECT doc_id, text || ' zstopz' AS text "
                   "FROM documents UNION ALL "
                   "SELECT 1000000 + doc_id, 'qrecycle zstopz' "
                   "FROM documents WHERE doc_id % 50 = 0) corpus")


@register("text_index_stopword_recycle", oracle=_bm25_sql(
    ["spark", "dup", "qrecycle"], from_table=_RECYCLE_CORPUS))
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
    return _invidx_top20(spark, index,
                         ["zstopz", "spark", "dup", "qrecycle"])


@register("text_inverted_index_topk", oracle=_BM25_ORACLE)
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
    return _invidx_top20(spark, path)


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


@register("text_index_upsert", oracle=_BM25_ORACLE)
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
    path = _copy(_inverted_index(spark, sf_dir, "base90"))
    retrieval_ops.upsert_inverted_index(
        docs.filter(F.col("doc_id") % 10 == 3), path)
    return _invidx_top20(spark, path)


_TEXT_ERASE_ORACLE = _bm25_sql(
    from_table="(SELECT * FROM documents WHERE doc_id % 10 <> 3)")


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
    path = _copy(_inverted_index(spark, sf_dir))
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
    path = _copy(_inverted_index(spark, sf_dir))
    retrieval_ops.delete_inverted_docs(
        docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"), path)
    stats = retrieval_ops.compact_inverted_index(spark, path)
    assert stats["postings_after"] < stats["postings_before"]
    assert stats["doclen_after"] < stats["doclen_before"]
    assert not _os.path.isdir(_os.path.join(path, "tombstones"))
    return _invidx_top20(spark, path)


_SRC_SLICE = "('src1', 'src3', 'src5', 'src7')"


@register("text_index_filtered_search", oracle=_bm25_sql(
    from_table=f"(SELECT doc_id, text FROM documents "
               f"WHERE source IN {_SRC_SLICE})"))
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
    path = _inverted_index(spark, sf_dir, "src")
    return _invidx_top20(spark, path, where=f"source IN {_SRC_SLICE}")


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
    path = _inverted_index(spark, sf_dir, "src")
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
    queries = _hybrid_queries(_t(spark, sf_dir, "embeddings"),
                              _HYBRID_TERMS)
    tpath = _inverted_index(spark, sf_dir, "src")
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
    queries = _hybrid_queries(_t(spark, sf_dir, "embeddings"),
                              _HYBRID_TERMS_LARGE)
    tpath = _inverted_index(spark, sf_dir, "src")
    apath = _labeled_index(spark, sf_dir)
    return retrieval_ops.hybrid_serve_many(
        spark, tpath, apath, queries, leg_k=50, k=10, nprobe=4,
        shortlist=50, where_text=f"source IN {_SRC_SLICE}",
        where_ann="label % 2 = 0", literal_max=0)


@register("streaming_text_index_upsert", oracle=_BM25_ORACLE)
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
    path = _copy(_inverted_index(spark, sf_dir, "base90"))

    src = os.path.join(tempfile.mkdtemp(prefix="txtstream_"), "incoming")
    batch.repartition(3).write.parquet(src)
    streaming_ops.foreach_file_batch(
        spark, src, batch.schema,
        lambda bdf, _: retrieval_ops.upsert_inverted_index(bdf, path),
        "txtstream")
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
    path = _copy(_inverted_index(spark, sf_dir))

    src = os.path.join(tempfile.mkdtemp(prefix="txterase_"), "victims")
    victims.repartition(3).write.parquet(src)
    streaming_ops.foreach_file_batch(
        spark, src, victims.schema,
        lambda bdf, _: retrieval_ops.delete_inverted_docs(bdf, path),
        "txterase")
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
    path = _copy(_inverted_index(spark, sf_dir))
    retrieval_ops.delete_inverted_docs(
        docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"), path)
    return retrieval_ops.inverted_index_stats(spark, path)


@register("changefeed_apply_text_index", oracle=_bm25_sql(
    from_table="(SELECT doc_id, CASE WHEN doc_id % 3 = 0 "
               "THEN text || ' spark query' ELSE text END AS text "
               "FROM documents WHERE doc_id % 7 <> 0)"))
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
    path = _copy(_inverted_index(spark, sf_dir, "old5"))
    stats = retrieval_ops.apply_changefeed_text_index(spark, path, feed)
    assert stats["deleted"] and stats["upserted"]
    return _invidx_top20(spark, path)


@register("pipeline_forget_and_serve", oracle=_with(
    "base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3)",
    "surv AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 7)",
    _seed_cent("base"), _q(), _assign("surv"), _probe(),
    _seed_codebooks("base"), _encode(), _adc(), _short(), f"""v_top AS (
  SELECT c.vec_id AS doc_id,
         (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6)
          + 0) AS s
  FROM cand c JOIN short sh ON sh.vec_id = c.vec_id
  ORDER BY s DESC, doc_id LIMIT 50
)""", _rank("v_rank", "v_top", "rank_vec"),
    _kw_leg(from_table="(SELECT * FROM documents WHERE doc_id % 10 <> 7)"))
    + _rrf())
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
    store = _copy(_built((sf_dir, "forget_store"), lambda path: (
        sinks.upsert_parquet(spark, emb.filter(F.col("vec_id") % 10 != 3),
                             path, key="vec_id", order_col="vec_id")),
        leaf="store"))
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
        path = _copy(_upsert_base_path(spark, sf_dir))
        ann_index.delete_index_keys(spark, path, erase_ids,
                                    vectors=victim_rows)
        ann_index.upsert_index(spark, path, batch_emb)
        return path

    def _txt_leg() -> str:
        path = _copy(_inverted_index(spark, sf_dir, "base90"))
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


@register("changefeed_apply_index", oracle=_with(
    """oldc AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0
), newc AS (
  SELECT vec_id,
         CASE WHEN vec_id % 3 = 0
              THEN list_transform(embedding,
                                  x -> CAST(x AS DOUBLE) + 0.5)
              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE))
         END AS embedding
  FROM embeddings WHERE vec_id % 7 <> 0
)""",
    _seed_cent("oldc"), _q(), _assign("newc"), _probe(),
    _seed_codebooks("oldc"), _encode(), _adc(), _short()) + _rerank())
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
    # the index built on the OLD snapshot (vec_id%5<>0, embeddings
    # cast to double so the update payloads union cleanly)
    path = _copy(_ann_built(
        spark, (sf_dir, "cfeed_old"),
        lambda: _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 5 != 0)
        .select("vec_id", F.transform("embedding",
                                      lambda x: x.cast("double"))
                .alias("embedding"))))
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
