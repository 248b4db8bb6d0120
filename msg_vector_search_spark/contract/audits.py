"""Corpus audits: cross-source overlap, snapshot drift, reservoirs, BPE"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import analysis, vector as V
from ..operators import ann_index
from ..operators import corpus as corpus_ops
from ..operators import dedup as dedup_ops
from ..operators import ivf as ivf_ops
from ..operators import packing as packing_ops
from ..operators import pq as pq_ops
from ..operators import retrieval as retrieval_ops
from ..operators import similarity as sim_ops
from ..sources import readers, sinks
from ..streaming import stream as streaming_ops

from .core import (
    _built, _copy, _publish_store_link, _query_vec, _t, _upsert_base_path,
    register, rnd,
)
from .scans import _IVFPQ_SEED_CTES, _with
from .dedup import _DUCK_HASH48, _DUCK_TOKENS, _duck_shingles
from .ann import (
    _CC_ORACLE, _CC_WALK, _INDEX_UPSERT_ORACLE, _TRAINED_STORE_SERVE,
    _day_events, _materialized_index, _trained_vecs,
)
from .hybrid import _V_LEG, _kw_leg, _kw_rank, _rrf, _vec_rank


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


# per-label centroid drift from the 80% slice to the whole corpus
_DRIFT_ORACLE = """
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
"""


@register("embedding_centroid_drift", oracle=_DRIFT_ORACLE)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L2 shift between the previous snapshot (every
    vec_id % 5 == 0 row absent — the last crawl's subset) and the
    current store.  The drift monitor that decides which labels need
    re-indexing after an ingest.  posexplode -> grouped avg on
    (label, pos): one shuffle, labels x dim rows after partials."""
    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    return corpus_ops.centroid_drift(old, emb)


@register("streaming_centroid_drift", oracle=_DRIFT_ORACLE)
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
    streaming_ops.foreach_file_batch(
        spark, src, batch.schema,
        lambda bdf, _: bdf.write.mode("append").parquet(store), "drift")
    return corpus_ops.centroid_drift(old, spark.read.parquet(store))


@register("dedup_cluster_histogram", oracle=_CC_WALK + """,
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
    part = spark.read.parquet(_day_events(spark, sf_dir))
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


@register("dedup_components_incremental", oracle=_CC_ORACLE)
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
    comp_old = spark.read.parquet(_built(
        (sf_dir, "cc_base"), lambda path: dedup_ops.connected_components_star(
            dedup_ops.dedup_minhash_lsh(
                docs.filter(F.col("doc_id") % 4 != 0), num_hashes=8,
                bands=4, shingle_n=3, max_block=32)).write.parquet(path),
        leaf="comp"))

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
    directories of the index's one cell store to one file each — a
    rewrite of O(fragmented bytes), untouched cells never read —
    and the post-compaction search must return exactly what the
    one-shot-upsert oracle computes: compaction moves bytes, never
    rows."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _copy(_upsert_base_path(spark, sf_dir))
    ann_index.upsert_index(spark, path,
                           emb.filter(F.col("vec_id") % 30 == 3))
    ann_index.upsert_index(spark, path,
                           emb.filter((F.col("vec_id") % 30 == 13)
                                      | (F.col("vec_id") % 30 == 23)))
    stats = sinks.compact_store(spark, os.path.join(path, "vectors"),
                                part_col="cell")
    assert stats["compacted"], "upserts must fragment some cell"
    assert stats["files_after"] < stats["files_before"]
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


_ADCSHORT = """adcshort AS (
  SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 50
)"""

_ANN_MMR_ORACLE = _with(
    *_IVFPQ_SEED_CTES, _ADCSHORT, f"""short AS MATERIALIZED (
  SELECT c.vec_id, c.embedding,
         (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6)
          + 0) AS simq
  FROM cand c JOIN adcshort s ON s.vec_id = c.vec_id
  ORDER BY simq DESC, c.vec_id LIMIT 30
)""") + _mmr_pair_cte() + _mmr_steps(10, 0.7)


# recall@10 of ``served`` against brute-force ``truth``.
_RECALL_TRUTH = f"""truth AS (
  SELECT e.vec_id,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
  FROM embeddings e, q
  ORDER BY sim DESC, e.vec_id LIMIT 10
)"""
_RECALL_SELECT = """
SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_hits,
       (round(count(*) / 10.0, 6) + 0) AS recall
FROM served s JOIN truth t ON t.vec_id = s.vec_id
"""

_ANN_RECALL_ORACLE = _with(
    *_IVFPQ_SEED_CTES, _ADCSHORT, f"""served AS (
  SELECT c.vec_id,
         (round({V.duck_cosine('c.embedding', '(SELECT qv FROM q)')}, 6)
          + 0) AS sim
  FROM cand c JOIN adcshort s ON s.vec_id = c.vec_id
  ORDER BY sim DESC, c.vec_id LIMIT 10
)""", _RECALL_TRUTH) + _RECALL_SELECT


@register("ann_recall_audit_trained", oracle=_with(
    *_TRAINED_STORE_SERVE, _trained_vecs(), f"""served AS (
  SELECT v.vec_id,
         (round({V.duck_cosine('v.embedding', '(SELECT qv FROM q)')}, 6)
          + 0) AS sim
  FROM vecs v JOIN short s ON s.vec_id = v.vec_id
  ORDER BY sim DESC, v.vec_id LIMIT 10
)""", _RECALL_TRUTH) + _RECALL_SELECT)
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


_SERVE_CAPSTONE_ORACLE = (_with(
    _kw_leg(), _V_LEG, "fused AS (" + _rrf("", 20) + ")",
    f"""short AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
         (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS simq
  FROM embeddings e,
       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id IN (SELECT doc_id FROM fused)
)""") + _mmr_pair_cte() + _mmr_steps(8, 0.7))


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
    kw_rank = _kw_rank(spark, sf_dir)
    qv = _query_vec(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    fused = retrieval_ops.rrf_fuse([kw_rank, _vec_rank(emb, qv)], topk=20)
    cand = fused.select(F.col("doc_id").alias("vec_id"))
    short = (sim_ops.similarity_to_query(emb, qv, out_col="simq")
             .join(F.broadcast(cand), "vec_id")
             .select("vec_id", rnd(F.col("simq"), 6).alias("simq"),
                     "embedding"))
    return sim_ops.mmr_select(short, k=8, lam=0.7)
