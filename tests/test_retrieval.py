"""Unit tests for the hybrid-retrieval operators (BM25, bounded rank,
RRF fusion, SemDeDup)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from msg_vector_search_spark.operators import dedup as dedup_ops
from msg_vector_search_spark.operators import ivf as ivf_ops
from msg_vector_search_spark.operators import retrieval

from conftest import file_tree


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def _bm25_ref(tf: int, df: int, n: int, dl: int, avgdl: float,
              k1: float = 1.2, b: float = 0.75) -> float:
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * (dl / avgdl)))


def test_bm25_matches_hand_formula(spark):
    rows = [(0, "cat dog cat"), (1, "dog dog dog dog"),
            (2, "fish"), (3, "cat fish bird bird")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           retrieval.bm25_scores(docs, ["cat", "dog"]).collect()}
    n, avgdl = 4, (3 + 4 + 1 + 4) / 4
    # df(cat)=2, df(dog)=2
    exp0 = (_bm25_ref(2, 2, n, 3, avgdl) + _bm25_ref(1, 2, n, 3, avgdl))
    assert out[0]["bm25"] == pytest.approx(exp0, rel=1e-12)
    exp1 = _bm25_ref(4, 2, n, 4, avgdl)
    assert out[1]["bm25"] == pytest.approx(exp1, rel=1e-12)
    # doc 2 matches no query term -> excluded
    assert 2 not in out
    exp3 = _bm25_ref(1, 2, n, 4, avgdl)
    assert out[3]["bm25"] == pytest.approx(exp3, rel=1e-12)


def test_bm25_rare_term_outscores_common(spark):
    # one doc holds the rare term; all hold the common one, same dl
    rows = [(i, "common filler " + ("rare" if i == 0 else "word"))
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["bm25"] for r in
           retrieval.bm25_scores(docs, ["common", "rare"]).collect()}
    assert out[0] > max(v for k, v in out.items() if k != 0)


# ---------------------------------------------------------------------------
# bounded_rank: the window-rank definition over a k-bounded prefix
# ---------------------------------------------------------------------------

def test_bounded_rank_matches_window_rank(spark):
    rows = [(i, float((i * 37) % 11)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, s double")
    got = {r["id"]: r["rank"]
           for r in retrieval.bounded_rank(df, "s", "id", 15).collect()}
    exp_rows = sorted(rows, key=lambda r: (-r[1], r[0]))[:15]
    exp = {rid: i + 1 for i, (rid, _) in enumerate(exp_rows)}
    assert got == exp


def test_bounded_rank_window_input_is_k_bounded(spark):
    # r17 shape: the global window is fed by the ordered limit's
    # TakeOrderedAndProject, so it only ever sees k rows — the
    # single-partition exchange is k-bounded at any corpus size.  The
    # frame is also LAZY now (no eager localCheckpoint job per leg):
    # building it must run zero jobs.
    df = spark.createDataFrame([(i, float(i)) for i in range(10)],
                               "id long, s double")
    ranked = retrieval.bounded_rank(df, "s", "id", 5)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    # the limit sits BELOW the window: k rows in, never the corpus
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")
    # lazy: the pre-r17 eager localCheckpoint pinned its own RDD; the
    # plan must still bottom out at the caller's input, not a
    # checkpoint scan
    assert "LocalCheckpoint" not in plan


# ---------------------------------------------------------------------------
# RRF fusion
# ---------------------------------------------------------------------------

def test_rrf_fuse_scores_and_order(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                              "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank int")
    out = {r["doc_id"]: r for r in
           retrieval.rrf_fuse([a, b], topk=10, round_to=None).collect()}
    # doc 2 appears in both legs -> highest fused score
    assert out[2]["rrf"] == pytest.approx(1 / 62 + 1 / 61, rel=1e-12)
    assert out[1]["rrf"] == pytest.approx(1 / 61, rel=1e-12)
    assert out[4]["rrf"] == pytest.approx(1 / 62, rel=1e-12)
    assert out[4]["rank_0"] is None and out[4]["rank_1"] == 2
    best = max(out.values(), key=lambda r: r["rrf"])
    assert best["doc_id"] == 2


def test_rrf_topk_truncates_deterministically(spark):
    a = spark.createDataFrame([(i, i + 1) for i in range(20)],
                              "doc_id long, rank int")
    out = retrieval.rrf_fuse([a], topk=5, round_to=None).collect()
    assert [r["doc_id"] for r in out] == [0, 1, 2, 3, 4]


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

def test_semdedup_drops_scaled_copies_keeps_originals(spark, sf_dir):
    from msg_vector_search_spark.sources import readers

    emb = readers.read_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    scaled = (emb.filter(F.col("vec_id") % 10 == 0)
              .withColumn("vec_id", F.col("vec_id") + 1000000)
              .withColumn("embedding", F.transform(
                  "embedding", lambda x: (x * F.lit(2.0)).cast("float"))))
    corpus = emb.unionByName(scaled)
    cent = ivf_ops.seed_centroids(corpus, 8)
    out = dedup_ops.semdedup(corpus, cent, threshold=0.999)
    rows = {r["vec_id"]: r for r in out.collect()}
    n_orig = emb.count()
    # every original survives (it is the lowest id of its dup group)
    assert all(rows[i]["keep"] for i in rows if i < 1000000)
    # every scaled copy is dropped (cosine 1.0 with its original,
    # same cell by scale invariance of cosine assignment)
    clones = [i for i in rows if i >= 1000000]
    assert clones and all(not rows[i]["keep"] for i in clones)
    assert len(rows) == n_orig + len(clones)


def test_semdedup_keep_is_per_cell_canonical(spark):
    # two identical vectors in the same cell: lower id kept
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = ivf_ops.seed_centroids(emb, 2)
    out = {r["vec_id"]: r["keep"] for r in
           dedup_ops.semdedup(emb, cent, threshold=0.99).collect()}
    assert out == {0: True, 1: False, 2: True}


# ---------------------------------------------------------------------------
# Truncated-head rerank (Matryoshka-style adaptive retrieval)
# ---------------------------------------------------------------------------

def test_truncated_rerank_exact_when_head_is_whole_vector(spark, sf_dir):
    from msg_vector_search_spark.operators import similarity as sim_ops
    from msg_vector_search_spark.sources import readers

    emb = readers.read_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 1).head()["embedding"]]
    # head = full dimension -> shortlist ordering == exact ordering,
    # so the result must equal brute-force top-k exactly
    full = sim_ops.truncated_rerank_search(emb, q, k=5, head_dims=64,
                                           shortlist=50)
    brute = sim_ops.knn_search(emb, q, k=5).select("vec_id", "sim")
    assert [tuple(r) for r in full.collect()] == \
        [tuple(r) for r in brute.collect()]


def test_truncated_rerank_plan_has_no_shuffle(spark, sf_dir):
    from msg_vector_search_spark.operators import similarity as sim_ops
    from msg_vector_search_spark.sources import readers

    emb = readers.read_table(spark, sf_dir, "embeddings")
    q = [1.0] * 64
    df = sim_ops.truncated_rerank_search(emb, q, k=5, head_dims=16,
                                         shortlist=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("TakeOrderedAndProject") == 2
    # broadcast of the 20-row shortlist is the ONLY exchange
    import re
    exchanges = [ln for ln in plan.splitlines()
                 if re.search(r"\bExchange\b", ln)
                 and "BroadcastExchange" not in ln]
    assert exchanges == []


def test_inverted_index_serves_scan_result_with_pruning(spark, tmp_path):
    """The inverted-index path must reproduce the scan-side BM25
    bit-for-bit, and the postings read must prune to the query terms'
    tb partitions — r17: upgraded from a PartitionFilters-literal pin
    to inputFiles confinement, because serving now goes through the
    explicit-dirs ``_read_buckets`` (unmatched bucket dirs are never
    LISTED, the text twin of the ANN serving fix)."""
    import os

    from pyspark.sql import functions as F

    from msg_vector_search_spark.operators import retrieval
    from msg_vector_search_spark.sources import readers

    docs = readers.read_table(spark, "/root/testdata/sf0.001",
                              "documents")
    terms = ["spark", "query", "dup"]
    path = str(tmp_path / "invidx")
    retrieval.build_inverted_index(docs, path)

    scan = {(r["doc_id"], r["dl"], r["bm25"]) for r in
            retrieval.bm25_scores(docs, terms).collect()}
    served_df = retrieval.search_inverted_index(spark, path, terms)
    served = {(r["doc_id"], r["dl"], r["bm25"]) for r in
              served_df.collect()}
    assert served == scan

    # pruning: every postings file the served plan reads lives under
    # a query-term bucket directory — the other tb dirs were never
    # listed, let alone read (doclen is an unpartitioned sidecar and
    # exempt)
    row = spark.range(1).select(*[
        F.pmod(F.xxhash64(F.lit(t)), F.lit(retrieval.INDEX_BUCKETS))
        .alias(f"b{i}") for i, t in enumerate(terms)]).collect()[0]
    allowed = {f"tb={b}" for b in {int(v) for v in row}}
    postings_files = [f for f in served_df.inputFiles()
                      if "/postings/" in f]
    assert postings_files  # the serve really reads the postings store
    assert {os.path.basename(os.path.dirname(f))
            for f in postings_files} <= allowed
    assert len(allowed) <= len(terms)


def test_cross_encoder_rerank_bounded_and_deterministic(spark):
    """Two-stage re-rank: result bounded by k, ids drawn from the BM25
    candidate set, identical across runs (deterministic scorer), and
    the 'model' scorer falls back to the deterministic path when
    sentence-transformers is absent (this image)."""
    from pyspark.sql import functions as F

    from msg_vector_search_spark.operators import retrieval
    from msg_vector_search_spark.sources import readers

    docs = readers.read_table(spark, "/root/testdata/sf0.01",
                              "documents")
    terms = ["spark", "query", "dup"]
    out = retrieval.cross_encoder_rerank(docs, terms,
                                         candidates=15, k=5).collect()
    assert len(out) == 5
    scores = [r.ce_score for r in out]
    # hash weights are U[0,999] per (term, token): mean ~0.5 x
    # n/(n+1), hard ceiling 999/500 x n/(n+1) < 2
    assert all(0.0 <= s < 2.0 for s in scores)

    cand = {r.doc_id for r in
            (retrieval.bm25_scores(docs, terms)
             .orderBy((F.round("bm25", 6) + F.lit(0.0)).desc(),
                      F.col("doc_id").asc())
             .limit(15).collect())}
    assert {r.doc_id for r in out} <= cand

    again = retrieval.cross_encoder_rerank(docs, terms,
                                           candidates=15, k=5).collect()
    assert [(r.doc_id, r.ce_score) for r in again] == \
           [(r.doc_id, r.ce_score) for r in out]

    # model path: CrossEncoder import fails here -> deterministic
    # fallback, same rows
    gated = retrieval.cross_encoder_rerank(docs, terms, candidates=15,
                                           k=5, scorer="model").collect()
    assert [(r.doc_id, r.ce_score) for r in gated] == \
           [(r.doc_id, r.ce_score) for r in out]


# ---------------------------------------------------------------------------
# Inverted-index lifecycle: upsert / erase / compact / stats
# ---------------------------------------------------------------------------

def _mini_corpus(spark, rows):
    from pyspark.sql import Row
    return spark.createDataFrame([Row(doc_id=i, text=t)
                                  for i, t in rows])


def _scores(df):
    return {r["doc_id"]: (r["dl"], round(r["bm25"], 9))
            for r in df.collect()}


def test_upsert_index_equals_fresh_build(spark, tmp_path):
    """build(90%) + upsert(10%) must serve exactly what build(100%)
    serves — same docs, same dl, same scores (stats recounted over the
    merged truth)."""
    rows = [(i, f"alpha beta doc{i} " + ("gamma " * (i % 3)))
            for i in range(40)]
    full = _mini_corpus(spark, rows)
    part = full.filter(F.col("doc_id") % 10 != 3)
    batch = full.filter(F.col("doc_id") % 10 == 3)

    p_full = str(tmp_path / "full")
    p_inc = str(tmp_path / "inc")
    retrieval.build_inverted_index(full, p_full, n_buckets=8)
    retrieval.build_inverted_index(part, p_inc, n_buckets=8)
    retrieval.upsert_inverted_index(batch, p_inc)

    terms = ["alpha", "gamma"]
    assert _scores(retrieval.search_inverted_index(
        spark, p_inc, terms)) == _scores(
        retrieval.search_inverted_index(spark, p_full, terms))


def test_upsert_shadows_changed_document(spark, tmp_path):
    """Re-ingesting a CHANGED document must atomically shadow its old
    postings everywhere — including terms the new version no longer
    contains."""
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(
        _mini_corpus(spark, [(1, "alpha beta"), (2, "alpha alpha")]),
        path, n_buckets=8)
    retrieval.upsert_inverted_index(
        _mini_corpus(spark, [(1, "gamma gamma gamma")]), path)

    got = _scores(retrieval.search_inverted_index(spark, path, ["beta"]))
    assert got == {}  # old version's 'beta' posting is dead
    got = _scores(retrieval.search_inverted_index(spark, path, ["gamma"]))
    assert set(got) == {1} and got[1][0] == 3  # new dl = 3


def test_delete_touches_no_postings_and_recounts_stats(spark, tmp_path):
    """Erase is O(batch): the postings store's files are byte-identical
    after the delete (only a tombstone file appears), yet served
    scores equal a fresh build over the survivors — so N, Σdl and df
    all dropped the victims."""
    import os

    rows = [(i, f"alpha beta doc{i}") for i in range(30)]
    full = _mini_corpus(spark, rows)
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(full, path, n_buckets=8)

    pdir = os.path.join(path, "postings")
    def _files(d):
        out = {}
        for root, _, fs in os.walk(d):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
        return out
    before = _files(pdir)

    retrieval.delete_inverted_docs(
        full.filter(F.col("doc_id") % 3 == 0).select("doc_id"), path)
    assert _files(pdir) == before  # no postings rewritten

    clean = str(tmp_path / "clean")
    retrieval.build_inverted_index(
        full.filter(F.col("doc_id") % 3 != 0), clean, n_buckets=8)
    assert _scores(retrieval.search_inverted_index(
        spark, path, ["alpha"])) == _scores(
        retrieval.search_inverted_index(spark, clean, ["alpha"]))


def test_compact_drops_dead_rows_and_preserves_serving(spark, tmp_path):
    """Compaction physically removes shadowed generations + erased
    docs, clears tombstones, and serves identically."""
    import os

    full = _mini_corpus(spark, [(i, f"alpha doc{i}") for i in range(20)])
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(full, path, n_buckets=8)
    retrieval.upsert_inverted_index(
        _mini_corpus(spark, [(5, "alpha alpha rewritten")]), path)
    retrieval.delete_inverted_docs(
        _mini_corpus(spark, [(7, "x")]).select("doc_id"), path)

    want = _scores(retrieval.search_inverted_index(spark, path, ["alpha"]))
    stats = retrieval.compact_inverted_index(spark, path)
    assert stats["doclen_after"] == 19      # 20 - erased + shadowed dedup
    assert stats["doclen_before"] == 21     # 20 + upsert generation
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    assert _scores(retrieval.search_inverted_index(
        spark, path, ["alpha"])) == want

    st = retrieval.inverted_index_stats(spark, path).head()
    assert st["n_docs"] == 19 and st["n_tombstoned"] == 0


def test_text_search_heals_stranded_swap(spark, tmp_path):
    """A crash mid-compaction swap strands 'postings._old' with the
    live directory missing; a plain search must restore it before
    reading instead of serving an index with no postings."""
    import os

    full = _mini_corpus(spark, [(i, f"alpha doc{i}") for i in range(10)])
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(full, path, n_buckets=8)
    want = _scores(retrieval.search_inverted_index(spark, path, ["alpha"]))

    pdir = os.path.join(path, "postings")
    os.rename(pdir, pdir + "._old")
    assert not os.path.isdir(pdir)
    assert _scores(retrieval.search_inverted_index(
        spark, path, ["alpha"])) == want
    assert os.path.isdir(pdir)


# ---------------------------------------------------------------------------
# r9/r10 lifecycle branches: older-layout refusal, never-built bootstrap,
# tombstone-backlog auto-compaction
# ---------------------------------------------------------------------------

def _strip_gen(spark, path):
    """Rewrite a built index WITHOUT the gen column and meta sidecar —
    the on-disk shape of an index written before the LSM lifecycle
    landed, which every verb but build_inverted_index refuses."""
    import os
    import shutil

    for sub, part in (("doclen", None), ("postings", "tb")):
        store = os.path.join(path, sub)
        cur = spark.read.parquet(store).drop("gen")
        tmp = store + "._nogen"
        if part:
            (cur.repartition(F.col(part)).write.mode("overwrite")
             .partitionBy(part).parquet(tmp))
        else:
            cur.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(store)
        os.rename(tmp, store)
    meta = os.path.join(path, retrieval.TEXT_META)
    if os.path.exists(meta):
        os.remove(meta)


def test_genless_index_refused_until_rebuilt(spark, tmp_path):
    """A pre-generation-sidecar index (no gen column, no meta) is
    refused by delete, upsert and serve with the ValueError naming
    build_inverted_index, before anything is written; rebuilding it
    from its corpus serves exactly like a fresh build."""
    rows = [(i, f"alpha beta doc{i}") for i in range(20)]
    full = _mini_corpus(spark, rows)
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(full, path, n_buckets=8)
    _strip_gen(spark, path)
    before = file_tree(path)

    batch = _mini_corpus(spark, [(3, "gamma gamma"), (50, "alpha gamma")])
    for verb in (
            lambda: retrieval.delete_inverted_docs(
                full.filter(F.col("doc_id") % 4 == 0).select("doc_id"),
                path, auto_compact_tombstones=None),
            lambda: retrieval.upsert_inverted_index(batch, path),
            lambda: retrieval.search_inverted_index(spark, path, ["alpha"]),
            lambda: retrieval.search_inverted_index_many(
                spark, path, {0: ["alpha"]})):
        with pytest.raises(ValueError, match="build_inverted_index"):
            verb()
    assert file_tree(path) == before

    retrieval.build_inverted_index(full, path, n_buckets=8)
    clean = str(tmp_path / "clean")
    retrieval.build_inverted_index(full, clean, n_buckets=8)
    for terms in (["alpha"], ["beta", "doc3"]):
        assert _scores(retrieval.search_inverted_index(
            spark, path, terms)) == _scores(
            retrieval.search_inverted_index(spark, clean, terms))


def test_upsert_bootstraps_never_built_store(spark, tmp_path):
    """upsert_inverted_index on a path with NO prior build must
    bootstrap the store (no sidecar and no stores is the bootstrap
    case of _read_text_meta; the append-mode writes create the stores)
    and serve the batch as if it had been built fresh."""
    path = str(tmp_path / "fresh")
    batch = [(1, "alpha beta"), (2, "alpha alpha gamma")]
    gen = retrieval.upsert_inverted_index(_mini_corpus(spark, batch), path)
    assert gen == 1
    clean = str(tmp_path / "clean")
    retrieval.build_inverted_index(_mini_corpus(spark, batch), clean,
                                   n_buckets=retrieval.INDEX_BUCKETS)
    assert _scores(retrieval.search_inverted_index(
        spark, path, ["alpha", "gamma"])) == _scores(
        retrieval.search_inverted_index(spark, clean, ["alpha", "gamma"]))


def test_tombstone_backlog_bounded_by_auto_compaction(spark, tmp_path):
    """Each maintenance op lands ONE tombstone file, so the file count
    is the op count since the last compaction; with
    auto_compact_tombstones=2 the observed backlog must never exceed 2
    across a 12-op mixed sequence, and serving must track the model
    throughout (compaction moves bytes, never results)."""
    import random

    rng = random.Random(13)
    model = {i: f"alpha doc{i} " + "beta " * (i % 3) for i in range(25)}
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(_mini_corpus(spark, model.items()),
                                   path, n_buckets=8)
    next_id = 100
    for step in range(12):
        if rng.random() < 0.5 and model:
            victims = rng.sample(sorted(model), k=min(2, len(model)))
            for v in victims:
                model.pop(v)
            retrieval.delete_inverted_docs(
                _mini_corpus(spark, [(v, "") for v in victims])
                .select("doc_id"),
                path, auto_compact_tombstones=2)
        else:
            batch = {next_id: "alpha gamma", next_id + 1: "beta beta"}
            next_id += 2
            model.update(batch)
            retrieval.upsert_inverted_index(
                _mini_corpus(spark, batch.items()), path,
                auto_compact_tombstones=2)
        backlog = retrieval._tombstone_file_count(path)
        assert backlog <= 2, f"backlog {backlog} after step {step}"
        clean = str(tmp_path / f"clean{step}")
        retrieval.build_inverted_index(
            _mini_corpus(spark, model.items()), clean, n_buckets=8)
        assert _scores(retrieval.search_inverted_index(
            spark, path, ["alpha", "beta"])) == _scores(
            retrieval.search_inverted_index(spark, clean,
                                            ["alpha", "beta"])), \
            f"serving diverged after step {step}"


def test_changefeed_apply_text_index_converges(spark, tmp_path):
    """Apply a mixed insert/update/delete feed to a built index; serving
    must equal a fresh build of the post-feed corpus — including an
    update that REMOVES a term (its old posting must die wherever it
    scattered) and stats recounted over the merged truth."""
    from pyspark.sql import Row

    old = {1: "alpha beta", 2: "alpha alpha", 3: "beta gamma",
           4: "gamma gamma"}
    new = {1: "alpha beta",            # unchanged -> not in feed
           2: "gamma",                 # update: loses 'alpha' entirely
           4: "gamma gamma",           # unchanged
           5: "alpha gamma"}           # insert; 3 deleted
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(_mini_corpus(spark, old.items()), path,
                                   n_buckets=8)
    feed_rows = [
        Row(doc_id=2, action="update", old_text=old[2], new_text=new[2]),
        Row(doc_id=3, action="delete", old_text=old[3], new_text=None),
        Row(doc_id=5, action="insert", old_text=None, new_text=new[5]),
    ]
    stats = retrieval.apply_changefeed_text_index(
        spark, path, spark.createDataFrame(feed_rows))
    assert stats == {"deleted": 1, "upserted": 2, "gen": 1}
    clean = str(tmp_path / "clean")
    retrieval.build_inverted_index(_mini_corpus(spark, new.items()), clean,
                                   n_buckets=8)
    for terms in (["alpha"], ["beta"], ["alpha", "gamma"]):
        assert _scores(retrieval.search_inverted_index(
            spark, path, terms)) == _scores(
            retrieval.search_inverted_index(spark, clean, terms))


def test_search_inverted_index_many_matches_per_query(spark, tmp_path):
    """The batched BM25 serve must be bit-identical, per query, to Q
    separate search_inverted_index calls: same docs, same dl, same
    6dp-rounded scores, top-k per qid in grid order — including after
    maintenance (an upsert and a delete), so the shared checkpoints
    respect the tombstone filter exactly as the single path does."""
    rows = [(i, ("alpha beta " if i % 2 else "alpha gamma ") + f"doc{i}")
            for i in range(30)]
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(_mini_corpus(spark, rows), path,
                                   n_buckets=8)
    retrieval.upsert_inverted_index(
        _mini_corpus(spark, [(2, "gamma gamma"), (50, "alpha beta")]),
        path)
    retrieval.delete_inverted_docs(
        _mini_corpus(spark, [(5, "x"), (7, "x")]).select("doc_id"), path)

    qsets = {"a": ["alpha", "beta"], "b": ["gamma"],
             "c": ["beta", "gamma"]}
    batched = retrieval.search_inverted_index_many(spark, path, qsets,
                                                   k=10)
    got = [tuple(r) for r in batched.collect()]
    want = []
    for qid in sorted(qsets):
        single = retrieval.search_inverted_index(spark, path, qsets[qid])
        ranked = (single
                  .select("doc_id", F.col("dl").cast("long").alias("dl"),
                          (F.round("bm25", 6) + F.lit(0.0)).alias("bm25"))
                  .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
                  .limit(10))
        want += [(qid, r["doc_id"], r["dl"], r["bm25"])
                 for r in ranked.collect()]
    assert got == want


def test_batched_serves_handle_empty_and_no_match(spark, tmp_path):
    """Degenerate batches: an empty query dict returns an empty typed
    frame (not a crash), and a query whose terms match no document
    contributes zero rows while other queries in the batch still
    serve."""
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(
        _mini_corpus(spark, [(1, "alpha beta"), (2, "alpha")]), path,
        n_buckets=8)
    empty = retrieval.search_inverted_index_many(spark, path, {})
    assert empty.count() == 0
    assert empty.columns == ["qid", "doc_id", "dl", "bm25"]
    # r15 review: the empty-dict frame's qid stays STRING (the prior
    # contract) so it unions cleanly with string-keyed batch results
    assert dict(empty.dtypes)["qid"] == "string"
    served = retrieval.search_inverted_index_many(
        spark, path, {"hit": ["alpha"]})
    assert served.unionByName(empty).count() == served.count()
    for lm in (16, 0):   # literal strategy, then broadcast-data
        mixed = retrieval.search_inverted_index_many(
            spark, path, {"hit": ["alpha"], "miss": ["zzz"]}, literal_max=lm)
        rows = mixed.collect()
        assert {r["qid"] for r in rows} == {"hit"}, lm
        assert {r["doc_id"] for r in rows} == {1, 2}, lm
    # all-miss batch on the broadcast-data strategy: empty, no crash
    nohit = retrieval.search_inverted_index_many(
        spark, path, {"a": ["zzz"], "b": ["yyy"]},
        literal_max=0)
    assert nohit.count() == 0


def test_hybrid_serve_many_batch_independence(spark, tmp_path):
    """Batching must not leak across queries: the Q-query hybrid serve
    equals the union of Q singleton-batch serves (each query's cell
    gating, term gating, ranks and fusion computed as if alone)."""
    from msg_vector_search_spark.operators import ann_index

    rows = [(i, ("alpha beta " if i % 2 else "gamma delta ") + f"doc{i}")
            for i in range(40)]
    tpath = str(tmp_path / "text")
    retrieval.build_inverted_index(_mini_corpus(spark, rows), tpath,
                                   n_buckets=8)
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(40).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    apath = str(tmp_path / "ann")
    ann_index.build_index(spark, emb, apath, nlist=4, m=8, ncodes=16)
    qv = {r["vec_id"]: [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin([0, 3])).collect()}
    queries = {0: {"terms": ["alpha", "beta"], "qvec": qv[0]},
               3: {"terms": ["gamma"], "qvec": qv[3]}}
    got = [tuple(r) for r in retrieval.hybrid_serve_many(
        spark, tpath, apath, queries, leg_k=20, k=5,
        nprobe=2, shortlist=20).collect()]
    want = []
    for qid in sorted(queries):
        want += [tuple(r) for r in retrieval.hybrid_serve_many(
            spark, tpath, apath, {qid: queries[qid]}, leg_k=20, k=5,
            nprobe=2, shortlist=20).collect()]
    assert got == want and len(got) > 0


def _hybrid_indexes(spark, tmp_path, id_type: str = "long"):
    """A 40-doc text index and a 40-vector ANN index whose ids are cast
    to *id_type*, plus two (terms, qvec) queries keyed 0 and 3."""
    from msg_vector_search_spark.operators import ann_index

    rows = [(i, ("alpha beta " if i % 2 else "gamma delta ") + f"doc{i}")
            for i in range(40)]
    tpath = str(tmp_path / f"text_{id_type}")
    retrieval.build_inverted_index(
        _mini_corpus(spark, rows)
        .withColumn("doc_id", F.col("doc_id").cast(id_type)),
        tpath, n_buckets=8)
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(40).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    apath = str(tmp_path / f"ann_{id_type}")
    ann_index.build_index(
        spark, emb.withColumn("vec_id", F.col("vec_id").cast(id_type)),
        apath, nlist=4, m=8, ncodes=16)
    qv = {r["vec_id"]: [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin([0, 3])).collect()}
    queries = {0: {"terms": ["alpha", "beta"], "qvec": qv[0]},
               3: {"terms": ["gamma"], "qvec": qv[3]}}
    return tpath, apath, queries


def _job_counter(spark):
    """jobs(verb): the Spark jobs one WARM call of *verb* launches."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(verb) -> int:
        verb()
        before = sched.numTotalJobs()
        verb()
        return sched.numTotalJobs() - before

    return jobs


def test_hybrid_fusion_reuses_leg_ranks(spark, tmp_path):
    """RRF fusion consumes each leg's OWN top-k window row_number
    (with_rank=True) instead of re-windowing the k-bounded leg
    outputs, and fuses on the driver.  Pins (a) the legs emit a
    ``rank`` column equal to the (score desc, id asc) re-rank an
    external window would compute, and (b) hybrid_serve_many launches
    no job beyond its two leg collects, and its result is a local
    relation whose collect launches none."""
    from msg_vector_search_spark.operators import ann_index

    tpath, apath, queries = _hybrid_indexes(spark, tmp_path)
    kw_q = {q: s["terms"] for q, s in queries.items()}
    vec_q = {q: s["qvec"] for q, s in queries.items()}

    # (a) each leg's with_rank column == an external re-rank window
    def kw_leg():
        return retrieval.search_inverted_index_many(
            spark, tpath, kw_q, k=20, literal_max=0, with_rank=True)

    def vec_leg():
        return ann_index.search_index_many(
            spark, apath, vec_q, k=20, nprobe=2, shortlist=20,
            literal_max=0, with_rank=True)

    kw = kw_leg()
    w_kw = Window.partitionBy("qid").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc())
    ext = {(r["qid"], r["doc_id"]): r["_r"] for r in
           kw.withColumn("_r", F.row_number().over(w_kw)).collect()}
    assert all(r["rank"] == ext[(r["qid"], r["doc_id"])]
               for r in kw.collect())
    vec = vec_leg()
    w_v = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc())
    extv = {(r["qid"], r["vec_id"]): r["_r"] for r in
            vec.withColumn("_r", F.row_number().over(w_v)).collect()}
    assert all(r["rank"] == extv[(r["qid"], r["vec_id"])]
               for r in vec.collect())

    # (b) the fusion itself costs no Spark job
    jobs = _job_counter(spark)

    def hybrid():
        return retrieval.hybrid_serve_many(
            spark, tpath, apath, queries, leg_k=20, k=5,
            nprobe=2, shortlist=20, literal_max=0)

    legs = jobs(lambda: (kw_leg().collect(), vec_leg().collect()))
    assert legs > 0
    assert jobs(lambda: hybrid().collect()) == legs
    fused = hybrid()
    assert "LocalTableScan" in \
        fused._jdf.queryExecution().executedPlan().toString()
    assert jobs(fused.collect) == 0


def test_text_many_single_query_costs_single_serve_jobs(spark, tmp_path):
    """A one-query batch has no subplans to share, so the literal
    strategy takes no checkpoint: collecting it launches as many jobs
    as search_inverted_index plus its ordered limit for the same
    terms, on an index with a tombstone.  Matching terms only: a serve
    whose terms have no postings can launch one AQE job more or less."""
    rows = [(i, ("alpha beta " if i % 2 else "alpha gamma ") + f"doc{i}")
            for i in range(30)]
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(_mini_corpus(spark, rows), path,
                                   n_buckets=8)
    retrieval.delete_inverted_docs(
        _mini_corpus(spark, [(5, "x")]).select("doc_id"), path)
    terms = ["alpha", "beta"]
    jobs = _job_counter(spark)

    def many():
        return retrieval.search_inverted_index_many(
            spark, path, {0: terms}, k=10).collect()

    def single():
        return (retrieval.search_inverted_index(spark, path, terms)
                .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
                .limit(10).collect())

    assert len(many()) == 10
    assert jobs(many) == jobs(single)


def _spark_rrf(kw, vec, k: int, k_rrf: int = 60):
    """The fusion hybrid_serve_many ran in Spark before it fused on the
    driver: a full-outer join of the two legs' ranks, rrf rounded by
    F.round(_, 6) + 0.0, a per-qid top-k window and an orderBy."""
    kw_rank = kw.select(F.col("qid").cast("long").alias("qid"),
                        F.col(kw.columns[1]).alias("_id"),
                        F.col("rank").alias("rank_kw"))
    vec_rank = vec.select("qid", F.col(vec.columns[1]).alias("_id"),
                          F.col("rank").alias("rank_vec"))
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_kw")),
                      F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_vec")),
                        F.lit(0.0)))
    w = Window.partitionBy("qid").orderBy(
        F.col("rrf").desc(), F.col("_id").asc())
    return (kw_rank.join(vec_rank, ["qid", "_id"], "full_outer")
            .withColumn("rrf", F.round(rrf, 6) + F.lit(0.0))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("qid", F.col("_id").alias("doc_id"),
                    "rank_kw", "rank_vec", "rrf")
            .orderBy("qid", F.col("rrf").desc(), F.col("doc_id").asc()))


def test_driver_rrf_round_matches_spark_round(spark):
    """The driver fusion's rounding twin against Spark's
    ``F.round(1/(60+a) + 1/(60+b), 6) + 0.0`` for every rank pair in
    1..200, rank 0 standing for an absent leg, in ONE Spark job.
    Spark rounds the JVM's Double.toString HALF_UP, and Java 17 does
    not always render the shortest repr, so the twin is pinned over
    the whole domain rather than assumed; the domain holds exact 7dp
    ties (1/128 = 0.0078125), on which round()'s half-to-even
    differs."""
    n = 201
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def inv(c):
        return F.coalesce(
            F.lit(1.0) / (F.lit(60) + F.when(c > 0, c)), F.lit(0.0))

    pairs = spark.range(n * n).select(
        (F.col("id") / n).cast("int").alias("a"),
        (F.col("id") % n).cast("int").alias("b"))
    before = sched.numTotalJobs()
    rows = pairs.select(
        "a", "b",
        (F.round(inv(F.col("a")) + inv(F.col("b")), 6) + F.lit(0.0))
        .alias("rrf")).collect()
    assert sched.numTotalJobs() - before == 1
    assert len(rows) == n * n
    half_even = 0
    for r in rows:
        a, b = r["a"], r["b"]
        x = ((0.0 if a == 0 else 1.0 / (60 + a))
             + (0.0 if b == 0 else 1.0 / (60 + b)))
        assert retrieval.round_half_up(x, 6) == r["rrf"], (a, b)
        half_even += round(x, 6) != r["rrf"]
    assert half_even > 0


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_driver_rrf_fusion_matches_spark_fusion(spark, tmp_path, id_type):
    """hybrid_serve_many's driver fusion returns the rows and schema
    of the Spark fusion over the same two legs: docs served by one leg
    only, rrf ties broken by doc_id, k larger than the fused set,
    a term-less query and term-less or empty batches, with long and
    string ids, and with Arrow switched off as in a session that only
    tune_session set up."""
    from msg_vector_search_spark.operators import ann_index

    tpath, apath, queries = _hybrid_indexes(spark, tmp_path, id_type)
    termless = {5: {"terms": [], "qvec": queries[0]["qvec"]}}

    def check(qs, k):
        got = retrieval.hybrid_serve_many(
            spark, tpath, apath, qs, leg_k=20, k=k, nprobe=2,
            shortlist=20)
        kw = retrieval.search_inverted_index_many(
            spark, tpath, {q: s["terms"] for q, s in qs.items()}, k=20,
            with_rank=True)
        vec = ann_index.search_index_many(
            spark, apath, {q: s["qvec"] for q, s in qs.items()}, k=20,
            nprobe=2, shortlist=20, with_rank=True)
        want = _spark_rrf(kw, vec, k)
        assert got.schema == want.schema
        rows = got.collect()
        assert rows == want.collect()
        return rows

    batch = {**queries, **termless}
    rows = check(batch, 5)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert sorted(by_q) == [0, 3, 5]
    assert all(r["rank_kw"] is None for r in by_q[5])
    full = check(batch, 100)
    assert any(r["rank_kw"] is None for r in full)
    assert any(r["rank_vec"] is None for r in full)
    assert any(None not in (r["rank_kw"], r["rank_vec"]) for r in full)
    assert any(a["qid"] == b["qid"] and a["rrf"] == b["rrf"]
               for a, b in zip(full, full[1:]))
    assert all(len([r for r in full if r["qid"] == q]) < 100
               for q in (0, 3, 5))
    assert check(termless, 5)
    assert check({}, 5) == []

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert check(batch, 5) == rows
    finally:
        spark.conf.set(key, prior)


def test_text_upsert_rerun_recovers_half_appended_batch(spark, tmp_path):
    """upsert_inverted_index's documented crash recovery: the meta
    generation bumps FIRST, so a crash after some appends (here:
    doclen rows landed at the new generation, postings did not) is
    healed by re-running the same batch — the re-run's tombstone at
    the crashed generation kills the half-appended rows and the batch
    lands whole at the next generation.  Serving must equal a fresh
    build of the final corpus."""
    import os

    rows = [(i, f"alpha beta doc{i}") for i in range(20)]
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(_mini_corpus(spark, rows), path,
                                   n_buckets=8)
    batch = {3: "gamma gamma", 50: "alpha gamma"}

    # simulate the crash point: gen bumped to 1, the batch's doclen
    # rows appended at gen 1, postings and tombstones never written
    meta = retrieval._read_text_meta(path)
    meta["gen"] = 1
    retrieval._write_text_meta(path, meta)
    bdf = _mini_corpus(spark, batch.items())
    (bdf.select("doc_id",
                F.size(F.split(F.trim(F.lower("text")), r"\s+"))
                .alias("dl"))
     .withColumn("gen", F.lit(1).cast("long"))
     .write.mode("append").parquet(os.path.join(path, "doclen")))

    # the recovery path: re-run the SAME batch
    gen = retrieval.upsert_inverted_index(bdf, path)
    assert gen == 2  # crashed attempt was gen 1; re-run lands at 2

    final = {i: t for i, t in rows}
    final.update(batch)
    clean = str(tmp_path / "clean")
    retrieval.build_inverted_index(_mini_corpus(spark, final.items()),
                                   clean, n_buckets=8)
    for terms in (["alpha"], ["gamma"], ["beta", "gamma"]):
        assert _scores(retrieval.search_inverted_index(
            spark, path, terms)) == _scores(
            retrieval.search_inverted_index(spark, clean, terms))


def test_filtered_serving_equals_slice_built_index(spark, tmp_path):
    """where-filtered serving from a meta_cols index must be
    bit-identical to an index built on the slice alone: the predicate
    gates candidates through the doclen join AND every corpus
    statistic (N, avgdl, per-term df) recounts over eligible docs
    only.  The batched serve shares the same gate, and upserts carry
    the recorded meta columns so post-maintenance filtered serving
    stays exact."""
    from pyspark.sql import Row

    rows = [(i, ("alpha beta " if i % 3 else "alpha alpha ") + f"doc{i}",
             f"src{i % 4}") for i in range(40)]
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=t, source=s) for i, t, s in rows])
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(corpus, path, n_buckets=8,
                                   meta_cols=("source",))
    pred = "source IN ('src1', 'src3')"
    sliced = corpus.filter(pred)
    slice_path = str(tmp_path / "slice")
    retrieval.build_inverted_index(sliced.drop("source"), slice_path,
                                   n_buckets=8)
    for terms in (["alpha"], ["alpha", "beta"]):
        assert _scores(retrieval.search_inverted_index(
            spark, path, terms, where=pred)) == _scores(
            retrieval.search_inverted_index(spark, slice_path, terms))

    # the batched serve applies the same slice gate
    qsets = {"a": ["alpha"], "b": ["beta", "alpha"]}
    batched = retrieval.search_inverted_index_many(
        spark, path, qsets, k=10, where=pred)
    got = [tuple(r) for r in batched.collect()]
    want = []
    for qid in sorted(qsets):
        ranked = (retrieval.search_inverted_index(
            spark, slice_path, qsets[qid])
            .select("doc_id", F.col("dl").cast("long").alias("dl"),
                    (F.round("bm25", 6) + F.lit(0.0)).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
            .limit(10))
        want += [(qid, r["doc_id"], r["dl"], r["bm25"])
                 for r in ranked.collect()]
    assert got == want and len(got) > 0

    # upsert carries meta_cols: doc 1 leaves the slice, doc 100 joins
    batch = spark.createDataFrame([
        Row(doc_id=1, text="alpha gamma", source="src0"),
        Row(doc_id=100, text="gamma gamma alpha", source="src3")])
    retrieval.upsert_inverted_index(batch, path)
    final = (sliced.filter("doc_id != 1")
             .unionByName(batch.filter("doc_id = 100")).drop("source"))
    clean2 = str(tmp_path / "clean2")
    retrieval.build_inverted_index(final, clean2, n_buckets=8)
    for terms in (["alpha"], ["gamma"]):
        assert _scores(retrieval.search_inverted_index(
            spark, path, terms, where=pred)) == _scores(
            retrieval.search_inverted_index(spark, clean2, terms))


def test_filtered_hybrid_equals_forget_then_serve(spark, tmp_path):
    """Filter-at-serve must equal forget-then-serve: a hybrid batch
    with where_text/where_ann slice gates serves EXACTLY what the same
    batch serves from indexes whose out-of-slice docs were erased.
    Erasure keeps the trained artifacts (centroids, codebooks, corpus
    layout) in place, so any divergence isolates the filter gates —
    probe sets, candidate sets, and recounted statistics must all
    agree with the tombstone path."""
    from pyspark.sql import Row

    from msg_vector_search_spark.operators import ann_index

    rows = [Row(doc_id=i,
                text=("alpha beta " if i % 2 else "gamma delta ")
                + f"doc{i}",
                source=f"src{i % 4}") for i in range(40)]
    corpus = spark.createDataFrame(rows)
    emb = (spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(40)
        .select(F.col("vec_id"),
                F.transform("embedding", lambda x: x.cast("double"))
                .alias("embedding"),
                (F.col("vec_id") % 4).alias("label")))

    tpath, apath = str(tmp_path / "text"), str(tmp_path / "ann")
    retrieval.build_inverted_index(corpus, tpath, n_buckets=8,
                                   meta_cols=("source",))
    ann_index.build_index(spark, emb, apath, nlist=4, m=8, ncodes=16,
                          meta_cols=("label",))

    # the slice: odd ids (src1/src3 <=> label % 2 = 1)
    qv = {r["vec_id"]: [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin([0, 3])).collect()}
    queries = {0: {"terms": ["alpha", "beta"], "qvec": qv[0]},
               3: {"terms": ["gamma"], "qvec": qv[3]}}
    filtered = [tuple(r) for r in retrieval.hybrid_serve_many(
        spark, tpath, apath, queries, leg_k=20, k=5, nprobe=2,
        shortlist=20, where_text="source IN ('src1', 'src3')",
        where_ann="label % 2 = 1").collect()]

    # forget the evens from BOTH indexes, serve unfiltered
    evens = spark.createDataFrame(
        [Row(doc_id=i) for i in range(0, 40, 2)])
    retrieval.delete_inverted_docs(evens, tpath)
    ann_index.delete_index_keys(
        spark, apath, evens.select(F.col("doc_id").alias("vec_id")))
    forgot = [tuple(r) for r in retrieval.hybrid_serve_many(
        spark, tpath, apath, queries, leg_k=20, k=5, nprobe=2,
        shortlist=20).collect()]

    assert filtered == forgot and len(filtered) > 0
    assert all(r[1] % 2 == 1 for r in filtered)  # doc_id in slice


def test_text_many_large_q_path_equals_literal(spark, tmp_path):
    """The large-Q strategy (term sets as broadcast DATA, one (qid,
    doc) aggregation, gated scoring fold) must be bit-identical to the
    literal strategy (per-query projection subplans) on the same
    store — including after maintenance, for duplicate in-query terms,
    no-match queries, and under a where slice — while keeping the plan
    CONSTANT in Q: no per-query Union subplans, and the top-k window
    planned as a map-side WindowGroupLimit."""
    path = str(tmp_path / "idx")
    rows = [(i, ("alpha beta " if i % 2 else "alpha gamma ") + f"doc{i}")
            for i in range(30)]
    retrieval.build_inverted_index(_mini_corpus(spark, rows), path,
                                   n_buckets=8)
    retrieval.upsert_inverted_index(
        _mini_corpus(spark, [(2, "gamma gamma"), (50, "alpha beta")]),
        path)
    retrieval.delete_inverted_docs(
        _mini_corpus(spark, [(5, "x"), (7, "x")]).select("doc_id"), path)

    qsets = {"a": ["alpha", "beta"], "b": ["gamma"],
             "c": ["beta", "gamma"], "d": ["alpha"],
             "e": ["alpha", "alpha"],          # duplicate in-query term
             "f": ["zzz"],                     # no-match query
             "g": ["gamma", "beta", "alpha"],  # longest query
             "h": ["beta"]}
    for where in (None, "doc_id % 3 != 1"):
        lit = retrieval.search_inverted_index_many(
            spark, path, qsets, k=10, where=where,
            literal_max=1000)
        jnd = retrieval.search_inverted_index_many(
            spark, path, qsets, k=10, where=where,
            literal_max=0)
        assert [(f.name, f.dataType) for f in lit.schema.fields] == \
               [(f.name, f.dataType) for f in jnd.schema.fields]
        assert [tuple(r) for r in lit.collect()] == \
               [tuple(r) for r in jnd.collect()]

    # constant plan: the joined strategy unions nothing per query and
    # pre-limits the window map-side
    plan = retrieval.search_inverted_index_many(
        spark, path, qsets, k=10, literal_max=0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert "WindowGroupLimit" in plan


def test_empty_terms_serve_empty_not_crash(spark, tmp_path):
    """r14 review: zero-term queries must serve empty results with the
    contract schema on every path — scan-side bm25, single index
    serve, literal-strategy batch (mixed with a real query), and the
    empty-union early return under with_rank."""
    docs = _mini_corpus(spark, [(1, "alpha beta"), (2, "alpha")])
    scan = retrieval.bm25_scores(docs, [])
    assert scan.columns == ["doc_id", "dl", "bm25"]
    assert scan.count() == 0

    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(docs, path, n_buckets=8)
    one = retrieval.search_inverted_index(spark, path, [])
    assert one.columns == ["doc_id", "dl", "bm25"]
    assert one.count() == 0

    # literal strategy with a term-less query in the batch: the empty
    # query drops (matching the joined strategy), the real one serves
    mixed = retrieval.search_inverted_index_many(
        spark, path, {"hit": ["alpha"], "void": []}, literal_max=16)
    rows = mixed.collect()
    assert {r["qid"] for r in rows} == {"hit"}
    assert {r["doc_id"] for r in rows} == {1, 2}

    # empty-union early return mirrors the non-empty schema, rank incl.
    full = retrieval.search_inverted_index_many(
        spark, path, {"hit": ["alpha"]}, with_rank=True)
    void = retrieval.search_inverted_index_many(
        spark, path, {"void": []}, with_rank=True)
    assert void.columns == full.columns
    assert void.count() == 0


def test_bootstrap_upsert_records_caller_id_col(spark, tmp_path):
    """r14 review: bootstrapping a never-built store via
    upsert_inverted_index must record the CALLER's id column in the
    meta sidecar (the old default bricked all later serving), and a
    later conflicting id_col is an error, not an override."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(message_id=1, text="alpha beta"),
         Row(message_id=2, text="alpha")])
    path = str(tmp_path / "boot")
    gen = retrieval.upsert_inverted_index(docs, path,
                                          id_col="message_id")
    assert gen == 1
    assert retrieval._read_text_meta(path)["id_col"] == "message_id"
    got = retrieval.search_inverted_index(spark, path, ["alpha"])
    assert {r["message_id"] for r in got.collect()} == {1, 2}

    with pytest.raises(ValueError, match="keyed by"):
        retrieval.upsert_inverted_index(docs, path, id_col="doc_id")


def test_changefeed_text_index_carries_meta_cols(spark, tmp_path):
    """r14 review: a changefeed against a meta_cols index must carry
    the recorded columns through the upsert (it used to drop them and
    crash AFTER the delete phase committed), and a feed missing them
    must fail BEFORE any phase commits."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta", lang="en"),
         Row(doc_id=2, text="alpha gamma", lang="de")])
    path = str(tmp_path / "mc_idx")
    retrieval.build_inverted_index(docs, path, n_buckets=8,
                                   meta_cols=("lang",))

    feed = spark.createDataFrame(
        [Row(doc_id=3, action="insert", new_text="alpha delta",
             lang="en"),
         Row(doc_id=2, action="delete", new_text=None, lang=None)])
    out = retrieval.apply_changefeed_text_index(
        spark, path, feed, new_text_col="new_text")
    assert out["deleted"] == 1 and out["upserted"] == 1
    got = retrieval.search_inverted_index(spark, path, ["alpha"],
                                          where="lang = 'en'")
    assert {r["doc_id"] for r in got.collect()} == {1, 3}

    bad = spark.createDataFrame(
        [Row(doc_id=4, action="insert", new_text="alpha zz")])
    before = spark.read.parquet(f"{path}/tombstones").count()
    with pytest.raises(ValueError, match="meta_cols"):
        retrieval.apply_changefeed_text_index(
            spark, path, bad, new_text_col="new_text")
    # failed whole: the delete phase never ran
    assert spark.read.parquet(f"{path}/tombstones").count() == before


def test_hybrid_serves_non_default_ann_id_col(spark, tmp_path):
    """r14 review: the ANN leg's id column was hardcoded as vec_id —
    an ANN index keyed by the text side's doc_id (the natural
    same-corpus pairing) must fuse, matching the kw leg's dynamic
    column read."""
    from msg_vector_search_spark.operators import ann_index

    rows = [(i, ("alpha beta " if i % 2 else "gamma delta ") + f"d{i}")
            for i in range(20)]
    tpath = str(tmp_path / "text")
    retrieval.build_inverted_index(_mini_corpus(spark, rows), tpath,
                                   n_buckets=8)
    emb = (spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(20)
        .select(F.col("vec_id").alias("doc_id"),
                F.transform("embedding", lambda x: x.cast("double"))
                .alias("embedding")))
    apath = str(tmp_path / "ann_docid")
    ann_index.build_index(spark, emb, apath, nlist=4, m=8, ncodes=16,
                          id_col="doc_id")
    qv = [float(x) for x in emb.filter(F.col("doc_id") == 0)
          .select("embedding").head()[0]]
    got = retrieval.hybrid_serve_many(
        spark, tpath, apath, {0: {"terms": ["alpha"], "qvec": qv}},
        leg_k=10, k=5, nprobe=2, shortlist=20).collect()
    assert len(got) > 0
    assert {c for c in got[0].asDict()} == {
        "qid", "doc_id", "rank_kw", "rank_vec", "rrf"}


def test_bm25_and_mode_scan_and_index_agree(spark, tmp_path):
    """Conjunctive (AND) BM25: only docs with EVERY term are admitted;
    admitted docs keep their OR-mode scores exactly (df/idf statistics
    are mode-independent — Lucene MUST semantics); and the persisted
    index reproduces the scan path bit-for-bit."""
    rows = [(1, "alpha beta gamma"), (2, "alpha beta"),
            (3, "alpha alpha"), (4, "beta"), (5, "delta")]
    docs = _mini_corpus(spark, rows)
    terms = ["alpha", "beta"]
    or_scores = _scores(retrieval.bm25_scores(docs, terms))
    and_scores = _scores(retrieval.bm25_scores(docs, terms,
                                               require_all=True))
    assert set(and_scores) == {1, 2}           # both terms required
    assert set(or_scores) == {1, 2, 3, 4}      # any term admits
    for d, s in and_scores.items():            # same scores, fewer docs
        assert s == or_scores[d]
    path = str(tmp_path / "andidx")
    retrieval.build_inverted_index(docs, path, n_buckets=8)
    idx = _scores(retrieval.search_inverted_index(
        spark, path, terms, require_all=True))
    assert idx == and_scores
    # zero-match conjunction: empty, not a crash
    none = retrieval.bm25_scores(docs, ["alpha", "delta"],
                                 require_all=True)
    assert none.count() == 0


def test_retention_sweep_inverted_index_ttl_and_guards(spark, tmp_path):
    """Index-side TTL (r16): victims come from the doclen sidecar's
    recorded ts meta column — post-sweep serving equals an index built
    on the survivors; an index that never recorded age refuses; a
    re-run with the same cutoff appends no tombstone."""
    import datetime as dt
    import os

    import pytest
    from pyspark.sql import functions as F

    from msg_vector_search_spark.operators import retrieval
    from msg_vector_search_spark.sources import readers

    docs = readers.read_table(spark, "/root/testdata/sf0.001",
                              "documents").select("doc_id", "text")
    origin = dt.datetime(2024, 1, 1)
    aged = docs.withColumn(
        "ts", F.lit(origin) + F.make_interval(
            mins=F.col("doc_id").cast("int")))
    path = str(tmp_path / "ttlidx")
    retrieval.build_inverted_index(aged, path, meta_cols=("ts",))

    # guard: an index without the ts meta column cannot self-expire
    bare = str(tmp_path / "bareidx")
    retrieval.build_inverted_index(docs, bare)
    with pytest.raises(ValueError, match="TTL needs"):
        retrieval.retention_sweep_inverted_index(
            spark, bare, origin + dt.timedelta(minutes=10))

    n = docs.count()
    cutoff = origin + dt.timedelta(minutes=n // 4)
    info = retrieval.retention_sweep_inverted_index(spark, path, cutoff)
    assert info["tombstoned"] == n // 4
    terms = ["spark", "query", "dup"]
    served = {(r["doc_id"], r["dl"], r["bm25"]) for r in
              retrieval.search_inverted_index(spark, path, terms)
              .collect()}
    surv_scan = {(r["doc_id"], r["dl"], r["bm25"]) for r in
                 retrieval.bm25_scores(
                     docs.filter(F.col("doc_id") >= n // 4), terms)
                 .collect()}
    assert served == surv_scan
    # idempotent: same cutoff -> zero victims, zero tombstone files
    files_before = retrieval._tombstone_file_count(path)
    again = retrieval.retention_sweep_inverted_index(spark, path, cutoff)
    assert again["tombstoned"] == 0
    assert retrieval._tombstone_file_count(path) == files_before


def test_stopword_prune_is_bounded_and_idempotent(spark, tmp_path):
    """prune_inverted_index_stopwords (r16): drops exactly the
    above-ratio terms, rewrites ONLY their term buckets (other bucket
    dirs keep their files byte-for-byte), no-ops when nothing
    qualifies, and a re-run finds nothing left to prune.  A later
    upsert may re-introduce the term (prune is point-in-time
    maintenance, not a vocabulary ban) — pinned so the semantics are
    explicit."""
    import os

    from pyspark.sql import Row, functions as F

    from msg_vector_search_spark.operators import retrieval
    from msg_vector_search_spark.sources import readers

    docs = (readers.read_table(spark, "/root/testdata/sf0.001",
                               "documents")
            .select("doc_id",
                    F.concat(F.col("text"), F.lit(" zstopz"))
                    .alias("text")))
    path = str(tmp_path / "pruneidx")
    retrieval.build_inverted_index(docs, path, n_buckets=8)

    pdir = os.path.join(path, "postings")
    row = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("zstopz")), F.lit(8)).alias("b")
    ).collect()[0]
    stop_tb = int(row["b"])
    before = {d: sorted(os.listdir(os.path.join(pdir, d)))
              for d in os.listdir(pdir) if d.startswith("tb=")}

    info = retrieval.prune_inverted_index_stopwords(spark, path,
                                                    max_df_ratio=0.9)
    assert info["pruned"] == ["zstopz"]
    after = {d: sorted(os.listdir(os.path.join(pdir, d)))
             for d in os.listdir(pdir) if d.startswith("tb=")}
    for d, files in after.items():
        if d != f"tb={stop_tb}":
            assert files == before[d], f"untouched bucket {d} rewritten"
    # the stopword's postings are physically gone
    assert spark.read.parquet(pdir).filter(
        F.col("term") == "zstopz").count() == 0
    # idempotent; and a corpus with no stopword no-ops
    assert retrieval.prune_inverted_index_stopwords(
        spark, path, max_df_ratio=0.9)["pruned"] == []
    # a later upsert re-introduces the term at a fresh generation
    retrieval.upsert_inverted_index(
        spark.createDataFrame([Row(doc_id=10_000_001,
                                   text="zstopz alone")]), path)
    served = retrieval.search_inverted_index(spark, path, ["zstopz"])
    assert [r["doc_id"] for r in served.collect()] == [10_000_001]


def test_build_auto_sizes_buckets_from_vocabulary(spark, tmp_path):
    """r17 layout auto-sizing: the default build sizes n_buckets =
    max(INDEX_BUCKETS, vocab / TARGET_TERMS_PER_BUCKET) — the hash
    store's first-write policy applied to the postings layout.  Small
    corpora keep the historical 64 (floor); a corpus whose vocabulary
    exceeds 64 * TARGET sizes up, records the choice in the meta
    sidecar, and serves bit-identically to the scan-side BM25 on the
    wider layout."""
    import json
    import os

    from msg_vector_search_spark.operators import retrieval

    # small corpus: floor holds (31-term fixture vocab -> 64)
    small = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)],
        "doc_id long, text string")
    p_small = str(tmp_path / "small")
    retrieval.build_inverted_index(small, p_small)
    with open(os.path.join(p_small, retrieval.TEXT_META)) as f:
        assert json.load(f)["n_buckets"] == retrieval.INDEX_BUCKETS

    # 40k-term vocabulary: 40000/512 = 78 expected (HLL sketch, ~5%
    # rsd, deterministic for a fixed corpus) — above the floor, well
    # under 2x it
    big = (spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit(f"tok{j}x"), F.col("id").cast("string"))
            for j in range(10)]).alias("text")))
    p_big = str(tmp_path / "big")
    retrieval.build_inverted_index(big, p_big)
    with open(os.path.join(p_big, retrieval.TEXT_META)) as f:
        nb = json.load(f)["n_buckets"]
    assert 64 < nb < 96

    # the wider layout serves the scan-side result bit-for-bit (meta
    # n_buckets drives the term->bucket hash, not the constant)
    terms = ["tok0x7", "tok3x99"]
    scan = {(r["doc_id"], r["bm25"]) for r in
            retrieval.bm25_scores(big, terms).collect()}
    served = {(r["doc_id"], r["bm25"]) for r in
              retrieval.search_inverted_index(spark, p_big, terms)
              .collect()}
    assert served == scan and served

    # upserts follow the BUILT layout (meta n_buckets, not the
    # constant): fold in a new doc matching a query term, serve again,
    # compare to a scan of the merged corpus
    extra = spark.createDataFrame([(9001, "tok0x7 tok0x7 filler")],
                                  "doc_id long, text string")
    retrieval.upsert_inverted_index(extra, p_big)
    merged = big.unionByName(extra)
    scan2 = {(r["doc_id"], r["bm25"]) for r in
             retrieval.bm25_scores(merged, terms).collect()}
    served2 = {(r["doc_id"], r["bm25"]) for r in
               retrieval.search_inverted_index(spark, p_big, terms)
               .collect()}
    assert served2 == scan2 and 9001 in {d for d, _ in served2}


def test_lost_meta_sidecar_fails_loudly_on_wide_layout(spark, tmp_path):
    """r17 review: an index whose sidecar was lost must not be served
    under a guessed layout — hashing terms mod the wrong bucket count
    returns incomplete results with no error.  Stores without a
    sidecar are refused, naming build_inverted_index, whether the
    layout is auto-sized above the 64-bucket default or not."""
    import os

    import pytest as _pytest

    from msg_vector_search_spark.operators import retrieval

    big = (spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit(f"tok{j}y"), F.col("id").cast("string"))
            for j in range(10)]).alias("text")))
    path = str(tmp_path / "wide")
    retrieval.build_inverted_index(big, path)  # auto-sizes above 64
    os.remove(os.path.join(path, retrieval.TEXT_META))
    with _pytest.raises(ValueError, match="build_inverted_index"):
        retrieval.search_inverted_index(spark, path, ["tok0y7"])

    # a 64-bucket index with no sidecar is refused too: its tb ids
    # would fit the default, but the generation could not be trusted
    small = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)],
        "doc_id long, text string")
    p64 = str(tmp_path / "legacy")
    retrieval.build_inverted_index(small, p64, n_buckets=64)
    os.remove(os.path.join(p64, retrieval.TEXT_META))
    with _pytest.raises(ValueError, match="build_inverted_index"):
        retrieval.search_inverted_index(spark, p64, ["alpha"])


def test_many_serve_matches_singles_on_auto_sized_layout(spark,
                                                         tmp_path):
    """The batched serve must follow the meta-recorded bucket layout
    exactly as the single-query path does — on an AUTO-SIZED (non-64)
    index, per-query results of search_inverted_index_many equal the
    single serves, both literal-pivot and large-Q generic paths."""
    from msg_vector_search_spark.operators import retrieval

    big = (spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit(f"tok{j}z"), F.col("id").cast("string"))
            for j in range(10)]).alias("text")))
    path = str(tmp_path / "wide_many")
    retrieval.build_inverted_index(big, path)  # auto-sizes above 64

    queries = {1: ["tok0z7", "tok3z99"], 2: ["tok1z500"],
               3: ["tok9z1", "tok9z2", "missingterm"]}
    # the batched path rounds scores to 6dp (its serving contract);
    # round the singles the same way for the parity compare
    singles = {
        qid: {(r["doc_id"], round(r["bm25"], 6)) for r in
              retrieval.search_inverted_index(spark, path, ts).collect()}
        for qid, ts in queries.items()}
    for lit_max in (10, 0):  # literal-pivot path, then generic path
        many = retrieval.search_inverted_index_many(
            spark, path, queries, literal_max=lit_max)
        got = {}
        for r in many.collect():
            got.setdefault(r["qid"], set()).add((r["doc_id"], r["bm25"]))
        assert got == {k: v for k, v in singles.items() if v}
