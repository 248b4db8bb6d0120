"""Model-based lifecycle tests: drive the two materialized indexes
through seeded pseudo-random op sequences (upsert / erase / compact)
and after EVERY step compare serving against a trivially-correct
in-memory model — the state-machine check that unit tests of single
verbs can't give (bugs like stale shadows or resurrected rows only
appear under particular op interleavings).

Seeded `random.Random` rather than hypothesis: the sequences are
deterministic across runs (no flake, no shrinking needed) while still
covering interleavings no hand-written test enumerates.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from msg_vector_search_spark.operators import ann_index, retrieval, similarity
from msg_vector_search_spark.sources import readers

SF = "/root/testdata/sf0.001"
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
TERMS = ["alpha", "gamma"]


def _docs_df(spark, mapping: dict[int, str]):
    return spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in sorted(mapping.items())])


def _model_bm25(spark, model: dict[int, str]) -> dict:
    if not model:
        return {}
    scored = retrieval.bm25_scores(_docs_df(spark, model), TERMS)
    return {r["doc_id"]: (r["dl"], round(r["bm25"], 6))
            for r in scored.collect()}


def _served_bm25(spark, path: str) -> dict:
    scored = retrieval.search_inverted_index(spark, path, TERMS)
    return {r["doc_id"]: (r["dl"], round(r["bm25"], 6))
            for r in scored.collect()}


def test_text_index_lifecycle_matches_model(spark, tmp_path):
    rng = random.Random(7)

    def doc() -> str:
        return " ".join(rng.choice(WORDS)
                        for _ in range(rng.randint(1, 8)))

    model = {i: doc() for i in range(30)}
    path = str(tmp_path / "tindex")
    retrieval.build_inverted_index(_docs_df(spark, model), path,
                                   n_buckets=8)

    for step in range(8):
        op = rng.choice(["upsert", "delete", "compact", "changefeed"])
        if op == "upsert":
            # mix of brand-new ids and REWRITES of existing docs (the
            # case where stale postings must be shadowed everywhere)
            batch = {rng.randrange(0, 45): doc()
                     for _ in range(rng.randint(1, 5))}
            model.update(batch)
            retrieval.upsert_inverted_index(_docs_df(spark, batch), path)
        elif op == "changefeed":
            # the derived-maintenance verb: one feed carrying an
            # insert, an update of an existing doc, and a delete
            ins_id = max(model, default=0) + 100 + step
            upd_pool = sorted(model)
            feed = [Row(doc_id=ins_id, action="insert",
                        old_text=None, new_text=doc())]
            if upd_pool:
                u = rng.choice(upd_pool)
                feed.append(Row(doc_id=u, action="update",
                                old_text=model[u], new_text=doc()))
                d = rng.choice(upd_pool)
                if d != u:
                    feed.append(Row(doc_id=d, action="delete",
                                    old_text=model[d], new_text=None))
            for r in feed:
                if r.action == "delete":
                    model.pop(r.doc_id, None)
                else:
                    model[r.doc_id] = r.new_text
            retrieval.apply_changefeed_text_index(
                spark, path, spark.createDataFrame(feed))
        elif op == "delete" and model:
            pool = sorted(model) + [999]  # 999: deleting a ghost id
            victims = rng.sample(pool, k=min(3, len(pool)))
            for v in victims:
                model.pop(v, None)
            retrieval.delete_inverted_docs(
                spark.createDataFrame([Row(doc_id=v) for v in victims]),
                path)
        else:
            retrieval.compact_inverted_index(spark, path)
        assert _served_bm25(spark, path) == _model_bm25(spark, model), \
            f"diverged after step {step} ({op})"


def _vec_df(spark, mapping: dict[int, list[float]]):
    return spark.createDataFrame(
        [Row(vec_id=k, embedding=v) for k, v in sorted(mapping.items())])


def _model_topk(spark, model: dict[int, list[float]], qv, k=10):
    got = similarity.knn_search(_vec_df(spark, model), qv, k=k,
                                threshold=-2.0)
    return [(r["vec_id"], r["sim"]) for r in got.collect()]


def _served_topk(spark, path: str, model_size: int, qv, k=10):
    # full probe + corpus-sized shortlist: IVFPQ serving degenerates to
    # exact cosine top-k, so equality is artifact-independent and pins
    # that the index holds exactly the model's rows
    got = ann_index.search_index(spark, path, qv, k=k, nprobe=4,
                                 shortlist=max(model_size, 1))
    return [(r["vec_id"], r["sim"]) for r in got.collect()]


def test_ann_index_lifecycle_matches_model(spark, tmp_path):
    rng = random.Random(11)
    emb = readers.read_table(spark, SF, "embeddings")
    base_rows = emb.limit(200).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding")).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in base_rows}
    qv = vecs[min(vecs)]

    model = dict(list(sorted(vecs.items()))[:150])
    fresh = {k: v for k, v in vecs.items() if k not in model}
    path = str(tmp_path / "aindex")
    ann_index.build_index(spark, _vec_df(spark, model), path,
                          nlist=4, m=8, ncodes=16)

    for step in range(6):
        op = rng.choice(["upsert", "erase", "erase", "changefeed"])
        if op == "upsert" and fresh:
            picks = rng.sample(sorted(fresh), k=min(10, len(fresh)))
            batch = {k: fresh.pop(k) for k in picks}
            model.update(batch)
            ann_index.upsert_index(spark, path, _vec_df(spark, batch))
        elif op == "changefeed" and model:
            # derived maintenance with a CELL-MOVING update (+0.5 on
            # every coordinate shifts the cosine cell), an insert from
            # the held-out pool, and a delete — the interleaving where
            # plain upsert would strand a stale copy
            feed = []
            u = rng.choice(sorted(model))
            moved = [x + 0.5 for x in model[u]]
            feed.append(Row(vec_id=u, action="update",
                            old_embedding=model[u], new_embedding=moved))
            model[u] = moved
            if fresh:
                ins = sorted(fresh)[0]
                feed.append(Row(vec_id=ins, action="insert",
                                old_embedding=None,
                                new_embedding=fresh.pop(ins)))
                model[ins] = feed[-1].new_embedding
            d = rng.choice(sorted(model))
            if d != u:
                feed.append(Row(vec_id=d, action="delete",
                                old_embedding=model.pop(d),
                                new_embedding=None))
            ann_index.apply_changefeed_index(
                spark, path, spark.createDataFrame(feed))
        elif model:
            victims = rng.sample(sorted(model), k=min(8, len(model)))
            for v in victims:
                model.pop(v)
            ann_index.delete_index_keys(
                spark, path,
                spark.createDataFrame([Row(vec_id=v) for v in victims]))
        assert _served_topk(spark, path, len(model), qv) == \
            _model_topk(spark, model, qv), \
            f"diverged after step {step} ({op})"


def test_ann_erase_crash_before_swaps_converges(
        spark, tmp_path, crash_after_erasure_manifest):
    """A crash inside the index erasure's commit
    (ann_index.delete_index_keys), after the manifest is written and
    before any cell is swapped, must leave an index that (a) never
    serves a victim — every serve rolls the recorded plan forward
    before it reads — and (b) converges when the same delete re-runs
    (the documented recovery path).  Driven through a >=3-op
    interleaving (upsert, crashed erase, re-run erase, upsert, clean
    erase) with the model compared after every completed op."""
    emb = readers.read_table(spark, SF, "embeddings")
    base_rows = emb.limit(120).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding")).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in base_rows}
    qv = vecs[min(vecs)]
    model = dict(sorted(vecs.items())[:100])
    fresh = {k: v for k, v in vecs.items() if k not in model}
    path = str(tmp_path / "aindex")
    ann_index.build_index(spark, _vec_df(spark, model), path,
                          nlist=4, m=8, ncodes=16)

    # op 1: upsert half the held-out rows
    batch = dict(sorted(fresh.items())[:10])
    model.update(batch)
    ann_index.upsert_index(spark, path, _vec_df(spark, batch))
    assert _served_topk(spark, path, len(model), qv) == \
        _model_topk(spark, model, qv)

    # op 2: erase that CRASHES after its manifest, before any swap
    victims = sorted(model)[:8]
    with pytest.raises(crash_after_erasure_manifest()):
        ann_index.delete_index_keys(
            spark, path,
            spark.createDataFrame([Row(vec_id=v) for v in victims]))

    # invariant (a): the crashed index serves NO victim
    served_ids = {vid for vid, _ in
                  _served_topk(spark, path, len(model), qv, k=len(model))}
    assert not served_ids & set(victims), \
        "half-erased index served a victim"

    # invariant (b): re-running the same delete converges to the model
    for v in victims:
        model.pop(v)
    ann_index.delete_index_keys(
        spark, path,
        spark.createDataFrame([Row(vec_id=v) for v in victims]))
    assert _served_topk(spark, path, len(model), qv) == \
        _model_topk(spark, model, qv)

    # op 4/5: further maintenance on the recovered index stays exact
    batch2 = {k: v for k, v in sorted(fresh.items())[10:20]}
    model.update(batch2)
    ann_index.upsert_index(spark, path, _vec_df(spark, batch2))
    victims2 = sorted(model)[-5:]
    for v in victims2:
        model.pop(v)
    ann_index.delete_index_keys(
        spark, path,
        spark.createDataFrame([Row(vec_id=v) for v in victims2]))
    assert _served_topk(spark, path, len(model), qv) == \
        _model_topk(spark, model, qv)


def _model_hybrid(spark, docs_model: dict, vecs_model: dict,
                  queries: dict, leg_k: int, k: int,
                  where_src: str, where_lbl) -> list:
    """Trivially-correct hybrid model: per query, BM25-rank the doc
    slice and exact-cosine-rank the vector slice (both on the 6dp
    grid with id tiebreaks, leg-truncated at leg_k), RRF-fuse in
    plain Python, top-k by (rrf desc, id)."""
    doc_slice = {i: t for i, (t, s) in docs_model.items()
                 if s == where_src}
    vec_slice = {i: v for i, (v, l) in vecs_model.items()
                 if l % 2 == 0}
    out = []
    for qid in sorted(queries):
        spec = queries[qid]
        kw_rank, vec_rank = {}, {}
        if doc_slice:
            scored = retrieval.bm25_scores(
                _docs_df(spark, doc_slice), spec["terms"])
            ranked = sorted(
                ((round(r["bm25"], 6) + 0.0, r["doc_id"])
                 for r in scored.collect()),
                key=lambda x: (-x[0], x[1]))[:leg_k]
            kw_rank = {i: n + 1 for n, (_, i) in enumerate(ranked)}
        if vec_slice:
            got = similarity.knn_search(
                _vec_df(spark, vec_slice), spec["qvec"],
                k=leg_k, threshold=-2.0).collect()
            vec_rank = {r["vec_id"]: n + 1 for n, r in enumerate(got)}
        fused = []
        for i in sorted(set(kw_rank) | set(vec_rank)):
            rrf = ((1.0 / (60 + kw_rank[i]) if i in kw_rank else 0.0)
                   + (1.0 / (60 + vec_rank[i]) if i in vec_rank else 0.0))
            fused.append((round(rrf, 6) + 0.0, i,
                          kw_rank.get(i), vec_rank.get(i)))
        fused.sort(key=lambda x: (-x[0], x[1]))
        out += [(qid, i, rk, rv, s) for s, i, rk, rv in fused[:k]]
    return out


def test_hybrid_batched_filtered_lifecycle_matches_model(spark, tmp_path):
    """The full serving envelope under maintenance: a BATCH of hybrid
    queries with WHERE slices on both legs, served after every op of
    a seeded upsert/erase/compact interleaving, on BOTH batch
    strategies (literal subplans and the constant-plan broadcast-data
    path) — each must equal a trivially-correct in-memory model
    (slice-filtered BM25 + exact cosine, RRF-fused in Python).  This
    is the batched x filtered x maintenance cross-product the
    single-axis tests can't see."""
    rng = random.Random(23)

    def doc() -> str:
        return " ".join(rng.choice(WORDS)
                        for _ in range(rng.randint(2, 8)))

    emb = readers.read_table(spark, SF, "embeddings")
    pool = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.limit(80).select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double"))
                .alias("embedding")).collect()}

    # shared ids: doc i <-> vector i; meta: src on docs, label on vecs
    docs_model = {i: (doc(), f"src{i % 2}") for i in range(60)}
    vecs_model = {i: (pool[i], i % 3) for i in sorted(pool)[:60]}
    fresh = {i: pool[i] for i in sorted(pool)[60:]}

    tpath = str(tmp_path / "text")
    retrieval.build_inverted_index(
        spark.createDataFrame([Row(doc_id=i, text=t, src=s)
                               for i, (t, s) in sorted(docs_model.items())]),
        tpath, n_buckets=8, meta_cols=("src",))
    apath = str(tmp_path / "ann")
    ann_index.build_index(
        spark,
        spark.createDataFrame([Row(vec_id=i, embedding=v, label=l)
                               for i, (v, l) in sorted(vecs_model.items())]),
        apath, nlist=4, m=8, ncodes=16, meta_cols=("label",))

    queries = {1: {"terms": ["alpha", "gamma"], "qvec": pool[0]},
               2: {"terms": ["beta"], "qvec": pool[1]},
               3: {"terms": ["delta", "zeta", "alpha"], "qvec": pool[3]}}

    def check(step, op):
        n = max(len(vecs_model), 1)
        want = _model_hybrid(spark, docs_model, vecs_model, queries,
                             leg_k=200, k=5, where_src="src1",
                             where_lbl=None)
        for lm in (16, 0):   # literal strategy, then broadcast-data
            got = [tuple(r) for r in retrieval.hybrid_serve_many(
                spark, tpath, apath, queries, leg_k=200, k=5,
                nprobe=4, shortlist=n,
                where_text="src = 'src1'", where_ann="label % 2 = 0",
                literal_max=lm).collect()]
            want_t = [(q, i, rk, rv, s) for q, i, rk, rv, s in want]
            assert got == want_t, \
                f"diverged after step {step} ({op}, literal_max={lm})"

    check(-1, "build")
    for step in range(4):
        op = rng.choice(["upsert", "erase", "compact"])
        if op == "upsert":
            ids = rng.sample(sorted(set(docs_model) | set(fresh)), k=4)
            dbatch, vbatch = [], []
            for i in ids:
                t, s = doc(), f"src{rng.randint(0, 1)}"
                docs_model[i] = (t, s)
                dbatch.append(Row(doc_id=i, text=t, src=s))
                # vector rewrites stay IN PLACE (same vector, new
                # label): plain upsert shadows per (vec_id, cell) —
                # cell-MOVING updates need the changefeed verb, which
                # test_ann_index_lifecycle_matches_model covers
                if i in fresh:
                    v = fresh.pop(i)
                elif i in vecs_model:
                    v = vecs_model[i][0]
                else:
                    v = pool[i]
                lbl = rng.randint(0, 2)
                vecs_model[i] = (v, lbl)
                vbatch.append(Row(vec_id=i, embedding=v, label=lbl))
            retrieval.upsert_inverted_index(
                spark.createDataFrame(dbatch), tpath)
            ann_index.upsert_index(spark, apath,
                                   spark.createDataFrame(vbatch))
        elif op == "erase":
            pool_ids = sorted(set(docs_model) & set(vecs_model))
            victims = rng.sample(pool_ids, k=min(5, len(pool_ids)))
            for v in victims:
                docs_model.pop(v, None)
                vecs_model.pop(v, None)
            keys = spark.createDataFrame([Row(doc_id=v) for v in victims])
            retrieval.delete_inverted_docs(keys, tpath)
            ann_index.delete_index_keys(
                spark, apath, keys.select(F.col("doc_id")
                                          .alias("vec_id")))
        else:
            retrieval.compact_inverted_index(spark, tpath)
        check(step, op)


def test_text_index_ttl_lifecycle_matches_model(spark, tmp_path):
    """The r16 index-side TTL verb under random interleavings with
    upsert / key-delete / compact: after every step, serving equals
    BM25 over the model — where the model's TTL drops ids whose LAST
    WRITTEN ts is expired, a rewritten doc carries its new ts (the
    doclen generation shadowing), and a doc re-upserted AFTER a sweep
    that expired it is resurrected at its new age (tombstones kill up
    to the old generation only)."""
    import datetime as dt

    rng = random.Random(23)
    origin = dt.datetime(2024, 1, 1)

    def doc() -> str:
        return " ".join(rng.choice(WORDS)
                        for _ in range(rng.randint(1, 8)))

    def ts_of(minutes: int):
        return origin + dt.timedelta(minutes=minutes)

    def aged_df(batch: dict):
        return spark.createDataFrame(
            [Row(doc_id=k, text=t, ts=ts_of(m))
             for k, (t, m) in sorted(batch.items())])

    # model: doc_id -> (text, ts_minutes)
    model = {i: (doc(), i) for i in range(30)}
    path = str(tmp_path / "ttlindex")
    retrieval.build_inverted_index(aged_df(model), path, n_buckets=8,
                                   meta_cols=("ts",))
    cutoff_min = 0

    def text_model():
        return {k: t for k, (t, m) in model.items()}

    for step in range(8):
        op = rng.choice(["upsert", "ttl", "delete", "compact", "ttl"])
        if op == "upsert":
            # rewrites give an existing doc a NEW age; ids below the
            # current cutoff pin the resurrection semantics
            batch = {rng.randrange(0, 45): (doc(), 40 + step)
                     for _ in range(rng.randint(1, 5))}
            model.update(batch)
            retrieval.upsert_inverted_index(aged_df(batch), path)
        elif op == "ttl":
            cutoff_min += rng.randint(3, 9)
            for k in [k for k, (t, m) in model.items()
                      if m < cutoff_min]:
                model.pop(k)
            info = retrieval.retention_sweep_inverted_index(
                spark, path, ts_of(cutoff_min))
            assert info["tombstoned"] >= 0
        elif op == "delete" and model:
            pool = sorted(model) + [999]
            victims = rng.sample(pool, k=min(3, len(pool)))
            for v in victims:
                model.pop(v, None)
            retrieval.delete_inverted_docs(
                spark.createDataFrame([Row(doc_id=v) for v in victims]),
                path)
        else:
            retrieval.compact_inverted_index(spark, path)
        assert _served_bm25(spark, path) == \
            _model_bm25(spark, text_model()), \
            f"diverged after step {step} ({op}, cutoff={cutoff_min})"


def test_ann_index_ttl_lifecycle_matches_model(spark, tmp_path):
    """The r16 ANN erase-by-predicate verb under random interleavings
    with upsert and key-erase: serving equals the model where TTL
    drops ids by their recorded ts, and upserted batches carry the ts
    meta column (recorded-cols contract)."""
    import datetime as dt

    rng = random.Random(29)
    origin = dt.datetime(2024, 1, 1)
    emb = readers.read_table(spark, SF, "embeddings")
    base_rows = emb.limit(200).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding")).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in base_rows}
    qv = vecs[min(vecs)]

    def ts_of(minutes: int):
        return origin + dt.timedelta(minutes=minutes)

    def aged_vec_df(batch: dict):
        return spark.createDataFrame(
            [Row(vec_id=k, embedding=v, ts=ts_of(m))
             for k, (v, m) in sorted(batch.items())])

    # model: vec_id -> (vector, ts_minutes); seed ages = id order
    ordered = sorted(vecs.items())
    model = {k: (v, i) for i, (k, v) in enumerate(ordered[:150])}
    fresh = dict(ordered[150:])
    path = str(tmp_path / "ttlann")
    ann_index.build_index(spark, aged_vec_df(model), path,
                          nlist=4, m=8, ncodes=16, meta_cols=("ts",))
    cutoff_min = 0
    next_age = 200

    def vec_model():
        return {k: v for k, (v, m) in model.items()}

    for step in range(6):
        op = rng.choice(["upsert", "ttl", "erase", "ttl"])
        if op == "upsert" and fresh:
            picks = rng.sample(sorted(fresh), k=min(10, len(fresh)))
            batch = {k: (fresh.pop(k), next_age) for k in picks}
            next_age += 1
            model.update(batch)
            ann_index.upsert_index(spark, path, aged_vec_df(batch))
        elif op == "ttl":
            cutoff_min += rng.randint(5, 20)
            for k in [k for k, (v, m) in model.items()
                      if m < cutoff_min]:
                model.pop(k)
            cut = ts_of(cutoff_min)
            ann_index.delete_index_where(
                spark, path,
                f"ts < timestamp'{cut.strftime('%Y-%m-%d %H:%M:%S')}'")
        elif model:
            victims = rng.sample(sorted(model), k=min(8, len(model)))
            for v in victims:
                model.pop(v)
            ann_index.delete_index_keys(
                spark, path,
                spark.createDataFrame([Row(vec_id=v) for v in victims]))
        assert _served_topk(spark, path, len(model), qv) == \
            _model_topk(spark, vec_model(), qv), \
            f"diverged after step {step} ({op}, cutoff={cutoff_min})"


def test_ann_ttl_erase_crash_before_swaps_converges(
        spark, tmp_path, crash_after_erasure_manifest):
    """The same crash point for the r16 predicate-erase verb
    (delete_index_where): a crash after the erasure's manifest is
    written and before any cell is swapped must leave an index that
    never serves a victim, and the SAME predicate re-run converges
    without any external key list."""
    import datetime as dt

    from msg_vector_search_spark.sources import sinks as sinks_mod

    origin = dt.datetime(2024, 1, 1)
    emb = readers.read_table(spark, SF, "embeddings")
    base_rows = emb.limit(120).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding")).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in base_rows}
    qv = vecs[min(vecs)]

    def aged_df(mapping):
        return spark.createDataFrame(
            [Row(vec_id=k, embedding=v,
                 ts=origin + dt.timedelta(minutes=k))
             for k, v in sorted(mapping.items())])

    model = dict(sorted(vecs.items()))
    path = str(tmp_path / "ttlcrash")
    ann_index.build_index(spark, aged_df(model), path,
                          nlist=4, m=8, ncodes=16, meta_cols=("ts",))

    cut_min = sorted(model)[len(model) // 4]
    cut = origin + dt.timedelta(minutes=cut_min)
    pred = f"ts < timestamp'{cut.strftime('%Y-%m-%d %H:%M:%S')}'"
    survivors = {k: v for k, v in model.items() if k >= cut_min}

    with pytest.raises(crash_after_erasure_manifest()):
        ann_index.delete_index_where(spark, path, pred)

    # crashed before the swaps: the victims' rows are still on disk
    import os
    vdir = os.path.join(path, "vectors")
    assert os.path.exists(os.path.join(vdir, sinks_mod.DELETE_MANIFEST))
    assert spark.read.parquet(vdir).filter(
        F.col("vec_id") < cut_min).count() > 0
    # serving must already exclude every victim: it rolls the recorded
    # plan forward before it reads
    assert _served_topk(spark, path, len(survivors), qv) == \
        _model_topk(spark, survivors, qv)
    # documented recovery: the same predicate re-runs and converges;
    # the plan is committed, so nothing matches any more
    assert ann_index.delete_index_where(spark, path, pred) == []
    vstore = spark.read.parquet(vdir)
    assert vstore.filter(F.col("vec_id") < cut_min).count() == 0
    assert _served_topk(spark, path, len(survivors), qv) == \
        _model_topk(spark, survivors, qv)
