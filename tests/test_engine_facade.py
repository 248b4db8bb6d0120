"""End-to-end lifecycle through the Engine facade: cold start -> ingest
-> gated search -> stats, mirroring the reference's engine object
(src/core/search/engine.py)."""

from __future__ import annotations

from msg_vector_search_spark.engine import Engine

SF = "/root/testdata/sf0.001"


def test_engine_lifecycle(spark, tmp_path):
    eng = Engine(spark, SF, str(tmp_path / "store"))

    # cold start: no store yet
    assert eng._embedded_count() == 0

    up = eng.update_embeddings()
    assert up["status"] == "success"
    assert up["new_messages"] > 0
    n_first = eng._embedded_count()

    # idempotent: nothing new -> nothing stored
    up2 = eng.update_embeddings()
    assert up2["new_messages"] == 0
    assert eng._embedded_count() == n_first

    res = eng.search("test message", limit=5, threshold=-1.0)
    assert res["status"] == "success"
    assert 0 < len(res["results"]) <= 5
    assert res["metadata"]["total_results"] == len(res["results"])
    top = res["results"][0]
    assert "similarity_score" in top and "message_id" in top
    # ranked descending
    sims = [r["sim"] for r in res["results"]]
    assert sims == sorted(sims, reverse=True)

    stats = eng.get_database_stats()
    assert stats["embedded_messages"] == n_first
    assert stats["total_messages"] >= stats["embedded_messages"]
    assert 0 < stats["coverage_pct"] <= 100.0


def test_engine_force_update_and_gate(spark, tmp_path):
    eng = Engine(spark, SF, str(tmp_path / "store"), update_threshold=10**9)
    # huge threshold: the gate would never fire on its own...
    eng.update_embeddings()
    n = eng._embedded_count()
    res = eng.search("hello", limit=3, threshold=-1.0)
    assert res["status"] == "success"
    # ...but force_update runs the (idempotent) refresh inline
    res = eng.search("hello", limit=3, threshold=-1.0, force_update=True)
    assert res["status"] == "success"
    assert eng._embedded_count() == n


def test_cold_start_stats_and_gated_search_bootstrap(spark, tmp_path):
    """Before any ingest: stats reports zero embedded instead of
    throwing on the missing store, and a search whose freshness gate
    does NOT fire (threshold above the corpus size) bootstraps the
    first ingest rather than crashing on a store that was never
    written."""
    eng = Engine(spark, SF, str(tmp_path / "store"),
                 update_threshold=10 ** 9)

    stats = eng.get_database_stats()
    assert stats["embedded_messages"] == 0
    assert stats["total_messages"] > 0
    assert stats["coverage_pct"] == 0.0

    res = eng.search("test message", limit=5, threshold=-1.0)
    assert res["status"] == "success"
    assert len(res["results"]) > 0
    assert eng._embedded_count() > 0  # the bootstrap ingest ran


def test_freshness_gap_converges_with_unstorable_rows(spark, tmp_path):
    """The gate's gap is watermark-based: after one full ingest the gap
    is zero even though some scanned rows (empty cleaned text) were
    consumed but never stored — the count-minus-count form would stay
    permanently positive and re-trigger a no-op ingest forever."""
    eng = Engine(spark, SF, str(tmp_path / "store"))
    eng.update_embeddings()
    # a second engine over the same store has no cached gap, so the
    # watermark-pruned count itself is what reads zero here (the
    # ingesting engine records gap 0 after a draining run)
    assert Engine(spark, SF, eng.store_dir)._freshness_gap() == 0


def test_empty_source_search_returns_empty_envelope(spark, tmp_path):
    """An all-empty text source: the bootstrap ingest stores nothing
    (ingest skips the write when every cleaned text is empty), and the
    search must return the empty success envelope — not crash reading
    a store that was never created — with search_time_ms covering the
    WHOLE call including the bootstrap attempt (the reference captures
    start_time before its inline update)."""
    from pyspark.sql import functions as F

    sf = str(tmp_path / "sf")
    ev = spark.read.parquet(SF + "/events.parquet").filter(F.lit(False))
    ev.write.parquet(sf + "/events.parquet")

    eng = Engine(spark, sf, str(tmp_path / "store"))
    res = eng.search("anything", limit=5, threshold=-1.0)
    assert res["status"] == "success"
    assert res["results"] == []
    md = res["metadata"]
    assert md["total_results"] == 0
    assert md["query"] == "anything"
    assert md["search_time_ms"] > 0.0  # bootstrap attempt is timed

    # stats on the same empty engine: zero everywhere, no crash
    stats = eng.get_database_stats()
    assert stats["embedded_messages"] == 0
    assert stats["total_messages"] == 0


def test_search_many_matches_per_query_search(spark, tmp_path):
    """The batched facade must return, per query, exactly what a
    separate search() call returns — same result dicts, same order,
    same envelope shape — while running one corpus scan for the whole
    batch.  The gate is paid once (huge threshold keeps it quiet after
    the explicit ingest)."""
    eng = Engine(spark, SF, str(tmp_path / "store"),
                 update_threshold=10 ** 9)
    eng.update_embeddings()
    queries = {"a": "test message", "b": "hello world", "c": "deep"}
    batched = eng.search_many(queries, limit=5, threshold=-1.0)
    assert sorted(batched) == ["a", "b", "c"]
    for key, q in queries.items():
        single = eng.search(q, limit=5, threshold=-1.0)
        env = batched[key]
        assert env["status"] == "success"
        assert env["metadata"]["query"] == q
        assert env["metadata"]["total_results"] == \
            single["metadata"]["total_results"]
        assert env["results"] == single["results"]


def test_search_many_empty_source_envelopes(spark, tmp_path):
    """All-empty source: every key gets the empty success envelope."""
    from pyspark.sql import functions as F

    sf = str(tmp_path / "sf")
    ev = spark.read.parquet(SF + "/events.parquet").filter(F.lit(False))
    ev.write.parquet(sf + "/events.parquet")
    eng = Engine(spark, sf, str(tmp_path / "store"))
    out = eng.search_many({"x": "anything", "y": "else"}, limit=3)
    assert set(out) == {"x", "y"}
    for env in out.values():
        assert env["status"] == "success" and env["results"] == []


def test_index_where_quoting():
    """The optional filters become one SQL predicate with data-safe
    quoting (values are data, not SQL)."""
    w = Engine._index_where
    assert w(None, None) is None
    assert w("dm", None) == "conversation_type = 'dm'"
    assert w(None, "s-1") == "session_id = 's-1'"
    assert w("a'b", "s") == \
        "conversation_type = 'a''b' AND session_id = 's'"
    # backslash is a literal-escape metachar in Spark SQL expr strings
    assert w(None, "a\\b") == "session_id = 'a\\\\b'"


def test_indexed_engine_matches_brute_engine(spark, tmp_path, monkeypatch):
    """An index-backed engine in EXACT mode (nprobe = nlist, corpus
    shortlist) must return the brute engine's envelopes verbatim —
    plain, meta-filtered (the filters hit the index's recorded
    meta_cols as PRE-filters), and batched past the literal_max
    strategy switch.

    Then the indexed engine's store is laid out again, as 64-key
    ranges and as hash buckets, so the served ids spread over many
    buckets.  The envelopes stay verbatim, and the store reads of a
    search (whole, or by bucket) list only the buckets of the returned
    ids (their files, by each read frame's ``inputFiles()``), never
    the whole store; a search with no result reads none.  47 s at
    sf0.001 on 4 cores, most of it the two engine builds."""
    import os

    from pyspark.sql import functions as F

    from msg_vector_search_spark.sources import sinks

    brute = Engine(spark, SF, str(tmp_path / "b"),
                   update_threshold=10 ** 9)
    brute.update_embeddings()
    idx = Engine(spark, SF, str(tmp_path / "i"),
                 update_threshold=10 ** 9,
                 index_dir=str(tmp_path / "idx"), nlist=4, nprobe=4,
                 shortlist=10 ** 6)
    idx.update_embeddings()
    assert idx.ensure_index()

    store = brute._store()
    ctype = store.select("conversation_type").orderBy(
        "conversation_type").head()["conversation_type"]
    sid = store.select("session_id").orderBy("session_id") \
        .head()["session_id"]

    def strip(env):
        md = dict(env["metadata"])
        md.pop("search_time_ms")
        return {"status": env["status"], "results": env["results"],
                "metadata": md}

    path = idx._store_path()
    reads = []  # the frames of this store's reads, whole or by bucket
    real_store, real_buckets = sinks.read_store, sinks._read_buckets

    def spy_store(spark_, p):
        df = real_store(spark_, p)
        if p == path:
            reads.append(df)
        return df

    def spy_buckets(spark_, p, buckets, part_col=sinks.BUCKET_COL):
        df = real_buckets(spark_, p, buckets, part_col=part_col)
        if p == path:
            reads.append(df)
        return df

    monkeypatch.setattr(sinks, "read_store", spy_store)
    monkeypatch.setattr(sinks, "_read_buckets", spy_buckets)

    def read_buckets(results) -> tuple[set, set]:
        """(bucket dirs the payload reads listed files in, bucket dirs
        holding the ids of *results*)."""
        got = {os.path.basename(os.path.dirname(f))
               for df in reads for f in df.inputFiles()}
        ids = [r["message_id"] for r in results]
        want = {f"{sinks.BUCKET_COL}={r[0]}" for r in
                spark.read.parquet(path)
                .filter(F.col("message_id").isin(ids))
                .select(sinks.BUCKET_COL).distinct().collect()}
        return got, want

    def check() -> None:
        for kw in ({}, {"conversation_type": ctype},
                   {"session_id": sid},
                   {"conversation_type": ctype, "session_id": sid}):
            for thr in (-1.0, 0.3):
                a = brute.search("test message", limit=5, threshold=thr,
                                 **kw)
                reads.clear()
                b = idx.search("test message", limit=5, threshold=thr,
                               **kw)
                assert strip(a) == strip(b), (kw, thr)
                got, want = read_buckets(b["results"])
                assert got == want, (kw, thr)

        # batched, Q = 20 > literal_max: the joined strategy serves the
        # facade; per-query envelopes equal the brute batch
        queries = {f"k{i:02d}": f"probe query {i}" for i in range(20)}
        reads.clear()
        got = idx.search_many(queries, limit=5, threshold=-1.0,
                              conversation_type=ctype)
        want = brute.search_many(queries, limit=5, threshold=-1.0,
                                 conversation_type=ctype)
        assert sorted(got) == sorted(want)
        for k in queries:
            assert strip(got[k]) == strip(want[k]), k
        got, want = read_buckets(
            [r for env in got.values() for r in env["results"]])
        assert got == want

    check()
    for layout in ({"layout": "range", "range_width": 64},
                   {"layout": "hash"}):
        sinks.rebucket_store(spark, path, "message_id", "_gen", **layout)
        # many more buckets than the 5 ids of one search can touch
        assert sum(e.startswith(f"{sinks.BUCKET_COL}=")
                   for e in os.listdir(path)) >= 16, layout
        check()


def test_indexed_engine_ingest_upserts_index(spark, tmp_path):
    """Index freshness through the facade: build the index on a
    PARTIAL store, ingest the rest (update_embeddings upserts the
    index with the new batch), and exact-mode indexed serving must
    equal brute serving over the FULL corpus — no rebuild, no stale
    rows."""
    idx = Engine(spark, SF, str(tmp_path / "i"),
                 update_threshold=10 ** 9,
                 index_dir=str(tmp_path / "idx"), nlist=4, nprobe=4,
                 shortlist=10 ** 6)
    first = idx.update_embeddings(max_messages=400)
    assert first["new_messages"] > 0
    assert idx.ensure_index()
    second = idx.update_embeddings(max_messages=None)
    assert second["new_messages"] > 0

    # brute twin ingests in the SAME two phases: context enrichment
    # (prev/next text) is per-batch, so identical stores require
    # identical batch boundaries
    brute = Engine(spark, SF, str(tmp_path / "b"),
                   update_threshold=10 ** 9)
    brute.update_embeddings(max_messages=400)
    brute.update_embeddings(max_messages=None)
    assert idx._embedded_count() == brute._embedded_count()

    a = brute.search("test message", limit=8, threshold=-1.0)
    b = idx.search("test message", limit=8, threshold=-1.0)
    assert a["results"] == b["results"]


def test_maintain_index_rebuild_policy(spark, tmp_path):
    """The facade rebuild policy (VERDICT r11 item 6), interleaved
    with the serving lifecycle: build on a partial store -> ingest
    (upsert) trips the armed growth signal -> maintain_index rebuilds
    (meta's n_rows baseline advances, occupancy stays consistent) ->
    a second maintenance pass is a no-op -> exact-mode indexed serving
    equals brute serving over the full corpus across the whole
    sequence.  Also pins the signals' values: growth measured against
    the build baseline, skew >= 1, recall = 1.0 in exact mode."""
    from msg_vector_search_spark.operators import ann_index

    idx = Engine(spark, SF, str(tmp_path / "i"),
                 update_threshold=10 ** 9,
                 index_dir=str(tmp_path / "idx"), nlist=4, nprobe=4,
                 shortlist=10 ** 6, rebuild_growth=0.05)
    first = idx.update_embeddings(max_messages=400)
    assert first["new_messages"] > 0
    assert "index_maintenance" not in first  # no index yet
    assert idx.ensure_index()
    base = ann_index.read_meta(idx.index_dir)["n_rows"]
    assert base == idx._embedded_count()

    # quiet store: signals below threshold, no rebuild
    calm = idx.maintain_index()
    assert calm["rebuilt"] is False
    assert calm["growth"] == 0.0 and calm["skew"] >= 1.0

    # ingest the rest: the upsert grows the index past the armed
    # threshold and update_embeddings runs maintenance inline
    second = idx.update_embeddings(max_messages=None)
    assert second["new_messages"] > 0
    maint = second["index_maintenance"]
    assert maint["rebuilt"] is True and maint["reason"] == "growth"
    assert maint["rows_at_build"] == base
    assert maint["total_rows"] == idx._embedded_count()

    # the rebuild reset the baseline: next pass is a no-op
    again = idx.maintain_index()
    assert again["rebuilt"] is False and again["growth"] == 0.0
    assert ann_index.read_meta(idx.index_dir)["n_rows"] == \
        idx._embedded_count()

    # recall floor in exact mode: audit reports 1.0, never trips
    idx.min_recall = 0.99
    audited = idx.maintain_index()
    assert audited["rebuilt"] is False and audited["recall"] == 1.0

    # serving stayed correct across upsert + rebuild: equal to the
    # brute twin ingested with the same batch boundaries
    brute = Engine(spark, SF, str(tmp_path / "b"),
                   update_threshold=10 ** 9)
    brute.update_embeddings(max_messages=400)
    brute.update_embeddings(max_messages=None)
    a = brute.search("test message", limit=8, threshold=-1.0)
    b = idx.search("test message", limit=8, threshold=-1.0)
    assert a["results"] == b["results"]


def test_search_many_per_query_filters(spark, tmp_path):
    """A multi-tenant batch: per-key filter specs group into one serve
    per DISTINCT filter, and every key's envelope equals a separate
    search() call with that key's filter — on the brute engine and on
    the index-backed engine in exact mode."""
    brute = Engine(spark, SF, str(tmp_path / "b"),
                   update_threshold=10 ** 9)
    brute.update_embeddings()
    idx = Engine(spark, SF, str(tmp_path / "i"),
                 update_threshold=10 ** 9,
                 index_dir=str(tmp_path / "idx"), nlist=4, nprobe=4,
                 shortlist=10 ** 6)
    idx.update_embeddings()
    assert idx.ensure_index()

    store = brute._store()
    cts = [r["conversation_type"] for r in
           store.select("conversation_type").distinct()
           .orderBy("conversation_type").collect()][:2]
    batch = {
        "plain": "test message",
        "t0": {"query": "test message", "conversation_type": cts[0]},
        "t0b": {"query": "hello world", "conversation_type": cts[0]},
        "t1": {"query": "test message", "conversation_type": cts[-1]},
    }

    def strip(env):
        md = dict(env["metadata"])
        md.pop("search_time_ms")
        return {"status": env["status"], "results": env["results"],
                "metadata": md}

    for eng in (brute, idx):
        got = eng.search_many(batch, limit=5, threshold=-1.0)
        assert sorted(got) == sorted(batch)
        for key, v in batch.items():
            q = v["query"] if isinstance(v, dict) else v
            ct = v.get("conversation_type") if isinstance(v, dict) \
                else None
            single = eng.search(q, limit=5, threshold=-1.0,
                                conversation_type=ct)
            assert strip(got[key]) == strip(single), (key, type(eng))
            if ct is not None:
                assert all(r["conversation_type"] == ct
                           for r in got[key]["results"])


def test_index_maintenance_is_batch_bounded(spark, tmp_path, monkeypatch):
    """Index upkeep through the facade must be O(batch), never
    O(store): a no-op ingest (no new rows) must not touch the index at
    all, and an incremental ingest must upsert only this run's
    generation (the new batch plus the O(boundary) restitched rows) —
    not the whole merged store that ingest returns."""
    from msg_vector_search_spark.operators import ann_index

    calls = []
    real = ann_index.upsert_index

    def spy(spark_, path, batch, **kw):
        calls.append(batch.count())
        return real(spark_, path, batch, **kw)

    monkeypatch.setattr(ann_index, "upsert_index", spy)

    idx = Engine(spark, SF, str(tmp_path / "i"),
                 update_threshold=10 ** 9,
                 index_dir=str(tmp_path / "idx"), nlist=4, nprobe=4,
                 shortlist=10 ** 6)
    first = idx.update_embeddings(max_messages=600)
    assert idx.ensure_index()
    assert calls == []  # build, not upsert, creates the index

    second = idx.update_embeddings(max_messages=None)
    assert second["new_messages"] > 0
    assert len(calls) == 1
    # this run's generation only: the increment plus restitched
    # boundary rows (one session boundary's worth), NOT the store
    assert calls[0] < first["new_messages"]
    assert calls[0] <= second["new_messages"] + 50

    noop = idx.update_embeddings()
    assert noop["new_messages"] == 0
    assert len(calls) == 1  # untouched on a no-op run


def test_update_embeddings_batch_size_sets_and_restores_arrow(
        spark, tmp_path):
    """The reference tool's batch_size knob maps to the Arrow
    record-batch size for THAT run only: the ingest result is
    identical, and the session conf is restored afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    eng = Engine(spark, SF, str(tmp_path / "s"),
                 update_threshold=10 ** 9)
    up = eng.update_embeddings(batch_size=128)
    assert up["new_messages"] > 0
    assert spark.conf.get(key, None) == old
    twin = Engine(spark, SF, str(tmp_path / "t"),
                  update_threshold=10 ** 9)
    twin.update_embeddings()
    a = {r["message_id"]: r["embedding"]
         for r in eng._store().collect()}
    b = {r["message_id"]: r["embedding"]
         for r in twin._store().collect()}
    assert a == b  # batch size is a throughput knob, not a semantic one


def test_search_many_per_query_limits_and_thresholds(spark, tmp_path):
    """Per-key limit/threshold specs serve once per filter group at
    the widest bound and trim per key — every key's envelope must
    equal a separate search() call with that key's exact bounds, on
    both engines."""
    brute = Engine(spark, SF, str(tmp_path / "b"),
                   update_threshold=10 ** 9)
    brute.update_embeddings()
    idx = Engine(spark, SF, str(tmp_path / "i"),
                 update_threshold=10 ** 9,
                 index_dir=str(tmp_path / "idx"), nlist=4, nprobe=4,
                 shortlist=10 ** 6)
    idx.update_embeddings()
    assert idx.ensure_index()

    batch = {
        "wide": {"query": "test message", "limit": 8,
                 "threshold": -1.0},
        "narrow": {"query": "test message", "limit": 2,
                   "threshold": -1.0},
        "strict": {"query": "hello world", "threshold": 0.2,
                   "limit": 8},
    }

    def strip(env):
        md = dict(env["metadata"])
        md.pop("search_time_ms")
        return {"status": env["status"], "results": env["results"],
                "metadata": md}

    for eng in (brute, idx):
        got = eng.search_many(batch, limit=5, threshold=-1.0)
        for key, v in batch.items():
            single = eng.search(v["query"], limit=v["limit"],
                                threshold=v["threshold"])
            assert strip(got[key]) == strip(single), (key, type(eng))
    assert len(got["narrow"]["results"]) == 2
    assert all(r["sim"] >= 0.2 for r in got["strict"]["results"])


def test_audit_recall_small_store_reports_one(spark, tmp_path):
    """r14 review: recall divides by |truth|, not k — a store smaller
    than k can still be served perfectly, and with min_recall armed
    the old /k denominator (capped at store_size/k < floor) rebuilt
    the whole index on EVERY maintenance pass, forever."""
    eng = Engine(spark, SF, str(tmp_path / "tiny"),
                 update_threshold=10 ** 9,
                 index_dir=str(tmp_path / "tiny_idx"), nlist=2,
                 nprobe=2, shortlist=10 ** 6)
    eng.update_embeddings(max_messages=5)
    assert eng.ensure_index()
    assert eng._embedded_count() < 10  # genuinely below k

    rec = eng.audit_recall(k=10)
    assert rec == 1.0  # exact serving over the whole tiny store

    eng.min_recall = 0.9
    first = eng.maintain_index()
    assert first["rebuilt"] is False  # no runaway rebuild
    assert first["recall"] == 1.0


def test_update_embeddings_new_messages_equals_store_delta(spark, tmp_path):
    """r15 (VERDICT r14 item 1): the envelope's new_messages now comes
    from the ingest plan's O(batch) outputs (upsert-side anti-join on
    the touched buckets), NOT store-wide before/after counts — so pin
    that it still equals the exact store delta, including across a
    CAPPED batch whose catch-up re-reads the inclusive watermark
    boundary (those re-read keys already exist and must not count)."""
    eng = Engine(spark, SF, str(tmp_path / "store"))
    first = eng.update_embeddings(max_messages=400)
    n1 = eng._embedded_count()
    assert first["new_messages"] == n1  # cold store: delta from zero
    second = eng.update_embeddings(max_messages=None)  # catch-up
    n2 = eng._embedded_count()
    assert second["new_messages"] == n2 - n1
    assert second["new_messages"] > 0
    third = eng.update_embeddings()  # no-op run
    assert third["new_messages"] == 0
    assert eng._embedded_count() == n2


def test_update_embeddings_envelope_has_no_store_wide_jobs():
    """The O(batch) pin behind VERDICT r14 item 1, as a source
    tripwire: the envelope must take new_messages and the run's _gen
    from the ingest plan's info dict — re-introducing the old three
    store-wide jobs (embedded-count before/after, max(_gen) over the
    merged store) trips this.  (A job-COUNT pin was tried and dropped:
    the inclusive-watermark boundary re-read makes even a no-op run
    exercise the full O(boundary-batch) upsert machinery, so counts
    can't separate O(batch) from O(store) at fixture scale.)"""
    import inspect

    src = inspect.getsource(Engine.update_embeddings)
    assert "_embedded_count" not in src
    assert 'F.max("_gen")' not in src and "agg(F.max" not in src
    assert "run_info" in src and "new_messages" in src


def test_apply_retention_forgets_store_and_index(spark, tmp_path):
    """Engine.apply_retention: rows older than the cutoff leave BOTH
    the store and the serving index (the facade rendering of
    pipeline_retention_forget); served results contain no expired id,
    re-running with the same cutoff is a no-op, and a pre-first-ingest
    call reports cleanly instead of crashing."""
    import datetime as dt

    from pyspark.sql import functions as F

    cold = Engine(spark, SF, str(tmp_path / "cold_store"),
                  index_dir=str(tmp_path / "cold_idx"))
    out = cold.apply_retention(dt.datetime(2024, 1, 15))
    assert out["status"] == "success" and out["expired"] == 0

    eng = Engine(spark, SF, str(tmp_path / "store"),
                 index_dir=str(tmp_path / "idx"), nlist=8, nprobe=8,
                 shortlist=500)
    eng.update_embeddings()
    assert eng.ensure_index()
    store = eng._store()
    cutoff = store.agg(
        F.max("ts") - F.expr("INTERVAL 7 DAYS")).collect()[0][0]
    expired_ids = {r["message_id"] for r in
                   store.filter(F.col("ts") < F.lit(cutoff))
                   .select("message_id").collect()}
    n_before = eng._embedded_count()
    assert expired_ids and len(expired_ids) < n_before

    out = eng.apply_retention(cutoff)
    assert out["expired"] == len(expired_ids)
    assert out["store"]["dropped"] or out["store"]["rewritten"]
    assert out["index_cells"]  # the erase reached the index
    assert eng._embedded_count() == n_before - len(expired_ids)
    # nothing expired is served (exhaustive probe, store-sized
    # shortlist -> any surviving copy WOULD surface)
    res = eng.search("test message", limit=50, threshold=-1.0)
    served = {r["message_id"] for r in res["results"]}
    assert served and not served & expired_ids
    # and the index's vectors store holds no expired key at all
    import os
    vecs = spark.read.parquet(os.path.join(str(tmp_path / "idx"),
                                           "vectors"))
    assert vecs.filter(F.col("message_id").isin(
        list(expired_ids)[:50])).count() == 0
    # idempotent re-run
    again = eng.apply_retention(cutoff)
    assert again["expired"] == 0 and again["index_cells"] == []


def test_apply_retention_forgets_text_index(spark, tmp_path):
    """Engine.apply_retention must reach the TEXT serving surface too
    (VERDICT r15 item 1: TTL previously swept store + ANN index while
    BM25 kept serving expired docs).  Proven from the index ALONE —
    search_text never reads the store — then compaction is run and
    serving must be unchanged (the tombstone path and the physical
    removal agree)."""
    import datetime as dt  # noqa: F401 (parity with the ANN twin)
    import os

    from pyspark.sql import functions as F

    from msg_vector_search_spark.operators import retrieval

    text_dir = str(tmp_path / "tidx")
    eng = Engine(spark, SF, str(tmp_path / "store"),
                 text_index_dir=text_dir)
    # two-stage ingest: the index built after stage 1 must advance
    # with stage 2's batch (the ingest-time upsert)
    eng.update_embeddings(max_messages=40)
    assert eng.ensure_text_index()
    n_indexed = spark.read.parquet(
        os.path.join(text_dir, "doclen")).count()
    eng.update_embeddings()
    n_after = (retrieval.search_inverted_index(
        spark, text_dir, []).count(),  # schema probe only
        spark.read.parquet(os.path.join(text_dir, "doclen")).count())
    assert n_after[1] > n_indexed  # the upsert landed stage 2's docs

    store = eng._store()
    cutoff = store.agg(
        F.max("ts") - F.expr("INTERVAL 7 DAYS")).collect()[0][0]
    expired = (store.filter(F.col("ts") < F.lit(cutoff))
               .select("message_id", "message_text").collect())
    assert expired
    expired_ids = {r["message_id"] for r in expired}
    # a token guaranteed to hit an expired doc pre-retention
    probe_tok = str(expired[0]["message_text"]).lower().split()[0]
    pre = eng.search_text([probe_tok], limit=100_000)
    assert expired[0]["message_id"] in {r["message_id"] for r in pre}

    out = eng.apply_retention(cutoff)
    assert out["text_index_tombstoned"] == len(expired_ids)
    post = eng.search_text([probe_tok], limit=100_000)
    assert not {r["message_id"] for r in post} & expired_ids
    # full-surface sweep: NO term serves any expired id
    alive = retrieval.search_inverted_index(
        spark, text_dir,
        sorted({t for r in expired
                for t in str(r["message_text"]).lower().split()})[:4])
    assert alive.filter(
        F.col("message_id").isin(list(expired_ids))).count() == 0
    # compaction (the physical-removal verb) preserves serving and
    # clears the tombstone backlog the retention append created
    retrieval.compact_inverted_index(spark, text_dir)
    assert retrieval._tombstone_file_count(text_dir) == 0
    post2 = eng.search_text([probe_tok], limit=100_000)
    assert [(r["message_id"], round(r["score"], 9)) for r in post2] == \
        [(r["message_id"], round(r["score"], 9)) for r in post]
    # idempotent re-run: zero victims, zero tombstones appended
    again = eng.apply_retention(cutoff)
    assert again["expired"] == 0 and again["text_index_tombstoned"] == 0


def test_search_hybrid_fuses_both_surfaces_and_honors_retention(
        spark, tmp_path):
    """Engine.search_hybrid: one query served from BOTH persisted
    indexes (BM25 leg + ANN leg, RRF-fused), and apply_retention
    removes expired docs from the FUSED result — the two-surface
    retention story in one verb."""
    from pyspark.sql import functions as F

    eng = Engine(spark, SF, str(tmp_path / "store"),
                 index_dir=str(tmp_path / "idx"), nlist=8, nprobe=8,
                 shortlist=500, text_index_dir=str(tmp_path / "tidx"))
    # before any ingest: a clean error envelope, not a crash
    cold = eng.search_hybrid("anything")
    assert cold["status"] == "error"

    eng.update_embeddings()
    # probe with a token that EXISTS in the corpus (the kw leg must
    # contribute; the fixture text is synthetic, so derive the term
    # from a stored message instead of guessing English)
    probe_tok = str(eng._store().select("message_text").first()[0]) \
        .lower().split()[0]
    res = eng.search_hybrid("test message", limit=20,
                            terms=[probe_tok])
    assert res["status"] == "success" and res["results"]
    top = res["results"][0]
    assert {"message_id", "rrf"} <= set(top)
    rrfs = [r["rrf"] for r in res["results"]]
    assert rrfs == sorted(rrfs, reverse=True)
    # BOTH legs contribute to the fused set (the deterministic fake
    # encoder isn't text-semantic, so same-doc overlap between the
    # legs is coincidence — what must hold is that neither leg's
    # results were dropped by the fusion)
    assert any(r.get("rank_kw") is not None for r in res["results"])
    assert any(r.get("rank_vec") is not None for r in res["results"])

    store = eng._store()
    cutoff = store.agg(
        F.max("ts") - F.expr("INTERVAL 7 DAYS")).collect()[0][0]
    expired_ids = {r["message_id"] for r in
                   store.filter(F.col("ts") < F.lit(cutoff))
                   .select("message_id").collect()}
    assert expired_ids
    out = eng.apply_retention(cutoff)
    assert out["text_index_tombstoned"] == len(expired_ids)
    post = eng.search_hybrid("test message", limit=200,
                             terms=[probe_tok])
    assert post["results"]
    assert not {r["message_id"] for r in post["results"]} & expired_ids


def test_engine_autosized_index_passthrough(spark, tmp_path):
    """nlist=None through the facade defers to build_index's own
    auto-sizing (max(16, isqrt(N)) — VERDICT r17 item 4): the derived
    cell count lands in the meta sidecar every later verb follows,
    and indexed serving equals brute-force serving in exact mode, so
    a facade over a growing store no longer pins a 16-cell layout."""
    import math

    from msg_vector_search_spark.operators import ann_index

    brute = Engine(spark, SF, str(tmp_path / "b"),
                   update_threshold=10 ** 9)
    brute.update_embeddings()
    auto = Engine(spark, SF, str(tmp_path / "i"),
                  update_threshold=10 ** 9,
                  index_dir=str(tmp_path / "idx"), nlist=None,
                  shortlist=10 ** 6)
    auto.update_embeddings()
    assert auto.ensure_index()

    meta = ann_index.read_meta(auto.index_dir)
    n = auto._store().count()
    assert meta["nlist"] == max(16, math.isqrt(int(n)))
    # exact-mode parity: probe every derived cell
    auto.nprobe = meta["nlist"]

    def strip(env):
        md = dict(env["metadata"])
        md.pop("search_time_ms")
        return {"status": env["status"], "results": env["results"],
                "metadata": md}

    a = brute.search("test message", limit=5, threshold=-1.0)
    b = auto.search("test message", limit=5, threshold=-1.0)
    assert strip(a) == strip(b)


def test_warm_serve_job_counts(spark, tmp_path):
    """Spark jobs launched by one warm call of each serving verb on a
    small engine (ANN + text index, one tombstoned doc), pinned: every
    store the serve reads is typed from its writer's footer schema, so
    a read that goes back to Spark's schema inference shows up here as
    one more job.  The fixed clock keeps the freshness gap cached, so
    a warm call runs no gate job.

    Writes keep it cached too: an ingest that drains the source
    records gap 0 and retention leaves the gap standing, so the first
    search after either costs what a warm one does.  Uncached, the
    gate's only jobs are the watermark-pruned count's: the watermark
    and the source schema are read on the driver."""
    import datetime as dt

    from msg_vector_search_spark.operators import retrieval

    eng = Engine(spark, SF, str(tmp_path / "store"), clock=lambda: 0.0,
                 index_dir=str(tmp_path / "ann"), nlist=4,
                 text_index_dir=str(tmp_path / "text"))
    eng.update_embeddings()
    assert eng.ensure_index() and eng.ensure_text_index()
    retrieval.delete_inverted_docs(
        eng._store().orderBy("message_id").select("message_id").limit(1),
        eng.text_index_dir, id_col="message_id")
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(verb) -> int:
        before = sched.numTotalJobs()
        verb()
        return sched.numTotalJobs() - before

    def warm_jobs(verb) -> int:
        verb()
        return jobs(verb)

    # search: the single-query index serve's 2 jobs, then 1 keyed
    # payload read
    assert warm_jobs(lambda: eng.search("k 43", limit=5,
                                        threshold=-1.0)) == 3
    assert warm_jobs(lambda: eng.search_text(["k", "43"], limit=5)) == 9
    assert warm_jobs(lambda: eng.search_hybrid("k 43", limit=5)) == 11
    assert warm_jobs(lambda: eng.search_many(
        {0: "k 43", 1: "k 87"}, limit=5, threshold=-1.0)) == 6
    # the pins count matching serves, not empty ones
    assert eng.search_text(["k", "43"], limit=5)

    def search():
        return eng.search("k 43", limit=5, threshold=-1.0)

    eng.update_embeddings()
    assert jobs(search) == 3
    eng.apply_retention(dt.datetime(1999, 1, 1))
    assert jobs(search) == 3
    eng._gap_cache = None
    assert jobs(eng._freshness_gap) == 2


def test_capped_ingest_leaves_gap_and_incremental_job_count(
        spark, tmp_path):
    """A capped ingest that leaves source rows behind records no gap:
    the next gap check counts the rows it left.  One incremental
    ingest of new rows is pinned at its job count: its watermark and
    source-schema reads run on the driver, and the drained check rides
    the watermark aggregate it already runs."""
    eng = Engine(spark, SF, str(tmp_path / "store"), clock=lambda: 0.0)
    n_events = spark.read.parquet(SF + "/events.parquet").count()
    # ts is unique in the fixture, so a cap of 200 consumes exactly
    # the 200 earliest rows
    assert (spark.read.parquet(SF + "/events.parquet")
            .select("ts").distinct().count() == n_events)
    eng.update_embeddings(max_messages=200)
    assert eng._gap_cache is None
    assert eng._freshness_gap() == n_events - 200
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    up = eng.update_embeddings(max_messages=200)
    assert sched.numTotalJobs() - before == 33
    # the inclusive watermark predicate re-reads the boundary row, so
    # the second batch of 200 takes 199 new rows
    assert up["new_messages"] == 199
    assert eng._freshness_gap() == n_events - 399
    eng.update_embeddings(max_messages=None)
    assert eng._gap_cache == (0.0, 0)
    assert (Engine(spark, SF, eng.store_dir)._freshness_gap()
            == eng._freshness_gap() == 0)
