"""Streaming + batch-incremental coverage (SURVEY 2.H, plans 3.2).

The streaming tumbling-window query must agree with its batch twin;
the incremental ingest pipeline must be idempotent (H5) and advance its
watermark; the watermark clamp guards (H2) mirror the reference's
corruption handling (src/core/database/processor.py:62-69).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from msg_vector_search_spark.plans import ingest
from msg_vector_search_spark.sources import readers, state
from msg_vector_search_spark.streaming import incremental, stream

SF = "/root/testdata/sf0.001"


def batch_tumbling(spark):
    events = readers.read_table(spark, SF, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n", "sum_value")
    )


def as_set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_stream_complete_matches_batch(spark):
    got = stream.run_stream_once(spark, SF, query_name="t_complete",
                                 output_mode="complete")
    want = batch_tumbling(spark)
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert as_set(got, cols) == as_set(want, cols)


def test_stream_append_emits_only_finalized_windows(spark):
    got = stream.run_stream_once(spark, SF, query_name="t_append",
                                 output_mode="append")
    batch = batch_tumbling(spark)
    max_ts = readers.read_table(spark, SF, "events") \
        .agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - dt.timedelta(hours=2)
    finalized = batch.filter(F.col("window_end") <= F.lit(watermark))
    cols = ["window_start", "event_type", "n", "sum_value"]
    got_set = as_set(got, cols)
    assert got_set == as_set(finalized, cols)
    # sanity: the trailing windows really were held back in state
    assert len(got_set) < batch.count()


def test_ingest_idempotent_and_watermark_advances(spark, tmp_path):
    store = str(tmp_path / "store")
    first = ingest.ingest_batch(spark, SF, store)
    n_first = first.count()
    assert n_first > 0
    # watermark advanced to the max ingested ts
    wm = state.read_watermark(spark, store)
    max_ts = readers.read_table(spark, SF, "events") \
        .agg(F.max("ts")).collect()[0][0]
    assert wm == max_ts
    # re-run: no new rows, no duplicates (H5 idempotence)
    again = ingest.run_incremental(spark, SF, store)
    assert again.count() == n_first
    ids = again.groupBy("message_id").count().filter(F.col("count") > 1)
    assert ids.count() == 0


def test_ingest_backfill_cap_then_catch_up(spark, tmp_path):
    store = str(tmp_path / "store")
    capped = ingest.ingest_batch(spark, SF, store, max_messages=50)
    # cap bounds the SCANNED rows; empties among them are consumed, not stored
    assert 0 < capped.count() <= 50
    # the capped batch's watermark must let a later run catch up
    rest = ingest.run_incremental(spark, SF, store)
    full_store = str(tmp_path / "full")
    full = ingest.ingest_batch(spark, SF, full_store)
    assert rest.count() == full.count()
    assert as_set(rest, ["message_id"]) == as_set(full, ["message_id"])
    # the strong form: capped-then-catch-up must equal the single full
    # ingest INCLUDING the lag/lead context — the batch-boundary rows'
    # prev/next are stitched from the store, and the stored boundary
    # rows' stale next_text is repaired by the catch-up run
    ctx = ["message_id", "prev_text", "next_text", "user_name"]
    assert as_set(rest, ctx) == as_set(full, ctx)


def test_watermark_clamp_guards(spark):
    as_of = dt.datetime(2026, 1, 1)
    rows = [
        (dt.datetime(2030, 1, 1),),   # future -> epoch
        (dt.datetime(2010, 1, 1),),   # >10y old -> as_of - 30d
        (dt.datetime(2025, 12, 1),),  # sane -> unchanged
    ]
    df = spark.createDataFrame(rows, ["ts"])
    got = [r[0] for r in df.select(
        state.clamp_watermark(F.col("ts"), F.lit(as_of)).alias("c")
    ).collect()]
    assert got[0] == state.EPOCH
    assert got[1] == as_of - dt.timedelta(days=30)
    assert got[2] == dt.datetime(2025, 12, 1)


def test_backlog_tiers():
    assert incremental.backlog_tier(1_000) == "small"
    assert incremental.backlog_tier(30_000) == "medium"
    assert incremental.backlog_tier(60_000) == "large"
    assert incremental.backfill_caps(60_000) == (5_000, 250)


def test_seven_day_reset():
    oldest = dt.datetime(2026, 1, 1)
    newest = dt.datetime(2026, 3, 1)
    stale = dt.datetime(2025, 12, 1)
    assert incremental.seven_day_reset(stale, oldest, newest) == \
        newest - dt.timedelta(days=7)
    ok = dt.datetime(2026, 2, 1)
    assert incremental.seven_day_reset(ok, oldest, newest) == ok


def test_stateful_sessionize_matches_batch_gaps(spark):
    """Closed sessions from applyInPandasWithState == batch lag-gap
    sessionization minus each user's trailing (still-open) session."""
    gap_min = 30
    got = stream.run_stateful_sessions(spark, SF, gap_minutes=gap_min)

    events = readers.read_table(spark, SF, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = (events.withColumn("prev_ts", F.lag("ts").over(w))
              .withColumn("new_s", F.when(
                  F.col("prev_ts").isNull() |
                  ((F.col("ts").cast("long") - F.col("prev_ts").cast("long"))
                   > gap_min * 60), 1).otherwise(0)))
    sess = (gapped.withColumn("s_id", F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "s_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events")))
    # drop each user's last (open) session — the stateful op holds it back
    last = sess.groupBy("user_id").agg(F.max("s_id").alias("last_id"))
    closed = (sess.join(last, "user_id")
              .filter(F.col("s_id") != F.col("last_id")))
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert as_set(got, cols) == as_set(closed, cols)
    assert got.count() > 0


def test_stream_foreachbatch_upsert_idempotent(spark, tmp_path):
    """Streaming -> foreachBatch upsert: all rows land exactly once,
    and replaying the whole stream (fresh checkpoint) changes nothing."""
    store = str(tmp_path / "stream_store")
    stream.stream_upsert(spark, SF, store, query_name="su1")
    events = readers.read_table(spark, SF, "events")
    stored = spark.read.parquet(store)
    assert stored.count() == events.count()
    # replay from scratch: upsert keeps the table identical
    stream.stream_upsert(spark, SF, store, query_name="su2")
    again = spark.read.parquet(store)
    assert again.count() == events.count()
    dups = again.groupBy("event_id").count().filter(F.col("count") > 1)
    assert dups.count() == 0


def test_stream_dedup_keeps_one_row_per_key(spark):
    got = stream.run_stream_dedup(spark, SF, query_name="t_dedup")
    events = readers.read_table(spark, SF, "events")
    n_keys = events.select(
        F.expr("event_id div 2").alias("mid")).distinct().count()
    assert got.count() == n_keys                      # one survivor per key
    assert got.select("mid").distinct().count() == n_keys
    # survivors are genuine source rows (key = id div 2 holds)
    bad = got.filter(F.expr("mid != event_id div 2")).count()
    assert bad == 0


def test_watermark_maintenance_verbs(spark, tmp_path):
    import datetime as dt

    from msg_vector_search_spark.sources import state

    sd = str(tmp_path / "state")
    # delete on absent state reports absence
    assert state.delete_watermark(sd) is False

    t1 = dt.datetime(2026, 1, 1, 12, 0, 0)
    state.write_watermark(spark, sd, t1)
    assert state.read_watermark(spark, sd) == t1

    # reset returns the previous value and installs the new one
    t2 = dt.datetime(2026, 2, 2, 0, 0, 0)
    prev = state.reset_watermark(spark, sd, t2)
    assert prev == t1 and state.read_watermark(spark, sd) == t2

    # force-delete -> next read is epoch (full reprocess)
    assert state.delete_watermark(sd) is True
    assert state.read_watermark(spark, sd) == state.EPOCH


def test_check_timestamps_sanity(spark, tmp_path):
    import datetime as dt

    from msg_vector_search_spark.sources import state

    sd = str(tmp_path / "state")
    msgs = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1)), (2, dt.datetime(2026, 1, 10))],
        "id long, ts timestamp")
    # no state: epoch watermark counts as sane (full scan is intended)
    rep = state.check_timestamps(spark, msgs, sd)
    assert rep["watermark_in_range"] is True and rep["watermark"] == state.EPOCH

    state.write_watermark(spark, sd, dt.datetime(2026, 1, 5))
    assert state.check_timestamps(spark, msgs, sd)["watermark_in_range"]

    # a FUTURE watermark is already handled upstream: the H2 clamp in
    # read_watermark folds it to epoch, which is in-range by intent
    state.write_watermark(spark, sd, dt.datetime(2027, 6, 1))
    rep = state.check_timestamps(spark, msgs, sd)
    assert rep["watermark"] == state.EPOCH
    assert rep["watermark_in_range"] is True

    # past but outside the source range (and recent enough to dodge the
    # 10-year clamp): the insane case the verb exists to flag
    state.write_watermark(spark, sd, dt.datetime(2020, 1, 1))
    rep = state.check_timestamps(spark, msgs, sd)
    assert rep["watermark_in_range"] is False
    assert rep["min_ts"] == dt.datetime(2026, 1, 1)
    assert rep["max_ts"] == dt.datetime(2026, 1, 10)


def test_stream_interval_join_equals_batch_twin(spark):
    """The stream-stream interval join over the bounded fixture must
    equal the batch interval join row-for-row (inner-join emission
    needs no finalization), and the physical execution must be the
    symmetric stateful join, not a batch rewrite."""
    import pyspark.sql.functions as F

    from msg_vector_search_spark.sources import readers
    from msg_vector_search_spark.streaming import stream as S

    sd = "/root/testdata/sf0.001"
    out = S.stream_interval_join(spark, sd, "t_ivjoin_unit")
    ev = readers.read_table(spark, sd, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("cts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
    batch = (c.join(p, (F.col("user_id") == F.col("pu"))
                    & (F.col("pts") >= F.col("cts"))
                    & (F.col("pts") <= F.col("cts")
                       + F.expr("INTERVAL 1 HOUR")))
             .select("click_id", "purchase_id", "user_id",
                     (F.unix_timestamp("pts")
                      - F.unix_timestamp("cts")).alias("delay_s")))
    got = sorted(tuple(r) for r in out.collect())
    exp = sorted(tuple(r) for r in batch.collect())
    assert got == exp and len(got) > 0


def test_ingest_empty_batch_on_fresh_store_is_graceful(spark, tmp_path):
    """First-ever ingest that scans zero rows (watermark already past
    the source's max ts) must return an empty frame — not write a
    data-less store directory that read_store can't infer a schema
    from, and not crash."""
    import os

    store = str(tmp_path / "empty_store")
    future = dt.datetime(2030, 1, 1)
    out = ingest.ingest_batch(spark, SF, store, watermark=future)
    assert out.count() == 0
    assert not os.path.exists(
        os.path.join(store, "message_embeddings.parquet"))
    # and the run is repeatable (still nothing new, still no crash)
    out2 = ingest.ingest_batch(spark, SF, store, watermark=future)
    assert out2.count() == 0


def test_stateful_sessionize_group_spanning_arrow_chunks(spark, tmp_path):
    """A group larger than one Arrow batch reaches the stateful
    sessionizer as MULTIPLE chunks in shuffle-read order, not time
    order.  With rows arriving newest-first and maxRecordsPerBatch
    tiny, a per-chunk gap scan would regress session_end backwards and
    mis-assemble sessions; the operator must sort the whole group
    once.  Two true sessions an hour apart: the earlier closes, the
    later stays open in state."""
    import datetime as _dt
    import tempfile as _tf

    from pyspark.sql import Row

    base = _dt.datetime(2024, 1, 1, 10, 0, 0)
    early = [base + _dt.timedelta(minutes=i) for i in range(10)]
    late = [base + _dt.timedelta(hours=3, minutes=i) for i in range(10)]
    rows = [Row(user_id=7, ts=t) for t in (early + late)]
    rows.reverse()  # newest-first file order -> descending chunks

    src = str(tmp_path / "chunk_src")
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)

    old_arrow = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        schema = "user_id long, ts timestamp"
        src_stream = spark.readStream.schema(schema).parquet(src)
        sessions = stream.stateful_sessionize(src_stream,
                                              gap_minutes=30)
        ckpt = _tf.mkdtemp(prefix="ckpt_chunks_")
        with stream._state_partitions(spark):
            q = (sessions.writeStream.outputMode("append")
                 .format("memory").queryName("chunk_sessions")
                 .option("checkpointLocation", ckpt).start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old_arrow)

    got = spark.sql("SELECT * FROM chunk_sessions").collect()
    assert len(got) == 1  # exactly the earlier session closed
    (s,) = got
    assert s["session_start"] == early[0]
    assert s["session_end"] == early[-1]
    assert s["n_events"] == 10


def test_budget_admit_state_survives_micro_batches(spark):
    """The streaming budget gate's cross-batch contract: driven one
    file-group at a time (maxFilesPerTrigger=1 over a 3-file copy of
    the fixture), consumed-token state carries across micro-batches
    and a source CLOSED by an overflow in batch k admits nothing in
    batch k+1 even if smaller docs arrive later — FCFS semantics, not
    per-batch re-filtering."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from msg_vector_search_spark.streaming import stream as stream_ops

    d = tempfile.mkdtemp(prefix="budgetstream_")
    try:
        # three files arriving in name order: doc_ids descend across
        # files so later batches carry SMALLER ids (which a per-batch
        # re-filter would wrongly admit after closure)
        rows = [(i, "s0", " ".join(["tok"] * 4)) for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        for name, lo, hi in [("a", 20, 30), ("b", 10, 20), ("c", 0, 10)]:
            (df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
             .coalesce(1).write.parquet(f"{d}/part_{name}"))
            for f in __import__("os").listdir(f"{d}/part_{name}"):
                if f.endswith(".parquet"):
                    shutil.move(f"{d}/part_{name}/{f}", f"{d}/{name}.parquet")
            shutil.rmtree(f"{d}/part_{name}")

        ckpt = tempfile.mkdtemp(prefix="ckpt_budget_")
        docs = (spark.readStream.schema("doc_id long, source string, text string")
                .format("parquet").option("maxFilesPerTrigger", 1)
                .load(f"{d}/[abc].parquet")
                .select("doc_id", "source", F.lit(4).cast("long").alias("n_tokens")))
        admitted = stream_ops.stateful_budget_admit(docs, {"s0": 30})
        q = (admitted.writeStream.outputMode("append")
             .format("memory").queryName("budget_mb")
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable(); q.stop()
        got = {r["doc_id"]: r["cum_tokens"]
               for r in spark.sql("SELECT * FROM budget_mb").collect()}
        # batch 1 (ids 20..29): 7 docs fit (28 tokens), id 27 overflows
        # -> closed; batches 2-3 (ids 10..19, 0..9) admit NOTHING
        assert got == {20 + i: 4 * (i + 1) for i in range(7)}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_index_upsert_maintenance_rebuilds_once(spark, tmp_path):
    """The in-stream maintenance lifecycle (VERDICT r12 item 6): build
    on 90% of the corpus, stream the remaining 10% in three
    micro-batches with a 5% growth trigger evaluated per batch —
    growth crosses the threshold exactly once mid-stream (the rebuild
    resets the baseline, so later batches sit under it again), the
    rebuild is staged + swapped without breaking ingestion, and
    post-stream serving finds the streamed vectors."""
    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    path = str(tmp_path / "index")
    ann_index.build_index(spark, base, path, nlist=16, m=8, ncodes=16)

    src = str(tmp_path / "incoming")
    batch.repartition(3).write.parquet(src)
    decisions = stream.stream_index_upsert(
        spark, path, src, batch.schema,
        maintain_every=1, rebuild_growth=0.05,
        query_name="sim_upkeep")

    assert len(decisions) == 3                      # policy ran per batch
    assert [d["rebuilt"] for d in decisions].count(True) == 1
    rebuilt = next(d for d in decisions if d["rebuilt"])
    assert rebuilt["reason"] == "growth" and rebuilt["growth"] > 0.05
    # the rebuild reset the baseline: the decision AFTER it reads fresh
    after = decisions[decisions.index(rebuilt) + 1:]
    assert all(d["growth"] <= 0.05 for d in after)
    # final stats observe the full corpus; serving finds a streamed key
    sig = ann_index.index_maintenance_stats(spark, path)
    assert sig["total_rows"] == emb.count()
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 3).select("embedding").head()[0]]
    served = ann_index.search_index(spark, path, qv, k=10,
                                    nprobe=4, shortlist=50)
    assert 3 in {r["vec_id"] for r in served.collect()}


def test_maintenance_stats_backfills_unknown_baseline(spark, tmp_path):
    """An index whose meta predates ``n_rows`` has no growth baseline.
    The stats read no longer backfills one: it and maintain_index
    refuse the index with a message naming rebuild_index, leaving the
    meta as it was; rebuild_index records the baseline, after which
    growth reads 0.0 and rises with an upsert."""
    import json
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "index")
    ann_index.build_index(spark, emb.filter(F.col("vec_id") < 400),
                          path, nlist=8, m=8, ncodes=16)
    meta_path = os.path.join(path, ann_index.META_FILE)
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["n_rows"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    for verb in (lambda: ann_index.index_maintenance_stats(spark, path),
                 lambda: ann_index.maintain_index(spark, path, force=True)):
        with pytest.raises(ValueError, match="rebuild_index"):
            verb()
    with open(meta_path) as f:
        assert json.load(f) == meta

    ann_index.rebuild_index(spark, path)
    sig = ann_index.index_maintenance_stats(spark, path)
    assert sig["growth"] == 0.0
    assert ann_index.read_meta(path)["n_rows"] == sig["total_rows"]

    ann_index.upsert_index(spark, path,
                           emb.filter(F.col("vec_id") >= 400))
    assert ann_index.index_maintenance_stats(spark, path)["growth"] > 0.0


def test_stateful_sessionize_late_events_across_batches(spark, tmp_path):
    """r14 review: late events spanning micro-batches.  Batch 1 opens
    a session (10:00-10:30).  Batch 2 delivers (a) an event >gap
    BEFORE it — must close as its OWN one-event session, not fold in —
    and (b) an event within the gap before session_start — must extend
    the open session BACKWARDS.  Batch 3 closes the open session with
    a >gap event, exposing the state for assertion."""
    import datetime as _dt
    import tempfile as _tf

    from pyspark.sql import Row

    t = lambda h, m: _dt.datetime(2024, 1, 1, h, m, 0)
    src = str(tmp_path / "late_src")
    batches = [
        [Row(user_id=1, ts=t(10, 0)), Row(user_id=1, ts=t(10, 30))],
        [Row(user_id=1, ts=t(8, 0)), Row(user_id=1, ts=t(9, 45))],
        [Row(user_id=1, ts=t(15, 0))],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows).coalesce(1).write.mode(
            "append" if i else "overwrite").parquet(src)

    # drive ALL files through one query with maxFilesPerTrigger=1 so
    # each write lands (coalesced) in its own micro-batch
    schema = "user_id long, ts timestamp"
    src_stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
    sessions = stream.stateful_sessionize(src_stream, gap_minutes=30)
    ckpt = _tf.mkdtemp(prefix="ckpt_late_")
    with stream._state_partitions(spark):
        q = (sessions.writeStream.outputMode("append")
             .format("memory").queryName("late_sessions")
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    got = sorted(((r["session_start"], r["session_end"], r["n_events"])
                  for r in spark.sql(
                      "SELECT * FROM late_sessions").collect()))
    # 08:00 closed alone; the open session extended back to 09:45 and
    # closed by the 15:00 event (which stays open in state)
    assert got == [(t(8, 0), t(8, 0), 1),
                   (t(9, 45), t(10, 30), 3)]
