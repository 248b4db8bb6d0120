"""Physical-layout scale artifacts: bucketed co-located joins (no
exchange) and skew salting (result parity with the plain join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from msg_vector_search_spark.operators import enrich
from msg_vector_search_spark.sources import bucketed, readers, sinks

from conftest import file_tree

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    emb = readers.read_table(spark, SF, "embeddings")
    left = emb.select("vec_id", "label")
    right = emb.select(F.col("vec_id").alias("vec_id"),
                       F.col("embedding"))
    bucketed.write_bucketed(left, "b_left", "vec_id", 4,
                            path=str(tmp_path / "b_left"))
    bucketed.write_bucketed(right, "b_right", "vec_id", 4,
                            path=str(tmp_path / "b_right"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_left").join(spark.table("b_right"), "vec_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == left.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def test_salted_join_equals_plain_join(spark):
    events = readers.read_table(spark, SF, "events")
    # event_type is low-cardinality -> every key is 'hot'
    dim = (events.select("event_type").distinct()
           .withColumn("type_label", F.upper("event_type")))
    plain = events.join(dim, "event_type")
    salted = enrich.salted_join(events, dim, "event_type",
                                unique_col="event_id", n_salts=8)
    assert salted.count() == plain.count()
    a = {tuple(r) for r in
         salted.select("event_id", "type_label").collect()}
    b = {tuple(r) for r in
         plain.select("event_id", "type_label").collect()}
    assert a == b


def _partition_state(path):
    """(relative file path -> (size, mtime_ns)) for every parquet data
    file, grouped by bucket directory."""
    import os
    state = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, path)
            st = os.stat(p)
            state[rel] = (st.st_size, st.st_mtime_ns)
    return state


def test_upsert_touches_only_incoming_buckets(spark, tmp_path):
    """The incremental upsert must leave every bucket the batch does not
    hash into byte-identical (same files, sizes, mtimes): the property
    that makes ingest O(batch), not O(table), at 100 TB."""
    from pyspark.sql import Row

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [Row(k=i, v=f"v{i}", ord=1) for i in range(500)])
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         num_buckets=16)
    before = _partition_state(store)
    assert before, "first write produced no partition files"

    # a 2-row batch touches at most 2 of the 16 buckets
    batch = spark.createDataFrame(
        [Row(k=3, v="updated", ord=2), Row(k=999, v="new", ord=2)])
    sinks.upsert_parquet(spark, batch, store, key="k", order_col="ord",
                         num_buckets=16)
    after = _partition_state(store)

    touched_buckets = {
        r[0] for r in batch.withColumn(
            sinks.BUCKET_COL, sinks.bucket_of("k", 16))
        .select(sinks.BUCKET_COL).distinct().collect()}
    for rel, sig in before.items():
        bucket = int(rel.split("=")[1].split("/")[0])
        if bucket not in touched_buckets:
            assert after.get(rel) == sig, f"untouched {rel} was rewritten"

    # semantics: last-writer-wins, new key inserted, nothing lost
    final = sinks.read_store(spark, store)
    assert final.count() == 501
    assert final.filter(F.col("k") == 3).collect()[0]["v"] == "updated"
    assert final.filter(F.col("k") == 999).count() == 1


def test_upsert_range_layout_batch_proportional(spark, tmp_path):
    """The scale criterion: a >=1k-key batch against a >=100k-row store
    rewrites only batch-proportional partitions.  With the range layout
    an arrival-ordered batch (new ids + updates to recent ids) is
    contiguous in key space, so it lands in O(batch/range_width)
    directories however large the store is — the property that keeps
    ingest O(batch) at 100 TB."""
    store = str(tmp_path / "range_store")
    base = (spark.range(100_000)
            .select(F.col("id").cast("string").alias("k"),
                    F.concat(F.lit("v"), F.col("id")).alias("v"),
                    F.lit(1).alias("ord")))
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         layout="range", range_width=1000)
    meta = sinks._read_layout(store)
    assert meta == {"layout": "range", "range_width": 1000}
    before = _partition_state(store)
    n_parts = {rel.split("=")[1].split("/")[0] for rel in before}
    assert len(n_parts) == 100  # 100k keys / width 1000

    # arrival-ordered batch: 800 brand-new ids + 300 updates to the
    # most recent ids -> 1100 distinct keys spanning ranges 99-100
    batch = (spark.range(99_000, 100_800)
             .filter((F.col("id") >= 100_000) | (F.col("id") < 99_300))
             .select(F.col("id").cast("string").alias("k"),
                     F.lit("updated").alias("v"),
                     F.lit(2).alias("ord")))
    assert batch.count() == 1100
    sinks.upsert_parquet(spark, batch, store, key="k", order_col="ord")
    after = _partition_state(store)

    rewritten = {rel.split("=")[1].split("/")[0]
                 for rel, sig in before.items() if after.get(rel) != sig}
    rewritten |= {rel.split("=")[1].split("/")[0]
                  for rel in after if rel not in before}
    # 1100 contiguous keys / width 1000 -> at most 3 ranges touched, out
    # of ~101 directories; everything else byte-identical
    assert len(rewritten) <= 3, f"rewrote {len(rewritten)} partitions"
    untouched = n_parts - rewritten
    assert len(untouched) >= 97
    for rel, sig in before.items():
        if rel.split("=")[1].split("/")[0] in untouched:
            assert after.get(rel) == sig, f"untouched {rel} was rewritten"

    final = sinks.read_store(spark, store)
    assert final.count() == 100_800
    assert final.filter(F.col("v") == "updated").count() == 1100


def test_upsert_hash_auto_sizes_buckets(spark, tmp_path):
    """With no explicit num_buckets the first write sizes the hash
    layout from the initial load (~TARGET_KEYS_PER_BUCKET keys per
    bucket), instead of freezing 64 buckets for any store size."""
    from pyspark.sql import Row

    store = str(tmp_path / "auto_store")
    base = (spark.range(20_000)
            .select(F.col("id").alias("k"), F.lit(1).alias("ord")))
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord")
    meta = sinks._read_layout(store)
    assert meta["layout"] == "hash"
    expected = 20_000 // sinks.TARGET_KEYS_PER_BUCKET
    # approx_count_distinct sizing: within 10% of the exact count
    assert 0.9 * expected <= meta["num_buckets"] <= 1.1 * expected

    # a tiny store still gets the floor
    tiny = str(tmp_path / "tiny_store")
    sinks.upsert_parquet(
        spark, spark.createDataFrame([Row(k=1, ord=1)]), tiny,
        key="k", order_col="ord")
    assert sinks._read_layout(tiny)["num_buckets"] == sinks.DEFAULT_BUCKETS


def test_upsert_stored_bucket_count_is_authoritative(spark, tmp_path):
    """A later caller passing a different num_buckets must NOT re-hash
    the store: the persisted layout wins, directories stay put, and
    last-writer-wins still holds (a silent count change would scatter
    keys across buckets and break per-bucket dedup)."""
    from pyspark.sql import Row

    store = str(tmp_path / "auth_store")
    base = spark.createDataFrame(
        [Row(k=i, v="old", ord=1) for i in range(200)])
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         num_buckets=16)
    import os
    dirs_before = {d for d in os.listdir(store)
                   if d.startswith(sinks.BUCKET_COL + "=")}
    assert len(dirs_before) == 16

    batch = spark.createDataFrame([Row(k=7, v="new", ord=2)])
    sinks.upsert_parquet(spark, batch, store, key="k", order_col="ord",
                         num_buckets=32)  # must be ignored
    assert sinks._read_layout(store) == {"layout": "hash",
                                         "num_buckets": 16}
    dirs_after = {d for d in os.listdir(store)
                  if d.startswith(sinks.BUCKET_COL + "=")}
    assert dirs_after == dirs_before
    final = sinks.read_store(spark, store)
    assert final.count() == 200
    assert final.filter(F.col("k") == 7).collect()[0]["v"] == "new"


def test_upsert_drops_null_keys_and_bucketed_dedup_matches(spark, tmp_path):
    """NULL-key rows are dropped by the sink (primary-key semantics);
    the bucketed dedup itself keeps exactly ONE row for a NULL key
    group, matching operators.dedup.dedup_last_wins, so any other
    caller gets consistent semantics."""
    from pyspark.sql import Row

    store = str(tmp_path / "nullkey_store")
    rows = [Row(k="1", v="a", ord=1), Row(k=None, v="n1", ord=1),
            Row(k=None, v="n2", ord=2), Row(k="2", v="b", ord=1)]
    sinks.upsert_parquet(spark, spark.createDataFrame(rows), store,
                         key="k", order_col="ord", num_buckets=4)
    final = sinks.read_store(spark, store)
    assert final.count() == 2  # both null-key rows dropped
    assert final.filter(F.col("k").isNull()).count() == 0

    # the dedup primitive alone: one survivor per key INCLUDING null
    df = spark.createDataFrame(rows).withColumn(
        sinks.BUCKET_COL, F.lit(0))
    kept = sinks._dedup_last_wins_bucketed(df, "k", "ord").collect()
    assert len(kept) == 3
    null_rows = [r for r in kept if r["k"] is None]
    assert len(null_rows) == 1 and null_rows[0]["v"] == "n2"


def test_upsert_range_rejects_non_integer_keys(spark, tmp_path):
    from pyspark.sql import Row

    store = str(tmp_path / "badkey_store")
    bad = spark.createDataFrame([Row(k="not-a-number", v="x", ord=1)])
    with pytest.raises(ValueError, match="integer-castable"):
        sinks.upsert_parquet(spark, bad, store, key="k", order_col="ord",
                             layout="range")
    assert not __import__("os").path.exists(store)


def test_read_layout_refuses_corrupt_metadata(spark, tmp_path):
    """A corrupt _layout.json (array / scalar / non-numeric / partial /
    the older kind-less form) or a missing one is refused with the
    ValueError that names rebucket_store, never a crash or a guess."""
    import os
    d = str(tmp_path / "corrupt")
    os.makedirs(d)
    with pytest.raises(ValueError, match="rebucket_store"):
        sinks._read_layout(d)
    for payload in ("[1,2,3]", "42", '"x"', '{"num_buckets": "abc"}',
                    '{"num_buckets": 8}', '{"layout": "range"}',
                    '{"layout": "hash", "num_buckets": "abc"}',
                    '{"layout": "zorder"}', "not json"):
        with open(os.path.join(d, sinks.LAYOUT_META), "w") as f:
            f.write(payload)
        with pytest.raises(ValueError, match="rebucket_store"):
            sinks._read_layout(d)


def test_rebucket_store_grows_and_migrates_layout(spark, tmp_path):
    """rebucket_store re-sizes an outgrown hash store and can migrate
    hash -> range; data and last-writer-wins survive both rewrites."""
    from pyspark.sql import Row

    store = str(tmp_path / "grow_store")
    base = (spark.range(5_000)
            .select(F.col("id").cast("string").alias("k"),
                    F.lit("v").alias("v"), F.lit(1).alias("ord")))
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         num_buckets=8)

    meta = sinks.rebucket_store(spark, store, key="k", order_col="ord")
    assert meta["layout"] == "hash"
    assert meta["num_buckets"] > 8  # auto-sized from the 5k keys
    assert sinks._read_layout(store) == meta
    assert sinks.read_store(spark, store).count() == 5_000

    meta = sinks.rebucket_store(spark, store, key="k", order_col="ord",
                                layout="range", range_width=1000)
    assert meta == {"layout": "range", "range_width": 1000}
    final = sinks.read_store(spark, store)
    assert final.count() == 5_000
    # upserts after migration honor the new (stored) layout
    batch = spark.createDataFrame([Row(k="7", v="new", ord=2)])
    sinks.upsert_parquet(spark, batch, store, key="k", order_col="ord")
    assert sinks.read_store(spark, store) \
        .filter(F.col("k") == "7").collect()[0]["v"] == "new"


def test_upsert_refuses_flat_store_until_rebucketed(spark, tmp_path):
    """A flat store without _layout.json is refused by the upsert and
    every other layout-reading verb, with nothing written;
    rebucket_store converts it, and the upsert then lands with
    last-writer-wins against the converted rows."""
    import datetime as dt
    import os

    from pyspark.sql import Row

    store = str(tmp_path / "legacy")
    spark.createDataFrame(
        [Row(k=i, v="old", ord=1) for i in range(20)]
    ).write.parquet(store)
    before = file_tree(store)
    batch = spark.createDataFrame([Row(k=5, v="new", ord=2)])
    for verb in (
            lambda: sinks.upsert_parquet(spark, batch, store, key="k",
                                         order_col="ord", num_buckets=8),
            lambda: sinks.delete_keys(spark, store, "k",
                                      batch.select("k")),
            lambda: sinks.retention_sweep(spark, store,
                                          dt.datetime(2024, 1, 1)),
            lambda: sinks.compact_store(spark, store)):
        with pytest.raises(ValueError, match="rebucket_store"):
            verb()
    assert file_tree(store) == before
    assert not os.path.exists(store + sinks.REPLACE_STAGE)

    meta = sinks.rebucket_store(spark, store, key="k", order_col="ord",
                                num_buckets=8)
    assert sinks._read_layout(store) == meta == {"layout": "hash",
                                                 "num_buckets": 8}
    sinks.upsert_parquet(spark, batch, store, key="k", order_col="ord")
    final = sinks.read_store(spark, store)
    assert final.count() == 20
    assert final.filter(F.col("k") == 5).collect()[0]["v"] == "new"


def test_layout_lands_with_the_whole_store_swap(
        spark, tmp_path, monkeypatch):
    """A crash right after the whole-store swap of a first write or of
    rebucket_store leaves the new layout in place, because the layout
    is written inside the stage: later verbs follow it instead of
    refusing the store or re-laying it out under their own
    arguments."""
    from pyspark.sql import Row

    real_swap = sinks._swap_dir

    def crash_after_swap(src, dst):
        real_swap(src, dst)
        raise RuntimeError("simulated crash after swap")

    rows = spark.createDataFrame(
        [Row(k=i, v="old", ord=1) for i in range(30)])
    first = str(tmp_path / "first")
    monkeypatch.setattr(sinks, "_swap_dir", crash_after_swap)
    with pytest.raises(RuntimeError, match="after swap"):
        sinks.upsert_parquet(spark, rows, first, key="k", order_col="ord",
                             num_buckets=4)
    monkeypatch.undo()
    assert sinks._read_layout(first) == {"layout": "hash",
                                         "num_buckets": 4}
    sinks.delete_keys(spark, first, "k", rows.filter("k < 10").select("k"))
    assert sinks.read_store(spark, first).count() == 20

    moved = str(tmp_path / "moved")
    sinks.upsert_parquet(spark, rows, moved, key="k", order_col="ord")
    monkeypatch.setattr(sinks, "_swap_dir", crash_after_swap)
    with pytest.raises(RuntimeError, match="after swap"):
        sinks.rebucket_store(spark, moved, key="k", order_col="ord",
                             layout="range", range_width=10)
    monkeypatch.undo()
    ranged = {"layout": "range", "range_width": 10}
    assert sinks._read_layout(moved) == ranged
    sinks.upsert_parquet(spark, spark.createDataFrame(
        [Row(k=3, v="new", ord=2)]), moved, key="k", order_col="ord")
    assert sinks._read_layout(moved) == ranged
    sinks.delete_keys(spark, moved, "k", rows.filter("k >= 20").select("k"))
    final = sinks.read_store(spark, moved)
    assert final.count() == 20
    assert final.filter(F.col("k") == 3).collect()[0]["v"] == "new"


def test_delete_keys_touches_only_mapped_partitions(spark, tmp_path):
    """Erasure locality: deleting a contiguous 1.5k-key slice from a
    100k-row range store rewrites only the ranges those keys map into
    (plus removes any bucket it empties); every other directory stays
    byte-identical — the O(touched + key list) GDPR path."""
    store = str(tmp_path / "del_store")
    base = (spark.range(100_000)
            .select(F.col("id").cast("string").alias("k"),
                    F.concat(F.lit("v"), F.col("id")).alias("v"),
                    F.lit(1).alias("ord")))
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         layout="range", range_width=1000)
    before = _partition_state(store)

    doomed = (spark.range(50_000, 51_500)
              .select(F.col("id").cast("string").alias("k")))
    touched = sinks.delete_keys(spark, store, "k", doomed)
    assert len(touched) <= 2  # 1500 contiguous keys / width 1000
    after = _partition_state(store)

    changed = {rel.split("=")[1].split("/")[0]
               for rel, sig in before.items() if after.get(rel) != sig}
    assert changed <= {str(t) for t in touched}
    final = sinks.read_store(spark, store)
    assert final.count() == 98_500
    assert final.filter((F.col("k").cast("long") >= 50_000)
                        & (F.col("k").cast("long") < 51_500)).count() == 0


def test_delete_keys_removes_emptied_bucket(spark, tmp_path):
    """A bucket whose every key is deleted must disappear from the
    store — a swap-only rewrite would resurrect its rows."""
    store = str(tmp_path / "empty_store")
    base = (spark.range(3_000)
            .select(F.col("id").cast("string").alias("k"),
                    F.lit("x").alias("v"), F.lit(1).alias("ord")))
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         layout="range", range_width=1000)
    # wipe the whole middle range
    doomed = (spark.range(1_000, 2_000)
              .select(F.col("id").cast("string").alias("k")))
    sinks.delete_keys(spark, store, "k", doomed)
    import os as _os
    assert not _os.path.exists(
        _os.path.join(store, f"{sinks.BUCKET_COL}=1"))
    assert sinks.read_store(spark, store).count() == 2_000


def test_delete_keys_crash_recovery_rolls_forward(spark, tmp_path):
    """Stage-then-commit erasure: a crash AFTER the manifest write but
    mid-swap (one bucket half-renamed, another not yet swapped) must be
    rolled forward by the next delete_keys call — re-running with the
    same key list is the documented recovery path and lands in the
    exact state a crash-free run would have produced."""
    import json as _json
    import os as _os
    import shutil as _shutil

    store = str(tmp_path / "crash_store")
    base = (spark.range(3_000)
            .select(F.col("id").cast("string").alias("k"),
                    F.lit("x").alias("v"), F.lit(1).alias("ord")))
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         layout="range", range_width=1000)
    doomed = (spark.range(500, 1_500)
              .select(F.col("id").cast("string").alias("k")))

    # stage the rewrite exactly as delete_keys would (buckets 0 and 1)
    meta = sinks._read_layout(store)
    keyed = doomed.withColumn(
        sinks.BUCKET_COL, sinks._bucket_expr("k", meta))
    current = spark.read.parquet(store).filter(
        F.col(sinks.BUCKET_COL).isin([0, 1]))
    kept = current.join(F.broadcast(keyed.select("k")), "k", "left_anti")
    tmp = store + "._staged"
    kept.write.mode("overwrite").partitionBy(sinks.BUCKET_COL).parquet(tmp)
    with open(_os.path.join(store, sinks.DELETE_MANIFEST), "w") as f:
        _json.dump({"touched": [0, 1], "emptied": []}, f)
    # simulate a crash inside _swap_dir on bucket 0: old renamed out,
    # staged not yet renamed in; bucket 1 untouched entirely
    part0 = _os.path.join(store, f"{sinks.BUCKET_COL}=0")
    _os.rename(part0, part0 + "._old")

    touched = sinks.delete_keys(spark, store, "k", doomed)
    assert touched == [0, 1]  # re-run reports the same plan
    final = sinks.read_store(spark, store)
    assert final.count() == 2_000
    assert final.filter((F.col("k").cast("long") >= 500)
                        & (F.col("k").cast("long") < 1_500)).count() == 0
    assert not _os.path.exists(part0 + "._old")
    assert not _os.path.exists(store + "._staged")
    assert not _os.path.exists(_os.path.join(store, sinks.DELETE_MANIFEST))
    _shutil.rmtree(store, ignore_errors=True)


def _erasure_fixture(spark, tmp_path, name):
    """A fresh 8-bucket store plus the doomed-key list."""
    import os
    from pyspark.sql import Row

    store = str(tmp_path / name)
    base = spark.createDataFrame(
        [Row(k=i, v=f"v{i}", ord=1) for i in range(400)])
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         num_buckets=8)
    doomed = spark.createDataFrame([Row(k=i) for i in range(0, 400, 7)])
    return store, base, doomed


def _store_rows(spark, store):
    return {(r["k"], r["v"], r["ord"])
            for r in sinks.read_store(spark, store)
            .select("k", "v", "ord").collect()}


def test_delete_keys_crash_before_commit_rolls_forward(
        spark, tmp_path, monkeypatch):
    """Crash injected AFTER the staged rewrite + manifest land but
    BEFORE any bucket swap: the documented recovery path (re-run
    delete_keys with the same key list) must leave the store identical
    to a never-crashed erasure, and clear the manifest + staging."""
    import os

    store, base, doomed = _erasure_fixture(spark, tmp_path, "store")
    clean, _, _ = _erasure_fixture(spark, tmp_path, "clean")
    sinks.delete_keys(spark, clean, "k", doomed)
    expected = _store_rows(spark, clean)

    real = sinks._finish_pending_delete

    def crash_at_commit(path):
        if os.path.exists(os.path.join(path, sinks.DELETE_MANIFEST)):
            raise RuntimeError("simulated crash before commit")
        return real(path)

    monkeypatch.setattr(sinks, "_finish_pending_delete", crash_at_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sinks.delete_keys(spark, store, "k", doomed)
    monkeypatch.undo()
    # the crash left a recorded in-flight erasure
    assert os.path.exists(os.path.join(store, sinks.DELETE_MANIFEST))

    sinks.delete_keys(spark, store, "k", doomed)
    assert not os.path.exists(os.path.join(store, sinks.DELETE_MANIFEST))
    assert not os.path.exists(store + "._staged")
    assert _store_rows(spark, store) == expected


def test_delete_keys_crash_mid_swap_rolls_forward(
        spark, tmp_path, monkeypatch):
    """Crash injected after the FIRST bucket swap of the commit loop:
    some buckets new, some old, manifest still present.  Recovery must
    finish the remaining swaps idempotently."""
    import os

    store, base, doomed = _erasure_fixture(spark, tmp_path, "store_mid")
    clean, _, _ = _erasure_fixture(spark, tmp_path, "clean_mid")
    sinks.delete_keys(spark, clean, "k", doomed)
    expected = _store_rows(spark, clean)

    real_swap = sinks._swap_dir
    swaps = {"n": 0}

    def crash_after_first(src, dst):
        if swaps["n"] >= 1:
            raise RuntimeError("simulated crash mid-swap")
        swaps["n"] += 1
        return real_swap(src, dst)

    monkeypatch.setattr(sinks, "_swap_dir", crash_after_first)
    with pytest.raises(RuntimeError, match="mid-swap"):
        sinks.delete_keys(spark, store, "k", doomed)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(store, sinks.DELETE_MANIFEST))

    sinks.delete_keys(spark, store, "k", doomed)
    assert not os.path.exists(os.path.join(store, sinks.DELETE_MANIFEST))
    assert not os.path.exists(store + "._staged")
    assert _store_rows(spark, store) == expected


def test_compact_store_collapses_only_fragmented(spark, tmp_path):
    """compact_store: fragmented partition dirs collapse to one file,
    content identical, non-fragmented dirs untouched (byte-identical
    files — never rewritten)."""
    import os

    store = str(tmp_path / "fragstore")
    emb = readers.read_table(spark, SF, "embeddings") \
        .select("vec_id", "label")
    # A partitioned store where part p0 is written twice (two files)
    # and p1 once (one file) — mimicking the index upsert accretion.
    base = emb.withColumn("cell", (F.col("vec_id") % 2).cast("int"))
    base.coalesce(1).write.partitionBy("cell").parquet(store)
    extra = (emb.filter(F.col("vec_id") % 2 == 0)
             .withColumn("label", F.col("label"))
             .withColumn("cell", F.lit(0)))
    extra.coalesce(1).write.mode("append").partitionBy("cell") \
        .parquet(store)

    def files(cell):
        d = os.path.join(store, f"cell={cell}")
        return sorted(f for f in os.listdir(d)
                      if f.endswith(".parquet"))

    assert len(files(0)) == 2 and len(files(1)) == 1
    before_rows = spark.read.parquet(store).count()
    untouched_before = files(1)

    stats = sinks.compact_store(spark, store, part_col="cell")
    assert stats["compacted"] == [0]
    assert stats["files_before"] == 2 and stats["files_after"] == 1
    assert len(files(0)) == 1
    assert files(1) == untouched_before  # same file names, not rewritten
    assert spark.read.parquet(store).count() == before_rows
    # idempotent: second call is a no-op
    assert sinks.compact_store(spark, store,
                               part_col="cell")["compacted"] == []


def test_upsert_rolls_forward_crashed_erasure_first(spark, tmp_path):
    """A crashed delete (manifest written, one bucket mid-swap) followed
    by an UPSERT: the upsert must commit the erasure BEFORE merging —
    healing around it would restore doomed rows that the manifest
    replay would later delete again, clobbering anything written in
    between.  Final state == delete fully applied, then upsert
    applied."""
    import json as _json
    import os as _os

    store = str(tmp_path / "interleave_store")
    base = (spark.range(3_000)
            .select(F.col("id").cast("string").alias("k"),
                    F.lit("x").alias("v"), F.lit(1).alias("ord")))
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         layout="range", range_width=1000)
    doomed = (spark.range(500, 1_500)
              .select(F.col("id").cast("string").alias("k")))

    # stage the erasure exactly as delete_keys would, then crash
    # mid-swap on bucket 0 (old renamed out, staged not renamed in)
    meta = sinks._read_layout(store)
    keyed = doomed.withColumn(
        sinks.BUCKET_COL, sinks._bucket_expr("k", meta))
    current = spark.read.parquet(store).filter(
        F.col(sinks.BUCKET_COL).isin([0, 1]))
    kept = current.join(F.broadcast(keyed.select("k")), "k", "left_anti")
    tmp = store + "._staged"
    kept.write.mode("overwrite").partitionBy(sinks.BUCKET_COL).parquet(tmp)
    with open(_os.path.join(store, sinks.DELETE_MANIFEST), "w") as f:
        _json.dump({"touched": [0, 1], "emptied": []}, f)
    part0 = _os.path.join(store, f"{sinks.BUCKET_COL}=0")
    _os.rename(part0, part0 + "._old")

    # now an unrelated upsert arrives: re-add k=600 with a newer value
    batch = (spark.range(600, 601)
             .select(F.col("id").cast("string").alias("k"),
                     F.lit("NEW").alias("v"), F.lit(2).alias("ord")))
    sinks.upsert_parquet(spark, batch, store, key="k", order_col="ord")

    final = sinks.read_store(spark, store)
    # erasure applied: 500..1499 gone EXCEPT the re-upserted 600
    assert final.count() == 2_001
    assert final.filter(F.col("k") == "600").collect()[0]["v"] == "NEW"
    assert final.filter((F.col("k").cast("long") >= 500)
                        & (F.col("k").cast("long") < 1_500)
                        & (F.col("k") != "600")).count() == 0
    # no manifest or staging left behind
    assert not _os.path.exists(_os.path.join(store, sinks.DELETE_MANIFEST))
    assert not _os.path.exists(store + sinks.REPLACE_STAGE)


def test_heal_partial_swaps_three_cases(tmp_path):
    """Pure-directory unit of the heal pass: (a) base missing + ._old
    present -> restored; (b) base present + ._old present -> stale
    ._old removed, base untouched; (c) nothing to do -> no-op."""
    import os

    store = str(tmp_path / "healstore")
    os.makedirs(os.path.join(store, "cell=0._old"))
    open(os.path.join(store, "cell=0._old", "a.parquet"), "w").write("x")
    os.makedirs(os.path.join(store, "cell=1"))
    open(os.path.join(store, "cell=1", "live.parquet"), "w").write("y")
    os.makedirs(os.path.join(store, "cell=1._old"))
    open(os.path.join(store, "cell=1._old", "stale.parquet"), "w").write("z")
    os.makedirs(os.path.join(store, "cell=2"))

    restored = sinks.heal_partial_swaps(store)
    assert restored == ["cell=0"]
    assert os.path.exists(os.path.join(store, "cell=0", "a.parquet"))
    assert not os.path.exists(os.path.join(store, "cell=0._old"))
    assert os.path.exists(os.path.join(store, "cell=1", "live.parquet"))
    assert not os.path.exists(os.path.join(store, "cell=1._old"))
    # idempotent / no-op second pass
    assert sinks.heal_partial_swaps(store) == []
    # missing store: no-op, no error
    assert sinks.heal_partial_swaps(str(tmp_path / "absent")) == []


def test_upsert_heals_stranded_store_root(spark, tmp_path):
    """r14 review: a crash between a migration/rebucket root swap's
    two renames strands the whole store at '<path>._old'.  The next
    upsert must RESTORE it — the old behavior saw a missing path,
    took the first-write branch with just the batch, and later swept
    the ._old holding every prior row (total data loss)."""
    import os

    from msg_vector_search_spark.sources import sinks

    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "k long, v long")
    sinks.upsert_parquet(spark, base, path, key="k", order_col="v")

    os.rename(path, path + "._old")  # crash between the two renames

    batch = spark.createDataFrame([(100, 1)], "k long, v long")
    sinks.upsert_parquet(spark, batch, path, key="k", order_col="v")
    got = sinks.read_store(spark, path)
    assert got.count() == 51  # every prior row survived + the batch
    assert not os.path.exists(path + "._old")


def test_delete_keys_non_castable_key_raises(spark, tmp_path):
    """r14 review: a range-layout store given a non-castable key in
    the erasure list raises the contract ValueError (as the upsert
    path does) instead of a TypeError from sorting None."""
    import pytest

    from msg_vector_search_spark.sources import sinks

    path = str(tmp_path / "rstore")
    base = spark.createDataFrame(
        [(str(i), i) for i in range(20)], "k string, v long")
    sinks.upsert_parquet(spark, base, path, key="k", order_col="v",
                         layout="range")
    bad = spark.createDataFrame([("3",), ("abc",)], "k string")
    with pytest.raises(ValueError, match="integer-castable"):
        sinks.delete_keys(spark, path, "k", bad)


def test_read_watermark_default_as_of_is_instant_correct(
        spark, tmp_path, monkeypatch):
    """r14 review: the default as_of must be a tz-AWARE now.  PySpark
    converts a NAIVE datetime literal via the driver OS timezone
    (verified empirically; the session timeZone is not consulted), so
    on a non-UTC OS the naive utcnow() wall time landed on an instant
    offset by the zone — a fresh watermark could read as 'future' and
    clamp to EPOCH (silent full rescan per run) or weaken the guards
    the other way.  An aware datetime is the exact instant under ANY
    OS/session zone; this test pins instant-correctness under a
    non-UTC session tz (the OS tz is fixed UTC in CI, so the naive
    regression itself is not reproducible in-process).

    The driver-side read also equals the Spark read plus
    ``clamp_watermark`` for a recent, a future, a 20-year-old and a
    missing watermark, on local paths and on ``file:`` URIs forced
    down the remote branch, and launches no Spark job; and a naive
    watermark round-trips under a driver OS zone east of UTC."""
    import datetime as dt
    import os
    import time

    from msg_vector_search_spark.sources import fs, state

    sd = str(tmp_path / "state")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        wm = (dt.datetime.now(dt.timezone.utc)
              - dt.timedelta(hours=1))
        state.write_watermark(spark, sd, wm)
        got = state.read_watermark(spark, sd)
        assert got != state.EPOCH  # the old naive default clamped here
        # collect() renders the instant as a naive datetime in the
        # DRIVER OS timezone (UTC in CI) — compare instants there
        assert abs((got - wm.replace(tzinfo=None))
                   .total_seconds()) < 5

        now = dt.datetime.now(dt.timezone.utc)

        def spark_read(d: str) -> dt.datetime:
            try:
                df = spark.read.parquet(os.path.join(d, "watermark.parquet"))
            except Exception:
                return state.EPOCH
            rows = (df.filter(F.col("key") == state.WATERMARK_KEY)
                    .select(state.clamp_watermark(F.col("ts"), F.lit(now))
                            .alias("ts")).collect())
            return rows[0]["ts"] if rows else state.EPOCH

        dirs = {"missing": str(tmp_path / "none")}
        for name, delta in (("recent", dt.timedelta(hours=-1)),
                            ("future", dt.timedelta(days=1)),
                            ("old", dt.timedelta(days=-20 * 365))):
            dirs[name] = str(tmp_path / name)
            state.write_watermark(spark, dirs[name], now + delta)
        want = {name: spark_read(d) for name, d in dirs.items()}
        assert want["missing"] == want["future"] == state.EPOCH
        # rendered in the driver OS timezone, as collect() renders it
        assert want["old"] == (now - dt.timedelta(days=30)).astimezone(
        ).replace(tzinfo=None)
        sched = spark.sparkContext._jsc.sc().dagScheduler()

        def driver_reads(prefix: str) -> dict:
            before = sched.numTotalJobs()
            out = {name: state.read_watermark(spark, prefix + d, as_of=now)
                   for name, d in dirs.items()}
            assert sched.numTotalJobs() == before
            return out

        assert driver_reads("") == want
        monkeypatch.setattr(fs, "_LOCAL_SCHEMES", ())
        assert fs.is_remote(f"file:{sd}")
        assert driver_reads("file:") == want
        monkeypatch.undo()

        # a driver OS zone east of UTC: the naive watermark an ingest
        # collects is local time and must round-trip, not land hours
        # in the future and clamp to EPOCH (a full rescan per run)
        monkeypatch.setenv("TZ", "Asia/Tokyo")
        time.tzset()
        local = (now - dt.timedelta(hours=1)).astimezone().replace(
            tzinfo=None)
        state.write_watermark(spark, sd, local)
        assert state.read_watermark(spark, sd) == local
    finally:
        monkeypatch.undo()
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def _ttl_store(spark, tmp_path, name, n=2_000, width=500, nulls=False):
    """Arrival-ordered store with one event per minute from a fixed
    origin: bucket b covers minutes [b*width, (b+1)*width)."""
    import datetime as dt

    origin = dt.datetime(2024, 1, 1)
    base = (spark.range(n)
            .select(F.col("id").alias("k"),
                    (F.lit(origin) + F.make_interval(
                        mins=F.col("id").cast("int"))).alias("ts"),
                    F.lit(1).alias("ord")))
    if nulls:
        base = base.withColumn(
            "ts", F.when(F.col("k") % 997 == 0, F.lit(None)
                         ).otherwise(F.col("ts")))
    store = str(tmp_path / name)
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         layout="range", range_width=width)
    return store, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=1_250)


def test_retention_sweep_drops_whole_dirs_keeps_live_untouched(
        spark, tmp_path):
    """TTL fast path on an arrival-ordered store: provably-expired
    bucket dirs DROP without a rewrite, provably-live dirs stay
    byte-identical (never opened), only the boundary bucket rewrites —
    and the surviving rows are exactly ts >= cutoff."""
    store, cutoff = _ttl_store(spark, tmp_path, "ttl")
    before = _partition_state(store)
    info = sinks.retention_sweep(spark, store, cutoff)
    # minutes 0..1999 in 4 buckets of 500; cutoff at minute 1250:
    # buckets 0,1 (0-999) drop whole, bucket 2 (1000-1499) straddles,
    # bucket 3 (1500-1999) is untouched
    assert info["dropped"] == [0, 1]
    assert info["rewritten"] == [2]
    assert info["kept"] == 1
    after = _partition_state(store)
    live = {r: s for r, s in before.items()
            if r.startswith(f"{sinks.BUCKET_COL}=3/")}
    assert live and all(after.get(r) == s for r, s in live.items())
    assert not any(r.startswith((f"{sinks.BUCKET_COL}=0/",
                                 f"{sinks.BUCKET_COL}=1/")) for r in after)
    rows = sinks.read_store(spark, store)
    assert rows.count() == 2_000 - 1_250
    assert rows.agg(F.min("k")).collect()[0][0] == 1_250
    # idempotent: re-running the sweep with the same cutoff is a no-op
    again = sinks.retention_sweep(spark, store, cutoff)
    assert again["dropped"] == [] and again["rewritten"] == []
    assert sinks.read_store(spark, store).count() == 750


def test_retention_sweep_keeps_null_ts_everywhere(spark, tmp_path):
    """NULL timestamps never expire: a NULL in an otherwise-expired
    bucket forces that bucket onto the rewrite path (footer null_count
    guard) and the row survives; straddling buckets keep theirs too."""
    store, cutoff = _ttl_store(spark, tmp_path, "ttlnull", nulls=True)
    # null keys: 0, 997, 1994 -> buckets 0 (two) and 3... bucket of
    # 997 is 1; 1994 is 3.  Buckets 0 and 1 hold nulls among expired
    # rows, so they must REWRITE (not drop) and keep exactly the nulls.
    info = sinks.retention_sweep(spark, store, cutoff)
    assert info["dropped"] == []           # null guard blocks the drop
    assert set(info["rewritten"]) == {0, 1, 2}
    rows = sinks.read_store(spark, store)
    assert rows.filter(F.col("ts").isNull()).count() == 3
    # 749 live non-null rows (minute 1250-1999 minus k=1994, which is
    # itself one of the nulls) + the 3 never-expiring nulls
    assert rows.count() == 749 + 3


def test_retention_sweep_crash_after_manifest_rolls_forward(
        spark, tmp_path):
    """The sweep shares delete_keys' staged-manifest commit: kill the
    commit after the manifest lands (whole-drop dirs still present,
    staged boundary not yet swapped) — any later store verb (here a
    re-run of the sweep; read_store-side healing works too) replays
    the manifest and converges to the crash-free result."""
    import json as _json
    import os as _os

    store, cutoff = _ttl_store(spark, tmp_path, "ttlcrash")
    # stage exactly what retention_sweep would, then "crash": manifest
    # written, nothing swapped, nothing dropped
    current = spark.read.parquet(store).filter(
        F.col(sinks.BUCKET_COL).isin([2]))
    kept = current.filter(F.col("ts") >= F.lit(cutoff))
    tmp = store + "._staged"
    kept.write.mode("overwrite").partitionBy(sinks.BUCKET_COL).parquet(tmp)
    with open(_os.path.join(store, sinks.DELETE_MANIFEST), "w") as f:
        _json.dump({"touched": [0, 1, 2], "emptied": [0, 1],
                    "part_col": sinks.BUCKET_COL}, f)

    info = sinks.retention_sweep(spark, store, cutoff)
    # the re-run first replayed the crashed manifest, then found
    # nothing left to expire
    assert info["dropped"] == [] and info["rewritten"] == []
    rows = sinks.read_store(spark, store)
    assert rows.count() == 750
    assert not _os.path.exists(_os.path.join(store, sinks.DELETE_MANIFEST))
    assert not _os.path.exists(store + "._staged")


def test_retention_sweep_hash_layout_degrades_correctly(spark, tmp_path):
    """On a hash layout age and placement are uncorrelated: every
    bucket straddles, so the sweep degrades to a filtered rewrite of
    all buckets — slower by design, still exact."""
    import datetime as dt

    origin = dt.datetime(2024, 1, 1)
    base = (spark.range(800)
            .select(F.col("id").cast("string").alias("k"),
                    (F.lit(origin) + F.make_interval(
                        mins=F.col("id").cast("int"))).alias("ts"),
                    F.lit(1).alias("ord")))
    store = str(tmp_path / "ttlhash")
    sinks.upsert_parquet(spark, base, store, key="k", order_col="ord",
                         num_buckets=8)
    cutoff = origin + dt.timedelta(minutes=500)
    info = sinks.retention_sweep(spark, store, cutoff)
    assert info["dropped"] == []  # no bucket is provably all-expired
    assert len(info["rewritten"]) == 8
    assert sinks.read_store(spark, store).count() == 300


def test_retention_sweep_then_upsert_stays_consistent(spark, tmp_path):
    """Lifecycle interplay: after a sweep drops whole bucket dirs, a
    later upsert must keep working under the UNCHANGED layout metadata
    — new keys land in their original bucket function (re-growing a
    dropped dir if keys map there), last-wins still holds, and a
    second sweep sees the fresh rows as live."""
    import datetime as dt

    store, cutoff = _ttl_store(spark, tmp_path, "ttlup")
    sinks.retention_sweep(spark, store, cutoff)
    origin = dt.datetime(2024, 1, 1)
    # new batch: keys 100-199 map to the DROPPED bucket 0, but with
    # LIVE timestamps (arrival time is now, key range is recycled)
    fresh = (spark.range(100, 200)
             .select(F.col("id").alias("k"),
                     (F.lit(origin) + F.make_interval(
                         mins=(F.col("id") + 3_000).cast("int")))
                     .alias("ts"),
                     F.lit(2).alias("ord")))
    sinks.upsert_parquet(spark, fresh, store, key="k", order_col="ord")
    rows = sinks.read_store(spark, store)
    assert rows.count() == 750 + 100
    assert rows.filter((F.col("k") >= 100) & (F.col("k") < 200)).count() == 100
    # second sweep at the same cutoff: the recycled-bucket rows are
    # live (their ts is newer), so nothing is expired
    again = sinks.retention_sweep(spark, store, cutoff)
    assert again["dropped"] == [] and again["rewritten"] == []
    assert sinks.read_store(spark, store).count() == 850


def test_read_buckets_lists_only_touched_dirs(spark, tmp_path):
    """The r16 pruned-listing read: _read_buckets must plan over ONLY
    the requested bucket directories (inputFiles stays inside them —
    at warehouse dir counts the discovery listing IS the maintenance
    cost), contribute zero rows for not-yet-existing buckets, and
    yield a well-typed empty frame when none exist."""
    import os

    from pyspark.sql import functions as F

    from msg_vector_search_spark.sources import sinks

    store = str(tmp_path / "store")
    df = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(1).alias("_ord"),
        (F.col("id") * 2).alias("v"))
    sinks.upsert_parquet(spark, df, store, key="k", order_col="_ord",
                         layout="range", range_width=100)
    dirs = sorted(e for e in os.listdir(store)
                  if e.startswith(sinks.BUCKET_COL + "="))
    assert len(dirs) == 10
    got = sinks._read_buckets(spark, store, [0, 3])
    touched = {f"{sinks.BUCKET_COL}=0", f"{sinks.BUCKET_COL}=3"}
    assert {os.path.basename(os.path.dirname(f))
            for f in got.inputFiles()} == touched
    assert got.count() == 200
    assert sinks.BUCKET_COL in got.columns  # basePath keeps the part col
    # a bucket with no directory yet contributes nothing, not an error
    assert sinks._read_buckets(spark, store, [0, 99]).count() == 100
    # none exist: empty frame, schema intact
    none = sinks._read_buckets(spark, store, [98, 99])
    assert none.count() == 0
    assert set(none.columns) == set(got.columns)


def test_upsert_cells_reads_only_touched_dirs(spark, tmp_path,
                                              monkeypatch):
    """VERDICT r16 item 2: the ANN cell-store merge (_upsert_cells)
    must take the pruned-listing read — _read_buckets with
    part_col='cell' over exactly the batch's touched cells — instead
    of a plain read + isin filter that lists every cell=N directory
    (O(nlist) discovery per maintenance batch at web-scale nlist).
    Pins the routing, the touched set, the files actually planned,
    and the merge semantics (last-writer-wins, untouched cells
    intact)."""
    import os

    from msg_vector_search_spark.operators import ann_index

    store = str(tmp_path / "vectors")
    base = spark.createDataFrame(
        [(i, float(i), i % 8) for i in range(80)],
        "id long, v double, cell int")
    base.write.partitionBy("cell").parquet(store)

    seen = {}
    real = sinks._read_buckets

    def spy(spark_, path, buckets, part_col=sinks.BUCKET_COL):
        seen["args"] = (path, sorted(buckets), part_col)
        out = real(spark_, path, buckets, part_col=part_col)
        seen["files"] = set(out.inputFiles())
        return out

    monkeypatch.setattr(sinks, "_read_buckets", spy)
    batch = spark.createDataFrame(
        [(100, 100.0, 3), (0, 9.0, 0)], "id long, v double, cell int")
    touched = ann_index._upsert_cells(spark, batch, store, "id")
    assert touched == [0, 3]
    assert seen["args"] == (store, [0, 3], "cell")
    assert {os.path.basename(os.path.dirname(f))
            for f in seen["files"]} == {"cell=0", "cell=3"}
    out = spark.read.parquet(store)
    assert out.count() == 81  # 80 - 1 shadowed + 2 incoming
    assert out.filter("id = 0").select("v").head()[0] == 9.0
    assert out.filter("id = 100").select("cell").head()[0] == 3
    # untouched cells: byte-identical file set (never rewritten)
    assert (out.filter(~F.col("cell").isin([0, 3])).count()
            == base.filter(~F.col("cell").isin([0, 3])).count())


def test_fs_probe_hadoop_branch_matches_os_branch(spark, tmp_path):
    """sources/fs.py (ADVICE r16 closure): the pruned-listing read's
    existence probes dispatch on scheme — plain paths use os, remote
    URIs use the Hadoop FileSystem API.  Force file: URIs through the
    Hadoop branch (LocalFileSystem) and pin it byte-equal to the os
    branch on the same store: probe subset, schema-fallback listing,
    and the full _read_buckets result."""
    from msg_vector_search_spark.sources import fs

    # scheme classification: remote iff non-file URI scheme
    assert not fs.is_remote(str(tmp_path))
    assert not fs.is_remote("file:///x/store")
    assert fs.is_remote("s3a://bucket/store")
    assert fs.is_remote("hdfs://nn:8020/store")
    assert fs.is_remote("abfss://c@a.dfs.core.windows.net/store")
    # edge cases, Hadoop's own rules: case-insensitive schemes, a
    # one-letter head is a drive not a scheme, schemes start with a
    # letter and carry only [alnum +-.]
    assert fs.is_remote("S3A://bucket/store")
    assert not fs.is_remote("FILE:///x")
    assert not fs.is_remote("C:/x") and not fs.is_remote("C:\\x")
    assert not fs.is_remote("9bad://x")
    assert not fs.is_remote("ha lf://x")
    assert not fs.is_remote("rel/path")
    assert fs._strip_file_scheme("file:///x/y") == "/x/y"
    assert fs._strip_file_scheme("file:/x/y") == "/x/y"
    assert fs._strip_file_scheme("/plain") == "/plain"

    store = str(tmp_path / "probe_store")
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "id long, _bkt int")
    df.write.partitionBy("_bkt").parquet(store)

    dirs = [f"{store}/_bkt={b}" for b in (0, 2, 7, 3)]
    local = fs.probe_dirs(dirs)
    hadoop = fs.probe_dirs([f"file:{d}" for d in dirs], force_hadoop=True)
    assert local == [f"{store}/_bkt={b}" for b in (0, 2, 3)]
    assert [d.removeprefix("file:") for d in hadoop] == local
    # a FILE (not dir) never probes true on either branch
    (tmp_path / "probe_file").write_text("x")
    assert fs.probe_dirs([str(tmp_path / "probe_file")]) == []
    assert fs.probe_dirs([f"file:{tmp_path / 'probe_file'}"],
                         force_hadoop=True) == []

    kids_local = fs.list_child_dirs(store, "_bkt=")
    kids_hadoop = fs.list_child_dirs(f"file:{store}", "_bkt=",
                                     force_hadoop=True)
    assert [k.removeprefix("file:") for k in kids_hadoop] == kids_local
    assert kids_local == [f"{store}/_bkt={b}" for b in range(4)]

    # end-to-end: _read_buckets over a file:-scheme store path equals
    # the plain-path read (rows and schema)
    plain = sinks._read_buckets(spark, store, [1, 3])
    schemed = sinks._read_buckets(spark, f"file:{store}", [1, 3])
    assert schemed.schema == plain.schema
    assert (sorted(r.id for r in schemed.collect())
            == sorted(r.id for r in plain.collect()))


def test_fs_probe_rejects_mixed_filesystem_lists(spark, tmp_path):
    """probe_dirs takes partition dirs of ONE store; a mixed
    local/remote list would silently misroute probes through whichever
    branch dirs[0] selects — raise instead."""
    import pytest as _pytest

    from msg_vector_search_spark.sources import fs

    with _pytest.raises(ValueError, match="single-filesystem"):
        fs.probe_dirs([str(tmp_path), "s3a://bucket/x"])
    with _pytest.raises(ValueError, match="single-filesystem"):
        fs.probe_dirs(["s3a://bucket/x", str(tmp_path)])
