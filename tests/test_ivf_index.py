"""IVF materialized-index path: partitionBy(cell) write, then probing
reads ONLY the probed cells (literal Parquet partition pruning) and
returns the same rows as the in-memory search."""

from __future__ import annotations

from pyspark.sql import functions as F

from msg_vector_search_spark.operators import ivf
from msg_vector_search_spark.sources import readers, sinks

SF = "/root/testdata/sf0.001"


def test_ivf_index_prunes_partitions_and_matches(spark, tmp_path):
    emb = readers.read_table(spark, SF, "embeddings")
    cent = ivf.seed_centroids(emb, 8)
    assigned = ivf.assign_cells(emb, cent)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]

    path = str(tmp_path / "ivf_index")
    ivf.write_index(assigned, path)
    on_disk = spark.read.parquet(path)

    mem = ivf.ivf_search(assigned, cent, qv, k=5, nprobe=2)
    disk = ivf.ivf_search(on_disk, cent, qv, k=5, nprobe=2)
    assert {tuple(r) for r in mem.collect()} == \
           {tuple(r) for r in disk.collect()}

    # pruning: a literal cell filter must appear as PartitionFilters
    probe_cells = [r["cell"] for r in
                   ivf.probe_cells(cent, qv, 2).collect()]
    pruned = on_disk.filter(F.col("cell").isin(probe_cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in part_filters
    # and the probe really reads a subset of the cells
    assert pruned.select("cell").distinct().count() <= 2


def test_materialized_index_serves_pruned_no_training(spark, tmp_path):
    """The full index lifecycle: build_index persists vectors + codes
    partitionBy(cell) with centroid/codebook sidecars; search_index
    serves with BOTH stores read only at the probed cells (r17: the
    pruning moved from a PartitionFilters literal to the explicit-dirs
    _read_cells listing — stronger: the plan never even LISTS the
    unprobed cell directories) and returns exactly the inline IVFPQ
    composition's answer."""
    from msg_vector_search_spark.operators import ann_index, pq

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "annidx")
    ann_index.build_index(spark, emb, path, nlist=8, m=8, ncodes=16)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]

    served = ann_index.search_index(spark, path, qv, k=5, nprobe=2,
                                    shortlist=50)
    # inline twin: same artifacts, same parameters
    cent = ivf.seed_centroids(emb, 8)
    assigned = ivf.assign_cells(emb, cent)
    books = pq.seed_codebooks(emb, m=8, ncodes=16)
    inline = pq.ivfpq_search(assigned, cent, books, qv, k=5, nprobe=2,
                             shortlist=50)
    assert [tuple(r) for r in served.collect()] == \
           [tuple(r) for r in inline.collect()]

    # pruning: every file the served plan reads from the two cell
    # stores lives under a probed cell=N directory (nprobe=2), i.e.
    # the unprobed cells were never listed, let alone read.  The
    # centroid/codebook sidecars are nlist/m*ncodes-row artifacts and
    # exempt.
    probed = {f"cell={r['cell']}" for r in
              ivf.probe_cells(ann_index.load_centroids(spark, path),
                              qv, 2).collect()}
    assert len(probed) == 2
    import os
    store_files = [f for f in served.inputFiles()
                   if "/vectors/" in f or "/codes/" in f]
    assert store_files  # the serve really reads both cell stores
    assert {os.path.basename(os.path.dirname(f))
            for f in store_files} <= probed


def test_upsert_index_touches_only_mapped_cells(spark, tmp_path):
    """Incremental maintenance locality: upserting a small batch must
    rewrite ONLY the cell partitions the batch maps into — untouched
    cell directories stay byte-identical in both stores — and
    post-upsert search finds the new vectors."""
    import os

    from msg_vector_search_spark.operators import ann_index

    def _state(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                out[os.path.relpath(p, root)] = (
                    os.path.getsize(p), os.path.getmtime(p))
        return out

    emb = readers.read_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") >= 5)
    batch = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "upsidx")
    ann_index.build_index(spark, base, path, nlist=8, m=8, ncodes=16)
    before_v = _state(os.path.join(path, "vectors"))
    before_c = _state(os.path.join(path, "codes"))

    touched = ann_index.upsert_index(spark, path, batch)
    assert 0 < len(touched) < 8  # a small batch maps to FEW cells

    for store, before in (("vectors", before_v), ("codes", before_c)):
        after = _state(os.path.join(path, store))
        changed = {rel.split("=")[1].split("/")[0]
                   for rel, sig in before.items()
                   if after.get(rel) != sig}
        assert changed <= {str(t) for t in touched}

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3)
          .select("embedding").collect()[0][0]]
    got = {r["vec_id"] for r in
           ann_index.search_index(spark, path, qv, k=5, nprobe=2,
                                  shortlist=50).collect()}
    assert 3 in got  # the upserted vector is served


def test_kmeans_centroids_drop_in(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf.kmeans_centroids(emb, nlist=4)
    rows = cents.collect()
    assert len(rows) == 4
    assert {r["centroid_id"] for r in rows} == {0, 1, 2, 3}
    dim = len(emb.select("embedding").head()[0])
    assert all(len(r["centroid_vec"]) == dim for r in rows)
    # drop-in: assignment covers every vector, cells within range,
    # and the pruned search still returns k rows
    assigned = ivf.assign_cells(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.select("cell").distinct().count() <= 4
    qv = [float(x) for x in emb.select("embedding").head()[0]]
    assert ivf.ivf_search(assigned, cents, qv, k=5, nprobe=2).count() == 5


def test_rebuild_converges_to_fresh_build(spark, tmp_path):
    """Upsert-then-rebuild must equal a from-scratch build over the
    same rows: identical (vec_id, cell) assignments in the vectors
    store, identical codes, and identical served answers — drift from
    frozen-centroid upserts is maintenance debt the rebuild clears."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") >= 5)
    batch = emb.filter(F.col("vec_id") < 5)

    drifted = str(tmp_path / "drifted")
    ann_index.build_index(spark, base, drifted, nlist=8, m=8, ncodes=16)
    ann_index.upsert_index(spark, drifted, batch)
    meta = ann_index.rebuild_index(spark, drifted)
    assert meta["trained"] is False  # flavor preserved

    fresh = str(tmp_path / "fresh")
    ann_index.build_index(spark, emb, fresh, nlist=8, m=8, ncodes=16)

    def cells(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(
                os.path.join(path, "vectors"))
            .select("vec_id", "cell").collect())

    assert cells(drifted) == cells(fresh)

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]
    a = ann_index.search_index(spark, drifted, qv, k=5, nprobe=2,
                               shortlist=50).collect()
    b = ann_index.search_index(spark, fresh, qv, k=5, nprobe=2,
                               shortlist=50).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_mmr_over_materialized_index_is_bounded(spark, tmp_path):
    """ann_mmr_materialized's composition at unit level: the shortlist
    comes from the persisted index with keep_vec=True, and mmr_select
    over it (a) returns k distinct ids drawn from the served set, (b)
    agrees with mmr_select over the identical shortlist built in
    memory — the index layer must not leak into the greedy stage."""
    from msg_vector_search_spark.operators import ann_index
    from msg_vector_search_spark.operators import similarity as sim

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "annidx_mmr")
    ann_index.build_index(spark, emb, path, nlist=8, m=8, ncodes=16)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]

    served = ann_index.search_index(spark, path, qv, k=20, nprobe=2,
                                    shortlist=50, keep_vec=True)
    short = served.select("vec_id", F.col("sim").alias("simq"),
                          "embedding")
    out = sim.mmr_select(short, k=5, lam=0.7).collect()
    served_ids = {r.vec_id for r in served.collect()}
    assert len(out) == 5
    assert len({r.vec_id for r in out}) == 5
    assert {r.vec_id for r in out} <= served_ids
    # steps are 1..5 and step 1 is the served argmax
    by_step = sorted(out, key=lambda r: r.step)
    assert [r.step for r in by_step] == [1, 2, 3, 4, 5]
    top = sorted(served.collect(),
                 key=lambda r: (-r.sim, r.vec_id))[0]
    assert by_step[0].vec_id == top.vec_id

    # mem twin over the same rows gives the same selection
    mem = sim.mmr_select(short, k=5, lam=0.7).collect()
    assert {(r.step, r.vec_id) for r in mem} == \
           {(r.step, r.vec_id) for r in out}


def test_upsert_auto_compact_bounds_file_count(spark, tmp_path):
    """Continuous ingestion self-maintains: with auto_compact_files=2,
    five successive upserts never leave a cell directory above 2
    files, and the store still serves the same results as an
    uncompacted twin."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1)
          .select("embedding").collect()[0][0]]

    auto = str(tmp_path / "auto")
    manual = str(tmp_path / "manual")
    ann_index.build_index(spark, base, auto, nlist=4, m=8, ncodes=16)
    ann_index.build_index(spark, base, manual, nlist=4, m=8, ncodes=16)
    for r in range(5):
        batch = emb.filter(F.col("vec_id") % 10 == 2 * r + 1)
        ann_index.upsert_index(spark, auto, batch, auto_compact_files=2)
        ann_index.upsert_index(spark, manual, batch,
                               auto_compact_files=None)

    for store in ("vectors", "codes"):
        root = os.path.join(auto, store)
        for entry in os.listdir(root):
            if not entry.startswith("cell="):
                continue
            n = len([f for f in os.listdir(os.path.join(root, entry))
                     if f.endswith(".parquet")])
            assert n <= 2, f"{store}/{entry} has {n} files"

    got_a = {tuple(r) for r in ann_index.search_index(
        spark, auto, qv, k=5, nprobe=2, shortlist=50).collect()}
    got_m = {tuple(r) for r in ann_index.search_index(
        spark, manual, qv, k=5, nprobe=2, shortlist=50).collect()}
    assert got_a == got_m


def test_upsert_index_rerun_recovers_partial_swap(spark, tmp_path,
                                                  monkeypatch):
    """Crash semantics of the incremental index upsert: each cell swap
    is atomic-ish, so a crash mid-loop leaves some cells merged and
    some stale — every cell internally consistent — and RE-RUNNING the
    same upsert is the recovery path (last-writer-wins is idempotent).
    Simulated by failing _swap_dir after the first cell; the re-run
    must land the index in the exact state a crash-free run
    produces."""
    from msg_vector_search_spark.operators import ann_index
    from msg_vector_search_spark.sources import sinks as sinks_mod

    emb = readers.read_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1)
          .select("embedding").collect()[0][0]]

    crashed = str(tmp_path / "crashed")
    clean = str(tmp_path / "clean")
    ann_index.build_index(spark, base, crashed, nlist=4, m=8, ncodes=16)
    ann_index.build_index(spark, base, clean, nlist=4, m=8, ncodes=16)

    real_swap = sinks_mod._swap_dir
    calls = {"n": 0}

    def failing_swap(src, dst):
        calls["n"] += 1
        if calls["n"] > 1:
            raise RuntimeError("simulated crash mid-swap")
        real_swap(src, dst)

    monkeypatch.setattr(
        "msg_vector_search_spark.operators.ann_index._swap_dir",
        failing_swap, raising=False)
    import msg_vector_search_spark.sources.sinks as s
    monkeypatch.setattr(s, "_swap_dir", failing_swap)
    try:
        ann_index.upsert_index(spark, crashed, batch)
        raise AssertionError("crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.setattr(s, "_swap_dir", real_swap)

    # recovery = re-run the same upsert
    ann_index.upsert_index(spark, crashed, batch)
    ann_index.upsert_index(spark, clean, batch)

    got = {tuple(r) for r in ann_index.search_index(
        spark, crashed, qv, k=5, nprobe=2, shortlist=50).collect()}
    want = {tuple(r) for r in ann_index.search_index(
        spark, clean, qv, k=5, nprobe=2, shortlist=50).collect()}
    assert got == want
    # stores fully merged: every batch id present exactly once
    vec = spark.read.parquet(f"{crashed}/vectors")
    assert vec.count() == emb.count()
    assert vec.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_upsert_index_heals_crash_inside_swap(spark, tmp_path):
    """The nastier crash point: INSIDE _swap_dir, after the live cell
    dir was renamed to ._old but before the staged dir renamed in —
    the cell is MISSING from the store.  Without healing, the next
    merge would read the store minus that cell and silently drop its
    rows into the rewrite.  heal_partial_swaps (called by every merge
    verb) must restore the cell before any read."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "swapcrash")
    ann_index.build_index(spark, base, path, nlist=4, m=8, ncodes=16)

    # simulate the mid-swap crash on one cell of the vectors store
    vec = os.path.join(path, "vectors")
    cells = [e for e in os.listdir(vec) if e.startswith("cell=")]
    victim = os.path.join(vec, cells[0])
    os.rename(victim, victim + "._old")
    assert not os.path.exists(victim)

    ann_index.upsert_index(spark, path, batch)

    stored = spark.read.parquet(vec)
    assert stored.count() == emb.count()  # nothing lost
    assert stored.groupBy("vec_id").count() \
        .filter("count > 1").count() == 0


def test_delete_index_keys_erases_both_stores_cell_locally(spark, tmp_path):
    """Erasure touches ONLY the victims' cells: pick victims from a
    single cell, erase, and check (a) both stores dropped exactly
    those rows, (b) untouched cell directories are byte-identical
    after the erase — the O(touched cells) cost claim made literal."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "erase_idx")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    vec_dir = os.path.join(path, "vectors")

    stored = spark.read.parquet(vec_dir)
    victim_cell = stored.groupBy("cell").count() \
        .orderBy(F.col("count").desc()).head()["cell"]
    victims = (stored.filter(F.col("cell") == victim_cell)
               .select("vec_id").limit(5).localCheckpoint())
    victim_ids = {r["vec_id"] for r in victims.collect()}

    def _bytes(store, cell):
        d = os.path.join(store, f"cell={cell}")
        return {f: os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")}

    other_cells = [r["cell"] for r in stored.select("cell").distinct()
                   .collect() if r["cell"] != victim_cell]
    before = {(s, c): _bytes(os.path.join(path, s), c)
              for s in ("vectors", "codes") for c in other_cells}

    touched = ann_index.delete_index_keys(spark, path, victims)
    assert touched == [victim_cell]

    for s in ("vectors", "codes"):
        store = spark.read.parquet(os.path.join(path, s))
        got = {r["vec_id"] for r in store.select("vec_id").collect()}
        assert got.isdisjoint(victim_ids)
        assert len(got) == emb.count() - len(victim_ids)
    after = {(s, c): _bytes(os.path.join(path, s), c)
             for s in ("vectors", "codes") for c in other_cells}
    assert after == before  # untouched cells never rewritten


def test_delete_index_keys_fast_path_matches_scan_path(spark, tmp_path):
    """The O(batch) fast path (victims' vectors provided, cells from
    assignment against the persisted centroids) must erase exactly
    what the fallback id-column scan erases."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    scan_idx = str(tmp_path / "scan_idx")
    fast_idx = str(tmp_path / "fast_idx")
    for p in (scan_idx, fast_idx):
        ann_index.build_index(spark, emb, p, nlist=4, m=8, ncodes=16)
    victims = emb.filter(F.col("vec_id") % 9 == 0)

    t_scan = ann_index.delete_index_keys(spark, scan_idx,
                                         victims.select("vec_id"))
    t_fast = ann_index.delete_index_keys(spark, fast_idx,
                                         victims.select("vec_id"),
                                         vectors=victims)
    assert t_scan == t_fast
    for s in ("vectors", "codes"):
        a = {tuple(r) for r in spark.read.parquet(
            os.path.join(scan_idx, s)).select("vec_id", "cell").collect()}
        b = {tuple(r) for r in spark.read.parquet(
            os.path.join(fast_idx, s)).select("vec_id", "cell").collect()}
        assert a == b


def test_delete_index_keys_crash_mid_commit_heals_on_search(
        spark, tmp_path):
    """Crash inside the erasure commit (manifest written, one cell
    renamed out, staged not renamed in): a plain search_index — no
    maintenance verb — must roll the erasure forward before reading,
    so erased rows are unreachable the moment the manifest exists."""
    import json as _json
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "crash_idx")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    vec_dir = os.path.join(path, "vectors")

    stored = spark.read.parquet(vec_dir)
    victim_cell = stored.groupBy("cell").count() \
        .orderBy(F.col("count").desc()).head()["cell"]
    victims = (stored.filter(F.col("cell") == victim_cell)
               .select("vec_id").limit(5).localCheckpoint())
    victim_ids = {r["vec_id"] for r in victims.collect()}
    qrow = emb.filter(F.col("vec_id") == sorted(victim_ids)[0]) \
        .select("embedding").head()

    # stage the vectors-store rewrite exactly as erase_partitions
    # would, then crash mid-_swap_dir (old renamed out, staged not in)
    kept = (stored.filter(F.col("cell") == victim_cell)
            .join(F.broadcast(victims), "vec_id", "left_anti"))
    tmp = vec_dir + "._staged"
    kept.write.mode("overwrite").partitionBy("cell").parquet(tmp)
    with open(os.path.join(vec_dir, "_delete_pending.json"), "w") as f:
        _json.dump({"touched": [victim_cell], "emptied": [],
                    "part_col": "cell"}, f)
    part = os.path.join(vec_dir, f"cell={victim_cell}")
    os.rename(part, part + "._old")

    got = ann_index.search_index(spark, path,
                                 [float(x) for x in qrow[0]],
                                 k=10, nprobe=4, shortlist=50)
    ids = {r["vec_id"] for r in got.collect()}
    assert ids.isdisjoint(victim_ids)
    assert not os.path.exists(part + "._old")
    assert not os.path.exists(os.path.join(vec_dir,
                                           "_delete_pending.json"))
    stored_after = spark.read.parquet(vec_dir)
    assert stored_after.count() == emb.count() - len(victim_ids)


def test_apply_changefeed_converges_to_rebuild(spark, tmp_path):
    """Changefeed-driven maintenance: mutate the corpus (inserts +
    cell-moving updates + deletes), apply the store diff to the index
    built on the OLD snapshot, and search must equal an index REBUILT
    from scratch on the NEW snapshot.  Compared under a full probe
    (nprobe=nlist, corpus-sized shortlist), where IVFPQ serving is
    exact top-k by cosine — so the equality is artifact-independent
    and pins that apply left exactly the new snapshot's rows, no
    stale copies, no survivors of the deletes."""
    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    perturbed = F.transform("embedding",
                            lambda x: x.cast("double") + F.lit(0.5))
    old = (emb.filter(F.col("vec_id") % 5 != 0)
           .select("vec_id", as_double.alias("embedding")))
    new = (emb.filter(F.col("vec_id") % 7 != 0)
           .select("vec_id",
                   F.when(F.col("vec_id") % 3 == 0, perturbed)
                   .otherwise(as_double).alias("embedding")))

    applied = str(tmp_path / "applied")
    rebuilt = str(tmp_path / "rebuilt")
    ann_index.build_index(spark, old, applied, nlist=4, m=8, ncodes=16)
    ann_index.build_index(spark, new, rebuilt, nlist=4, m=8, ncodes=16)

    o = old.select("vec_id", F.col("embedding").alias("old_embedding"))
    n = new.select(F.col("vec_id").alias("n_id"),
                   F.col("embedding").alias("new_embedding"))
    j = o.join(n, o.vec_id == n.n_id, "full_outer")
    feed = (j.filter(F.col("vec_id").isNull() | F.col("n_id").isNull()
                     | (F.col("old_embedding") != F.col("new_embedding")))
            .select(F.coalesce("vec_id", "n_id").alias("vec_id"),
                    F.when(F.col("vec_id").isNull(), F.lit("insert"))
                    .when(F.col("n_id").isNull(), F.lit("delete"))
                    .otherwise(F.lit("update")).alias("action"),
                    "old_embedding", "new_embedding"))
    kinds = {r["action"] for r in feed.select("action").distinct()
             .collect()}
    assert kinds == {"insert", "update", "delete"}
    ann_index.apply_changefeed_index(spark, applied, feed)

    # rows identical (the strongest form, before any serving)
    got = {(r["vec_id"], tuple(r["embedding"])) for r in
           spark.read.parquet(f"{applied}/vectors")
           .select("vec_id", "embedding").collect()}
    want = {(r["vec_id"], tuple(r["embedding"])) for r in
            spark.read.parquet(f"{rebuilt}/vectors")
            .select("vec_id", "embedding").collect()}
    assert got == want

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").head()[0]]
    corpus_n = new.count()
    a = [tuple(r) for r in ann_index.search_index(
        spark, applied, qv, k=10, nprobe=4,
        shortlist=corpus_n).drop("cell").collect()]
    b = [tuple(r) for r in ann_index.search_index(
        spark, rebuilt, qv, k=10, nprobe=4,
        shortlist=corpus_n).drop("cell").collect()]
    assert a == b


def test_delete_index_keys_crash_between_stores_rerun_converges(
        spark, tmp_path, monkeypatch):
    """The nastiest erase crash point: the codes-store erase COMMITTED
    (manifest gone) but the vectors-store erase never ran.  Because
    the re-run recovery derives victim cells from the VECTORS store,
    codes must erase first — this test pins that order by crashing
    between the two commits and asserting (a) the half-erased index
    cannot serve a victim even before recovery, and (b) re-running the
    same delete (the documented recovery path) lands both stores in
    the crash-free state."""
    import os

    from msg_vector_search_spark.operators import ann_index
    from msg_vector_search_spark.sources import sinks as sinks_mod

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "crash2_idx")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    victims = emb.filter(F.col("vec_id") % 9 == 0).select("vec_id") \
        .localCheckpoint()
    victim_ids = {r["vec_id"] for r in victims.collect()}

    real = sinks_mod.erase_partitions
    calls = {"n": 0}

    def crash_on_second(spark_, store, key, keys, touched, part_col):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between store erasures")
        return real(spark_, store, key, keys, touched, part_col=part_col)

    monkeypatch.setattr(sinks_mod, "erase_partitions", crash_on_second)
    import msg_vector_search_spark.operators.ann_index as ai
    # ann_index imports erase_partitions inside the function body from
    # sinks, so patching the sinks module attribute is sufficient
    try:
        ai.delete_index_keys(spark, path, victims)
        raise AssertionError("crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.undo()

    # half-erased: codes gone, vectors still hold victims — but serving
    # cannot return a victim (shortlist comes from the erased codes)
    codes_ids = {r["vec_id"] for r in spark.read.parquet(
        f"{path}/codes").select("vec_id").collect()}
    assert codes_ids.isdisjoint(victim_ids)
    qrow = emb.filter(F.col("vec_id") == sorted(victim_ids)[0]) \
        .select("embedding").head()
    served = {r["vec_id"] for r in ann_index.search_index(
        spark, path, [float(x) for x in qrow[0]], k=10, nprobe=4,
        shortlist=100).collect()}
    assert served.isdisjoint(victim_ids)

    # recovery: the same delete again — victims still discoverable in
    # the vectors store, so the re-run re-derives the full cell set
    touched = ann_index.delete_index_keys(spark, path, victims)
    assert touched
    for s in ("vectors", "codes"):
        ids = {r["vec_id"] for r in spark.read.parquet(
            f"{path}/{s}").select("vec_id").collect()}
        assert ids.isdisjoint(victim_ids)
        assert len(ids) == emb.count() - len(victim_ids)


def test_assign_cells_duplicate_ids_store_consistent_pair(spark):
    """With duplicate ids, the stored (vector, cell) pair must come
    from ONE duplicate row: a mixed pair (vector of dup A, cell of
    dup B) would defeat delete_index_keys' assignment fast path —
    re-assigning the stored vector would land in a different cell
    than where the row actually sits."""
    # two far-apart clusters so the duplicates' cells provably differ
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 1.0]), (3, [0.0, 0.0, 0.1, 0.9]),
            # id 7 duplicated: one vector per cluster
            (7, [1.0, 0.05, 0.0, 0.0]), (7, [0.0, 0.05, 0.0, 1.0])]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])],
        "centroid_id bigint, centroid_vec array<float>")

    out = ivf.assign_cells(emb, cent).collect()
    assert len(out) == 5  # one row per id
    row7 = [r for r in out if r["vec_id"] == 7][0]
    # whichever duplicate won, its OWN re-assignment must equal the
    # stored cell
    solo = spark.createDataFrame(
        [(7, [float(x) for x in row7["embedding"]])],
        "vec_id bigint, embedding array<float>")
    recell = ivf.assign_cells(solo, cent).head()["cell"]
    assert recell == row7["cell"]

    # multi-probe: every emitted cell for id 7 must come from the SAME
    # duplicate row as the emitted vector (its own top-2 ranking)
    multi = ivf.assign_cells_multi(emb, cent, nprobe=2).collect()
    m7 = [r for r in multi if r["vec_id"] == 7]
    assert len(m7) == 2
    vecs = {tuple(float(x) for x in r["embedding"]) for r in m7}
    assert len(vecs) == 1  # one consistent vector
    own_rank = ivf.assign_cells_multi(
        spark.createDataFrame(
            [(7, [float(x) for x in next(iter(vecs))])],
            "vec_id bigint, embedding array<float>"),
        cent, nprobe=2)
    assert {r["cell"] for r in m7} == \
           {r["cell"] for r in own_rank.collect()}


def test_search_index_many_matches_per_query_serving(spark, tmp_path):
    """The batched multi-query serve must be bit-identical, per query,
    to Q separate search_index calls with the same parameters — same
    ids, same cells, same rounded sims, same order — while reading the
    stores once (the union-of-probes literal filter must reach the
    code scan as PartitionFilters)."""
    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    path = str(tmp_path / "index")
    ann_index.build_index(spark, emb, path, nlist=8, m=8, ncodes=16)

    qrows = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin([0, 7, 13, 21, 34]))
             .collect()}
    batched = ann_index.search_index_many(spark, path, qrows, k=5,
                                          nprobe=3, shortlist=40)
    got = [tuple(r) for r in batched.collect()]
    want = []
    for qid in sorted(qrows):
        single = ann_index.search_index(spark, path, qrows[qid], k=5,
                                        nprobe=3, shortlist=40)
        want += [(qid, r["vec_id"], r["cell"], r["sim"])
                 for r in single.collect()]
    assert got == want

    # the union-cell literal must prune the code scan's partitions
    cells = set()
    cent = ann_index.load_centroids(spark, path)
    for qv in qrows.values():
        cells |= {r["cell"] for r in ivf.probe_cells(cent, qv, 3).collect()}
    pruned = (spark.read.parquet(path + "/codes")
              .filter(F.col("cell").isin(sorted(cells))))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]


def test_filtered_materialized_serve_prefilters_both_stores(spark, tmp_path):
    """A labeled index serves a where-predicate as a PRE-filter: with
    full probe + corpus-sized shortlist the result equals brute-force
    cosine top-k over ONLY the eligible rows; the predicate reaches
    the code scan as a pushed filter next to the cell partition
    filter; and an upsert carries the label so maintenance keeps the
    filter servable."""
    from msg_vector_search_spark.operators import ann_index
    from msg_vector_search_spark.operators import similarity as sim_ops

    emb = readers.read_table(spark, SF, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    base = emb.filter(F.col("vec_id") < 150)
    batch = emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 180))
    path = str(tmp_path / "idx")
    ann_index.build_index(spark, base, path, nlist=4, m=8, ncodes=16,
                          meta_cols=("label",))
    ann_index.upsert_index(spark, path, batch)
    assert "label" in spark.read.parquet(path + "/codes").columns
    assert "label" in spark.read.parquet(path + "/vectors").columns

    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    n = base.count() + batch.count()
    got = [(r["vec_id"], r["sim"]) for r in ann_index.search_index(
        spark, path, qv, k=5, nprobe=4, shortlist=n,
        where="label % 2 = 0").collect()]
    want = [(r["vec_id"], r["sim"]) for r in sim_ops.knn_search(
        emb.filter((F.col("vec_id") < 180) & (F.col("label") % 2 == 0)),
        qv, k=5, threshold=-2.0).collect()]
    assert got == want

    # the predicate must be pushed into the code scan
    codes = (spark.read.parquet(path + "/codes")
             .filter(F.col("cell").isin([0, 1]))
             .filter(F.expr("label % 2 = 0")))
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "label" in plan  # data filter on the label column present

    # batched filtered serve agrees with per-query filtered serves
    qrows = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin([0, 7])).collect()}
    batched = [tuple(r) for r in ann_index.search_index_many(
        spark, path, qrows, k=5, nprobe=3, shortlist=40,
        where="label % 2 = 0").collect()]
    singles = []
    for qid in sorted(qrows):
        singles += [(qid, r["vec_id"], r["cell"], r["sim"])
                    for r in ann_index.search_index(
                        spark, path, qrows[qid], k=5, nprobe=3,
                        shortlist=40, where="label % 2 = 0").collect()]
    assert batched == singles


def test_ann_many_large_q_path_equals_literal(spark, tmp_path):
    """The large-Q strategy (ADC tables as broadcast DATA joined on
    probed cell, one shared element_at scoring fold) must be
    bit-identical to the literal strategy (per-query codegen ADC
    columns) on the same store — plain and where-filtered — while
    keeping the plan CONSTANT in Q: no Q-struct explode (Generate
    node), and the shortlist window planned as a map-side
    WindowGroupLimit."""
    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    path = str(tmp_path / "index")
    ann_index.build_index(spark, emb, path, nlist=8, m=8, ncodes=16,
                          meta_cols=("label",))

    qrows = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(
                 [0, 3, 7, 13, 21, 34, 55, 89])).collect()}
    for where in (None, "label % 2 = 0"):
        lit = ann_index.search_index_many(
            spark, path, qrows, k=5, nprobe=3, shortlist=40,
            where=where, literal_max=1000)
        jnd = ann_index.search_index_many(
            spark, path, qrows, k=5, nprobe=3, shortlist=40,
            where=where, literal_max=0)
        assert [(f.name, f.dataType) for f in lit.schema.fields] == \
               [(f.name, f.dataType) for f in jnd.schema.fields]
        assert [tuple(r) for r in lit.collect()] == \
               [tuple(r) for r in jnd.collect()]

    jplan = ann_index.search_index_many(
        spark, path, qrows, k=5, nprobe=3, shortlist=40,
        literal_max=0)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in jplan          # no explode of Q structs
    assert "WindowGroupLimit" in jplan
    lplan = ann_index.search_index_many(
        spark, path, qrows, k=5, nprobe=3, shortlist=40,
        literal_max=1000)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in lplan              # the literal path DOES explode


def _stage_pending_erasure(spark, store: str, victims, key: str = "vec_id"):
    """Simulate delete_index_keys crashing IMMEDIATELY after its
    manifest write on *store*: the anti-joined rewrite is staged, the
    manifest records the swap plan, and NO directory has been swapped
    — the exact state erase_partitions leaves if the process dies
    before _finish_pending_delete's first rename."""
    import json as _json
    import os

    stored = spark.read.parquet(store)
    cells = sorted({r["cell"] for r in
                    stored.join(F.broadcast(victims), key, "semi")
                    .select("cell").distinct().collect()})
    kept = (stored.filter(F.col("cell").isin(cells))
            .join(F.broadcast(victims), key, "left_anti"))
    tmp = store + "._staged"
    kept.write.mode("overwrite").partitionBy("cell").parquet(tmp)
    emptied = [c for c in cells
               if not os.path.exists(os.path.join(tmp, f"cell={c}"))]
    with open(os.path.join(store, "_delete_pending.json"), "w") as f:
        _json.dump({"touched": cells, "emptied": emptied,
                    "part_col": "cell"}, f)
    return cells


def test_upsert_index_rolls_forward_pending_erasure(spark, tmp_path):
    """r14 review finding 1: an upsert arriving after a crashed
    erasure must COMMIT the pending erasure before merging — the old
    behavior clobbered the erasure's staged rewrite (shared '._staged'
    suffix), baked the victims back in, and left a manifest whose
    later replay could rmtree live cells."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "upsert_pending")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    vstore = os.path.join(path, "vectors")
    cstore = os.path.join(path, "codes")

    victims = (spark.read.parquet(vstore).select("vec_id")
               .orderBy("vec_id").limit(5).localCheckpoint())
    victim_ids = {r["vec_id"] for r in victims.collect()}
    _stage_pending_erasure(spark, cstore, victims)
    _stage_pending_erasure(spark, vstore, victims)

    batch = (emb.orderBy("vec_id").limit(3)
             .select((F.col("vec_id") + 900000).alias("vec_id"),
                     "embedding"))
    ann_index.upsert_index(spark, path, batch)

    for store in (vstore, cstore):
        ids = {r["vec_id"] for r in
               spark.read.parquet(store).select("vec_id").collect()}
        assert ids.isdisjoint(victim_ids), store
        assert {900000, 900001, 900002} <= ids, store
        assert not os.path.exists(
            os.path.join(store, "_delete_pending.json"))
        assert not os.path.exists(store + "._staged")
        assert not os.path.exists(store + sinks.REPLACE_STAGE)


def test_rebuild_index_rolls_forward_pending_erasure(spark, tmp_path):
    """r14 review finding 2: a rebuild after a crashed erasure must
    commit the erasure BEFORE treating the vectors store as the source
    of truth — otherwise the victims are baked into the fresh index
    and the pending manifest is discarded with the old directories."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "rebuild_pending")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    vstore = os.path.join(path, "vectors")

    victims = (spark.read.parquet(vstore).select("vec_id")
               .orderBy("vec_id").limit(5).localCheckpoint())
    victim_ids = {r["vec_id"] for r in victims.collect()}
    _stage_pending_erasure(spark, os.path.join(path, "codes"), victims)
    _stage_pending_erasure(spark, vstore, victims)

    meta = ann_index.rebuild_index(spark, path)
    assert meta["n_rows"] == emb.count() - len(victim_ids)
    ids = {r["vec_id"] for r in
           spark.read.parquet(os.path.join(path, "vectors"))
           .select("vec_id").collect()}
    assert ids.isdisjoint(victim_ids)
    assert not os.path.exists(
        os.path.join(path, "vectors", "_delete_pending.json"))


def test_compact_cells_rolls_forward_pending_erasure(spark, tmp_path):
    """compact_store on a cell-partitioned ANN store must commit a
    crashed erasure first, like every other verb: the manifest records
    its own partition column, so the cell layout needs no special
    case — no manifest and no victim may survive the compaction."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "compact_pending")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    vstore = os.path.join(path, "vectors")

    victims = (spark.read.parquet(vstore).select("vec_id")
               .orderBy("vec_id").limit(5).localCheckpoint())
    victim_ids = {r["vec_id"] for r in victims.collect()}
    _stage_pending_erasure(spark, vstore, victims)

    sinks.compact_store(spark, vstore, part_col="cell")
    assert not os.path.exists(os.path.join(vstore, sinks.DELETE_MANIFEST))
    ids = {r["vec_id"] for r in
           spark.read.parquet(vstore).select("vec_id").collect()}
    assert ids.isdisjoint(victim_ids)
    assert len(ids) == emb.count() - len(victim_ids)


def test_heal_root_restores_stranded_index(spark, tmp_path):
    """r14 review finding 3: a crash between rebuild's two root
    renames leaves the whole index as '<path>._old' — the next verb
    must restore it (and a STALE ._old beside a live root must be
    swept, not restored over it)."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "stranded_root")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").head()[0]]
    want = [tuple(r) for r in ann_index.search_index(
        spark, path, qv, k=5, nprobe=4, shortlist=50).collect()]

    # crash between the renames: live tree at ._old, nothing at path
    os.rename(path, path + "._old")
    got = [tuple(r) for r in ann_index.search_index(
        spark, path, qv, k=5, nprobe=4, shortlist=50).collect()]
    assert got == want
    assert os.path.isdir(path) and not os.path.exists(path + "._old")

    # crash after the second rename: stale ._old beside the live root
    os.makedirs(path + "._old")
    assert ann_index.read_meta(path)["nlist"] == 4
    assert not os.path.exists(path + "._old")


def test_maintenance_stats_heals_stale_old_dir(spark, tmp_path):
    """r14 review finding 7: a stale 'cell=N._old' leftover must not
    double-count that cell's rows in the rebuild-decision signals."""
    import os
    import shutil

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "stats_stale")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    cstore = os.path.join(path, "codes")
    cell_dir = next(os.path.join(cstore, d) for d in os.listdir(cstore)
                    if d.startswith("cell="))
    shutil.copytree(cell_dir, cell_dir + "._old")

    sig = ann_index.index_maintenance_stats(spark, path)
    assert sig["total_rows"] == emb.count()
    assert sig["growth"] == 0.0
    assert not os.path.exists(cell_dir + "._old")


def test_search_index_many_empty_queries_contract(spark, tmp_path):
    """r14 review finding 5: the empty-queries early return must carry
    the same schema as the non-empty path — including 'rank' under
    with_rank=True (hybrid_serve_many selects it unconditionally)."""
    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "empty_q")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").head()[0]]

    full = ann_index.search_index_many(spark, path, {7: qv},
                                       with_rank=True)
    empty = ann_index.search_index_many(spark, path, {}, with_rank=True)
    assert empty.columns == full.columns
    assert [f.dataType for f in empty.schema.fields] == \
           [f.dataType for f in full.schema.fields]
    assert empty.count() == 0
    plain = ann_index.search_index_many(spark, path, {})
    assert "rank" not in plain.columns


def _vec_rows(spark, path):
    import os

    return (spark.read.parquet(os.path.join(path, "vectors"))
            .select("vec_id", "cell"))


def test_upsert_index_cell_moving_update_guard(spark, tmp_path):
    """r14 judge item 7: a cell-MOVING update through plain upsert.
    Default 'ignore' leaves the documented stale copy; 'erase' hunts
    it in the non-touched cells and removes it from BOTH stores (plain
    upsert safe for updates); 'error' refuses loudly."""
    import pytest

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")

    def build(name):
        p = str(tmp_path / name)
        ann_index.build_index(spark, emb, p, nlist=8, m=8, ncodes=16)
        return p

    ref = build("ref")
    cells = {r["vec_id"]: r["cell"] for r in _vec_rows(spark, ref).collect()}
    mover = 3
    donor = next(v for v, c in sorted(cells.items())
                 if c != cells[mover])
    new_vec = [float(x) for x in
               emb.filter(F.col("vec_id") == donor)
               .select("embedding").collect()[0][0]]
    batch = spark.createDataFrame([(mover, new_vec)],
                                  "vec_id long, embedding array<float>")

    # default 'ignore': stale copy survives in the old cell (the
    # documented fast-path caveat this guard exists for)
    p_ign = build("ign")
    ann_index.upsert_index(spark, p_ign, batch)
    got = _vec_rows(spark, p_ign).filter(F.col("vec_id") == mover).collect()
    assert sorted(r["cell"] for r in got) == sorted(
        {cells[mover], cells[donor]})

    # 'erase': exactly one copy remains, in the NEW cell, in both stores
    p_er = build("er")
    ann_index.upsert_index(spark, p_er, batch, on_moved="erase")
    got = _vec_rows(spark, p_er).filter(F.col("vec_id") == mover).collect()
    assert [r["cell"] for r in got] == [cells[donor]]
    import os

    codes = (spark.read.parquet(os.path.join(p_er, "codes"))
             .filter(F.col("vec_id") == mover).collect())
    assert [r["cell"] for r in codes] == [cells[donor]]
    # the erased index still serves (exhaustive probe finds the mover
    # at its new position with sim 1.0 against the donor vector)
    served = ann_index.search_index(spark, p_er, new_vec, k=3, nprobe=8,
                                    shortlist=50).collect()
    assert mover in {r["vec_id"] for r in served}

    # 'error': the same detection refuses instead
    p_err = build("err")
    with pytest.raises(ValueError, match="non-touched cell"):
        ann_index.upsert_index(spark, p_err, batch, on_moved="error")

    # 'erase' on genuinely NEW keys is a no-op guard (no extra erase)
    fresh = spark.createDataFrame(
        [(99_991, new_vec)], "vec_id long, embedding array<float>")
    ann_index.upsert_index(spark, p_er, fresh, on_moved="erase")
    assert _vec_rows(spark, p_er).filter(
        F.col("vec_id") == 99_991).count() == 1


def test_delete_index_where_ttl_and_guards(spark, tmp_path):
    """Index-side erase-by-predicate (r16): victims AND their cells
    come from one column-pruned vectors-sidecar scan; serving after
    the erase equals the inline composition over survivors; an index
    without meta_cols refuses; a re-run matches nothing."""
    import datetime as dt

    import pytest

    from msg_vector_search_spark.operators import ann_index, pq

    emb = readers.read_table(spark, SF, "embeddings")
    n = emb.count()
    origin = dt.datetime(2024, 1, 1)
    aged = emb.withColumn(
        "ts", F.lit(origin) + F.make_interval(
            mins=F.col("vec_id").cast("int")))
    path = str(tmp_path / "ttlann")
    ann_index.build_index(spark, aged, path, nlist=8, m=8, ncodes=16,
                          meta_cols=("ts",))

    bare = str(tmp_path / "bareann")
    ann_index.build_index(spark, emb, bare, nlist=8, m=8, ncodes=16)
    with pytest.raises(ValueError, match="no meta_cols"):
        ann_index.delete_index_where(spark, bare, "vec_id < 10")

    cutoff = origin + dt.timedelta(minutes=n // 4)
    pred = f"ts < timestamp'{cutoff.strftime('%Y-%m-%d %H:%M:%S')}'"
    touched = ann_index.delete_index_where(spark, path, pred)
    assert touched
    import os
    vecs = spark.read.parquet(os.path.join(path, "vectors"))
    assert vecs.filter(F.col("vec_id") < n // 4).count() == 0
    assert vecs.count() == n - n // 4
    codes = spark.read.parquet(os.path.join(path, "codes"))
    assert codes.filter(F.col("vec_id") < n // 4).count() == 0

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]
    served = ann_index.search_index(spark, path, qv, k=5, nprobe=2,
                                    shortlist=50)
    surv = emb.filter(F.col("vec_id") >= n // 4)
    cent = ivf.seed_centroids(emb, 8)
    cb = pq.seed_codebooks(emb, m=8, ncodes=16)
    inline = pq.ivfpq_search(ivf.assign_cells(surv, cent), cent, cb,
                             qv, k=5, nprobe=2, shortlist=50)
    assert [r.asDict() for r in served.collect()] == \
        [r.asDict() for r in inline.collect()]
    # idempotent: nothing matches any more
    assert ann_index.delete_index_where(spark, path, pred) == []


def test_search_survives_fully_emptied_probed_cell(spark, tmp_path):
    """r17 explicit-dirs serving edge: when an erasure empties EVERY
    row of a probed cell, its directory is removed from both stores —
    _read_cells must serve the remaining probed cells (a missing dir
    contributes no rows, exactly as the old isin filter did) and the
    top-k must equal a search over the surviving corpus."""
    import os

    from msg_vector_search_spark.operators import ann_index

    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "annidx")
    ann_index.build_index(spark, emb, path, nlist=4, m=8, ncodes=16)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").head()[0]]
    cent = ann_index.load_centroids(spark, path)
    probed = ivf.probe_cells_local(cent.collect(), qv, 2)
    assert len(probed) == 2
    victim_cell = probed[0]

    vstore = os.path.join(path, "vectors")
    victims = (spark.read.parquet(vstore)
               .filter(F.col("cell") == victim_cell).select("vec_id"))
    n_victims = victims.count()
    assert n_victims > 0
    touched = ann_index.delete_index_keys(spark, path, victims)
    assert touched == [victim_cell]
    # the emptied cell's dir is GONE from both stores (erase contract)
    for sub in ("vectors", "codes"):
        assert not os.path.exists(
            os.path.join(path, sub, f"cell={victim_cell}"))

    got = ann_index.search_index(spark, path, qv, k=5, nprobe=2)
    rows = got.collect()
    assert rows  # the surviving probed cell still serves
    assert all(r["cell"] == probed[1] for r in rows)
    # parity: identical to serving the second probed cell alone
    alone = ann_index.search_index(spark, path, qv, k=5, nprobe=2)
    assert [tuple(r) for r in alone.collect()] == [tuple(r) for r in rows]


def test_build_index_auto_sizes_nlist(spark, tmp_path):
    """r17 layout auto-sizing (the ANN twin of the postings-bucket
    policy): the default build sizes nlist = max(16, isqrt(N)).  A
    2500-vector corpus lands at 50 cells, the floor holds for small
    corpora, an explicit nlist still pins the layout, and serving the
    auto-sized index stays correct (exact when nprobe = nlist)."""
    import json
    import os

    from msg_vector_search_spark.operators import ann_index
    from msg_vector_search_spark.operators import similarity as sim_ops

    emb = (spark.range(2500).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(seed=11 + j) * 2 - 1).cast("float")
                  for j in range(8)]).alias("embedding"))
        .localCheckpoint())
    path = str(tmp_path / "auto")
    meta = ann_index.build_index(spark, emb, path, m=4, ncodes=16)
    assert meta["nlist"] == 50
    with open(os.path.join(path, ann_index.META_FILE)) as f:
        assert json.load(f)["nlist"] == 50

    small = emb.limit(100)
    meta_small = ann_index.build_index(
        spark, small, str(tmp_path / "floor"), m=4, ncodes=16)
    assert meta_small["nlist"] == 16
    meta_pin = ann_index.build_index(
        spark, small, str(tmp_path / "pinned"), nlist=4, m=4, ncodes=16)
    assert meta_pin["nlist"] == 4

    # exact serving on the auto-sized layout: nprobe = nlist and a
    # corpus-wide shortlist degrade IVFPQ to brute force over PQ-free
    # rerank, so top-1 of a stored vector is itself
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 7).head()["embedding"]]
    top = ann_index.search_index(spark, path, qv, k=1, nprobe=50,
                                 shortlist=2500).head()
    assert top["vec_id"] == 7
