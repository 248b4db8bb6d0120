"""Sinks (SURVEY 2.A A5/A6).

The reference's vector store write is a bulk ``INSERT OR REPLACE``
inside one transaction (reference: src/core/embeddings/processor.py:
326-411) — i.e. an idempotent last-writer-wins upsert on the message-id
primary key, whose cost is O(batch), not O(table).

Spark has no in-place upsert on plain Parquet, so the store is laid out
as a KEY-PARTITIONED table: directory ``_bkt=<i>`` holds every row
whose key maps to bucket *i* under a pure function of the key.  An
incoming batch then only ever touches the buckets its keys map to: read
THOSE partitions (directory pruning — untouched buckets are never
opened), merge + last-wins dedup, rewrite only those directories.
Untouched partition files are byte-identical after the upsert (asserted
in tests/test_layout_scale.py).

Two layouts, chosen at first write and persisted in ``_layout.json``:

``range`` (for arrival-ordered integer-castable keys — message ids):
    bucket = ``key div range_width``.  The Spark analog of the
    reference's clustered SQLite B-tree on rowid: a batch of B new keys
    is CONTIGUOUS in key space, so it lands in O(B / range_width)
    partitions no matter how large the store is, and updates to old
    keys touch exactly the partitions that hold them.  New key ranges
    grow new directories — the store never needs re-bucketing.  This is
    the 100 TB path for the ingest workload and the layout
    ``plans/ingest.py`` uses.

``hash`` (for arbitrary keys): bucket = ``xxhash64(key) mod N``.
    Rewrite cost is O(min(B, N) * keys_per_bucket) — batch-proportional
    only while B << N, so N is auto-sized at first write from the
    initial load (``max(64, keys / TARGET_KEYS_PER_BUCKET)``) rather
    than fixed at 64.  Safe default when keys carry no arrival order.

With Delta/Iceberg on the classpath this whole function is a
format-level MERGE with file-level pruning; the jars are not in this
environment so the bucket-partitioned dedup-rewrite is the
implementation and the MERGE path is documented.

Commit protocols.  Every maintenance verb in the engine commits
through this module, under one of two staging names:

* *replace* (:func:`stage_and_swap`, stage ``<path>._replacing``): the
  writer sweeps the stage left by a crashed earlier attempt, writes
  into it, then swaps in either the whole directory or each listed
  partition directory (:func:`_swap_dir`: rename the live dir to
  ``._old``, rename the stage in, drop ``._old``), and removes the
  stage.  Upserts, compactions, re-layouts, index rebuilds and the
  small driver-side sidecar writes use it.
* *erasure* (:func:`_commit_erasure`, stage ``<path>._staged``): the
  surviving rows of the touched partitions are staged, the swap plan
  is recorded in ``_delete_pending.json``, and only then does
  :func:`_finish_pending_delete` swap (or drop) each partition.
  Recovery finds the stage by its name, replays the plan, and deletes
  the manifest last.

Before a verb reads or writes a directory it runs :func:`heal`, which
repairs crash leftovers in a fixed order: first a root stranded
between the two renames of a whole-directory swap
(:func:`heal_root`), then a recorded erasure, rolled forward
(:func:`_finish_pending_delete`), then partition directories stranded
mid-swap (:func:`heal_partial_swaps`).  The erasure goes before the
swap heal, because healing around a half-applied erasure would
resurrect rows its replay deletes again later.  :func:`heal` never
sweeps a stage: a reader may run while a writer is staging, so only
the writer about to stage sweeps its own.

Deployment note: the maintenance WRITE verbs here (directory swaps,
swap healing, file counting, manifest staging) use ``os``/``shutil``
— a POSIX store directory, matching the sandbox-local design.  The
READ-path existence probes are scheme-dispatching (``sources/fs.py``):
remote URIs route through the Hadoop FileSystem API so the pruned
listing holds on object storage.  The DataFrame read/merge/write
plans are cluster-agnostic; on HDFS or an object store the write
verbs run against the filesystem client (Hadoop FileSystem API / S3
list+copy), or disappear entirely under Delta/Iceberg where the
transaction log plays the manifest's role.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import run_concurrently
from . import fs as fs_probe

#: Partition column of the upsert store layout.  Internal — readers go
#: through :func:`read_store`, which drops it.
BUCKET_COL = "_bkt"
DEFAULT_BUCKETS = 64
#: Hash-layout auto-sizing target: keys per bucket at first write.
#: Incremental rewrite cost is ~touched_buckets x this, so it bounds
#: write amplification; raise it to trade amplification for bigger
#: bucket files.
TARGET_KEYS_PER_BUCKET = 128
#: Range-layout default: keys per partition directory.
DEFAULT_RANGE_WIDTH = 4096

#: Layout metadata file inside the store directory.  The leading
#: underscore keeps Spark/Hadoop parquet listing from treating it as
#: data (same convention as ``_SUCCESS``).
LAYOUT_META = "_layout.json"
#: Marker recording an in-flight erasure's swap plan (stage-then-commit;
#: see :func:`delete_keys` / :func:`_finish_pending_delete`).
DELETE_MANIFEST = "_delete_pending.json"
#: Staging suffixes of the two commit protocols (module docstring).
ERASE_STAGE = "._staged"
REPLACE_STAGE = "._replacing"


def bucket_of(key: Column | str, num_buckets: int) -> Column:
    """Deterministic hash bucket id for a key: uniform, retry-stable
    (pure hash, no ``rand()``), identical across batches — the
    invariant that makes per-bucket dedup equal global dedup: every
    version of a key lands in the same directory."""
    key = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(num_buckets)).cast("int")


def range_bucket_of(key: Column | str, range_width: int) -> Column:
    """Range bucket id: ``key div range_width`` on the integer value of
    the key.  Pure function of the key (same invariant as
    :func:`bucket_of`), but CONTIGUOUS: consecutive ids share a
    directory, so an arrival-ordered batch touches O(batch/width)
    directories.  Requires integer-castable keys — enforced by
    :func:`upsert_parquet`'s touched-bucket probe (a non-castable key
    yields a NULL bucket, which the probe rejects)."""
    key = F.col(key) if isinstance(key, str) else key
    # try_cast: a malformed key yields a NULL bucket for the guards to
    # reject, instead of an ANSI cast error deep inside the write job
    return F.floor(key.try_cast("long") / F.lit(range_width)).cast("int")


def _bucket_expr(key: str, meta: dict) -> Column:
    if meta["layout"] == "range":
        return range_bucket_of(key, meta["range_width"])
    return bucket_of(key, meta["num_buckets"])


def _read_layout(path: str) -> dict | None:
    """The store's persisted layout metadata, or None for a store
    written before layout metadata existed (or a plain flat parquet
    dir).  Pre-range-layout metadata files ({"num_buckets": N}) read as
    hash layouts — no migration needed."""
    try:
        with open(os.path.join(path, LAYOUT_META)) as f:
            meta = json.load(f)
        if not isinstance(meta, dict):
            return None
        if meta.get("layout") == "range":
            return {"layout": "range",
                    "range_width": int(meta["range_width"])}
        return {"layout": "hash", "num_buckets": int(meta["num_buckets"])}
    except (FileNotFoundError, NotADirectoryError, KeyError,
            TypeError, ValueError):
        return None


def _atomic_write_json(target: str, payload: dict) -> None:
    """Write-then-rename so a crash mid-write can never leave truncated
    JSON where a marker file is expected — readers see the old file or
    the new one, never garbage (rename is atomic within a directory)."""
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, target)


def _write_layout(path: str, meta: dict) -> None:
    _atomic_write_json(os.path.join(path, LAYOUT_META), meta)


def _dedup_last_wins_bucketed(df: DataFrame, key: str,
                              order_col: str) -> DataFrame:
    """Last-writer-wins dedup computed WITHIN the bucket partition: one
    shuffle on ``BUCKET_COL`` serves both the dedup (a key never spans
    buckets, so per-bucket last-wins == global last-wins) and the write
    layout (each bucket lands whole in exactly one task, so
    ``partitionBy(BUCKET_COL)`` emits ONE file per directory instead of
    tasks x buckets files).  Sort order (key asc, order_col desc) makes
    each key's newest row the first of its run; the row-1 / null-safe
    probe keeps exactly those — including exactly ONE row for a NULL
    key group (NULLs sort together), matching
    :func:`~..operators.dedup.dedup_last_wins`.  Tie handling on equal
    (key, order_col) likewise matches (arbitrary among identical-order
    duplicates)."""
    w = (Window.partitionBy(BUCKET_COL)
         .orderBy(F.col(key).asc(), F.col(order_col).desc()))
    # lag(lit(1)) is NULL exactly on the partition's first row, so the
    # probe distinguishes "no previous row" from "previous key is NULL"
    first_row = F.lag(F.lit(1)).over(w).isNull()
    prev = F.lag(key).over(w)
    return (df.withColumn("_first_row", first_row)
              .withColumn("_prev_key", prev)
              .filter(F.col("_first_row")
                      | ~F.col("_prev_key").eqNullSafe(F.col(key)))
              .drop("_first_row", "_prev_key"))


def _write_checked(deduped: DataFrame, staged: str, key: str) -> None:
    """Stage a whole-store rewrite, then run the null-bucket guard
    before anything is swapped."""
    deduped.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staged)
    _check_no_null_bucket(staged, key)


def _check_no_null_bucket(staged: str, key: str) -> None:
    """Fail a first write whose keys didn't all map to a bucket (range
    layout over non-integer-castable keys) BEFORE it becomes the store.
    A directory check, not an extra Spark action."""
    null_part = os.path.join(staged, f"{BUCKET_COL}=__HIVE_DEFAULT_PARTITION__")
    if os.path.exists(null_part):
        shutil.rmtree(staged)
        raise ValueError(
            f"range layout requires integer-castable keys; column "
            f"{key!r} produced non-castable values")


def _swap_dir(src: str, dst: str) -> None:
    """Atomic-ish directory replace (rename old out, rename new in)."""
    if os.path.exists(dst):
        old = dst + "._old"
        if os.path.exists(old):  # stale leftover of a crashed swap
            shutil.rmtree(old)
        os.rename(dst, old)
        os.rename(src, dst)
        shutil.rmtree(old)
    else:
        os.rename(src, dst)


def heal_root(path: str) -> bool:
    """Roll back a ROOT directory stranded mid-:func:`_swap_dir` by a
    crash (r14 review): a whole-directory swap (e.g. rebuild_index's
    ``_swap_dir(tmp, path)``) that dies between its two renames leaves
    the live tree as ``<path>._old`` with nothing at ``path`` —
    :func:`heal_partial_swaps` only scans for strays INSIDE a store,
    so no per-partition heal ever restores the root.  Restore it
    (roll BACK — the conservative direction: the staged replacement
    is derived data and its producer can re-run); delete a stale
    ``._old`` whose base exists (the swap completed).  Returns True
    if a stranded root was restored."""
    old = path + "._old"
    if not os.path.isdir(old):
        return False
    if os.path.exists(path):
        shutil.rmtree(old, ignore_errors=True)
        return False
    os.rename(old, path)
    return True


def heal_partial_swaps(store: str) -> list:
    """Roll back directories stranded mid-:func:`_swap_dir` by a crash:
    a ``<part>._old`` whose base directory is MISSING means the crash
    hit between the two renames — the live data is in ``._old``, and a
    subsequent read of the store would silently drop that partition
    (the merge paths read the store as input, so the loss would
    propagate into the rewrite).  Restore those; delete ``._old``
    dirs whose base EXISTS (crash after the second rename — the swap
    completed, the leftover is stale).  Called by every store-merging
    verb before it reads; returns the restored partition names."""
    restored = []
    if not os.path.isdir(store):
        return restored
    for entry in os.listdir(store):
        if not entry.endswith("._old"):
            continue
        base = os.path.join(store, entry[:-len("._old")])
        old = os.path.join(store, entry)
        if os.path.exists(base):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, base)
            restored.append(entry[:-len("._old")])
    return restored


def heal(path: str) -> None:
    """Repair every crash leftover at *path* before a verb reads or
    writes it, in the fixed order the module docstring gives: a
    stranded root, then a recorded erasure (rolled forward), then
    partitions stranded mid-swap.  A no-op at listdir cost on a
    healthy or absent directory; never sweeps a stage."""
    heal_root(path)
    _finish_pending_delete(path)
    heal_partial_swaps(path)


def stage_and_swap(path: str, write, parts: list | None = None) -> list:
    """The replace protocol: sweep the stage a crashed earlier attempt
    left at ``<path>._replacing``, call ``write(stage)`` to fill it,
    then swap the whole stage into *path* (``parts=None``) or each
    listed partition directory the stage holds, and remove the stage.
    A crash before the first swap leaves *path* untouched; a crash
    inside a swap leaves a ``._old`` that :func:`heal` restores.
    Returns the partition names that were swapped (``[]`` for a
    whole-directory swap)."""
    tmp = path + REPLACE_STAGE
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    if parts is None:
        _swap_dir(tmp, path)
        return []
    swapped = []
    for part in parts:
        src = os.path.join(tmp, part)
        if os.path.exists(src):
            _swap_dir(src, os.path.join(path, part))
            swapped.append(part)
    shutil.rmtree(tmp, ignore_errors=True)
    return swapped


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """Read an upsert store, hiding the internal bucket layout column.

    Reads self-heal first: a crash mid-:func:`_swap_dir` strands a
    partition as ``<part>._old`` (silently missing from a raw read)
    and a crash mid-erasure leaves the recorded swap plan half
    applied — both are rolled forward here, not just in the merge
    verbs, so the window between a crash and the next maintenance
    job never serves a store with a dropped partition."""
    heal(path)
    df = spark.read.parquet(path)
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def _new_layout(incoming: DataFrame, key: str, layout: str,
                num_buckets: int | None, range_width: int) -> dict:
    """Layout metadata for a brand-new store.  Hash bucket count, when
    not given, is auto-sized from the initial load so that
    keys-per-bucket stays near :data:`TARGET_KEYS_PER_BUCKET` — the
    quantity that bounds incremental rewrite cost.  The sizing action
    is column-pruned to the key (expensive derived columns don't
    run)."""
    if layout == "range":
        return {"layout": "range", "range_width": int(range_width)}
    if num_buckets is None:
        n_keys = incoming.agg(
            F.approx_count_distinct(key).alias("n")).collect()[0]["n"]
        num_buckets = max(DEFAULT_BUCKETS,
                          -(-int(n_keys) // TARGET_KEYS_PER_BUCKET))
    return {"layout": "hash", "num_buckets": int(num_buckets)}


def upsert_parquet(spark: SparkSession, incoming: DataFrame, path: str,
                   key: str, order_col: str,
                   num_buckets: int | None = None,
                   layout: str = "hash",
                   range_width: int = DEFAULT_RANGE_WIDTH,
                   count_new: bool = False) -> int | None:
    """A5 ``sink_upsert_embeddings``: last-writer-wins upsert into a
    key-partitioned Parquet table.  Incoming rows shadow existing rows
    with the same key; among duplicates the largest *order_col* wins
    (reference semantics: the newest write replaces,
    embeddings/processor.py:382-388).  NULL-key rows are dropped —
    primary-key semantics, matching ``INSERT OR REPLACE`` on a keyed
    table.

    Scale: the merge shuffles only (touched buckets + batch) — ONE
    shuffle on the bucket key that serves both the dedup and the write
    layout (see :func:`_dedup_last_wins_bucketed`), emitting one file
    per bucket directory; the rest of the table is neither read nor
    written.  With ``layout="range"`` (arrival-ordered integer keys,
    the ingest path) a batch of B keys touches O(B / range_width)
    directories however large the store is — the module docstring has
    the full cost model.  A crash mid-swap leaves some buckets new and
    some old — each bucket is internally consistent (last-wins holds
    per key because a key never spans buckets); a table format
    (Delta/Iceberg MERGE) is the production answer for multi-partition
    atomicity.

    With ``count_new=True`` the call returns how many incoming keys
    did NOT already exist in the store — computed as a key-projected
    anti-join against the SAME touched-bucket slice the merge reads
    (O(batch + touched buckets), never a store-wide count; Catalyst
    prunes every non-key column, so expensive derived columns such as
    the embed UDF do not run for it).  This is what lets the ingest
    envelope report ``new_messages`` in O(batch) (reference semantics:
    engine.py:57-103 returns the per-run new-row count) instead of
    differencing two store-wide counts.  Default ``None`` return keeps
    the historical signature for callers that don't ask.

    The layout (kind + bucket count / range width) is persisted in
    ``_layout.json`` at first write and is AUTHORITATIVE thereafter:
    caller-supplied *layout* / *num_buckets* / *range_width* only size
    a brand-new store.  (Mapping a later batch with a different
    function would scatter keys into different buckets and silently
    break per-bucket last-wins.)  A bucketed store without metadata —
    written before this guard — takes the one-time migration path
    below, which re-maps everything and records the layout.
    """
    # heal BEFORE the exists check (r14 review): a root stranded by a
    # crashed migration/rebucket swap would read as absent, the
    # first-write branch would replace the store with just this batch,
    # and the '._old' holding every prior row would later be swept as
    # a stale leftover — total data loss from one crash + upsert
    heal(path)
    exists = os.path.exists(path)
    meta = _read_layout(path) if exists else None
    incoming = incoming.filter(F.col(key).isNotNull())
    if meta is None:
        fresh = _new_layout(incoming, key, layout, num_buckets,
                            range_width)
        inc = incoming.withColumn(BUCKET_COL, _bucket_expr(key, fresh))
        # first write, or one-time migration of a legacy flat /
        # metadata-less store
        if exists:
            current = spark.read.parquet(path)
            if BUCKET_COL in current.columns:
                current = current.drop(BUCKET_COL)
            current = (current.filter(F.col(key).isNotNull())
                       .withColumn(BUCKET_COL, _bucket_expr(key, fresh)))
            merged = current.unionByName(inc, allowMissingColumns=True)
        else:
            merged = inc
        n_new = None
        if count_new:
            inc_keys = inc.select(key).distinct()
            if exists:
                n_new = inc_keys.join(current.select(key), key,
                                      "left_anti").count()
            else:
                n_new = inc_keys.count()
        deduped = _dedup_last_wins_bucketed(merged, key, order_col)
        stage_and_swap(path, lambda tmp: _write_checked(deduped, tmp, key))
        _write_layout(path, fresh)
        return n_new

    # incremental path: touch only the buckets the batch maps into.
    # The distinct() is driver-sized (bounded by batch key spread);
    # Catalyst prunes every column but the key out of this action, so
    # expensive derived columns (e.g. the embed UDF) do NOT run here.
    inc = incoming.withColumn(BUCKET_COL, _bucket_expr(key, meta))
    touched = [r[0] for r in inc.select(BUCKET_COL).distinct().collect()]
    if not touched:
        return 0 if count_new else None
    if None in touched:
        raise ValueError(
            f"range layout requires integer-castable keys; column "
            f"{key!r} produced non-castable values")
    touched = sorted(touched)
    current = _read_buckets(spark, path, touched)  # O(touched) listing
    n_new = None
    if count_new:
        # keys outside the touched buckets can't collide (the bucket is
        # a function of the key), so the touched slice is sufficient
        n_new = (inc.select(key).distinct()
                 .join(current.select(key), key, "left_anti").count())
    merged = current.unionByName(inc, allowMissingColumns=True)
    deduped = _dedup_last_wins_bucketed(merged, key, order_col)
    stage_and_swap(
        path,
        lambda tmp: deduped.write.mode("overwrite")
        .partitionBy(BUCKET_COL).parquet(tmp),
        [f"{BUCKET_COL}={b}" for b in touched])
    return n_new


def _finish_pending_delete(path: str) -> bool:
    """Commit (or crash-recover) a staged erasure: replay the swap
    plan recorded in ``_delete_pending.json``.  Every step is
    idempotent against every crash point of a previous attempt —
    a bucket already swapped has no staged dir left and is skipped; a
    half-finished ``_swap_dir`` (``._old`` present) is rolled forward;
    a bucket in the manifest's ``emptied`` list has its directory
    removed.  The manifest is deleted LAST, so the store is back to
    "no erasure in flight" only once every bucket is final.  Returns
    True if a pending erasure was committed."""
    mpath = os.path.join(path, DELETE_MANIFEST)
    if not os.path.exists(mpath):
        return False
    try:
        with open(mpath) as f:
            manifest = json.load(f)
    except ValueError:
        # unreadable manifest = a crash BEFORE the (atomic) manifest
        # write could have committed anything — the store directories
        # are intact and only staging exists.  Discard both instead of
        # bricking every read path that now calls this first.
        os.remove(mpath)
        shutil.rmtree(path + ERASE_STAGE, ignore_errors=True)
        return False
    # the manifest records its own partition column, so recovery needs
    # no caller knowledge of the store's layout (the ANN index erasure
    # records "cell"; stores predating the field read as BUCKET_COL)
    part_col = manifest.get("part_col", BUCKET_COL)
    tmp = path + ERASE_STAGE
    emptied = set(manifest.get("emptied", []))
    for b in manifest["touched"]:
        part = f"{part_col}={b}"
        src = os.path.join(tmp, part)
        dst = os.path.join(path, part)
        old = dst + "._old"
        if os.path.exists(old):
            if os.path.exists(dst):        # crashed after rename-in
                shutil.rmtree(old)
            elif os.path.exists(src):      # crashed between renames
                os.rename(src, dst)
                shutil.rmtree(old)
            else:                          # staged lost: restore old
                os.rename(old, dst)
        elif os.path.exists(src):
            _swap_dir(src, dst)
        elif b in emptied:
            shutil.rmtree(dst, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.remove(mpath)
    return True


def delete_keys(spark: SparkSession, path: str, key: str,
                keys: DataFrame) -> list:
    """Erasure verb (the GDPR path): remove every row whose *key*
    appears in *keys*, touching ONLY the buckets those keys map into —
    the same directory-pruned rewrite as the incremental upsert, with
    an anti join in place of last-wins.  A bucket left empty has its
    directory removed (a swap-only loop would silently resurrect the
    deleted rows).  Returns the touched bucket ids.

    Failure semantics: stage-then-commit.  The full anti-joined
    rewrite is staged first, then a manifest (``_delete_pending.json``
    listing the swap plan) is written, and only then are bucket
    directories swapped — by :func:`_finish_pending_delete`, whose
    steps are individually idempotent.  A crash before the manifest
    write leaves the store untouched (orphan staging is swept by the
    next erasure that stages); a crash after it leaves a recorded
    in-flight erasure that the next verb or read rolls forward in
    :func:`heal` before doing anything else.  Re-running with the same key list is therefore the
    documented recovery path and is a no-op on completed buckets.

    Scale: cost is O(touched buckets + key list), independent of store
    size; the key list is dimension-sized (it arrives as a DataFrame
    and is used as a broadcast anti-join build side, never collected).
    """
    heal(path)
    meta = _read_layout(path)
    if meta is None:
        raise ValueError(f"no layout metadata at {path}; not a store")
    keyed = (keys.select(key).filter(F.col(key).isNotNull()).distinct()
             .withColumn(BUCKET_COL, _bucket_expr(key, meta)))
    buckets = [r[0] for r in
               keyed.select(BUCKET_COL).distinct().collect()]
    if None in buckets:
        # range layout + a non-integer-castable key: it can't map to
        # any bucket — fail the erasure whole with the same contract
        # error the upsert path raises, instead of a TypeError from
        # sorting None (r14 review)
        raise ValueError(
            f"range layout requires integer-castable keys; column "
            f"{key!r} produced non-castable values in the key list")
    touched = sorted(buckets)
    return erase_partitions(spark, path, key, keyed.select(key), touched,
                            part_col=BUCKET_COL)


def _read_buckets(spark: SparkSession, path: str, buckets: list,
                  part_col: str = BUCKET_COL) -> DataFrame:
    """Read ONLY the given bucket directories of a partitioned store.

    ``spark.read.parquet(path).filter(part.isin(buckets))`` prunes
    what is READ but still LISTS every partition directory during
    discovery — on object storage a maintenance op touching 1 of 10^5
    dirs would pay an O(store) listing before its O(touched) work
    (r16: the measured residual of the 64x retention probe after the
    footer probe was thread-pooled).  Passing the touched dirs
    explicitly with ``basePath`` keeps the partition column in the
    schema while listing only those directories.

    Buckets with no directory yet contribute no rows (a batch mapping
    into brand-new buckets is the common append case); when NONE of
    the touched dirs exist, the store's schema is read from one
    existing partition file so callers still get a well-typed empty
    frame.

    Existence probes dispatch on the path's scheme (ADVICE r16 →
    closed in r17 by ``sources/fs.py``): plain local paths keep the
    free ``os.path.isdir`` loop; a remote URI (``s3a://``,
    ``hdfs://``, …) probes through the Hadoop ``FileSystem`` API with
    the session's ``hadoopConfiguration`` — one ``getFileStatus`` RPC
    per touched dir, still O(touched), so the pruned listing's
    economics hold on object storage too.  The Hadoop branch is
    pinned byte-equal to the ``os`` branch in
    tests/test_layout_scale.py by forcing ``file:`` URIs through it."""
    dirs = [f"{path.rstrip('/')}/{part_col}={b}" for b in buckets]
    exist = fs_probe.probe_dirs(spark, dirs)
    if exist:
        return spark.read.option("basePath", path).parquet(*exist)
    for d in fs_probe.list_child_dirs(spark, path, f"{part_col}="):
        return (spark.read.option("basePath", path).parquet(d)
                .filter(F.lit(False)))
    # store has no partition dirs at all: fall back to the plain read
    # (cheap by construction — there is nothing to list)
    return spark.read.parquet(path).filter(F.lit(False))


def erase_partitions(spark: SparkSession, path: str, key: str,
                     keys: DataFrame, touched: list,
                     part_col: str = BUCKET_COL) -> list:
    """The staged anti-join erasure shared by :func:`delete_keys` and
    the materialized-index erase verbs (ANN cells, postings term
    buckets): read ONLY the *touched* partition directories, anti-join
    the broadcast key set, and commit the survivors through
    :func:`_commit_erasure` — every crash point is recoverable by
    re-running, and a partition left empty has its directory removed
    rather than silently resurrecting rows on the next overwrite.
    Callers must have run :func:`heal` on the store first (the public
    verbs do)."""
    if not touched:
        return []
    current = _read_buckets(spark, path, touched,
                            part_col=part_col)  # O(touched) listing
    kept = current.join(F.broadcast(keys.select(key)), key, "left_anti")
    _commit_erasure(path, part_col, touched, kept)
    return touched


def _commit_erasure(path: str, part_col: str, touched: list,
                    kept: DataFrame | None) -> None:
    """The erasure protocol: stage *kept* (the surviving rows of the
    *touched* partitions, or None when every touched partition
    empties) at ``<path>._staged``, record the swap plan — a touched
    partition without a staged directory is ``emptied`` — in the
    manifest (carrying *part_col* so recovery is layout-blind), then
    commit via :func:`_finish_pending_delete`.  The store has been
    healed, so no manifest is pending and any stage found here is an
    orphan of a crash that predates its manifest: swept first, so its
    partitions can never be mistaken for this plan's."""
    tmp = path + ERASE_STAGE
    shutil.rmtree(tmp, ignore_errors=True)
    if kept is not None:
        kept.write.mode("overwrite").partitionBy(part_col).parquet(tmp)
    emptied = [b for b in touched
               if not os.path.exists(os.path.join(tmp, f"{part_col}={b}"))]
    manifest = {"touched": touched, "emptied": emptied,
                "part_col": part_col}
    _atomic_write_json(os.path.join(path, DELETE_MANIFEST), manifest)
    _finish_pending_delete(path)  # the commit IS the recovery routine


def retention_sweep(spark: SparkSession, path: str, cutoff,
                    ts_col: str = "ts") -> dict:
    """Maintenance verb: TTL erasure — delete every row whose *ts_col*
    is older than *cutoff* (strictly ``< cutoff``; NULL timestamps are
    KEPT — unknown age never silently expires).  The retention twin of
    :func:`delete_keys`: that one forgets by KEY (GDPR), this one by
    AGE (data lifecycle / compliance windows).

    Scale shape — the reason this is cheap on the range layout:
    arrival-ordered keys make bucket id correlate with time, so
    retention is a PREFIX of the directory list.  The probe reads only
    parquet FOOTER statistics (driver-side pyarrow, zero executor
    jobs, no data pages):

    - every row group's max(ts) < cutoff and no ts NULLs -> the bucket
      dir is dropped WHOLE (a manifest entry + rmtree — no rewrite,
      no read);
    - min(ts) >= cutoff -> untouched (never opened);
    - straddling (or stats missing / NULL-bearing) -> the ONLY buckets
      rewritten, through the same staged-manifest commit as the key
      erasure (:func:`_finish_pending_delete` replays it after any
      crash; re-running the sweep with the same cutoff is the
      documented recovery and a no-op on completed buckets).

    On a time-correlated store the rewrite set is O(1) boundary
    buckets regardless of store size or retention depth; cost is
    O(footers + boundary bytes).  (A hash-layout store still works —
    every bucket straddles, so it degrades to a full filtered rewrite,
    the honest lower bound when age and placement are uncorrelated;
    pick the range layout for time-lifecycle tables.)  Table formats
    run the same plan as metadata-only partition drops + one MERGE.

    Returns ``{"dropped": [...], "rewritten": [...], "kept": n_dirs,
    "cutoff": iso}``.
    """
    import datetime as _dt

    heal(path)
    if _read_layout(path) is None:
        raise ValueError(f"no layout metadata at {path}; not a store")

    def _epoch_us(v) -> int | None:
        """Normalize a pyarrow footer stat / python datetime to epoch
        microseconds, INTEGER arithmetic only (float seconds lose
        microsecond precision at 2024-era epochs).  Nano-unit stats
        truncate exactly like the readers' ``ts div 1000``, so the
        probe's boundary agrees with the Spark filter's."""
        if v is None:
            return None
        ns = getattr(v, "value", None)  # pandas.Timestamp: ns int
        if ns is not None and isinstance(ns, int):
            return ns // 1000
        if isinstance(v, _dt.datetime):
            import calendar
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return (calendar.timegm(v.timetuple()) * 1_000_000
                    + v.microsecond)
        return None

    cut_us = _epoch_us(cutoff)
    if cut_us is None:
        raise ValueError(f"cutoff must be a datetime, got {cutoff!r}")

    import pyarrow.parquet as _pq

    def _classify(entry: str) -> tuple[int, str]:
        """One bucket dir -> (bucket, drop|keep|rewrite), pure footer
        reads.  Thread-safe: touches only its own directory."""
        b = int(entry.split("=", 1)[1])
        lo = hi = None
        nulls = 0
        no_stats = False
        d = os.path.join(path, entry)
        for fn in os.listdir(d):
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            md = _pq.ParquetFile(os.path.join(d, fn)).metadata
            try:
                ci = md.schema.names.index(ts_col)
            except ValueError:
                no_stats = True  # ts column absent in this file
                break
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    no_stats = True
                    continue
                nulls += (st.null_count or 0) if st.has_null_count else 1
                fmn, fmx = _epoch_us(st.min), _epoch_us(st.max)
                if fmn is None or fmx is None:
                    no_stats = True
                    continue
                lo = fmn if lo is None else min(lo, fmn)
                hi = fmx if hi is None else max(hi, fmx)
        if no_stats or lo is None:
            return b, "rewrite"  # can't prove anything: filter it
        if hi < cut_us and nulls == 0:
            return b, "drop"     # provably all-expired, no NULL ts
        if lo >= cut_us:
            return b, "keep"     # provably all-live: never opened
        return b, "rewrite"

    entries = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(f"{BUCKET_COL}="):
            continue
        try:
            int(entry.split("=", 1)[1])
        except ValueError:
            continue  # __HIVE_DEFAULT_PARTITION__ etc.: left as-is
        entries.append(entry)
    # the probe is driver-side and I/O-bound (pyarrow releases the GIL
    # around file reads), so batch the footer reads across a thread
    # pool instead of walking dirs serially (VERDICT r15 item 6: the
    # serial probe was the measured residual growth term at 16x store
    # width — tools/scaling_check.py --retention).  At warehouse dir
    # counts the production answer is a table format whose catalog
    # already holds these stats (README); this keeps the raw-parquet
    # path honest well past that handoff.
    if len(entries) > 4:
        from functools import partial

        classified = run_concurrently(
            *(partial(_classify, e) for e in entries))
    else:
        classified = [_classify(e) for e in entries]
    drop = [b for b, act in classified if act == "drop"]
    rewrite = [b for b, act in classified if act == "rewrite"]
    kept_dirs = sum(1 for _, act in classified if act == "keep")
    if not drop and not rewrite:
        return {"dropped": [], "rewritten": [], "kept": kept_dirs,
                "cutoff": str(cutoff)}

    kept = None
    if rewrite:
        current = _read_buckets(spark, path, rewrite)  # O(touched) listing
        keep_pred = (F.col(ts_col) >= F.lit(cutoff)) | F.col(ts_col).isNull()
        kept = current.filter(keep_pred)
    # drop buckets are never staged, so the plan records them emptied
    _commit_erasure(path, BUCKET_COL, sorted(rewrite + drop), kept)
    return {"dropped": sorted(drop), "rewritten": sorted(rewrite),
            "kept": kept_dirs, "cutoff": str(cutoff)}


def rebucket_store(spark: SparkSession, path: str,
                   key: str, order_col: str,
                   num_buckets: int | None = None,
                   layout: str = "hash",
                   range_width: int = DEFAULT_RANGE_WIDTH) -> dict:
    """Maintenance verb: rewrite a store under a new layout (more hash
    buckets after the store outgrew its first-write sizing, or a
    hash -> range migration once keys are known arrival-ordered).

    One full deduped rewrite — the amortized cost of growth, like a
    dynamic array's doubling copy: re-size when keys-per-bucket drifts
    ~4x past TARGET_KEYS_PER_BUCKET and incremental upserts stay
    O(batch) between migrations.  Returns the new layout metadata.
    """
    current = read_store(spark, path)  # read_store heals root + swaps
    meta = _new_layout(current, key, layout, num_buckets, range_width)
    staged = (current.filter(F.col(key).isNotNull())
              .withColumn(BUCKET_COL, _bucket_expr(key, meta)))
    deduped = _dedup_last_wins_bucketed(staged, key, order_col)
    stage_and_swap(path, lambda tmp: _write_checked(deduped, tmp, key))
    _write_layout(path, meta)
    return meta


def compact_store(spark: SparkSession, path: str,
                  max_files_per_bucket: int = 1,
                  part_col: str = BUCKET_COL) -> dict:
    """Maintenance verb: collapse fragmented bucket directories back to
    *max_files_per_bucket* files each, data unchanged.

    Every incremental upsert appends one file per touched bucket, so a
    store under continuous ingest accretes small files until scan task
    count (and footer overhead) dominates read cost — the classic
    small-files decay every table format schedules compaction against.
    This is that job for the plain-Parquet store: LIST the bucket
    directories (a filesystem operation, no data read), rewrite ONLY
    the fragmented ones — each shrunk to one file via a shuffle keyed
    on the bucket column that moves just the fragmented buckets'
    rows — and swap directories per bucket.  Untouched buckets are
    never read.  Cost: O(fragmented bytes), independent of store size;
    contents are byte-for-byte the same rows (pinned by the
    ``store_compact`` oracle).

    Returns ``{"compacted": [bucket ids], "files_before": n,
    "files_after": m}``.
    """
    heal(path)
    if part_col == BUCKET_COL and _read_layout(path) is None:
        raise ValueError(f"no layout metadata at {path}; not a store")

    def _partfiles(d: str) -> list[str]:
        return [f for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(("_", "."))]

    frag: dict[int, int] = {}
    for entry in os.listdir(path):
        if not entry.startswith(f"{part_col}="):
            continue
        n = len(_partfiles(os.path.join(path, entry)))
        if n <= max_files_per_bucket:
            continue
        try:
            b = int(entry.split("=", 1)[1])
        except ValueError:
            # non-integer partition value (__HIVE_DEFAULT_PARTITION__
            # from a null key, or a string-partitioned store): not
            # addressable by the integer isin filter below — leave it
            # as-is rather than fail the whole sweep
            continue
        frag[b] = n
    if not frag:
        return {"compacted": [], "files_before": 0, "files_after": 0}
    touched = sorted(frag)
    current = _read_buckets(spark, path, touched,
                            part_col=part_col)  # O(touched) listing
    swapped = stage_and_swap(
        path,
        lambda tmp: current.repartition(len(touched), F.col(part_col))
        .write.mode("overwrite").partitionBy(part_col).parquet(tmp),
        [f"{part_col}={b}" for b in touched])
    return {"compacted": touched,
            "files_before": sum(frag.values()),
            "files_after": sum(len(_partfiles(os.path.join(path, part)))
                               for part in swapped)}


def write_dimension(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """A6: persist a small dimension (the reference caches its user dim
    as a JSON file with a 24 h TTL, user_mapper.py:222-233).  Parquet by
    default; JSON kept for byte-level parity with the reference's cache
    format."""
    writer = df.coalesce(1).write.mode("overwrite")
    if fmt == "json":
        writer.json(path)
    else:
        writer.parquet(path)


def write_bucketed(df: DataFrame, table: str, n_buckets: int, key: str,
                   path: str | None = None,
                   sort_cols: list[str] | None = None) -> None:
    """Bucketed table write — the co-located-join layout (SURVEY 4b).

    Both sides of a recurring equi-join written with the same bucket
    count and key join WITHOUT a shuffle: each bucket pairs off by file.
    This is the batch analog of the reference's B-tree index on
    session_id (src/core/embeddings/processor.py:153-156) — except the
    'index' is the physical layout, so at 100 TB the join skips the
    exchange of the entire corpus, the single biggest cost in any
    enrich-at-scale plan.

    Thin legacy-signature delegate to
    :func:`msg_vector_search_spark.sources.bucketed.write_bucketed`
    (r14 review: the two copies had swapped argument order and only
    one carried the stale-location guard)."""
    from .bucketed import write_bucketed as _canonical

    _canonical(df, table, key, n_buckets, path=path,
               sort_cols=sort_cols)
