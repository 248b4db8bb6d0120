"""Keyword (BM25) retrieval and hybrid rank fusion.

The reference serves ONE retrieval mode: semantic cosine over stored
embeddings (src/core/search/engine.py:105-183 -> embeddings/
processor.py:489-525).  Production search over the same corpus is
hybrid: a lexical leg (BM25) runs next to the vector leg and the two
rankings fuse — reciprocal-rank fusion (Cormack et al., SIGIR 2009) is
the standard score-free combiner.  This module adds that extension
surface Spark-first:

* :func:`bm25_scores` — Okapi BM25 for a FIXED query-term list as one
  pure-Column pass: per-term tf via ``size(filter(tokens, ...))`` (no
  explode, no vocabulary shuffle), corpus stats (N, Σdl, per-term df)
  as ONE map-side-partial aggregate broadcast back.  Two scans of the
  corpus total, both riding whole-stage codegen; the vocabulary-sized
  DF table TF-IDF needs never materializes because the query is the
  vocabulary.
* :func:`bounded_rank` — dense ranks for a top-k WITHOUT a corpus-
  sized window: ``row_number()`` over a global window whose input is
  an ordered ``limit(k)`` (TakeOrderedAndProject — per-partition
  heaps), so the window's single-partition exchange only ever sees k
  rows and the frame stays LAZY (it fuses into the caller's final
  action; r17 removed the eager checkpoint + k x k self-join form).
  The registry-wide window guard carries the bounded_rank callers as
  exemptions, each required to show its TakeOrderedAndProject
  boundedness evidence in the same plan (tests/test_window_guard.py).
* :func:`rrf_fuse` — full-outer-join the per-leg rank lists on the
  document key, score 1/(k_rrf + rank) summed across legs.  Inputs are
  k-row frames; the fuse is driver-sized regardless of corpus size.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import analysis
from ..functions.hashing import term_bucket
from ..session import run_concurrently
from ..sources import sinks

K1 = 1.2
B = 0.75


def _tf(tok_col, term: str):
    """Occurrences of *term* in the token array — a Column expression
    (size-of-filter), so per-term counting rides the document scan."""
    return F.size(F.filter(tok_col, lambda x: x == F.lit(term)))


def bm25_scores(docs: DataFrame, terms: list[str], text_col: str = "text",
                id_col: str = "doc_id", k1: float = K1,
                b: float = B, require_all: bool = False) -> DataFrame:
    """Okapi BM25 of every document against the fixed *terms* list.

    Returns ``(id_col, dl, bm25)`` for documents matching >= 1 term —
    or, with ``require_all`` (conjunctive / AND mode, the other
    standard keyword-search semantics), only documents containing
    EVERY term.  The scoring expression and the idf statistics are
    mode-independent (df counts docs per term either way — Lucene's
    BooleanQuery MUST semantics); only the admission predicate
    changes, so AND-mode scores are the OR-mode scores of the
    surviving docs.
    idf is the Lucene/Robertson form ``ln(1 + (N - df + 0.5)/(df +
    0.5))`` — always positive, so a term matched can only add score.

    Scale: stats pass reduces to ONE row (partial aggregation — every
    executor ships 1 row), scoring pass is scan -> project -> filter.
    Nothing shuffles on a text or term key; the plan survives any
    corpus size because the only data-dependent structure is the
    corpus scan itself.
    """
    toks = analysis.tokens(F.col(text_col))
    if not terms:
        # zero terms match zero docs; emit the contract schema empty
        # instead of building an unresolvable _tf_0 (r14 review)
        return (docs.select(F.col(id_col), F.size(toks).alias("dl"),
                            F.lit(0.0).alias("bm25")).limit(0))
    base = (docs.select(F.col(id_col), toks.alias("_toks"))
            .withColumn("dl", F.size("_toks")))
    wtf = base.select(
        id_col, "dl",
        *[_tf(F.col("_toks"), t).alias(f"_tf_{i}")
          for i, t in enumerate(terms)])
    stats = wtf.agg(
        F.count("*").alias("_n"),
        F.sum("dl").alias("_sumdl"),
        *[F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
          for i in range(len(terms))])
    scored = wtf.crossJoin(F.broadcast(stats))
    score = _bm25_score_col(len(terms), k1, b)
    if require_all:
        matched = F.col("_tf_0") > 0
        for i in range(1, len(terms)):
            matched = matched & (F.col(f"_tf_{i}") > 0)
    else:
        total = F.col("_tf_0")
        for i in range(1, len(terms)):
            total = total + F.col(f"_tf_{i}")
        matched = total > 0
    return (scored.filter(matched)
            .select(id_col, "dl", score.alias("bm25")))


def _bm25_score_col(n_terms: int, k1: float = K1, b: float = B):
    """The BM25 scoring expression over the conventional column names
    (``_tf_i``, ``_df_i``, ``dl``, ``_n``, ``_sumdl``).  Shared by the
    scan-side path (:func:`bm25_scores`) and the index-served path
    (:func:`search_inverted_index`) so both build the IDENTICAL
    expression tree — same literals, same association order — and emit
    bit-identical doubles from the same integer inputs."""
    n = F.col("_n")
    avgdl = F.col("_sumdl") / n
    contribs = []
    for i in range(n_terms):
        tf = F.col(f"_tf_{i}")
        df = F.col(f"_df_{i}")
        idf = F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
        norm = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                                 + F.lit(b) * (F.col("dl") / avgdl))
        contribs.append(idf * (tf * F.lit(k1 + 1.0)) / norm)
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    return score


# ---------------------------------------------------------------------------
# Materialized inverted index — the text-side twin of operators.ann_index
# ---------------------------------------------------------------------------
#
# Lifecycle design (the LSM/Lucene shape, because postings for a doc
# scatter across term buckets and a doc's OLD terms are unknowable
# from its id alone — physical per-doc deletion would need a full
# postings sweep per request):
#
# * every postings/doclen row carries a generation number ``gen``
#   (monotonic per maintenance batch, persisted in the meta sidecar);
# * ``tombstones/`` holds ``(doc_id, upto_gen)`` rows meaning "all
#   versions of doc_id with gen <= upto_gen are dead";
# * upsert = tombstone the batch ids at the old generation + APPEND
#   new rows at the new one (O(batch), touches only the batch's term
#   buckets); erase = append tombstones alone (O(batch), touches no
#   postings at all);
# * queries keep a row iff gen > its doc's max tombstone (a broadcast
#   join against the tombstone set, which stays dimension-sized
#   between compactions);
# * compaction physically drops dead rows and clears the tombstones —
#   the scheduled O(index) job that keeps the query-time filter cheap.

INDEX_BUCKETS = 64
#: Auto-sizing target for the postings layout (build-time): a served
#: bucket is read WHOLE then filtered to the query's terms, so
#: terms-per-bucket is the serve's read amplification; it is also the
#: rewrite granularity of every bucket-local maintenance verb.  The
#: build sizes ``n_buckets = max(INDEX_BUCKETS, vocab / TARGET)`` —
#: the same first-write auto-sizing policy as the hash store layout
#: (sinks.TARGET_KEYS_PER_BUCKET), floored so small corpora keep the
#: historical 64.  A web-scale vocabulary (10^6-10^7 terms) lands at
#: 10^3-10^4 buckets: serves stay O(|terms|) explicit-dirs reads
#: (never a discovery of all buckets — _read_buckets), and each
#: bucket rewrite stays ~TARGET terms wide regardless of corpus.
TARGET_TERMS_PER_BUCKET = 512
TEXT_META = "_text_index_meta.json"


def _read_text_meta(path: str, id_col: str = "doc_id") -> dict:
    """Meta sidecar.  A MISSING file is the never-built index that an
    upsert bootstraps (gen 0, default layout, the caller's *id_col*) —
    but only while neither a ``postings/`` nor a ``doclen/`` store
    exists.  Stores without a sidecar are refused: an older index, a
    lost sidecar, or a build that crashed before finishing
    (:func:`build_inverted_index` writes the sidecar last).  Serving
    them under a guessed layout would hash query terms mod the wrong
    bucket count, and a guessed generation would disarm tombstones.
    An UNPARSEABLE file is raised too, never defaulted: the atomic
    write below makes corruption impossible from this code, and
    silently resetting the generation to 0 would make every existing
    tombstone a no-op and every new delete ineffective (rows at gen>0
    would all pass the gen > upto_gen filter) — a data-integrity
    failure worth stopping on, not guessing through."""
    import json

    from ..sources import fs

    root = path.rstrip("/")
    try:
        return json.loads(fs.read_bytes(f"{root}/{TEXT_META}"))
    except (FileNotFoundError, NotADirectoryError):
        if fs.probe_dirs([f"{root}/postings", f"{root}/doclen"]):
            raise ValueError(
                f"text index at {path} has stores but no {TEXT_META} "
                "(an older index, or a build that did not finish); run "
                "build_inverted_index on its corpus to rebuild it"
            ) from None
        return {"n_buckets": INDEX_BUCKETS, "gen": 0, "id_col": id_col}
    except ValueError as e:
        raise ValueError(
            f"corrupt text-index meta at {path}: {e}; refusing to "
            "default the generation counter (it would silently disarm "
            "tombstones) — restore or rebuild the index") from e


def _write_text_meta(path: str, meta: dict) -> None:
    # bootstrap path: upsert on a never-built store bumps the meta
    # generation BEFORE the first parquet write creates the directory
    os.makedirs(path, exist_ok=True)
    sinks._atomic_write_json(os.path.join(path, TEXT_META), meta)


def _tombstone_frame(spark, path: str, id_col: str):
    """The per-doc kill threshold ``(id_col, _upto)``, or None when no
    tombstones exist.  Bounded by deletes since the last compaction —
    the broadcast-side economics every query relies on.  The existence
    probe dispatches on the path scheme (``sources.fs``) so a remote
    store's tombstones are SEEN, not silently skipped (r18: the old
    ``os.path.isdir`` read False on any URI — live tombstones would
    have been ignored when serving a remote index)."""
    from ..sources import fs as fs_probe

    tdir = f"{path.rstrip('/')}/tombstones" if fs_probe.is_remote(path) \
        else os.path.join(path, "tombstones")
    if not fs_probe.list_files(tdir, suffix=".parquet"):
        return None
    return (sinks.read_parquet(spark, tdir)
            .groupBy(id_col).agg(F.max("upto_gen").alias("_upto")))


def _doclen(spark, path: str) -> DataFrame:
    """The whole ``(id, dl, gen, meta...)`` doc-length sidecar."""
    return sinks.read_parquet(spark, os.path.join(path, "doclen"))


def _live(df: DataFrame, tomb, id_col: str) -> DataFrame:
    """Filter *df* (carrying ``gen``) to rows alive under *tomb*."""
    if tomb is None:
        return df
    return (df.join(F.broadcast(tomb), id_col, "left")
            .filter(F.col("_upto").isNull()
                    | (F.col("gen") > F.col("_upto")))
            .drop("_upto"))


def _tokenized(docs: DataFrame, text_col: str, id_col: str,
               meta_cols: tuple = ()) -> DataFrame:
    toks = analysis.tokens(F.col(text_col))
    return (docs.select(F.col(id_col), toks.alias("_toks"),
                        *[F.col(c) for c in meta_cols])
            .withColumn("dl", F.size("_toks")))


def _postings_of(base: DataFrame, id_col: str, gen: int,
                 n_buckets: int) -> DataFrame:
    return (base.select(id_col, F.explode("_toks").alias("term"))
            .groupBy("term", id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("tf"))
            .withColumn("gen", F.lit(gen).cast("long"))
            .withColumn("tb", F.pmod(F.xxhash64("term"),
                                     F.lit(n_buckets))))


def build_inverted_index(docs: DataFrame, path: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         n_buckets: int | None = None,
                         meta_cols: tuple = ()) -> None:
    """Build-once job for keyword serving: tokenize the corpus ONCE and
    persist (a) a postings table ``(term, doc_id, tf, gen)``
    partitioned by ``tb = pmod(xxhash64(term), n_buckets)`` — so a
    query's terms prune to <= |terms| directories — and (b) a
    ``(doc_id, dl, gen)`` doc-length sidecar, plus the generation/
    layout meta sidecar.  After the build, queries never touch text:
    no tokenization, no corpus scan, only pruned postings + the length
    table.  The explode shuffles once on the uniform (term, doc) pair
    key with map-side partial counting; at 100 TB this is the classic
    one-pass index build, and incremental batches append with the same
    bucket function (:func:`upsert_inverted_index` — the layout is
    content-addressed, like the ANN store's cells).

    ``meta_cols`` stores metadata columns in the doclen sidecar, which
    makes FILTERED keyword serving possible: a ``where`` predicate at
    query time gates eligibility through the doclen join and recounts
    every corpus statistic (N, Σdl, per-term df) over eligible docs
    only — "search within a slice" semantics, identical to building
    the index on the slice.  Upserts carry the recorded columns
    (batches must include them).

    ``n_buckets=None`` (the default) auto-sizes the layout from the
    corpus vocabulary (r17): ``max(INDEX_BUCKETS, vocab /``
    :data:`TARGET_TERMS_PER_BUCKET` ``)``, the first-write policy the
    hash store layout already follows.  The vocabulary is estimated
    with one sketch aggregation (``approx_count_distinct`` —
    map-side partial) over the tokenized corpus, which is
    checkpointed so a single tokenize pass feeds the estimate and
    both store writes; the sketch's default ~5% rsd moves a bucket
    count that only needs to be the right order of magnitude.  The chosen value is recorded in the meta
    sidecar, so every upsert/serve/maintenance verb follows the
    build's layout; scores are independent of it."""
    import shutil

    # an in-place REBUILD over a previously-maintained index must not
    # inherit its tombstones: fresh gen-0 rows of a once-erased doc
    # would fail gen > upto_gen and silently vanish from the new index
    shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)
    from .dedup import _cc_free

    # checkpoint the tokenized corpus UNCONDITIONALLY: the doclen and
    # postings writes both consume it, and without the checkpoint a
    # pinned-layout build re-tokenized the whole corpus once per write
    # (two full passes for one build — guide §1; r18: the auto-sized
    # path already checkpointed for its third consumer, the vocab
    # estimate).  Released after the writes.
    base = _tokenized(docs, text_col, id_col,
                      tuple(meta_cols)).localCheckpoint()
    if n_buckets is None:
        vocab = (base.select(F.explode("_toks").alias("_t"))
                 .agg(F.approx_count_distinct("_t")).head()[0])
        n_buckets = max(INDEX_BUCKETS,
                        int(vocab) // TARGET_TERMS_PER_BUCKET)

    # the two store writes consume the same checkpoint and land in
    # disjoint directories — concurrent job streams (guide §2.6),
    # same overlap the ANN build uses
    def _w_doclen():
        base.select(id_col, "dl", *meta_cols) \
            .withColumn("gen", F.lit(0).cast("long")) \
            .write.mode("overwrite").parquet(os.path.join(path, "doclen"))

    def _w_postings():
        _postings_of(base, id_col, 0, n_buckets) \
            .write.mode("overwrite").partitionBy("tb") \
            .parquet(os.path.join(path, "postings"))

    run_concurrently(_w_doclen, _w_postings)
    _cc_free(base)
    _write_text_meta(path, {"n_buckets": int(n_buckets), "gen": 0,
                            "id_col": id_col,
                            "meta_cols": list(meta_cols)})


def _write_store(df: DataFrame, dest: str, part: str | None) -> None:
    """Overwrite-write a whole text-index store; a partitioned one keeps
    one file per partition dir, not tasks x dirs shards."""
    if part:
        (df.repartition(F.col(part)).write.mode("overwrite")
         .partitionBy(part).parquet(dest))
    else:
        df.write.mode("overwrite").parquet(dest)


def upsert_inverted_index(docs: DataFrame, path: str,
                          text_col: str = "text",
                          id_col: str | None = None,
                          auto_compact_tombstones: int | None = 8) -> int:
    """Incremental maintenance — the text twin of
    ``ann_index.upsert_index``: fold a document batch into the
    persisted index in O(batch).  New postings/doclen rows APPEND at a
    fresh generation (touching only the batch's term buckets — the
    same bounded-touch argument as the ANN cell merge); prior versions
    of the batch's ids are killed by a tombstone at the old
    generation, so re-ingesting a changed document atomically shadows
    its old postings wherever they live WITHOUT sweeping the store
    for them.

    Crash safety: the meta generation is bumped FIRST, so a re-run of
    the same batch (the documented recovery path, as for the ANN
    upsert) tombstones any half-appended rows of the crashed attempt
    and lands the batch whole at the next generation — convergent
    under every crash point.  Returns the batch's generation."""
    from .dedup import _cc_free

    spark = docs.sparkSession
    # _read_text_meta's id_col default only applies when no sidecar
    # exists (bootstrap) — seed it with the CALLER's key so a fresh
    # store records the right id column instead of the "doc_id"
    # default bricking all later serving (r14 review); a mismatch
    # against an EXISTING sidecar is an error, not an override
    meta = _read_text_meta(path, id_col=id_col or "doc_id")
    if id_col is None:
        id_col = meta["id_col"]
    elif meta["id_col"] != id_col:
        raise ValueError(
            f"index at {path} is keyed by {meta['id_col']!r}; "
            f"got id_col={id_col!r}")
    g_old, g_new = int(meta["gen"]), int(meta["gen"]) + 1
    meta["gen"] = g_new
    _write_text_meta(path, meta)
    meta_cols = tuple(meta.get("meta_cols", ()))
    base = (_tokenized(docs.dropDuplicates([id_col]), text_col, id_col,
                       meta_cols)
            .localCheckpoint())  # one tokenize pass feeds all three writes

    # The three appends all consume the checkpointed batch and write
    # DISJOINT directories, so they run as concurrent jobs (guide
    # §2.6).  Convergence is order-independent: whatever subset a
    # crash leaves behind, the re-run's tombstone-at-g_new (the meta
    # gen was already bumped) kills every half-appended row and lands
    # the batch whole at the next generation — the same recovery
    # contract the serial form had.  A streaming ingest loop pays
    # this trio once per micro-batch; overlapping them removes two
    # full job round-trips of wall per batch.
    def _w_tomb():
        (base.select(id_col).coalesce(1)
         .withColumn("upto_gen", F.lit(g_old).cast("long"))
         .write.mode("append").parquet(os.path.join(path, "tombstones")))

    def _w_doclen():
        (base.select(id_col, "dl", *meta_cols)
         .withColumn("gen", F.lit(g_new).cast("long"))
         .write.mode("append").parquet(os.path.join(path, "doclen")))

    def _w_postings():
        _postings_of(base, id_col, g_new, int(meta["n_buckets"])) \
            .write.mode("append").partitionBy("tb") \
            .parquet(os.path.join(path, "postings"))

    run_concurrently(_w_tomb, _w_doclen, _w_postings)
    # all three writes consumed the checkpoint — release its pinned
    # blocks now instead of at session death
    _cc_free(base)
    # same backlog bound as delete_inverted_docs: one tombstone file
    # per op, compact when the op count since last compaction exceeds
    # the threshold
    if (auto_compact_tombstones is not None
            and _tombstone_file_count(path) > auto_compact_tombstones):
        compact_inverted_index(spark, path)
    return g_new


def _tombstone_file_count(path: str) -> int:
    tdir = os.path.join(path, "tombstones")
    if not os.path.isdir(tdir):
        return 0
    return sum(1 for f in os.listdir(tdir) if f.endswith(".parquet"))


def delete_inverted_docs(doc_ids: DataFrame, path: str,
                         id_col: str | None = None,
                         auto_compact_tombstones: int | None = 8) -> None:
    """Erasure verb for the text index — O(batch), touches NO postings:
    append tombstones at the current generation, killing every stored
    version of the given ids.  Idempotent (duplicate tombstones
    collapse under the query-time max), and physical removal is
    :func:`compact_inverted_index`'s job, exactly as in every
    LSM-structured store.

    *auto_compact_tombstones* bounds the backlog the same way the ANN
    store's ``auto_compact_files`` does: each maintenance op lands ONE
    tombstone file (the key list is batch-sized, coalesced before the
    append), so the file count IS the op count since the last
    compaction — when it exceeds the threshold, compaction runs right
    here and the query-time tombstone broadcast snaps back to zero.
    Without it the broadcast grows without bound on a store that is
    deleted from but never manually compacted.  None disables the
    sweep (schedule ``text_index_compact`` instead)."""
    meta = _read_text_meta(path)
    if id_col is None:
        id_col = meta["id_col"]
    (doc_ids.select(id_col).filter(F.col(id_col).isNotNull()).distinct()
     .coalesce(1)
     .withColumn("upto_gen", F.lit(int(meta["gen"])).cast("long"))
     .write.mode("append").parquet(os.path.join(path, "tombstones")))
    if (auto_compact_tombstones is not None
            and _tombstone_file_count(path) > auto_compact_tombstones):
        compact_inverted_index(doc_ids.sparkSession, path)


def retention_sweep_inverted_index(spark, path: str, cutoff,
                                   ts_col: str = "ts",
                                   auto_compact_tombstones: int | None = 8,
                                   ) -> dict:
    """INDEX-SIDE forget-by-age: expire every doc whose recorded
    *ts_col* meta column is older than *cutoff* (strictly ``<``; NULL
    timestamps are KEPT — unknown age never silently expires, same
    rule as ``sinks.retention_sweep``) without touching the primary
    store at all.

    ``Engine.apply_retention`` derives victims from a ts-pruned STORE
    scan; this verb is for the deployment shape where the serving
    index outlives hot store access (store archived to cold storage,
    or retention owned by the serving tier): when the index was built
    with the timestamp in ``meta_cols``, the victim ids come from the
    DOCLEN SIDECAR — index metadata, a (doc_id, dl, meta...) table a
    few hundred bytes per doc, never the corpus text — and expiry is
    the same O(expired) tombstone append as the GDPR verb
    (:func:`delete_inverted_docs`; physical removal stays
    :func:`compact_inverted_index`'s job, the
    *auto_compact_tombstones* backlog bound applies unchanged).
    Tombstones gate postings AND corpus statistics, so post-sweep
    serving is bit-identical to an index built on the survivors.
    Idempotent: already-tombstoned docs are filtered from the victim
    read, so a re-run with the same cutoff appends nothing.

    Requires *ts_col* in the index's recorded ``meta_cols`` — an
    index that never recorded age cannot self-expire, and raising
    beats silently sweeping nothing.  Returns ``{"tombstoned": n,
    "cutoff": str(cutoff)}``."""
    sinks.heal(path)  # same self-heal as the serving reads
    meta = _read_text_meta(path)
    if ts_col not in tuple(meta.get("meta_cols", ())):
        raise ValueError(
            f"index at {path} records meta_cols "
            f"{list(meta.get('meta_cols', ()))}; TTL needs {ts_col!r} "
            "recorded at build/upsert time (build_inverted_index"
            f"(..., meta_cols=({ts_col!r},)))")
    id_col = meta["id_col"]
    tomb = _tombstone_frame(spark, path, id_col)
    victims = (_live(_doclen(spark, path), tomb, id_col)
               .filter(F.col(ts_col) < F.lit(cutoff))
               .select(id_col).distinct().localCheckpoint())
    n = victims.count()
    if n:
        delete_inverted_docs(victims, path, id_col=id_col,
                             auto_compact_tombstones=auto_compact_tombstones)
    from .dedup import _cc_free
    _cc_free(victims)
    return {"tombstoned": int(n), "cutoff": str(cutoff)}


def apply_changefeed_text_index(spark, path: str, feed: DataFrame,
                                action_col: str = "action",
                                new_text_col: str = "new_text",
                                id_col: str | None = None,
                                auto_compact_tombstones: int | None = 8,
                                ) -> dict:
    """Text-index maintenance DERIVED from the store diff — the
    inverted-index twin of ``ann_index.apply_changefeed_index``, closing
    the last manual maintenance leg of the serving tier: apply a
    changefeed (``store_changefeed`` shape — one row per changed key
    with ``action`` in insert/update/delete plus old/new payloads) so
    the caller never tracks batches against EITHER index.

    Delete rows append tombstones (:func:`delete_inverted_docs`,
    O(batch), no postings touched); insert and update rows fold in via
    :func:`upsert_inverted_index`, whose own tombstone-at-old-generation
    already shadows every prior posting of an updated doc WHEREVER its
    old terms scattered — the text index needs no erase-first pass for
    updates (unlike the ANN twin, where a cell-moving update would
    strand a stale copy: postings shadowing is by generation, store-
    wide).  Total cost O(changed keys + touched term buckets),
    independent of index size; each phase lands one tombstone file, so
    the *auto_compact_tombstones* backlog bound applies unchanged.
    Returns ``{"deleted": n_deleted, "upserted": n_upserted, "gen":
    batch_generation_or_None}``."""
    from .dedup import _cc_free

    meta = _read_text_meta(path)
    if id_col is None:
        id_col = meta["id_col"]
    # an index built with meta_cols stores them beside every doclen
    # row — the upsert batch must carry them (r14 review: dropping
    # them crashed _tokenized AFTER the delete phase had already
    # committed, leaving the feed half-applied); validate BEFORE any
    # phase commits so a bad feed fails whole
    meta_cols = tuple(meta.get("meta_cols", ()))
    missing = [c for c in meta_cols if c not in feed.columns]
    if missing:
        raise ValueError(
            f"index at {path} records meta_cols {list(meta_cols)}; "
            f"the changefeed is missing {missing}")
    feed = feed.localCheckpoint()  # dimension-sized; read twice
    doomed = feed.filter(F.col(action_col) == "delete").select(id_col)
    n_del = doomed.count()
    if n_del:
        delete_inverted_docs(doomed, path, id_col=id_col,
                             auto_compact_tombstones=auto_compact_tombstones)
    incoming = (feed.filter(F.col(action_col).isin("insert", "update"))
                .select(F.col(id_col),
                        F.col(new_text_col).alias("_feed_text"),
                        *[F.col(c) for c in meta_cols]))
    n_up = incoming.count()
    gen = None
    if n_up:
        gen = upsert_inverted_index(
            incoming, path, text_col="_feed_text", id_col=id_col,
            auto_compact_tombstones=auto_compact_tombstones)
    _cc_free(feed)  # both phases committed; release the pin
    return {"deleted": n_del, "upserted": n_up, "gen": gen}


def prune_inverted_index_stopwords(spark, path: str,
                                   max_df_ratio: float = 0.5) -> dict:
    """Maintenance verb: physically drop the posting lists of STOPWORD
    terms — terms matching more than *max_df_ratio* of live docs.  In
    a web-scale index the few highest-df terms own a huge share of
    posting bytes while contributing ~no ranking signal (their idf is
    ~ln(1 + 1/ratio) ≈ 0.7 at ratio 0.5 and falls toward 0); classic
    IR systems prune or skip them.

    Serving semantics after the prune are exactly "the term does not
    exist": a pruned term's tf and df read as 0, its BM25 contribution
    is an EXACT zero, and docs matching only pruned terms leave the
    matched set — bit-identical to scoring the query with the pruned
    terms removed from the term list.  Doc lengths deliberately keep
    counting pruned tokens (dl is a property of the document, not of
    the vocabulary served — same as Lucene's norms being independent
    of stopword filtering at query time).

    Cost: one map-side-partial df aggregation over live postings (the
    maintenance scan), then a staged rewrite of ONLY the term buckets
    containing stopwords (``erase_partitions`` keyed by TERM — the
    same crash-safe manifest commit as the id erasure, so a crash at
    any point rolls forward and a re-run is idempotent).  The
    stopword list is driver-bounded by construction (terms above half
    the corpus are a handful).  Returns ``{"pruned": [terms],
    "df_cut": n, "n_docs": N}``."""
    postings_dir = os.path.join(path, "postings")
    # roll forward a crashed prior prune before reading (each bucket
    # dir swaps atomically, so a half-committed prune serves each
    # term either fully pruned or fully present — benign — but the
    # next maintenance op must finish the recorded plan first)
    for p in (path, postings_dir):
        sinks.heal(p)
    meta = _read_text_meta(path)
    id_col = meta["id_col"]
    tomb = _tombstone_frame(spark, path, id_col)
    doclen = _live(_doclen(spark, path), tomb, id_col)
    n_docs = doclen.count()
    cut = int(max_df_ratio * n_docs)
    postings = _live(sinks.read_parquet(spark, postings_dir), tomb,
                     id_col)
    stop = (postings.groupBy("term", "tb")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > F.lit(cut))
            .select("term", "tb").collect())
    if not stop:
        return {"pruned": [], "df_cut": cut, "n_docs": int(n_docs)}
    terms = sorted({r["term"] for r in stop})
    tbs = sorted({int(r["tb"]) for r in stop})
    sinks.erase_partitions(
        spark, postings_dir, "term",
        spark.createDataFrame([(t,) for t in terms], ["term"]),
        tbs, part_col="tb")
    return {"pruned": terms, "df_cut": cut, "n_docs": int(n_docs)}


def compact_inverted_index(spark, path: str) -> dict:
    """Scheduled maintenance: physically drop dead rows (shadowed
    generations and erased docs) from postings and doclen, then clear
    the tombstones — bounding the query-time tombstone broadcast back
    to zero.  Whole-store rewrite by design (O(live index), like the
    ANN rebuild); each store is staged then swapped, and a leftover
    tombstone after a crash re-filters already-live rows harmlessly
    until the next compaction removes it.  Returns before/after row
    counts.

    Deployment note (applies to every maintenance verb here): the
    tombstone-file counting and directory swaps use ``os``/``shutil``
    — a POSIX store directory, consistent with the sandbox-local
    design.  The DataFrame plans themselves are cluster-agnostic; on
    an object store, swap these for the filesystem client and count
    maintenance ops via a meta counter instead of file count (the
    ``coalesce(1)`` on tombstone batches — fine for dimension-sized
    GDPR lists, a single-task funnel for a bulk purge — then goes
    too)."""
    import shutil

    sinks.heal(path)
    meta = _read_text_meta(path)
    id_col = meta["id_col"]
    tomb = _tombstone_frame(spark, path, id_col)

    # the two stores rewrite independently (disjoint directories, the
    # tombstone frame is shared read-only) — run them as concurrent
    # job streams (guide §2.6)
    def _compact_one(sub: str, part: str | None) -> dict:
        store = os.path.join(path, sub)
        cur = sinks.read_parquet(spark, store)
        res = {f"{sub}_before": cur.count()}
        live = _live(cur, tomb, id_col)
        sinks.stage_and_swap(store,
                             lambda tmp: _write_store(live, tmp, part))
        res[f"{sub}_after"] = sinks.read_parquet(spark, store).count()
        return res

    out = {}
    for res in run_concurrently(lambda: _compact_one("postings", "tb"),
                                lambda: _compact_one("doclen", None)):
        out.update(res)
    shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)
    return out


def inverted_index_stats(spark, path: str) -> DataFrame:
    """Index observability (the text twin of ``ann_index_stats``):
    one row of live-corpus invariants — doc count, Σdl, distinct
    terms, postings rows — plus the tombstone backlog that schedules
    compaction.  Aggregates ride partial aggregation (one row per
    executor); no text is read."""
    sinks.heal(path)
    meta = _read_text_meta(path)
    id_col = meta["id_col"]
    tomb = _tombstone_frame(spark, path, id_col)
    doclen = _live(_doclen(spark, path), tomb, id_col)
    postings = _live(sinks.read_parquet(spark,
                                        os.path.join(path, "postings")),
                     tomb, id_col)
    d = doclen.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").cast("long").alias("sum_dl"))
    p = postings.agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("term").alias("n_terms"))
    n_tomb = tomb.count() if tomb is not None else 0
    return (d.crossJoin(p)
            .withColumn("n_tombstoned", F.lit(n_tomb).cast("long"))
            .select("n_docs", "sum_dl", "n_terms", "n_postings",
                    "n_tombstoned"))


def search_inverted_index(spark, path: str, terms: list[str],
                          k1: float = K1, b: float = B,
                          where: str | None = None,
                          require_all: bool = False) -> DataFrame:
    """Serve BM25 from the PERSISTED index: prune postings to the query
    terms' buckets (explicit-dirs ``_read_buckets`` — the unmatched
    bucket directories are never even LISTED, so a serve costs
    O(|query buckets|) discovery, not O(n_buckets); r17, the text twin
    of the ANN serving fix), pivot the <= |terms| postings per doc to tf
    columns, join the doc-length sidecar, and score with the exact
    expression tree of :func:`bm25_scores` — integer inputs (tf, df,
    dl, N, Σdl) are identical to the scan-side path, so the scores are
    bit-identical and the scan-side oracle carries over verbatim.

    Lifecycle-aware: rows shadowed by an upsert or erased by a
    tombstone are filtered by a broadcast join against the (compaction-
    bounded) tombstone set, and corpus stats (N, Σdl, df) count only
    live rows — so post-maintenance serving equals a fresh scan of the
    merged truth.  Reads self-heal stranded swap leftovers first.

    Scale: the postings read is O(matching docs x terms), the stats
    pass is one partial-aggregate row each over postings and doclen,
    and the tf-doclen join co-locates when both sides are bucketed by
    doc_id.  The corpus text is never read.

    *where* (a SQL predicate over the index's recorded ``meta_cols``)
    serves the query WITHIN a corpus slice: eligibility gates through
    the doclen join and every statistic (N, Σdl, per-term df) is
    recounted over eligible docs only — bit-identical to serving an
    index built on the slice."""
    sinks.heal(path)
    meta = _read_text_meta(path)
    id_col = meta["id_col"]
    n_buckets = int(meta["n_buckets"])
    if not terms:
        # zero terms match zero docs (r14 review): contract schema
        # from the doclen sidecar, no postings work
        return (_doclen(spark, path).select(id_col, "dl")
                .withColumn("bm25", F.lit(0.0)).limit(0))
    tomb = _tombstone_frame(spark, path, id_col)
    # the bucket of each query term, via the driver-side twin of the
    # build's hash expression (functions.hashing, parity-pinned): a
    # constant-per-term computation should not cost a cluster round
    # trip per serve (r17; was a 1-row spark.range job)
    tbs = sorted({term_bucket(t, n_buckets) for t in terms})
    # explicit-dirs read of the query terms' buckets (r17, the text
    # twin of the ANN serving fix): a serve lists O(|query tb|)
    # directories, not O(n_buckets) discovery — same rows as the old
    # tb.isin filter, missing buckets contribute none
    postings = _live(
        sinks._read_buckets(spark, os.path.join(path, "postings"), tbs,
                            part_col="tb")
        .filter(F.col("term").isin(terms)),
        tomb, id_col)
    doclen = _live(_doclen(spark, path), tomb, id_col)
    if where is not None:
        doclen = doclen.filter(F.expr(where))
        # df must count ELIGIBLE docs only — gate the postings through
        # the eligible id set before any per-term statistic
        postings = postings.join(doclen.select(id_col), id_col, "semi")
    wtf = (postings.groupBy(id_col).agg(*[
        F.coalesce(F.sum(F.when(F.col("term") == t, F.col("tf"))),
                   F.lit(0)).alias(f"_tf_{i}")
        for i, t in enumerate(terms)])
        .join(doclen.select(id_col, "dl"), id_col))
    dfs = postings.agg(*[
        F.coalesce(F.sum(F.when(F.col("term") == t, F.lit(1))),
                   F.lit(0)).cast("long").alias(f"_df_{i}")
        for i, t in enumerate(terms)])
    corpus = doclen.agg(F.count("*").alias("_n"),
                        F.sum("dl").cast("long").alias("_sumdl"))
    if require_all:
        # conjunctive (AND) mode: admit only docs with every term —
        # same pivoted tf frame, same statistics (df/idf are
        # mode-independent, Lucene MUST semantics), stricter admission.
        # The filter runs BEFORE the stats broadcast join, so the
        # scored set shrinks to the conjunction first.
        cond = F.col("_tf_0") > 0
        for i in range(1, len(terms)):
            cond = cond & (F.col(f"_tf_{i}") > 0)
        wtf = wtf.filter(cond)
    stats = corpus.crossJoin(dfs)
    scored = wtf.crossJoin(F.broadcast(stats))
    return scored.select(id_col, "dl",
                         _bm25_score_col(len(terms), k1, b).alias("bm25"))


def search_inverted_index_many(spark, path: str, queries: dict,
                               k: int = 20, k1: float = K1,
                               b: float = B,
                               where: str | None = None,
                               literal_max: int = 4,
                               with_rank: bool = False) -> DataFrame:
    """Serve a BATCH of BM25 queries from the persisted index in ONE
    plan — the text twin of ``ann_index.search_index_many`` and the
    high-QPS path for the keyword leg: Q sequential
    :func:`search_inverted_index` calls pay Q postings reads, Q doclen
    scans and Q scheduler round trips for work whose I/O is nearly
    shared.  Here the union of every query's terms prunes the postings
    ONCE (tb partition filter + term filter), the doclen sidecar
    contributes one corpus-stats row and one matching-docs dl join,
    and each query's scoring is a pure expression subplan over that
    shared working set —
    built by the same ``_bm25_score_col`` tree as the single-query
    path, from the same integer inputs, so per-query scores are
    bit-identical to Q separate calls.

    *queries* maps ``qid -> [terms]``.  Returns ``(qid, id_col, dl,
    bm25)``, top-*k* per query by the 6dp-rounded score (desc, id asc
    — the serving grid order).  Measured (tools/scaling_check.py
    --batch, sf0.1 local[32], 60k docs, r12): Q x single calls take
    3.6/6.9/29/55 s at Q=5/10/50/100; the literal strategy
    3.1/4.3/12.6/24 s; the joined strategy 2.1/2.2/2.6/3.6 s, still
    4.0/5.1 s at Q=250/500 — ~FLAT in Q (15x over singles at Q=100),
    which is why it is the default
    above literal_max=4.  Route single lookups through
    :func:`search_inverted_index`.

    Scale — two strategies, switched on ``literal_max`` (bit-identical
    scores either way: the per-term contribution expression is the
    same tree from the same integer inputs, and the padding terms the
    large-Q fold adds are EXACT zeros, which preserve a non-negative
    double sum):

    - Q <= literal_max (default 4): one pruned postings read pivoted
      to per-UNION-term tf columns in a SINGLE aggregation
      (O(matching docs) rows — the index-serving working set), one
      doclen pass for corpus stats + the matching-docs dl join, then
      each query is a PURE PROJECTION over that working set.  Zero
      per-query aggregations or joins, but the pivot width (union
      terms), the plan text (Q unioned projection subplans) and the
      per-row work (every query's subplan scans every matching doc)
      all grow O(Q).  At Q >= 2 the pivot and the stats row are
      eagerly checkpointed so the Q subplans share them, and the
      k x Q result is pinned before those checkpoints are released;
      at Q = 1 there is nothing to share and the result is a lazy
      plan (measured at sf0.001: 9 jobs collected, as many as
      :func:`search_inverted_index` plus its ordered limit, against
      14 with the checkpoints).
    - Q > literal_max: the term sets move from the PLAN into DATA —
      one broadcast (qid, term, qpos, df) frame replicates each
      pruned posting to exactly the queries containing its term
      (sum_q |postings matching q's terms| rows — the same work Q
      single calls would do, NOT O(docs x Q)), ONE (qid, doc)
      aggregation pivots tf/df per query-term POSITION (max |terms|
      wide — bounded by the longest query, not the union), and one
      shared gated scoring fold ranks every query.  Plan size,
      analysis time and codegen are CONSTANT in Q; per-term df values
      ride the broadcast frame from a dimension-bounded driver
      collect (|union terms| rows — the term-bucket probe
      discipline).  Measured at Q=50/100 in tools/scaling_check.py
      --batch (see README bench notes).

    Both strategies end in the same qid-partitioned row_number window,
    which Spark plans as a WindowGroupLimit — partial mode keeps only
    top-k per qid per map partition before the exchange.  The joined
    strategy and a one-query batch return a live plan; a literal batch
    of Q >= 2 returns its pinned k x Q rows."""
    from pyspark.sql import Window

    from .dedup import _cc_free

    sinks.heal(path)
    meta = _read_text_meta(path)
    id_col = meta["id_col"]
    n_buckets = int(meta["n_buckets"])
    tomb = _tombstone_frame(spark, path, id_col)
    qitems = sorted(queries.items())
    union_terms = sorted({t for _, ts in qitems for t in ts})
    if not union_terms:
        # mirror the non-empty contract (r14 review, the ANN twin's
        # fix): qid keeps the caller's key type, the id column keeps
        # the STORE's type, and with_rank carries the rank column
        # (hybrid_serve_many selects it unconditionally)
        id_t = _doclen(spark, path).schema[id_col].dataType.simpleString()
        # an EMPTY queries dict has no key to infer from: default to
        # 'string' — the prior contract and what string-keyed callers
        # union against (r15 review; an 'int' default made the
        # degenerate frame schema-incompatible with their results)
        qid_t = ("int" if qitems and not isinstance(qitems[0][0], str)
                 else "string")
        rank = ", rank int" if with_rank else ""
        return spark.createDataFrame(
            [], f"qid {qid_t}, {id_col} {id_t}, dl long, "
                f"bm25 double{rank}")
    uidx = {t: i for i, t in enumerate(union_terms)}
    # driver-side bucket mapping, as in the single-query path (r17)
    tbs = sorted({term_bucket(t, n_buckets) for t in union_terms})
    # explicit-dirs bucket read, as in the single-query path (r17)
    postings = _live(
        sinks._read_buckets(spark, os.path.join(path, "postings"), tbs,
                            part_col="tb")
        .filter(F.col("term").isin(union_terms)),
        tomb, id_col)
    doclen = _live(_doclen(spark, path), tomb, id_col)
    if where is not None:
        # shared slice gate (recorded meta_cols): stats AND candidates
        # recount over eligible docs only, exactly as the single path
        doclen = doclen.filter(F.expr(where))
        postings = postings.join(doclen.select(id_col), id_col, "semi")
    ckpts: list = []
    if len(qitems) <= literal_max:
        # ONE aggregation pivots every union term's tf per matching
        # doc; the dl join happens once; every query reads this frame
        wtf_all = (postings.groupBy(id_col).agg(*[
            F.coalesce(F.sum(F.when(F.col("term") == t, F.col("tf"))),
                       F.lit(0)).alias(f"_utf_{i}")
            for i, t in enumerate(union_terms)])
            .join(doclen.select(id_col, "dl"), id_col))
        # per-union-term df + corpus stats: ONE broadcastable row
        stats_all = (doclen.agg(
            F.count("*").alias("_n"),
            F.sum("dl").cast("long").alias("_sumdl"))
            .crossJoin(postings.agg(*[
                F.coalesce(F.sum(F.when(F.col("term") == t, F.lit(1))),
                           F.lit(0)).cast("long").alias(f"_udf_{i}")
                for i, t in enumerate(union_terms)])))
        if len(qitems) > 1:
            # the checkpoints let the Q unioned subplans share one
            # pivot and one stats row; a single query has nothing to
            # share, and checkpointing it costs jobs (14 vs 9 collected)
            wtf_all = wtf_all.localCheckpoint(eager=True)
            stats_all = stats_all.localCheckpoint(eager=True)
            ckpts = [wtf_all, stats_all]

        outs = []
        base = wtf_all.crossJoin(F.broadcast(stats_all))
        for qid, terms in qitems:
            terms = list(terms)
            if not terms:
                # a term-less query matches nothing; the joined
                # strategy drops it (no qtd rows), the literal path
                # must too instead of building _tf_0 references that
                # fail analysis (r14 review)
                continue
            # rename this query's union columns into the conventional
            # _tf_i/_df_i names so _bm25_score_col builds the
            # IDENTICAL expression tree (same literals, same
            # association order) as the single-query path —
            # bit-identical doubles
            sel = base.select(
                F.col(id_col), F.col("dl"), F.col("_n"),
                F.col("_sumdl"),
                *[F.col(f"_utf_{uidx[t]}").alias(f"_tf_{i}")
                  for i, t in enumerate(terms)],
                *[F.col(f"_udf_{uidx[t]}").alias(f"_df_{i}")
                  for i, t in enumerate(terms)])
            matched = F.col("_tf_0")
            for i in range(1, len(terms)):
                matched = matched + F.col(f"_tf_{i}")
            outs.append(sel.filter(matched > 0).select(
                F.lit(qid).alias("qid"), F.col(id_col),
                F.col("dl").cast("long").alias("dl"),
                (F.round(_bm25_score_col(len(terms), k1, b), 6)
                 + F.lit(0.0)).alias("bm25")))
        allq = outs[0]
        for o in outs[1:]:
            allq = allq.unionByName(o)
    else:
        # large-Q: term sets as DATA, not plan literals — constant
        # plan.  Per-union-term df from ONE dimension-bounded driver
        # collect (term-bucket probe discipline) rides the broadcast
        # frame; a posting joins only the queries containing its term.
        max_t = max(len(ts) for _, ts in qitems)
        qid_t = "string" if isinstance(qitems[0][0], str) else "int"
        dfmap = {r["term"]: int(r["cnt"]) for r in
                 postings.groupBy("term")
                 .agg(F.count("*").alias("cnt")).collect()}
        qtd = spark.createDataFrame(
            [(qid, t, i, dfmap.get(t, 0))
             for qid, ts in qitems for i, t in enumerate(list(ts))],
            f"qid {qid_t}, term string, qpos int, _dfv long")
        corp = doclen.agg(F.count("*").alias("_n"),
                          F.sum("dl").cast("long").alias("_sumdl"))
        # ONE (qid, doc) aggregation pivots tf/df per query-term
        # POSITION (max |terms| wide — the longest query, not the
        # union); a (qid, doc) group exists iff >= 1 posting matched,
        # which is exactly the literal path's matched > 0 gate
        grp = (postings.join(F.broadcast(qtd), "term")
               .groupBy("qid", id_col)
               .agg(*[F.sum(F.when(F.col("qpos") == i, F.col("tf")))
                      .alias(f"_tf_{i}") for i in range(max_t)],
                    *[F.max(F.when(F.col("qpos") == i, F.col("_dfv")))
                      .alias(f"_df_{i}") for i in range(max_t)])
               .join(doclen.select(id_col, "dl"), id_col)
               .crossJoin(F.broadcast(corp)))
        # the single-query contribution tree per position, gated to
        # positions this query actually has (absent -> EXACT 0.0,
        # which is also what the literal tree emits for tf = 0, and
        # adding 0.0 to a non-negative double is exact)
        n = F.col("_n")
        avgdl = F.col("_sumdl") / n
        score = F.lit(0.0)
        for i in range(max_t):
            tf = F.col(f"_tf_{i}")
            df = F.col(f"_df_{i}")
            idf = F.log(F.lit(1.0)
                        + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
            norm = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                                     + F.lit(b) * (F.col("dl") / avgdl))
            contrib = idf * (tf * F.lit(k1 + 1.0)) / norm
            gated = F.when(tf.isNotNull(), contrib).otherwise(F.lit(0.0))
            score = gated if i == 0 else score + gated
        allq = grp.select(
            "qid", F.col(id_col),
            F.col("dl").cast("long").alias("dl"),
            (F.round(score, 6) + F.lit(0.0)).alias("bm25"))
    w = Window.partitionBy("qid").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc())
    result = allq.withColumn("_rn", F.row_number().over(w)) \
        .filter(F.col("_rn") <= k)
    # with_rank: the top-k window's own row_number IS the per-query
    # rank — RRF fusion consumes it directly instead of re-windowing
    result = (result.withColumn("rank", F.col("_rn").cast("int"))
              if with_rank else result).drop("_rn") \
        .orderBy("qid", F.col("bm25").desc(), F.col(id_col).asc())
    if ckpts:
        # the k x Q result must outlive the released parent
        # checkpoints, so pin it before freeing them (joined strategy
        # has no parents — its result stays a live, inspectable plan)
        result = result.localCheckpoint(eager=True)
        for ckpt in ckpts:
            _cc_free(ckpt)
    return result


def round_half_up(x: float, digits: int) -> float:
    """Spark's ``F.round(x, digits) + 0.0`` on the driver: Spark rounds
    the JVM's decimal rendering of the double HALF_UP (``BigDecimal``),
    not the binary value, so an exact tie such as 1/128 = 0.0078125 at
    6 digits goes up here as it does there (``round()`` would go to
    even, and ``similarity._np_round6`` rounds the binary value).
    Python's shortest repr stands in for the JVM's ``Double.toString``;
    Java 17 does not always render the shortest repr, so the twin is
    pinned against Spark at 6 digits over every RRF sum of two ranks in
    1..200 (tests/test_retrieval.py) and at 3 digits over the ties and
    a sample of the 6dp sim grid (tests/test_hashing.py)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits),
                                           ROUND_HALF_UP)) + 0.0


def hybrid_serve_many(spark, text_path: str, ann_path: str,
                      queries: dict, leg_k: int = 50, k: int = 10,
                      k_rrf: int = 60, nprobe: int = 4,
                      shortlist: int = 50,
                      where_text: str | None = None,
                      where_ann: str | None = None,
                      literal_max: int = 4) -> DataFrame:
    """Batched HYBRID serving — the capstone of the two batched
    serves: Q (term-set, query-vector) pairs answered in one pass per
    index.  The keyword leg is :func:`search_inverted_index_many`
    (one pruned postings read for all queries), the vector leg is
    ``ann_index.search_index_many`` (one pruned code scan + one
    vector scan), and each leg's per-query rank is its own top-k
    window's row_number.  Both legs are collected concurrently —
    at most Q x leg_k rows each — and reciprocal-rank fusion runs on
    the driver, so Q hybrid queries cost TWO index reads total and no
    Spark work after the legs.

    *queries* maps an integer ``qid -> {"terms": [...], "qvec":
    [...]}``.  Returns ``(qid, doc_id, rank_kw, rank_vec, rrf)``,
    top-*k* per query by (rrf desc, doc_id), ordered by (qid, rrf
    desc, doc_id): rrf = 1/(k_rrf + rank_kw) + 1/(k_rrf + rank_vec),
    an absent leg adding 0.0, rounded as Spark's ``F.round(_, 6)``
    rounds (:func:`round_half_up`).  The frame is a local relation
    built from an Arrow table, so collecting it launches no job.  Both
    indexes must record one id type.

    *where_text* / *where_ann* forward to each leg's slice gate
    (predicates over that index's recorded ``meta_cols``), making the
    whole batch a FILTERED hybrid serve — still two index reads, each
    leg pre-filtered before any scoring, statistics recounted over the
    slice (never a recall-losing post-filter of fused top-k).
    *literal_max* forwards to both legs' strategy switch (literal
    per-query subplans vs the constant-plan broadcast-data path for
    large Q — see each leg's docstring); either strategy yields
    bit-identical leg scores, so fusion is strategy-agnostic."""
    import pyarrow as pa
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StructField, StructType)

    from . import ann_index

    kw_q = {qid: spec["terms"] for qid, spec in queries.items()}
    vec_q = {qid: spec["qvec"] for qid, spec in queries.items()}

    def collected(leg: DataFrame):
        return leg.schema[1], leg.collect()

    # the legs run CONCURRENTLY: each leg's build and collect overlap
    # the other's (measured r12: ~1 s off the batch tail at Q=250,
    # sf0.1, when only the builds overlapped)
    (kw_id, kw_rows), (vec_id, vec_rows) = run_concurrently(
        lambda: collected(search_inverted_index_many(
            spark, text_path, kw_q, k=leg_k, where=where_text,
            literal_max=literal_max, with_rank=True)),
        lambda: collected(ann_index.search_index_many(
            spark, ann_path, vec_q, k=leg_k, nprobe=nprobe,
            shortlist=shortlist, where=where_ann,
            literal_max=literal_max, with_rank=True)))
    if kw_id.dataType != vec_id.dataType:
        raise ValueError(
            f"hybrid fusion needs one id type: the text index's "
            f"{kw_id.name} is {kw_id.dataType.simpleString()}, the ANN "
            f"index's {vec_id.name} is {vec_id.dataType.simpleString()}")
    ranks: dict = {}   # (qid, id) -> [rank_kw, rank_vec]
    for leg, rows, id_col in ((0, kw_rows, kw_id.name),
                              (1, vec_rows, vec_id.name)):
        for r in rows:
            ranks.setdefault((int(r["qid"]), r[id_col]),
                             [None, None])[leg] = r["rank"]
    by_qid: dict = {}
    for (qid, doc), (rk, rv) in ranks.items():
        rrf = ((0.0 if rk is None else 1.0 / (k_rrf + rk))
               + (0.0 if rv is None else 1.0 / (k_rrf + rv)))
        by_qid.setdefault(qid, []).append(
            (qid, doc, rk, rv, round_half_up(rrf, 6)))
    out = [row for qid in sorted(by_qid)
           for row in sorted(by_qid[qid], key=lambda t: (-t[4], t[1]))[:k]]
    schema = StructType([
        StructField("qid", LongType()),
        StructField("doc_id", kw_id.dataType),
        StructField("rank_kw", IntegerType()),
        StructField("rank_vec", IntegerType()),
        StructField("rrf", DoubleType())])
    return spark.createDataFrame(
        pa.table({f.name: [row[i] for row in out]
                  for i, f in enumerate(schema.fields)}), schema)


def duck_bm25(terms: list[str], duck_tokens: str,
              from_table: str = "documents", id_col: str = "doc_id",
              k1: float = K1, b: float = B,
              require_all: bool = False) -> str:
    """DuckDB rendering of :func:`bm25_scores` — identical expression
    tree (same literals, same association order) so both engines emit
    bit-identical doubles before the grid rounding."""
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    contribs = " + ".join(
        f"(ln(1.0 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
        f" * (w.tf_{i} * {k1 + 1.0!r})"
        f" / (w.tf_{i} + {k1!r} * (1.0 - {b!r}"
        f" + {b!r} * (w.dl / (s.sumdl / s.n)))))"
        for i in range(len(terms)))
    if require_all:
        matched = " AND ".join(f"w.tf_{i} > 0" for i in range(len(terms)))
    else:
        total = " + ".join(f"w.tf_{i}" for i in range(len(terms)))
        matched = f"({total}) > 0"
    return f"""
WITH t AS (SELECT {id_col}, {duck_tokens} AS toks FROM {from_table}),
w AS (SELECT {id_col}, len(toks) AS dl, {tf_cols} FROM t),
s AS (SELECT count(*) AS n, sum(dl) AS sumdl, {df_cols} FROM w)
SELECT w.{id_col}, w.dl, ({contribs}) AS bm25
FROM w, s WHERE {matched}
"""


def bounded_rank(df: DataFrame, score_col: str, id_col: str,
                 k: int) -> DataFrame:
    """Ranks 1..k of the top-*k* rows by ``(score desc, id asc)``.

    The ordered ``limit(k)`` plans TakeOrderedAndProject (each map task
    ships at most k rows), so the global window below only ever sees k
    rows — its single-partition exchange is k-bounded at any corpus
    size, not the classic unpartitioned-window scale trap.  Values are
    the pre-r17 form's exactly: ids are unique per leg, so
    ``row_number`` over (score desc, id asc) equals 1 + the count of
    strictly-better rows.  r17: this replaces an EAGER localCheckpoint
    of the k rows plus a k x k broadcast nested-loop self-join and
    re-aggregation — one fewer job per serving leg and a lazy frame
    that fuses into the caller's single final action.
    """
    from pyspark.sql import Window

    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    top = df.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.select(F.col(id_col),
                      F.row_number().over(w).cast("int").alias("rank"))


def rrf_fuse(legs: list[DataFrame], id_col: str = "doc_id",
             k_rrf: int = 60, topk: int = 10,
             round_to: int | None = 6) -> DataFrame:
    """Reciprocal-rank fusion of per-leg ``(id_col, rank)`` frames:
    rrf = sum over legs of 1/(k_rrf + rank), absent legs contribute 0.
    Output: ``(id_col, rank_0.., rrf)`` top-*topk* by (rrf desc, id),
    the score grid-rounded BEFORE ordering (``round_to``) so an oracle
    computing the same integer ranks orders identically.

    Inputs are bounded (k rows each), so every join here is
    driver-sized — the fusion cost is independent of the corpus."""
    fused = legs[0].select(F.col(id_col), F.col("rank").alias("rank_0"))
    for i, leg in enumerate(legs[1:], start=1):
        fused = fused.join(
            leg.select(F.col(id_col), F.col("rank").alias(f"rank_{i}")),
            id_col, "full")
    score = F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_0")),
                       F.lit(0.0))
    for i in range(1, len(legs)):
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col(f"rank_{i}")), F.lit(0.0))
    if round_to is not None:
        score = F.round(score, round_to) + F.lit(0.0)
    return (fused.withColumn("rrf", score)
            .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
            .limit(topk))


def cross_encoder_rerank(docs: DataFrame, terms: list[str],
                         candidates: int = 20, k: int = 10,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         scorer: str = "deterministic") -> DataFrame:
    """Second-stage re-ranking — the layer a production retrieval stack
    runs between candidate generation and serving: a cross-encoder
    scores each (query, candidate) PAIR jointly, which first-stage
    scorers (BM25, bi-encoder cosine) can't express because they score
    query and document independently.

    Plan shape: BM25 shortlists *candidates* rows (ordered limit —
    TakeOrderedAndProject, one broadcast stats row, no vocabulary
    shuffle), the candidate texts join back by id (broadcast of a
    k-row frame), and the pair scorer runs as an Arrow-batched pandas
    UDF over ONLY those rows — model inference cost is bounded by the
    candidate count at any corpus size, which is the entire economics
    of the two-stage design.

    ``scorer="model"`` uses sentence-transformers' CrossEncoder when
    importable (lazy per-worker load, the embed.py pattern) and falls
    back to the deterministic scorer; ``"deterministic"`` (default)
    always uses the md5 pairwise-interaction fake — term x token
    interaction weights ``hash48(term # token) % 1000`` summed over
    the doc and length-normalized — which a SQL oracle reproduces
    exactly, so the registry row stays value-checked in every
    environment (the model path's output is checked rows-only at unit
    level, like the embedding UDF's)."""
    from pyspark.sql import types as _T

    fixed_terms = [str(t) for t in terms]

    @F.pandas_udf(_T.DoubleType())
    def _ce_score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import hashlib
        import re as _re

        model = None
        if scorer == "model":  # pragma: no cover - model not in image
            try:
                from sentence_transformers import CrossEncoder
                model = CrossEncoder("cross-encoder/ms-marco-MiniLM-L-6-v2")
            except ImportError:
                model = None
        query = " ".join(fixed_terms)
        denom_base = 500.0 * len(fixed_terms)
        # Java-regex-compatible ASCII whitespace class (Spark's \s);
        # Python's \s is unicode-aware and would tokenize differently
        ws = _re.compile(r"[ \t\n\x0b\f\r]+")
        for s in batches:
            if model is not None:  # pragma: no cover
                yield pd.Series(
                    model.predict([(query, t or "") for t in s],
                                  batch_size=64).astype("float64"))
                continue
            out = []
            for text in s:
                # strip(' ') not strip(): Spark/DuckDB trim() remove
                # only the space character, and tokenization must match
                # the SQL twin token-for-token
                toks = ws.split((text or "").strip(" ").lower())
                tot = 0
                for d in toks:
                    for t in fixed_terms:
                        h = int(hashlib.md5(
                            f"{t}#{d}".encode("utf-8")).hexdigest()[:12],
                            16)
                        tot += h % 1000
                out.append(tot / (denom_base * (len(toks) + 1)))
            yield pd.Series(out, dtype="float64")

    scored = bm25_scores(docs, fixed_terms, text_col=text_col,
                         id_col=id_col)
    cand = (scored
            .orderBy((F.round(F.col("bm25"), 6) + F.lit(0.0)).desc(),
                     F.col(id_col).asc())
            .limit(candidates)
            .select(id_col))
    texts = docs.select(id_col, text_col).join(F.broadcast(cand), id_col)
    ce = texts.withColumn(
        "ce_score", F.round(_ce_score(F.col(text_col)), 6) + F.lit(0.0))
    return (ce.select(id_col, "ce_score")
            .orderBy(F.col("ce_score").desc(), F.col(id_col).asc())
            .limit(k))
