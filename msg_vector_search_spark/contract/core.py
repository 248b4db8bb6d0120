"""Registry core: ``register``, ``REGISTRY`` / ``ORACLES`` and the shared
fixture helpers every section builds on (``rnd``, ``_t``, ``_built``,
``_copy``, ...), plus the trained-artifact publication that the
trained rows' oracles replay.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import analysis
from ..operators import ann_index
from ..operators import retrieval as retrieval_ops
from ..sources import readers, sinks


QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def rnd(col, n: int):
    """Grid rounding with signed-zero normalization (+0.0 folds -0.0 to
    0.0 — DuckDB and Spark disagree on round()'s zero sign)."""
    return F.round(col, n) + F.lit(0.0)


def duck_rnd(expr: str, n: int) -> str:
    """DuckDB twin of :func:`rnd`."""
    return f"(round({expr}, {n}) + 0)"


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver hands us its own session; pin the runtime confs the
    # oracle comparison depends on (UTC rendering matches DuckDB's
    # naive timestamps).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # INT64-micros timestamp WRITES (not the INT96 legacy default):
    # INT96 columns carry no min/max stats, which would strip ts
    # row-group pruning AND retention_sweep's footer probe from every
    # store a contract row writes under the driver's vanilla session.
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    return readers.read_table(spark, sf_dir, name)


# The fixed query vector for single-query similarity operators: the
# stored embedding of vec_id = 0 (deterministic, exists at every sf).
# Cached per sf_dir: the fixture is immutable, and the extra .head()
# job otherwise adds a full scheduler round trip (~0.2 s local) to
# every search invocation — a serving deployment embeds its query
# once, it doesn't re-read the store.
_QVEC_CACHE: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    if sf_dir not in _QVEC_CACHE:
        row = (_t(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") == 0).select("embedding").head())
        _QVEC_CACHE[sf_dir] = [float(x) for x in row[0]]
    return _QVEC_CACHE[sf_dir]


_DUCK_QVEC = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"


# Build-once fixture artifacts: the fixtures are immutable, so each
# offline build (an index, a store) runs once per (sf_dir, kind) and
# every later query serves from the persisted artifact — the "index
# once, query many" economics the lifecycle exists for.  Keyed by
# sf_dir so the driver's sf never collides with tests.  Rows that
# mutate an artifact take their own _copy, so the build stays
# immutable and the rows stay independent.
_BUILT: dict[tuple, str] = {}


def _built(key: tuple, build: Callable[[str], object],
           leaf: str = "index") -> str:
    """The cached artifact for *key*; on first use ``build(path)``
    writes it to a *leaf* directory in a fresh temp dir."""
    if key not in _BUILT:
        path = os.path.join(tempfile.mkdtemp(prefix="built_"), leaf)
        build(path)
        _BUILT[key] = path
    return _BUILT[key]


def _copy(path: str) -> str:
    """A writable copy of the artifact at *path*, under the same leaf
    name."""
    out = os.path.join(tempfile.mkdtemp(prefix="copy_"),
                       os.path.basename(path))
    shutil.copytree(path, out)
    return out


def _ann_built(spark: SparkSession, key: tuple,
               vectors: Callable[[], DataFrame], **kw) -> str:
    """The cached index (nlist 16, 8 x 16 codes unless *kw* says
    otherwise) over the frame ``vectors()``."""
    kw = {"nlist": 16, "m": 8, "ncodes": 16, **kw}
    return _built(key, lambda path: ann_index.build_index(
        spark, vectors(), path, **kw))


def _upsert_base_path(spark: SparkSession, sf_dir: str) -> str:
    """The cached 90%-corpus base index (seed artifacts) — the offline
    build job.  Read-only; callers that mutate take a :func:`_copy`."""
    return _ann_built(spark, (sf_dir, "upsert_base"),
                      lambda: _t(spark, sf_dir, "embeddings")
                      .filter(F.col("vec_id") % 10 != 3))


def _inverted_index(spark: SparkSession, sf_dir: str,
                    kind: str = "full") -> str:
    """The cached persisted inverted index (the text twin of
    _materialized_index) over the whole corpus (``full``), the 90%
    base (``base90`` — the pre-crawl state the upsert rows fold the
    held-out slice into), the doc_id%5<>0 old snapshot (``old5`` — the
    pre-diff state the changefeed row applies a feed to), or the whole
    corpus carrying ``source`` as a meta column (``src``)."""
    def build(path: str) -> None:
        docs = readers.widen(_t(spark, sf_dir, "documents"))
        if kind == "base90":
            docs = docs.filter(F.col("doc_id") % 10 != 3)
        elif kind == "old5":
            docs = docs.filter(F.col("doc_id") % 5 != 0)
        retrieval_ops.build_inverted_index(
            docs, path, meta_cols=("source",) if kind == "src" else ())
    return _built((sf_dir, "text", kind), build)


# =========================================================================
# Trained-artifact publication (the ann_trained_store_exhaustive
# technique, VERDICT r11 item 1, applied to the ADC fold): trained
# centroids / codebooks are seed-DETERMINISTIC but not
# dialect-reproducible in DuckDB, so each trained row PERSISTS its
# artifacts here as part of the query and its oracle replays the whole
# downstream composition (assign -> encode -> ADC -> re-rank) FROM the
# persisted parquet — value-verifying every stage AFTER training.  The
# path is FIXED (not mkdtemp) because oracle_sql() strings are static;
# every run of the query rewrites/re-points it before its oracle
# executes (the gate runs Spark first, then DuckDB, per row).
# SINGLE-WRITER ASSUMPTION: the fixed path means two concurrent gate
# processes (or a gate racing a pytest run of these rows) would rewrite
# each other's artifacts between a row's Spark leg and its oracle leg —
# the driver contract runs one gate at a time, and the artifacts are
# rewritten by every query run, so a clobbered window self-heals on the
# next sequential pass.
# =========================================================================
_TRAINED_ART = os.path.join(tempfile.gettempdir(), "mvs_trained_artifacts")


def _trained_dir(name: str) -> str:
    return os.path.join(_TRAINED_ART, name)


def _publish_codebooks(name: str, books) -> None:
    ann_index._write_codebooks(
        books, os.path.join(_trained_dir(name), "codebooks"))


def _publish_centroids(name: str, cent: DataFrame) -> None:
    _publish_frame(name, cent, "centroids")


def _publish_frame(name: str, df: DataFrame, sub: str) -> None:
    """Publish a small (dimension-bounded) frame under the canonical
    artifact dir so a static oracle string can read it back — the same
    query-writes / oracle-replays contract as the trained ANN rows.

    Written DRIVER-SIDE with pyarrow, not a Spark write job: a
    coalesce(1) parquet write of a 20-row frame measures ~5-7 s of
    pure scheduler/committer overhead on this host (the same
    measurement that shaped ann_index._write_codebooks) — the frames
    published here are centroids/budgets, dimension-bounded by
    contract.  Float32 arrays collect as exact float64s, which is the
    cast both engines score in anyway."""
    import pyarrow as pa

    rows = df.collect()
    table = pa.table({c: [r[c] for r in rows] for c in df.columns})
    sinks.write_small_parquet(
        table, os.path.join(_trained_dir(name), sub))


# Canonical per-table witness keys for the artifact fingerprints: the
# content columns that actually change across fixture scales (row
# COUNTS do not — sf0.001 and sf0.01 both carry 500 embeddings/
# documents with different contents, measured), rendered identically
# by both engines.  md5(text) folds arbitrary document text to a hex
# token both dialects hash the same way; the embeddings key carries a
# VECTOR digest (per-dim round(x*1e6) summed to one BIGINT — integer
# rendering, so no cross-engine float-formatting hazard) because the
# trained artifacts derive from the vector BYTES: ids/labels alone
# would pass stale artifacts through a regeneration that kept the
# identity set but moved the vectors.
_VEC_DIGEST_SQL = ("CAST(list_sum(list_transform(embedding, x -> "
                   "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))"
                   " AS BIGINT)")
_WITNESS_KEY_SQL = {
    "embeddings": ("CAST(vec_id AS VARCHAR) || ':' || label || ':' || "
                   f"CAST({_VEC_DIGEST_SQL} AS VARCHAR)"),
    "documents": "CAST(doc_id AS VARCHAR) || ':' || md5(text)",
    "events": "CAST(event_id AS VARCHAR)",
}


def _witness_key_col(table: str):
    if table == "embeddings":
        digest = F.aggregate(
            F.col("embedding"), F.lit(0).cast("long"),
            lambda acc, x: acc + F.round(x.cast("double")
                                         * F.lit(1_000_000.0), 0)
            .cast("long"))
        return F.concat(F.col("vec_id").cast("string"), F.lit(":"),
                        F.col("label"), F.lit(":"),
                        digest.cast("string"))
    if table == "documents":
        return F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                        F.md5(F.col("text").cast("binary")))
    return F.col("event_id").cast("string")


def _scale_witness(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Order-independent content checksum of *table*: per row
    ``1000003 + (hash48(key) mod 1000003)`` summed — blends row count
    and content, overflow-safe to ~4.6e12 rows (worst-case per-row
    addend ~2.0e6, so the BIGINT sum crosses 2^63 near 2^63/2.0e6
    ~ 4.6e12 rows; a raw 48-bit sum would overflow near 33k rows).
    Computed with the shared
    md5-prefix hash so :func:`_fp_guard` replays it in DuckDB."""
    h = analysis.token_hash(_witness_key_col(table))
    w = (_t(spark, sf_dir, table)
         .agg(F.sum(F.lit(1000003).cast("long")
                    + F.pmod(h, F.lit(1000003))).alias("w"))
         .head()[0])
    # sum() over zero rows is NULL — an empty anchor table witnesses
    # as 0 instead of raising int(None) at publish time (r14 review)
    return int(w) if w is not None else 0


def _publish_fingerprint(spark: SparkSession, sf_dir: str, name: str,
                         table: str) -> None:
    """Scale witness for a published-artifact row (ADVICE r12): the
    content checksum of the query's anchor table at publish time,
    written next to the artifacts.  The oracle's artifact-reading CTE
    asserts this against the SAME checksum recomputed from its
    registered views (:func:`_fp_guard`), so an artifact left behind
    by a run at a DIFFERENT scale (the realistic clobber: a gate at
    sf0.01 racing a pytest run at sf0.001) empties the CTE and the
    row fails LOUDLY instead of silently comparing against stale
    artifacts.  Same-scale clobber remains benign by construction —
    every trained artifact is seed-deterministic per fixture, so a
    concurrent same-scale writer reproduces byte-equal values (the
    documented single-writer assumption, now enforced across
    scales)."""
    import pyarrow as pa

    sinks.write_small_parquet(
        pa.table({"witness": [_scale_witness(spark, sf_dir, table)]}),
        os.path.join(_trained_dir(name), "fingerprint"))


def _fp_guard(name: str, table: str) -> str:
    """DuckDB predicate asserting the published fingerprint matches
    the oracle's own content checksum of *table* — AND this into the
    artifact CTE's WHERE so a cross-scale artifact yields zero rows."""
    key = _WITNESS_KEY_SQL[table]
    return (f"(SELECT f.witness FROM read_parquet("
            f"'{_trained_dir(name)}/fingerprint/*.parquet') f)"
            f" = (SELECT sum(1000003 + "
            f"({analysis.duck_token_hash(key)} % 1000003)) FROM {table})")


def _publish_store_link(name: str, target: str) -> None:
    """Atomically re-point the canonical symlink at a (cached) store
    directory — the store itself is built once per fixture (mkdtemp),
    the link lets a static oracle string always read the CURRENT one."""
    os.makedirs(_TRAINED_ART, exist_ok=True)
    link = _trained_dir(name)
    tmp = link + "._lnk"
    try:
        os.remove(tmp)
    except FileNotFoundError:
        pass
    os.symlink(target, tmp)
    os.replace(tmp, link)
