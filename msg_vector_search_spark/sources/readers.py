"""Scans / sources (SURVEY 2.A).

The reference scans an encrypted SQLite table row-by-row with manual
column projection and LIMIT/OFFSET pagination (reference:
src/core/database/processor.py:423-437) and discovers its source file by
picking the newest+largest ``main_*.sqlite`` (reference:
src/core/database/connection.py:56-76).  Here every scan is a columnar
Parquet read: column pruning and predicate pushdown reach the scan node
via Catalyst, pagination is replaced by partition parallelism, and
snapshot isolation is free because Parquet files are immutable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..session import widen  # noqa: F401  (re-export; historical home)
from . import fs

FIXTURE_TABLES = tuple(schemas.TABLES)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's inference gives the parquet table at *path*
    (one file, or a directory of files), computed on the driver from
    ONE data file's footer; None when no data file is found directly
    under the directory (or its footer cannot be read).

    This is the per-file step of Spark's own inference
    (``ParquetFileFormat.readSchemaFromFooter`` with a converter built
    from the live session conf, so ``nanosAsLong`` and
    ``inferTimestampNTZ`` apply exactly as they do there), called
    through py4j over the Hadoop FS.  Inference runs it inside a
    one-task Spark job; with ``mergeSchema`` off it reads one file too.
    """
    from py4j.protocol import Py4JJavaError

    from pyspark.sql.types import _parse_datatype_json_string

    files = fs.list_files(path) if fs.probe_dirs([path]) else [path]
    if not files:
        return None
    jvm, state = spark._jvm, spark._jsparkSession.sessionState()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    fpath = jvm.org.apache.hadoop.fs.Path(files[0])
    try:
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            state.newHadoopConf(), fpath,
            jvm.org.apache.parquet.format.converter
            .ParquetMetadataConverter.SKIP_ROW_GROUPS)
    except Py4JJavaError:
        return None
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(fpath, footer),
        parquet.ParquetToSparkSchemaConverter(state.conf()))
    return _parse_datatype_json_string(schema.json())


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` typed by :func:`_footer_schema`, so
    building the frame launches no schema-inference job; the plain
    read when no footer schema is found.  Spark makes a given data
    schema nullable as it does an inferred one, so the frame's schema
    equals the plain read's."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table.

    The schema is the Parquet footer's, as Spark would infer it, read
    on the driver (:func:`_read_parquet`) so the scan costs no
    inference job; it matches ``schemas.TABLES`` (asserted in tests).
    Keeping the footer schema preserves vectorized reading and min/max
    row-group skipping.

    ``events.ts`` has shipped in two physical forms across fixture
    generations: TIMESTAMP(MICROS) (reads natively) and
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects — that
    one is read as a nanosecond long and truncated to microseconds,
    exactly what DuckDB 1.0 does on the oracle side, so both engines
    see identical instants.  The branch is decided by the footer
    schema Spark resolved, not by a config flag.
    """
    if name == "events":
        # NOTE (r14 review, deliberately kept): these two conf flips
        # are session-sticky — scoping them to this call is unsafe
        # because the returned frame is LAZY and the scan consults the
        # conf at execution, after a save/restore would have reverted
        # it.  Within this engine every parquet read goes through
        # read_table or engine-written micros stores, so the sticky
        # nanosAsLong is benign; a library consumer mixing RAW
        # spark.read.parquet calls on foreign TIMESTAMP(NANOS) data in
        # the same session would see longs and should read via
        # read_table or reset the conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # micros fixtures must resolve to TIMESTAMP (with zone, session
        # tz = UTC), not TIMESTAMP_NTZ: downstream code and event-time
        # watermarks expect the with-zone type, and reading it natively
        # (rather than casting after the scan) keeps the watermark
        # predicate eligible for Parquet pushdown
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled",
                       "false")
        df = _read_parquet(spark, table_path(sf_dir, name))
        if not isinstance(df.schema["ts"].dataType, T.LongType):
            # micros fixture: native timestamp scan, predicates push —
            # no raw-domain twin needed
            return df
        # nanos fixture: keep the RAW nanos long alongside the converted
        # timestamp: predicates on the converted column wrap it in an
        # expression Parquet can't push, so watermark filters
        # (filters.since_ts) add a coarse raw-domain twin on _ts_nanos
        # that DOES push — row-group min/max skipping is what makes the
        # incremental scan cheap at 100 TB
        return (df.withColumn("_ts_nanos", F.col("ts"))
                  .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    return _read_parquet(spark, table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in FIXTURE_TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def scan_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 ``scan_messages``: projected scan of the message-shaped table.

    Reference: src/core/database/processor.py:428-435 —
    ``SELECT sid,_mid,c,t,_createAt,u FROM chat_message`` with manual
    column pruning.  Spark: ``select`` after a Parquet scan; Catalyst
    prunes the read schema to exactly these columns (visible as
    ``ReadSchema`` in the physical plan).
    """
    return read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars")


def scan_latest_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 ``scan_latest_file`` (data-level analog): rows carrying the
    latest timestamp — the "newest snapshot wins" semantics of the
    reference's file pick, expressed as a max-timestamp partition prune.

    Reference: src/core/database/connection.py:56-76.
    """
    events = read_table(spark, sf_dir, "events")
    latest = events.agg(F.max("ts").alias("max_ts"))
    return (
        events.join(F.broadcast(latest), events.ts == F.col("max_ts"), "inner")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def snapshot(df: DataFrame) -> DataFrame:
    """A3 snapshot copy-on-read.

    The reference copies the live SQLite file before reading so a
    concurrent writer can't corrupt the scan (reference:
    src/core/database/connection.py:78-126, reuse check at :102-115).
    Parquet files are immutable, so a scan IS a snapshot; for intra-job
    reuse we cache, which is the moral equivalent of the reference's
    snapshot-reuse fast path.
    """
    return df.cache()
