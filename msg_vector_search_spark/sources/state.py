"""Watermark state (SURVEY 2.A A7/A8, 2.H H1/H2).

The reference keeps a scalar ``last_processed_timestamp`` in a SQLite
KV table with corruption guards (reference: src/core/database/
processor.py:32-115 — future timestamp resets to 0 at :62-64, a
>10-year-old value clamps to now-30d at :66-69).  Here the state is a
single-row Parquet table written atomically per batch and read back on
the driver: both directions are driver-sized work, so neither launches
a Spark job.  The guards exist twice, with one rule set: as the column
expression :func:`clamp_watermark` (registry rows, streaming) and as
the driver-side clamp inside :func:`read_watermark`.  Structured
Streaming replaces all of it with checkpointed offsets (see
streaming/stream.py).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from . import fs, sinks

EPOCH = dt.datetime(1970, 1, 1)
WATERMARK_KEY = "last_processed_timestamp"
#: the guards' intervals in microseconds; a day-time interval is an
#: exact duration in Spark too (no calendar or DST adjustment)
_TEN_YEARS_US = 3650 * 86_400_000_000
_THIRTY_DAYS_US = 30 * 86_400_000_000


def clamp_watermark(ts: Column, as_of: Column) -> Column:
    """H2 corruption guards as one expression.

    * watermark in the future (> as_of)       -> epoch (reprocess all)
    * watermark absurdly old (> 10 y before)  -> as_of - 30 days
    * otherwise                               -> unchanged

    Reference: processor.py:62-69.  ``as_of`` is explicit (not ``now()``)
    so the operator is deterministic and oracle-checkable.
    """
    ten_years = F.expr("INTERVAL 3650 DAYS")
    thirty_days = F.expr("INTERVAL 30 DAYS")
    return (
        F.when(ts > as_of, F.lit(EPOCH))
        .when(ts < as_of - ten_years, (as_of - thirty_days))
        .otherwise(ts)
    )


def duck_clamp_watermark(ts: str, as_of: str) -> str:
    """DuckDB rendering of :func:`clamp_watermark` for the oracle."""
    return (
        f"CASE WHEN {ts} > {as_of} THEN TIMESTAMP '1970-01-01 00:00:00' "
        f"WHEN {ts} < {as_of} - INTERVAL 3650 DAYS "
        f"THEN {as_of} - INTERVAL 30 DAYS ELSE {ts} END"
    )


def read_watermark(spark: SparkSession, state_dir: str,
                   as_of: dt.datetime | None = None) -> dt.datetime:
    """A7 ``watermark_read``: load + clamp the scalar watermark; missing
    state (no file, no row, or state stranded as ``._old`` by a crashed
    swap) means epoch (full scan), mirroring the reference's default 0.

    The one-row file is read on the driver
    (:func:`sinks.read_small_parquet_rows`: pyarrow locally, the Hadoop
    FS API remotely), so the read launches no Spark job; a Spark read
    paid a schema-inference job and a collect job on every ingest and
    every uncached freshness check.  The guards are
    :func:`clamp_watermark`'s rules applied to epoch microseconds, and
    both instants convert the way PySpark converts them (an aware
    datetime is its exact instant, a naive one is driver-OS local
    time), so the result equals that expression's ``collect()``: a
    naive datetime rendered in the driver OS timezone."""
    path = os.path.join(state_dir, "watermark.parquet")
    # tz-AWARE now (r14 review): a naive utcnow() would be read as
    # driver-OS local time, so on any non-UTC driver the guards would
    # fire on an instant offset by the zone (fresh watermarks read as
    # "future" -> clamped to EPOCH -> silent full rescans).  An aware
    # datetime is the exact intended instant under every zone.
    as_of = as_of or dt.datetime.now(dt.timezone.utc)
    if not fs.probe_dirs([path]):
        return EPOCH
    try:
        rows = sinks.read_small_parquet_rows(spark, path)
    except AnalysisException:  # a directory with no data file
        return EPOCH
    ts = next((r["ts"] for r in rows if r["key"] == WATERMARK_KEY), None)
    if ts is None:
        return EPOCH
    conv = T.TimestampType()
    wm, now = conv.toInternal(ts), conv.toInternal(as_of)
    if wm > now:
        return EPOCH
    if wm < now - _TEN_YEARS_US:
        return conv.fromInternal(now - _THIRTY_DAYS_US)
    return conv.fromInternal(wm)


def write_watermark(spark: SparkSession, state_dir: str,
                    ts: dt.datetime) -> None:
    """A8: overwrite the single-row state table after a successful batch
    (reference: processor.py:77-115 ``INSERT OR REPLACE``).

    Local state writes go DRIVER-SIDE through
    :func:`sinks.write_small_parquet` (pyarrow single file, staged then
    swapped): a Spark write of a one-row Python-sourced frame measured
    a ~5-6 s stall per call in the write task (the Python-runner
    teardown in the write path; a JVM-native 1-row write is ~0.4 s) —
    a fixed cost the ingest path
    paid on EVERY batch (guide §5: no cluster jobs for driver-sized
    work; r18).  The physical form matches the old write (INT64 micros,
    UTC-adjusted), so readers are unchanged.  A crash between the two
    swap renames strands the state as ``._old``; the next read then
    reports EPOCH (full rescan), which the last-writer-wins sink makes
    safe — the same recovery the Spark overwrite's failure modes had.
    Remote state dirs keep the Spark write."""
    path = os.path.join(state_dir, "watermark.parquet")
    if fs.is_remote(state_dir):
        df = spark.createDataFrame([(WATERMARK_KEY, ts)],
                                   schema=schemas.WATERMARK_STATE)
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return
    import pyarrow as pa

    # a naive datetime is driver-OS local time, as PySpark converts it
    # (the remote branch's createDataFrame does the same) and as
    # collect() and read_watermark render it, so the state round-trips
    # on any driver zone; pyarrow would take it as UTC wall time
    sinks.write_small_parquet(pa.table({
        "key": pa.array([WATERMARK_KEY], pa.string()),
        "ts": pa.array([T.TimestampType().toInternal(ts)],
                       pa.timestamp("us", tz="UTC")),
    }), path)


# -- maintenance verbs (reference: src/initialize.py:51-116) --------------

def reset_watermark(spark: SparkSession, state_dir: str,
                    ts: dt.datetime) -> dt.datetime:
    """``--reset-timestamp`` (reference: initialize.py:82-98): force the
    watermark to an explicit timestamp — the operator's lever for
    re-ingesting from a chosen point (e.g. after a bad batch).  Returns
    the previous value for the operator's log."""
    prev = read_watermark(spark, state_dir)
    write_watermark(spark, state_dir, ts)
    return prev


def delete_watermark(state_dir: str) -> bool:
    """``--force`` (reference: initialize.py:100-116 DELETEs the
    watermark key): drop the state entirely so the next ingest
    reprocesses from epoch.  Safe against the upsert sink's last-
    writer-wins idempotence — re-ingest replaces, never duplicates.
    Returns whether state existed."""
    import shutil
    path = os.path.join(state_dir, "watermark.parquet")
    existed = os.path.exists(path)
    shutil.rmtree(path, ignore_errors=True)
    return existed


def check_timestamps(spark: SparkSession, messages: DataFrame,
                     state_dir: str, ts_col: str = "ts") -> dict:
    """``--check-timestamps`` (reference: initialize.py:51-80): one
    aggregate over the source + the state row, with the reference's
    sanity verdict — a watermark outside [min_ts, max_ts] means the
    incremental scan will either reprocess everything or skip new rows.
    """
    row = messages.agg(F.min(ts_col).alias("min_ts"),
                       F.max(ts_col).alias("max_ts")).collect()[0]
    wm = read_watermark(spark, state_dir)
    in_range = (wm == EPOCH
                or (row["min_ts"] is not None
                    and row["min_ts"] <= wm <= row["max_ts"]))
    return {"min_ts": row["min_ts"], "max_ts": row["max_ts"],
            "watermark": wm, "watermark_in_range": bool(in_range)}
