"""Structured Streaming surface (SURVEY 2.H)

The streaming twins run for real (readStream -> Trigger.AvailableNow
-> memory/foreachBatch sink) and their materialized results are
oracle-checked against the same batch SQL the batch twins use.  Each
run gets a fresh memory table name so repeated driver invocations in
one session don't collide.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import readers, sinks
from ..streaming import stream as streaming_ops

from .core import register, rnd
from .sorts import _TUMBLING_ORACLE


_STREAM_SEQ = itertools.count()


@register("streaming_tumbling_availablenow", oracle=_TUMBLING_ORACLE)
def streaming_tumbling_availablenow(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """2.H H1/H2 live: event-time tumbling window with watermark, run
    as a real streaming query (Trigger.AvailableNow, memory sink,
    complete mode) and materialized — must equal the batch twin
    ``tumbling_window_agg`` exactly (reference's polling loop semantics,
    src/core/search/engine.py:57-103)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_tumbling_{next(_STREAM_SEQ)}"
    out = streaming_ops.run_stream_once(
        spark, sf_dir, query_name=name, output_mode="complete",
        round_digits=None)
    return out.select("window_start", "event_type", "n",
                      rnd(F.col("sum_value"), 3).alias("sum_value"))


@register("streaming_append_finalized", oracle="""
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOURS AS w FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, (round(sum(value), 3) + 0) AS sum_value
FROM events, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
""")
def streaming_append_finalized(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """2.H live, APPEND mode — the production emission semantics the
    complete-mode rows don't exercise: a window row is emitted exactly
    once, when the event-time watermark (max ts - 2 h late allowance)
    passes its end, and the trailing unfinalized windows stay in state
    (AvailableNow's closing no-data micro-batch advances the watermark
    so finalized windows flush).  The oracle is the batch twin
    RESTRICTED to windows closed below the final watermark — the
    append contract stated as SQL.  This is what a downstream consumer
    of the stream actually sees: immutable finalized rows, an
    append-only sink (files/Kafka), no in-place updates."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_append_{next(_STREAM_SEQ)}"
    out = streaming_ops.run_stream_once(
        spark, sf_dir, query_name=name, output_mode="append",
        round_digits=None)
    return out.select("window_start", "event_type", "n",
                      rnd(F.col("sum_value"), 3).alias("sum_value"))


@register("streaming_sliding_window", oracle="""
WITH ks AS (SELECT unnest([0, 1]) AS k),
exploded AS (
  SELECT TIMESTAMP '2024-01-01 00:00:00'
         + INTERVAL 1 MINUTE * (30 * (
             CAST(floor(date_diff('second',
                                  TIMESTAMP '2024-01-01 00:00:00',
                                  ts) / 1800.0) AS BIGINT) - ks.k))
           AS window_start,
         event_type, value
  FROM events CROSS JOIN ks
)
SELECT window_start, event_type, count(*) AS n,
       (round(sum(value), 3) + 0) AS sum_value
FROM exploded GROUP BY 1, 2
""")
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.H live: event-time SLIDING window (1 h window, 30 min slide —
    every event in exactly two overlapping windows) run as a real
    streaming query (Trigger.AvailableNow, complete mode) and
    value-compared to the batch SQL that explodes each event into its
    two containing windows.  The overlap is what tumbling can't
    express; state = window/slide open windows per key, still evicted
    by the watermark."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_sliding_{next(_STREAM_SEQ)}"
    out = streaming_ops.run_stream_once(
        spark, sf_dir, query_name=name, output_mode="complete",
        agg_fn=streaming_ops.sliding_event_counts)
    return out.select("window_start", "event_type", "n",
                      rnd(F.col("sum_value"), 3).alias("sum_value"))


@register("streaming_sessionize_stateful", oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
agg AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg
QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
""")
def streaming_sessionize_stateful(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Custom stateful operator live (applyInPandasWithState): gap-based
    sessions (30 min) assembled across micro-batches; emits CLOSED
    sessions — each user's trailing session stays in the state store, so
    the oracle drops each user's last session.  Session boundaries
    depend only on ts gaps, so equal-ts ordering ambiguity cannot move a
    row across sessions."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_sessions_{next(_STREAM_SEQ)}"
    return streaming_ops.run_stateful_sessions(
        spark, sf_dir, gap_minutes=30, query_name=name).select(
        "user_id", "session_start", "session_end", "n_events")


@register("streaming_dedup_within_watermark", oracle="""
SELECT DISTINCT event_id // 2 AS mid FROM events
""")
def streaming_dedup_within_watermark(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """H5 live: dropDuplicatesWithinWatermark on a synthesized duplicate
    key (event_id div 2 — every key arrives ~twice) emits EXACTLY one
    row per key, with state evicted past the watermark horizon; the
    surviving key set must equal the source's distinct key set."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_dedup_{next(_STREAM_SEQ)}"
    return streaming_ops.run_stream_dedup(
        spark, sf_dir, query_name=name).select("mid")


@register("streaming_upsert_store", oracle="""
SELECT event_id, user_id, event_type FROM events
""")
def streaming_upsert_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 end-to-end live: stream -> foreachBatch -> range-layout upsert
    sink, then read the store back.  Unique source keys mean the store
    must hold exactly the source rows — the idempotent-replay twin of
    the reference's INSERT OR REPLACE ingest
    (src/core/embeddings/processor.py:382-391)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_upsert_{next(_STREAM_SEQ)}"
    store = os.path.join(tempfile.mkdtemp(prefix=name + "_"), "store")
    streaming_ops.stream_upsert(spark, sf_dir, store, query_name=name)
    return sinks.read_store(spark, store).select(
        "event_id", "user_id", "event_type")


@register("streaming_retention_sweep", oracle="""
SELECT event_id, user_id, event_type FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
""")
def streaming_retention_sweep(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Lifecycle x streaming: the TTL twin of streaming_upsert_store —
    every micro-batch upserts into the range store AND runs the
    retention sweep with a fixed 7-day window off the source's max
    ts, so expiry happens at ingest cadence (a compliance window
    enforced continuously, not by a nightly job).  The final store
    must hold exactly the live-window rows whatever the micro-batch
    boundaries: the sweep is idempotent, already-expired arrivals are
    dropped by the first sweep after they land, and rows at the
    boundary (ts == cutoff) are KEPT (the sweep expires strictly
    older).  At 100 TB each per-batch sweep is the footer probe plus
    at most one boundary-bucket rewrite — O(touched), never
    O(store)."""
    import datetime as dt

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    name = f"ct_stream_ttl_{next(_STREAM_SEQ)}"
    store = os.path.join(tempfile.mkdtemp(prefix=name + "_"), "store")
    ev = readers.read_table(spark, sf_dir, "events")
    cutoff = (ev.agg(F.max("ts")).collect()[0][0]
              - dt.timedelta(days=7))
    streaming_ops.stream_upsert_ttl(spark, sf_dir, store, cutoff,
                                    query_name=name)
    return sinks.read_store(spark, store).select(
        "event_id", "user_id", "event_type")
