"""Aggregates (SURVEY 2.E)"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregates as agg_ops
from ..operators import dims as dims_ops
from ..sources import sinks

from .core import (
    _fp_guard, _publish_fingerprint, _t, _trained_dir, register, rnd,
)


@register("agg_count_total", oracle="SELECT count(*) AS total_count FROM events")
def agg_count_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 (reference: engine.py:162, :244-245)."""
    return agg_ops.count_total(_t(spark, sf_dir, "events"))


@register("agg_count_embedded",
          oracle="SELECT count(*) AS total_count FROM embeddings")
def agg_count_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 (reference: engine.py:254-255)."""
    return agg_ops.count_total(_t(spark, sf_dir, "embeddings"))


@register("agg_min_max_ts", oracle="""
SELECT min(ts) AS min_ts, max(ts) AS max_ts FROM events
""")
def agg_min_max_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 (reference: processor.py:362-367)."""
    return agg_ops.min_max_ts(_t(spark, sf_dir, "events"))


@register("agg_count_distinct_users", oracle="""
SELECT count(DISTINCT user_id) AS n_users FROM events
""")
def agg_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 exact variant (reference: user_mapper.py:57, :180); the HLL
    approx variant is the rows-only query ``approx_distinct_users``."""
    return _t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("n_users"))


_ADU_DIR = _trained_dir("approx_distinct_users")
_ADU_RSD = 0.05


@register("approx_distinct_users", oracle=f"""
WITH est AS (
  SELECT n_users_approx
  FROM read_parquet('{_ADU_DIR}/estimate/*.parquet')
  WHERE {_fp_guard("approx_distinct_users", "events")}
), ex AS (SELECT count(DISTINCT user_id) AS n_users_exact FROM events)
SELECT CAST(est.n_users_approx AS BIGINT) AS n_users_approx,
       CAST(ex.n_users_exact AS BIGINT) AS n_users_exact,
       abs(CAST(est.n_users_approx AS DOUBLE) - ex.n_users_exact)
         <= {3 * _ADU_RSD} * ex.n_users_exact AS within_band
FROM est, ex
WHERE abs(CAST(est.n_users_approx AS DOUBLE) - ex.n_users_exact)
        <= {3 * _ADU_RSD} * ex.n_users_exact
""")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 scale variant: HLL++ sketch with a value-BAND oracle
    (VERDICT r12 item 2 — formerly the registry's only non-embed
    rows-only row).  Sketch register internals differ from DuckDB's
    approx_count_distinct, so the ESTIMATE itself is published via
    the trained-artifact contract and the oracle replays the
    verifiable claims around it: the exact count (recomputed
    independently in both engines) and the band check
    |estimate - exact| <= 3*rsd*exact — deterministic booleans, full
    value compare.  The oracle ENFORCES the band, not just reports it
    (its final WHERE keeps the row only when the published estimate
    sits inside the band it recomputed): a sketch gone haywire makes
    the oracle return ZERO rows against Spark's one — row-count
    mismatch, loud fail — rather than both sides agreeing on
    within_band=false."""
    import pyarrow as pa

    ev = _t(spark, sf_dir, "events")
    est = int(ev.agg(F.approx_count_distinct("user_id", _ADU_RSD)
                     .alias("e")).head()[0])
    sinks.write_small_parquet(
        pa.table({"n_users_approx": [est]}),
        os.path.join(_ADU_DIR, "estimate"))
    _publish_fingerprint(spark, sf_dir, "approx_distinct_users", "events")
    return (ev.agg(F.countDistinct("user_id").alias("n_users_exact"))
            .select(F.lit(est).cast("long").alias("n_users_approx"),
                    F.col("n_users_exact"),
                    (F.abs(F.lit(float(est)) - F.col("n_users_exact"))
                     <= F.lit(3 * _ADU_RSD) * F.col("n_users_exact"))
                    .alias("within_band")))


@register("agg_new_msg_gap", oracle="""
SELECT (SELECT count(*) FROM events) AS total_count,
       (SELECT count(*) FROM embeddings) AS embedded_count,
       (SELECT count(*) FROM events) - (SELECT count(*) FROM embeddings) AS gap
""")
def agg_new_msg_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: the freshness-trigger gap (reference: engine.py:160-175)."""
    return agg_ops.new_message_gap(_t(spark, sf_dir, "events"),
                                   _t(spark, sf_dir, "embeddings"))


@register("agg_group_first", oracle="""
SELECT user_id, event_type AS first_type, ts AS first_ts FROM (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""")
def agg_group_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: first qualifying row per group — the decorrelated form of the
    reference's per-sid LIMIT-1 lookups (processor.py:211-216)."""
    events = _t(spark, sf_dir, "events")
    first = dims_ops.first_per_group(events, "user_id", ["ts", "event_id"])
    return first.select("user_id", F.col("event_type").alias("first_type"),
                        F.col("ts").alias("first_ts"))


@register("agg_running_max_watermark", oracle="""
SELECT max(ts) AS watermark FROM events
""")
def agg_running_max_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: batch max(ts) -> next watermark (reference:
    processor.py:466-468, :488-491)."""
    return agg_ops.running_max_watermark(_t(spark, sf_dir, "events"))


@register("group_agg_events", oracle="""
SELECT event_type, count(*) AS n,
       (round(sum(value), 3) + 0) AS sum_value,
       (round((round(sum(value), 3) + 0) / count(*), 6) + 0) AS avg_value
FROM events GROUP BY event_type
""")
def group_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy aggregation surface (SURVEY 2.E note): map-side partial
    aggregation; avg derived from the grid-rounded sum so both engines
    divide identical doubles."""
    events = _t(spark, sf_dir, "events")
    sum_v = rnd(F.sum("value"), 3)
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        sum_v.alias("sum_value"),
        rnd(sum_v / F.count("*"), 6).alias("avg_value"))
