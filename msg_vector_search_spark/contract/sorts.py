"""Sorts / limits / top-k (SURVEY 2.F) and windows (2.G)"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..operators import enrich as enrich_ops
from ..operators import topk as topk_ops

from .core import _t, register, rnd


@register("sort_ts_pagination", oracle="""
SELECT event_id, ts, CAST(rn AS INT) AS rn FROM (
  SELECT event_id, ts, row_number() OVER (ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn > 100 AND rn <= 150
""")
def sort_ts_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: deterministic page 3 (rows 101-150) of the time-ordered scan
    (reference pagination loop: processor.py:423-437)."""
    events = _t(spark, sf_dir, "events")
    out = topk_ops.page_by_ts(events, "ts", page=3, page_size=50,
                              tiebreak="event_id")
    return out.select("event_id", "ts", F.col("rn").cast("int").alias("rn"))


@register("keyset_pagination", oracle="""
SELECT event_id, ts, user_id, event_type
FROM events
WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
   OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id > 5000)
ORDER BY ts, event_id LIMIT 50
""")
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 scale twin (hazard pair with sort_ts_pagination): keyset /
    seek pagination from a (ts, event_id) cursor.  The cursor
    predicate pushes to the parquet scan (ts >= cursor prunes row
    groups) and the page is TakeOrderedAndProject — page depth is
    free, unlike OFFSET, which re-counts the prefix every page.  What
    the reference's LIMIT/OFFSET loop (processor.py:423-437) becomes
    at 100 TB."""
    events = _t(spark, sf_dir, "events")
    return (topk_ops.keyset_page(events, "ts", "2024-01-15 00:00:00",
                                 5000, page_size=50, tiebreak="event_id")
            .select("event_id", "ts", "user_id", "event_type"))


@register("kth_ts_offset", oracle="""
SELECT ts AS kth_ts FROM (
  SELECT ts, row_number() OVER (ORDER BY ts DESC, event_id) AS rn
  FROM events
) WHERE rn = 100
""")
def kth_ts_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: timestamp of the 100th most recent row (reference backfill
    cap: processor.py:386-401)."""
    return topk_ops.kth_most_recent_ts(_t(spark, sf_dir, "events"), "ts",
                                       k=100, tiebreak="event_id")


@register("ts_quantile_cut", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_total, TRUE AS within_tol
FROM events
""")
def ts_quantile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 at scale: kth_ts_offset's exact ordered-limit gives way to a
    one-pass approx_percentile sketch when k is a FRACTION of an
    unbounded table (the backfill cap probe a 100 TB deployment runs).
    The sketch is mergeable (map-side partials, one 1-row reduce — no
    sort, no window), but not dialect-reproducible in DuckDB, so the
    driver value-checks the RANK-TOLERANCE INVARIANT instead of the
    cut: the Spark side MEASURES the realized split (fraction of rows
    above its own cut) and emits whether it lands within 2% of the
    requested 20% — against events' 10k rows the sketch's default
    accuracy (1e4) bounds rank error to ~1 row, so a sketch regression
    or a wrong-tail bug flips the emitted verdict and the row goes
    red.  n_total is the exact shared anchor both engines compute.
    (Same invariant property-tested in tests/test_properties.py.)"""
    events = _t(spark, sf_dir, "events")
    cut = topk_ops.ts_quantile_cut(events, "ts", 0.2).head()[0]
    stats = events.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("ts") > F.lit(cut), 1).otherwise(0))
        .alias("n_above"))
    return stats.select(
        F.col("n_total").cast("long").alias("n_total"),
        (F.abs(F.col("n_above") / F.col("n_total") - F.lit(0.2))
         <= F.lit(0.02)).alias("within_tol"))


@register("neighbor_limit1", oracle="""
SELECT event_id, ts FROM events
WHERE ts < (SELECT min(ts) + INTERVAL 5 DAYS FROM events)
ORDER BY ts DESC, event_id LIMIT 1
""")
def neighbor_limit1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: nearest row strictly before a pivot instant (reference:
    processor.py:286-313)."""
    events = _t(spark, sf_dir, "events")
    pivot = events.agg(F.expr("min(ts) + INTERVAL 5 DAYS")).head()[0]
    out = topk_ops.neighbor_limit1(events, "ts", pivot, "before",
                                   tiebreak="event_id")
    return out.select("event_id", "ts")


@register("limit_candidates", oracle="""
SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 500
""")
def limit_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: deterministic bounded candidate cap (reference:
    user_mapper.py:198)."""
    events = _t(spark, sf_dir, "events")
    return (topk_ops.limit_candidates(events, 500, "event_id")
            .select("event_id", "user_id", "event_type"))


@register("topk_per_group", oracle="""
SELECT event_type, event_id, value, CAST(rank AS INT) AS rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rank
  FROM events
) WHERE rank <= 3
""")
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.G: per-group top-k — the windowed generalization of F1."""
    events = _t(spark, sf_dir, "events")
    out = topk_ops.topk_per_group(events, "event_type", "value", k=3,
                                  tiebreak="event_id")
    return out.select("event_type", "event_id", "value",
                      F.col("rank").cast("int").alias("rank"))


@register("rolling_window_agg", oracle="""
SELECT event_id, user_id,
       (round(sum(value) OVER w, 3) + 0) AS rolling_sum,
       (round((round(sum(value) OVER w, 3) + 0) / count(value) OVER w, 6) + 0)
         AS rolling_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""")
def rolling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.G extension: rolling sum/avg over the last 4 events per user
    (frame-spec window, SURVEY 2.G note)."""
    events = _t(spark, sf_dir, "events")
    out = enrich_ops.rolling_agg(events, "user_id", ["ts", "event_id"],
                                 "value")
    return out.select("event_id", "user_id", "rolling_sum", "rolling_avg")


# hourly tumbling-window counts and sums per event type
_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, (round(sum(value), 3) + 0) AS sum_value
FROM events GROUP BY 1, 2
"""


@register("tumbling_window_agg", oracle=_TUMBLING_ORACLE)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2.H/P5: event-time tumbling-window aggregation — the batch twin
    of streaming.stream.tumbling_event_counts."""
    events = _t(spark, sf_dir, "events")
    return (events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), rnd(F.sum("value"), 3).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "sum_value"))


@register("sessionize", oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 1 HOUR
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
FROM flagged GROUP BY user_id
""")
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a >1 h inactivity gap starts a new session;
    count sessions per user (lag + conditional cumsum — the standard
    Spark sessionization idiom)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # exact MICROSECOND gap like the oracle's interval compare (r14
    # seventh review): cast('long') truncates to whole seconds, so a
    # true gap in (3600 s, 3601 s) — sf0.1 already carries two —
    # agreed with the oracle only when the fractional parts happened
    # to land the floor difference on 3601
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
           > 3_600_000_000),
        F.lit(1)).otherwise(F.lit(0))
    return (events.withColumn("new_session", new_session)
            .groupBy("user_id")
            .agg(F.sum("new_session").alias("n_sessions")))
