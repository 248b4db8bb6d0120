"""Time-series / relational operators beyond the reference

Brief-named custom ops: as-of join, range join, rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import asof as asof_ops

from .core import _t, register, rnd


@register("asof_join_events", oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'
), ranked AS (
  SELECT c.event_id, c.user_id, c.ts,
         v.value AS asof_value, v.ts AS asof_ts,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM clicks c LEFT JOIN views v
    ON v.user_id = c.user_id AND v.ts <= c.ts
)
SELECT event_id, user_id, ts, asof_value, asof_ts
FROM ranked WHERE rn = 1
""")
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the latest prior (or simultaneous)
    view's value per user — union+window composition, ONE shuffle on
    the key, no correlated scan.

    Oracle note (r14 seventh review): DuckDB's native ASOF JOIN
    leaves the matched row UNSPECIFIED when two views tie on a user's
    maximal prior ts, while the Spark side tie-breaks on event_id —
    the oracle is therefore the tie-broken window formulation
    (latest (ts, event_id) view per click; the old native-ASOF form
    agreed only because the fixture has no duplicate (user_id, ts)
    view pairs).  The oracle's pair join is O(clicks x views per
    user) at sf0.01 — fine for the gate; the ENGINE side stays the
    one-shuffle union+window plan."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = events.filter(F.col("event_type") == "view") \
        .select("event_id", "user_id", "ts", "value",
                F.col("ts").alias("view_ts"))
    out = asof_ops.asof_join(clicks, views, key="user_id", ts="ts",
                             value_cols=["value", "view_ts"],
                             tiebreak="event_id")
    return out.select("event_id", "user_id", "ts",
                      F.col("asof_value"),
                      F.col("asof_view_ts").alias("asof_ts"))


@register("range_join_ship_window", oracle="""
SELECT o.o_orderkey,
       count(l.l_linenumber) AS n_shipped_90d
FROM orders o LEFT JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAYS
GROUP BY o.o_orderkey
""")
def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join (absent from the reference): line items shipped
    within 90 days of their order date.  The equi key keeps it a hash
    join with the range as a residual predicate — never a cross
    product."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # INTERVAL addition, not date_add (r14 seventh review): date_add
    # silently casts the TIMESTAMP order date to DATE, dropping its
    # time-of-day and shrinking the window vs the oracle's exact
    # o_orderdate + INTERVAL 90 DAYS — masked only because every
    # fixture date is midnight-aligned (the q4/q12/q21 siblings
    # already use the interval form)
    cond = ((li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate >= orders.o_orderdate)
            & (li.l_shipdate
               < orders.o_orderdate + F.expr("INTERVAL 90 DAYS")))
    return (orders.join(li, cond, "left")
            .groupBy("o_orderkey")
            .agg(F.count("l_linenumber").alias("n_shipped_90d")))


@register("rollup_order_status", oracle="""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n,
       (round(sum(o_totalprice), 2) + 0) AS total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""")
def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set ROLLUP (absent from the reference; free in Spark):
    per-(priority,status) counts plus priority and grand totals in one
    pass — partial aggregation applies to every grouping set."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count("*").alias("n"),
                 rnd(F.sum("o_totalprice"), 2).alias("total"))
            .select(F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"),
                    F.coalesce("o_orderstatus", F.lit("ALL"))
                    .alias("status"), "n", "total"))


@register("rollup_two_level_time", oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type,
         count(*) AS n, sum(value) AS sv
  FROM events GROUP BY 1, 2
)
SELECT date_trunc('day', h) AS day, event_type,
       CAST(sum(n) AS BIGINT) AS n,
       (round(sum(sv), 4) + 0) AS sum_value
FROM hourly GROUP BY 1, 2
""")
def rollup_two_level_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: daily numbers RE-AGGREGATED
    from the hourly rollup (counts and sums are mergeable), not from raw
    rows — at 100 TB the daily pass reads the tiny hourly table."""
    events = _t(spark, sf_dir, "events")
    hourly = (events.groupBy(F.date_trunc("hour", "ts").alias("h"),
                             "event_type")
              .agg(F.count("*").alias("n"), F.sum("value").alias("sv")))
    return (hourly.groupBy(F.date_trunc("day", "h").alias("day"),
                           "event_type")
            .agg(F.sum("n").alias("n"),
                 rnd(F.sum("sv"), 4).alias("sum_value")))
