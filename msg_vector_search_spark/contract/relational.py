"""Relational surface Spark gives for free (SURVEY 2.D note, 7 P5)

Set ops, outer joins, multi-key groupBy, broadcast-join top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dims as dims_ops

from .core import _t, register, rnd


@register("set_ops_nations", oracle="""
SELECT 'union' AS op, n FROM (
  SELECT c_nationkey AS n FROM customer
  UNION SELECT s_nationkey AS n FROM supplier)
UNION ALL
SELECT 'intersect' AS op, n FROM (
  SELECT c_nationkey AS n FROM customer
  INTERSECT SELECT s_nationkey AS n FROM supplier)
UNION ALL
SELECT 'except' AS op, n FROM (
  SELECT c_nationkey AS n FROM customer
  EXCEPT SELECT s_nationkey AS n FROM supplier)
""")
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT in one result, tagged (absent from the
    reference — SURVEY 2.D note; exposed because Spark SQL gives them
    for free)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n"))
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n"))
    u = cust.union(supp).distinct().withColumn("op", F.lit("union"))
    i = cust.intersect(supp).withColumn("op", F.lit("intersect"))
    e = cust.subtract(supp).withColumn("op", F.lit("except"))
    return u.unionByName(i).unionByName(e).select("op", "n")


@register("join_outer_totals", oracle="""
WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
SELECT coalesce(c.nk, s.nk) AS nationkey,
       coalesce(c.n_cust, 0) AS n_cust,
       coalesce(s.n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""")
def join_outer_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer/supplier counts (outer
    joins absent from the reference — SURVEY 2.D note)."""
    c = (_t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk"))
         .agg(F.count("*").alias("n_cust")))
    s = (_t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk"))
         .agg(F.count("*").alias("n_supp")))
    return (c.join(s, "nk", "full_outer")
            .select(F.col("nk").alias("nationkey"),
                    F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
                    F.coalesce("n_supp", F.lit(0)).alias("n_supp")))


@register("tpch_q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       (round(sum(l_quantity), 2) + 0) AS sum_qty,
       (round(sum(l_extendedprice), 2) + 0) AS sum_base_price,
       (round(sum(round(l_extendedprice * (1 - l_discount), 4)), 4) + 0)
         AS sum_disc_price,
       count(*) AS count_order,
       (round((round(sum(l_quantity), 2) + 0) / count(*), 6) + 0) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-key groupBy + sum/avg over
    the star fixtures (the reference has no keyed aggregation — SURVEY
    2.E note).  Per-row products are grid-rounded before the sum so the
    parallel Spark sum and DuckDB's sequential sum agree exactly."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02"))
    sum_qty = rnd(F.sum("l_quantity"), 2)
    disc_price = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        rnd(F.sum(disc_price), 4).alias("sum_disc_price"),
        F.count("*").alias("count_order"),
        rnd(sum_qty / F.count("*"), 6).alias("avg_qty"))


@register("tpch_top_customers", oracle="""
SELECT o.o_custkey, c.c_name,
       (round(sum(o.o_totalprice), 2) + 0) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY o.o_custkey, c.c_name
ORDER BY revenue DESC, o_custkey LIMIT 10
""")
def tpch_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join + grouped sum + deterministic top-10 —
    the F1 pattern on relational data."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey)
            .groupBy("o_custkey", "c_name")
            .agg(rnd(F.sum("o_totalprice"), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
            .limit(10))


@register("tpch_q3_shipping_priority", oracle="""
SELECT l.l_orderkey,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""")
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dimension filter -> broadcast join ->
    fact join -> grouped revenue -> deterministic top-10.  The filtered
    customer segment broadcasts (1/5 of an already-small dimension);
    lineitem, the only big table, is filtered at the scan and shuffles
    once for the aggregation — the join order Catalyst should and does
    pick at any scale."""
    cust = (_t(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01"))
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(rnd(F.sum(disc), 4).alias("revenue"))
            .select("l_orderkey", "revenue", "o_orderdate",
                    "o_orderpriority")
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10))


@register("tpch_q5_local_supplier_volume", oracle="""
SELECT n.n_name,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
              AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name ORDER BY revenue DESC, n_name
""")
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: six-way join with a non-equi-free cycle (the
    customer-nation = supplier-nation condition joins two fact-side
    dimensions).  All dimensions broadcast; the two fact tables meet in
    the only real shuffle; region/nation prune suppliers before they
    touch lineitem."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                      & (F.col("o_orderdate") < F.lit("1997-01-01")))
              .select("o_orderkey", "o_custkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = (_t(spark, sf_dir, "region")
              .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    asia_nations = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name")
    asia_supp = supp.join(
        F.broadcast(asia_nations),
        supp.s_nationkey == asia_nations.n_nationkey)
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(asia_supp),
                  (li.l_suppkey == asia_supp.s_suppkey)
                  & (cust.c_nationkey == asia_supp.s_nationkey))
            .groupBy("n_name")
            .agg(rnd(F.sum(disc), 4).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("n_name")))


@register("tpch_q14_promo_revenue", oracle="""
WITH j AS (
  SELECT round(l.l_extendedprice * (1 - l.l_discount), 4) AS rev,
         p.p_type = 'PROMO' AS is_promo
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
), s AS (
  SELECT (round(sum(CASE WHEN is_promo THEN rev ELSE 0 END), 4) + 0)
           AS promo_revenue,
         (round(sum(rev), 4) + 0) AS total_revenue
  FROM j
)
SELECT promo_revenue, total_revenue,
       (round(100.0 * promo_revenue / total_revenue, 6) + 0) AS promo_pct
FROM s
""")
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share: fact-to-dimension equi
    join + conditional aggregation to a single row.  part broadcasts;
    lineitem is date-pruned at the scan and never shuffles (the final
    aggregate is a map-side partial + 1-row merge).  The percentage is
    derived from the already-rounded sums so both engines divide
    identical doubles."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1996-04-01")))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    promo = rnd(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                      .otherwise(F.lit(0.0))), 4)
    total = rnd(F.sum(rev), 4)
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .agg(promo.alias("promo_revenue"), total.alias("total_revenue"))
            .withColumn("promo_pct",
                        rnd(F.lit(100.0) * F.col("promo_revenue")
                            / F.col("total_revenue"), 6)))


@register("first_order_per_customer", oracle="""
SELECT o_custkey, o_orderkey AS first_order, o_orderdate AS first_date FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""")
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 on relational data: earliest order per customer via
    row_number (min_by with full-row semantics)."""
    orders = _t(spark, sf_dir, "orders")
    first = dims_ops.first_per_group(orders, "o_custkey",
                                     ["o_orderdate", "o_orderkey"])
    return first.select("o_custkey",
                        F.col("o_orderkey").alias("first_order"),
                        F.col("o_orderdate").alias("first_date"))


@register("tpch_q18_large_orders", oracle="""
WITH big AS (
  SELECT l_orderkey, (round(sum(l_quantity), 2) + 0) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING (round(sum(l_quantity), 2) + 0) > 150.0
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
""")
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped (large-volume orders): HAVING-filtered fact
    aggregate joined back to its parents.  The lineitem groupBy is the
    one unavoidable shuffle; the join with orders is on the SAME key,
    so the aggregate side reuses its exchange (no second shuffle of
    the aggregated side) and AQE sizes the orders side at runtime —
    deliberately NOT broadcast, because the having-survivor set is a
    fixed fraction of orders and grows with the data.  customer is a
    broadcast dim.  The having threshold compares the grid-rounded
    sum so both engines cut the same borderline orders.  Top-100 runs
    as TakeOrderedAndProject (no global sort)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(rnd(F.sum("l_quantity"), 2).alias("sum_qty"))
           .filter(F.col("sum_qty") > 150.0))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "sum_qty")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .limit(100))


@register("tpch_q21_waiting_suppliers", oracle="""
WITH per_order AS (
  SELECT l.l_orderkey,
         count(DISTINCT l.l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate
                                  + INTERVAL 90 DAY
                             THEN l.l_suppkey END) AS n_late,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                  THEN l.l_suppkey END) AS late_supp
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order p JOIN supplier s ON s.s_suppkey = p.late_supp
WHERE p.n_supp > 1 AND p.n_late = 1
GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 100
""")
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped (suppliers who kept orders waiting): the
    classic EXISTS/NOT-EXISTS double correlation, rewritten as ONE
    per-order aggregate — "this supplier shipped >90 days late, at
    least one other supplier is on the order, and no other supplier
    was late" becomes (n_supp > 1 AND n_late = 1), with the culprit
    recovered as max(late suppkey) (exactly one late supplier exists
    under n_late = 1, so max is THE supplier).  Two shuffles total
    (order-key aggregate, supplier-name count) instead of the naive
    plan's two extra self-joins of lineitem; the late predicate rides
    the first join, and supplier broadcasts."""
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = (F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
    late_key = F.when(late, F.col("l_suppkey"))
    per_order = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                 .groupBy("l_orderkey")
                 .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                      F.countDistinct(late_key).alias("n_late"),
                      F.max(late_key).alias("late_supp")))
    return (per_order
            .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
            .join(F.broadcast(supp),
                  per_order.late_supp == supp.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), F.col("s_name"))
            .limit(100))


@register("tpch_q22_dormant_accounts", oracle="""
WITH cutoff AS (
  SELECT (round(avg(c_acctbal), 6) + 0) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS numcust,
       (round(sum(c.c_acctbal), 2) + 0) AS totacctbal
FROM customer c CROSS JOIN cutoff
WHERE c.c_acctbal > cutoff.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
""")
def tpch_q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped (global-sales-opportunity): above-average
    account balances with no recent orders, per market segment.  The
    scalar subquery (global positive-balance average) is a one-row
    aggregate broadcast back onto the scan — no window, no second
    pass; the rounded cut point makes both engines draw the same
    line.  NOT EXISTS is a left-anti join whose right side is
    date-pruned AT THE SCAN (PushedFilters), so at 100 TB the anti
    join hashes only the recent slice of orders, not the history."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    cutoff = (cust.filter(F.col("c_acctbal") > 0.0)
              .agg(rnd(F.avg("c_acctbal"), 6).alias("avg_bal")))
    recent = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
              .select("o_custkey"))
    rich = (cust.crossJoin(F.broadcast(cutoff))
            .filter(F.col("c_acctbal") > F.col("avg_bal")))
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey,
                        "left_anti")
    return (dormant.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 rnd(F.sum("c_acctbal"), 2).alias("totacctbal"))
            .orderBy("c_mktsegment"))


@register("tpch_q16_supplier_part_counts", oracle="""
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#21'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND NOT EXISTS (SELECT 1 FROM bad WHERE bad.s_suppkey = ps.l_suppkey)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")
def tpch_q16_supplier_part_counts(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped (parts/supplier relationship counts): distinct
    suppliers per (brand, type, size) excluding flagged suppliers.
    The fixtures carry no partsupp table, so the part-supplier
    relation is lineitem's DISTINCT (partkey, suppkey) projection —
    two columns pruned at the scan, deduped in one shuffle.  The
    NOT-IN exclusion list is a left-anti join against a broadcast
    handful of suppliers (anti join, not a negated membership probe,
    so the plan stays null-safe and broadcastable); part filters ride
    its scan before the broadcast join.  The final countDistinct
    re-shuffles on the 3-part group key."""
    ps = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey").distinct())
    bad = (_t(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0.0).select("s_suppkey"))
    part = (_t(spark, sf_dir, "part")
            .filter((F.col("p_brand") != "Brand#21")
                    & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    return (ps.join(F.broadcast(bad),
                    ps.l_suppkey == bad.s_suppkey, "left_anti")
            .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(),
                     "p_brand", "p_type", "p_size"))


@register("tpch_q2_min_cost_supplier", oracle="""
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         (round(avg(l_extendedprice / l_quantity), 4) + 0) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT l_partkey, min(unit_cost) AS min_cost FROM supply
  GROUP BY l_partkey
)
SELECT s.l_partkey AS p_partkey, p.p_brand, sup.s_name,
       s.unit_cost AS min_cost
FROM supply s
JOIN best b ON b.l_partkey = s.l_partkey AND s.unit_cost = b.min_cost
JOIN part p ON p.p_partkey = s.l_partkey
JOIN supplier sup ON sup.s_suppkey = s.l_suppkey
WHERE p.p_size < 10
ORDER BY min_cost, p_partkey, s_name LIMIT 100
""")
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped (minimum-cost supplier): the correlated MIN
    subquery decorrelated into aggregate + self-join on (key, min).
    lineitem stands in for partsupp — per (part, supplier) unit cost is
    itself an aggregate.  Both the supply agg and the per-part min hash
    on l_partkey, so the min side reuses the supply exchange (one
    lineitem shuffle total); part and supplier broadcast.  At 100 TB
    the same plan holds: the pre-aggregated supply relation is
    |parts|x|suppliers-per-part|, orders of magnitude under the fact
    table, and ties on min cost are kept (same as Q2's semantics) so
    the result is deterministic under the (cost, part, name) sort.

    Boundary assumption: winners are picked by equality on the
    4dp-rounded unit_cost, so both engines must land the extremal
    group's average on the same side of a rounding boundary.  The 4dp
    grid is ~5 orders coarser than the worst-case float reorder drift
    of an avg over <100k rows, so a straddle needs an exact ...5 at
    the 5th decimal — not observed on any fixture; acceptable under
    the repo-wide grid-rounding convention (module docstring)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    supply = (li.groupBy("l_partkey", "l_suppkey")
              .agg(rnd(F.avg(F.col("l_extendedprice")
                             / F.col("l_quantity")), 4).alias("unit_cost")))
    best = (supply.groupBy("l_partkey").agg(
        F.min("unit_cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "_best_partkey"))
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_size") < 10).select("p_partkey", "p_brand"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (supply.join(best,
                        (F.col("l_partkey") == F.col("_best_partkey"))
                        & (F.col("unit_cost") == F.col("min_cost")))
            .drop("_best_partkey", "min_cost")
            .join(F.broadcast(part), supply.l_partkey == part.p_partkey)
            .join(F.broadcast(sup), supply.l_suppkey == sup.s_suppkey)
            .select(F.col("l_partkey").alias("p_partkey"), "p_brand",
                    "s_name", F.col("unit_cost").alias("min_cost"))
            .orderBy("min_cost", "p_partkey", "s_name")
            .limit(100))


@register("tpch_q4_order_priority", oracle="""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""")
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped (order-priority checking): EXISTS with a
    correlated non-equi condition, planned as a LEFT SEMI hash join on
    the equi key with the date comparison as the join residual — no
    row explosion, the probe short-circuits on first match.  The date
    window prunes orders at the scan; at scale both sides hash on
    orderkey once and the semi join emits each order at most once
    regardless of how many lineitems qualify."""
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1997-01-01"))
                      & (F.col("o_orderdate") < F.lit("1997-07-01")))
              .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi"))
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


@register("tpch_q15_top_supplier", oracle="""
WITH rev AS (
  SELECT l_suppkey, (round(sum(l_extendedprice * (1 - l_discount)), 2) + 0)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
), top AS (SELECT max(total_revenue) AS max_rev FROM rev)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r CROSS JOIN top
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = top.max_rev
ORDER BY s.s_suppkey
""")
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped (top supplier): the MAX-of-aggregate subquery
    decorrelated into a 1-row global max cross-joined (broadcast) back
    against the per-supplier revenue relation — the classic argmax-
    with-ties shape.  One shuffle on l_suppkey for the revenue agg; the
    global max is a partial-aggregated scalar; supplier broadcasts.
    Revenue is grid-rounded BEFORE the max comparison so both engines
    pick the same winner when two suppliers are within float ulps.
    Same rounding-boundary assumption as Q2: the 2dp grid must not
    split the extremal sum between engines — see the Q2 docstring."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1996-04-01")))
          .select("l_suppkey", "l_extendedprice", "l_discount"))
    rev = (li.groupBy("l_suppkey")
           .agg(rnd(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2)
                .alias("total_revenue")))
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.crossJoin(F.broadcast(top))
            .filter(F.col("total_revenue") == F.col("max_rev"))
            .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


@register("tpch_q17_small_quantity_revenue", oracle="""
WITH avg_qty AS (
  SELECT l_partkey, (round(0.5 * avg(l_quantity), 6) + 0) AS half_avg
  FROM lineitem GROUP BY l_partkey
)
SELECT (round(sum(l.l_extendedprice) / 7.0, 4) + 0) AS avg_yearly
FROM lineitem l
JOIN avg_qty a ON a.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#11' AND l.l_quantity < a.half_avg
""")
def tpch_q17_small_quantity_revenue(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped (small-quantity-order revenue): the correlated
    AVG subquery decorrelated into a per-part aggregate joined back to
    the fact rows it summarizes.  Both the avg and the join hash on
    l_partkey, so the aggregated side reuses the fact exchange — one
    lineitem shuffle, then a broadcast of the brand-filtered part dim.
    The half-average is grid-rounded before the strict comparison so
    borderline lineitems cut identically in both engines.  At 100 TB
    the per-part aggregate is |parts| rows — always the small side.
    The brand predicate is a part attribute, so it is applied BEFORE
    the per-part average (semi-join pre-filter on the fact): the avg
    branch aggregates only the brand's fraction of the fact table
    instead of all of it, with identical per-part averages."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_brand") == "Brand#11").select("p_partkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(F.broadcast(part),
                F.col("l_partkey") == F.col("p_partkey"), "left_semi"))
    avg_qty = (li.groupBy("l_partkey")
               .agg(rnd(F.lit(0.5) * F.avg("l_quantity"), 6)
                    .alias("half_avg")))
    return (li.join(avg_qty, "l_partkey")
            .filter(F.col("l_quantity") < F.col("half_avg"))
            .agg(rnd(F.sum("l_extendedprice") / 7.0, 4)
                 .alias("avg_yearly")))


@register("tpch_q6_forecast_revenue", oracle="""
SELECT (round(sum(round(l_extendedprice * l_discount, 4)), 4) + 0)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure scan-filter-aggregate,
    zero joins, zero keyed shuffles — every predicate reaches
    PushedFilters, the product is grid-rounded per row, and the global
    sum is a map-side partial + 1-row merge.  The simplest possible
    100 TB plan: cost is exactly one pruned column scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return li.agg(rnd(F.sum(F.round(F.col("l_extendedprice")
                                    * F.col("l_discount"), 4)), 4)
                  .alias("revenue"))


@register("tpch_q7_volume_shipping", oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(extract(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""")
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped (volume shipping between two nations): the
    bidirectional nation-pair filter over a five-way join.  Supplier
    and customer are each pre-joined to the (broadcast) two-nation
    slice, shrinking both BEFORE they touch the facts; the disjunctive
    pair condition is applied after the fact join as a cheap residual
    on two in-memory string columns.  lineitem->orders is the one real
    shuffle (orderkey); everything else broadcasts.  At 100 TB the
    filter order is what matters: the two-nation slice cuts supplier
    and customer by ~12x each here (2 of 25 nations), so the fact join
    output — not input — carries the selectivity."""
    nations = (_t(spark, sf_dir, "nation")
               .filter(F.col("n_name").isin("NATION_1", "NATION_2")))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nations),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (_t(spark, sf_dir, "customer")
            .join(F.broadcast(nations),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01")))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount"))
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    pair_ok = (((F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2"))
               | ((F.col("supp_nation") == "NATION_2")
                  & (F.col("cust_nation") == "NATION_1")))
    return (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .filter(pair_ok)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(rnd(F.sum(disc), 4).alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


@register("tpch_q8_market_share", oracle="""
WITH vol AS (
  SELECT CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         round(l.l_extendedprice * (1 - l.l_discount), 4) AS volume,
         n2.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
), yr AS (
  SELECT o_year,
         (round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE 0 END), 4) + 0) AS nation_volume,
         (round(sum(volume), 4) + 0) AS total_volume
  FROM vol GROUP BY o_year
)
SELECT o_year, nation_volume, total_volume,
       (round(nation_volume / total_volume, 6) + 0) AS mkt_share
FROM yr ORDER BY o_year
""")
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped (national market share): one supplier nation's
    share of a region's yearly volume in one part type.  Eight-way
    join where every dimension chain collapses to a broadcast —
    ECONOMY parts, AMERICA customers (customer x nation x region
    pre-joined driver-side-small), supplier x nation — so lineitem
    shuffles exactly once (against date-filtered orders on orderkey).
    The share divides two already-grid-rounded sums from the SAME
    aggregation (one pass, conditional sum), never a second scan.  The
    classic join-ordering stress: at 100 TB the only degrees of
    freedom are which side builds the hash tables, and every build
    side here is dimension-sized."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_type") == "ECONOMY").select("p_partkey"))
    nation = _t(spark, sf_dir, "nation")
    region = (_t(spark, sf_dir, "region")
              .filter(F.col("r_name") == "AMERICA").select("r_regionkey"))
    am_cust = (_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
               .join(F.broadcast(
                   nation.join(F.broadcast(region),
                               nation.n_regionkey == region.r_regionkey)
                   .select("n_nationkey")),
                   F.col("c_nationkey") == F.col("n_nationkey"))
               .select("c_custkey"))
    supp = (_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                      & (F.col("o_orderdate") < F.lit("1998-01-01")))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    vol = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    joined = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(am_cust),
                    orders.o_custkey == am_cust.c_custkey))
    yr = (joined
          .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
          .agg(rnd(F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                         .otherwise(F.lit(0.0))), 4).alias("nation_volume"),
               rnd(F.sum(vol), 4).alias("total_volume")))
    return (yr.select("o_year", "nation_volume", "total_volume",
                      rnd(F.col("nation_volume") / F.col("total_volume"), 6)
                      .alias("mkt_share"))
            .orderBy("o_year"))


@register("tpch_q9_product_profit", oracle="""
SELECT n.n_name AS nation,
       CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount)
                        - 0.5 * p.p_retailprice * l.l_quantity, 4)), 4) + 0)
         AS sum_profit
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""")
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped (product-type profit): profit per supplier
    nation per year over name-matched parts.  The fixture has no
    partsupp, so supply cost is proxied as half the part's retail
    price x quantity — same join graph and measure shape
    (fact x part x supplier x orders x nation), which is what Q9
    exercises: a fact table joining TWO independent dimension chains
    plus its order header.  part (name-filtered, broadcast) prunes
    lineitem FIRST — at 100 TB the '%red%' part slice is what makes
    the orders shuffle affordable; supplier/nation broadcast; the
    only shuffles are lineitem->orders (orderkey) and the final
    (nation, year) aggregation."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_name").like("%red%"))
            .select("p_partkey", "p_retailprice"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity"), 4)
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(nation),
                  supp.s_nationkey == nation.n_nationkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(rnd(F.sum(profit), 4).alias("sum_profit"))
            .orderBy("nation", F.col("o_year").desc()))


@register("tpch_q10_returned_items", oracle="""
SELECT c.c_custkey, c.c_name,
       (round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4) + 0)
         AS revenue,
       (round(c.c_acctbal, 2) + 0) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""")
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped (returned-item reporting): revenue lost to
    returns per customer in one quarter, top-20.  Returnflag and the
    date window prune both facts at their scans; customer x nation
    pre-joins broadcast-side; lineitem->orders shuffles on orderkey,
    then one aggregation shuffle on the customer grain; top-20 is
    TakeOrderedAndProject.  The grouping carries the customer
    attributes (name, acctbal, nation) through the aggregation — at
    100 TB that widens the shuffle rows but saves a second join back
    to customer, the right trade while the customer grain stays far
    under the fact grain."""
    cust = (_t(spark, sf_dir, "customer")
            .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"))
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_n = (cust.join(F.broadcast(nation),
                        cust.c_nationkey == nation.n_nationkey)
              .select("c_custkey", "c_name", "c_acctbal", "n_name"))
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-10-01"))
                      & (F.col("o_orderdate") < F.lit("1997-01-01")))
              .select("o_orderkey", "o_custkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust_n),
                  orders.o_custkey == cust_n.c_custkey)
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(rnd(F.sum(disc), 4).alias("revenue"))
            .select("c_custkey", "c_name", "revenue",
                    rnd(F.col("c_acctbal"), 2).alias("c_acctbal"), "n_name")
            .orderBy(F.col("revenue").desc(), "c_custkey").limit(20))


@register("tpch_q11_important_stock", oracle="""
WITH supply AS (
  SELECT l.l_partkey, round(l.l_extendedprice * (1 - l.l_discount), 4) AS val
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
), parts AS (
  SELECT l_partkey AS p_partkey, (round(sum(val), 4) + 0) AS value
  FROM supply GROUP BY l_partkey
), tot AS (SELECT (round(sum(val), 4) + 0) AS total FROM supply)
SELECT p.p_partkey, p.value
FROM parts p CROSS JOIN tot t
WHERE p.value > t.total * 0.001
ORDER BY p.value DESC, p.p_partkey
""")
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped (important stock): parts whose supply value
    from one nation's suppliers exceeds a fraction of that nation's
    total.  The fixture has no partsupp, so supply value is the
    nation's shipped lineitem value per part — same decorrelation
    shape: the HAVING-over-global-scalar becomes a 1-row broadcast
    cross join against the per-part aggregate.  The per-part agg and
    the global total are computed from the SAME nation-filtered slice
    (one semi-broadcast prune of lineitem, one partkey shuffle); the
    total is a partial-agg scalar.  Same rounding-boundary note as Q2
    on the fraction comparison."""
    nation = (_t(spark, sf_dir, "nation")
              .filter(F.col("n_name") == "NATION_7")
              .select("n_nationkey"))
    supp = (_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(F.broadcast(supp),
                F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"))
    val = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    supply = li.select("l_partkey", val.alias("val"))
    parts = (supply.groupBy("l_partkey")
             .agg(rnd(F.sum("val"), 4).alias("value"))
             .withColumnRenamed("l_partkey", "p_partkey"))
    tot = supply.agg(rnd(F.sum("val"), 4).alias("total"))
    return (parts.crossJoin(F.broadcast(tot))
            .filter(F.col("value") > F.col("total") * 0.001)
            .select("p_partkey", "value")
            .orderBy(F.col("value").desc(), "p_partkey"))


@register("tpch_q12_shipping_priority_class", oracle="""
SELECT l.l_linestatus AS ship_class,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY ship_class ORDER BY ship_class
""")
def tpch_q12_shipping_priority_class(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped (shipping mode vs priority): priority-class
    counts among late-shipped lines, bucketed by linestatus (the
    fixture's stand-in for shipmode).  The lateness predicate compares
    columns from BOTH sides (l_shipdate vs o_orderdate + 90d), so it
    evaluates as a join residual — the date-window half pushes to the
    lineitem scan, the cross-table half cannot, exactly Q12's shape.
    One orderkey shuffle, then a 2-group aggregation with conditional
    sums (single pass, no pivot)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01")))
          .select("l_orderkey", "l_shipdate", "l_linestatus"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
            .groupBy(F.col("l_linestatus").alias("ship_class"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).cast("long")
                 .alias("low_line_count"))
            .orderBy("ship_class"))


@register("tpch_q13_customer_distribution", oracle="""
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""")
def tpch_q13_customer_distribution(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped (customer order-count distribution): histogram
    of per-customer order counts, keeping zero-order customers via the
    LEFT OUTER join (the priority exclusion stands in for the comment
    filter — a predicate on the NULLABLE side, which must live in the
    join condition, not a WHERE, to preserve unmatched customers).
    Two aggregations: custkey grain (reuses the join's custkey
    exchange), then the tiny count-of-counts.  At 100 TB the first
    agg's key is the customer grain — bounded, uniform; the second is
    dozens of rows."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
              .select("o_orderkey", "o_custkey"))
    c_orders = (cust.join(orders,
                          cust.c_custkey == orders.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (c_orders.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


@register("tpch_q20_part_promotion", oracle="""
WITH shipped AS (
  SELECT l_suppkey, l_partkey, (round(sum(l_quantity), 2) + 0) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
), small_parts AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
), heavy AS (
  SELECT DISTINCT sh.l_suppkey
  FROM shipped sh JOIN small_parts sp ON sp.p_partkey = sh.l_partkey
  WHERE sh.qty > 40
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN heavy h ON h.l_suppkey = s.s_suppkey
WHERE s.s_nationkey IN
      (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
ORDER BY s.s_suppkey
""")
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped (potential part promotion): suppliers in one
    nation who moved real volume (>40 units in the year) of any
    name-matched part.  The fixture has no partsupp, so availability
    is the shipped-quantity aggregate — preserving Q20's doubly nested
    IN shape: supplier IN {suppliers of {matching parts} over
    threshold}.  Decorrelated bottom-up: (supp, part) quantity agg
    (one lineitem shuffle), semi join to the broadcast name-matched
    part slice, distinct to supplier keys, then a broadcast semi join
    into the nation-filtered supplier dim.  Every membership test is a
    semi join — no EXISTS re-scan, no duplicate inflation."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01")))
          .select("l_suppkey", "l_partkey", "l_quantity"))
    shipped = (li.groupBy("l_suppkey", "l_partkey")
               .agg(rnd(F.sum("l_quantity"), 2).alias("qty")))
    small_parts = (_t(spark, sf_dir, "part")
                   .filter(F.col("p_name").like("small%"))
                   .select("p_partkey"))
    heavy = (shipped.filter(F.col("qty") > 40)
             .join(F.broadcast(small_parts),
                   F.col("l_partkey") == F.col("p_partkey"), "left_semi")
             .select("l_suppkey").distinct())
    nation = (_t(spark, sf_dir, "nation")
              .filter(F.col("n_name") == "NATION_3")
              .select("n_nationkey"))
    supp = (_t(spark, sf_dir, "supplier")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name"))
    return (supp.join(F.broadcast(heavy),
                      F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
            .select("s_suppkey", "s_name")
            .orderBy("s_suppkey"))
