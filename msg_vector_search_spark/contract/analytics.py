"""Analytics widening (round 4)

Pivot, CUBE, histogram, SCD2 history, disjunctive-pushdown join,
ntile/percent_rank/cume_dist, grouped moment statistics, bigram
counts, time-RANGE rolling window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .core import _t, register, rnd


@register("pivot_event_type_daily", oracle="""
SELECT date_trunc('day', ts) AS day,
       CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS view
FROM events GROUP BY 1
""")
def pivot_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): daily counts per event type as columns.
    The pivot VALUES are explicit — at 100 TB an implicit pivot costs a
    distinct-values pre-job on the full corpus and risks a
    million-column explosion; pinning the dictionary keeps it one
    groupBy with map-side partials."""
    events = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (events.groupBy(F.date_trunc("day", "ts").alias("day"))
           .pivot("event_type", kinds).count())
    # pivot yields NULL for empty cells; the oracle's FILTER count is 0
    return out.select("day", *[F.coalesce(F.col(k), F.lit(0)).alias(k)
                               for k in kinds])


@register("cube_order_priority", oracle="""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       count(*) AS n,
       (round(sum(o_totalprice), 2) + 0) AS total
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
""")
def cube_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all four grouping sets in one
    pass, disambiguated by grouping_id (bit i set = dimension i rolled
    up — same encoding both engines).  Partial aggregation applies to
    every set; one shuffle total."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.cube("o_orderpriority", "o_orderstatus")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count("*").alias("n"),
                 rnd(F.sum("o_totalprice"), 2).alias("total"))
            .select(F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"),
                    F.coalesce("o_orderstatus", F.lit("ALL"))
                    .alias("status"), "gid", "n", "total"))


@register("event_value_histogram", oracle="""
SELECT CAST(least(floor(value / 25), 19) AS BIGINT) AS bin,
       count(*) AS n,
       (round(sum(value), 4) + 0) AS sum_value
FROM events GROUP BY 1
""")
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (25-unit bins over [0, 500), top bin
    clamped): binning is a pure projection riding the scan, then one
    20-group aggregation — the profile pass a training pipeline runs
    over every numeric column at 100 TB for near-free."""
    events = _t(spark, sf_dir, "events")
    bin_col = F.least(F.floor(F.col("value") / 25), F.lit(19)) \
        .cast("long").alias("bin")
    return (events.groupBy(bin_col)
            .agg(F.count("*").alias("n"),
                 rnd(F.sum("value"), 4).alias("sum_value")))


@register("scd2_customer_status", oracle="""
SELECT o_custkey, o_orderkey, o_orderstatus,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey)
         AS valid_to
FROM orders
""")
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 assembly: each customer's order
    states become [valid_from, valid_to) intervals via lead() — the
    standard dimension-history build, one shuffle on the entity key
    (open interval = NULL valid_to).  Unique o_orderkey tiebreak makes
    equal-date sequences deterministic."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey", "o_orderstatus",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"))


@register("tpch_q19_disjunctive", oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       (round(sum(l_extendedprice * (1 - l_discount)), 2) + 0) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 40)
""")
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.  Catalyst
    splits the disjunction into per-side implied filters (brand/size
    prune part, quantity prunes lineitem BEFORE the join) — the
    predicate-pushdown stress test for disjunctive conditions; part is
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm1 = ((F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20))
    arm2 = ((F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40))
    return (j.filter(arm1 | arm2)
            .agg(F.count("*").alias("n"),
                 rnd(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


_CUST_SPEND_SQL = """
SELECT o_custkey, (round(sum(o_totalprice), 2) + 0) AS total
FROM orders GROUP BY o_custkey
"""


@register("ntile_customer_quartiles", oracle=f"""
WITH spend AS ({_CUST_SPEND_SQL})
SELECT o_custkey, total,
       CAST(ntile(4) OVER (ORDER BY total DESC, o_custkey) AS BIGINT)
         AS quartile
FROM spend
""")
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing: customers into spend quartiles.  The global
    ORDER BY window is the scale hazard (single-partition sort) — at
    100 TB this becomes approx-quantile cutpoints + a scan-side bucket
    projection; here the exact form IS the oracle-checkable spec."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    w = Window.orderBy(F.col("total").desc(), F.col("o_custkey"))
    return spend.select("o_custkey", "total",
                        F.ntile(4).over(w).cast("long").alias("quartile"))


@register("spend_quartile_scan", oracle=f"""
WITH spend AS ({_CUST_SPEND_SQL}),
cuts AS (
  SELECT (round(quantile_cont(total, 0.25), 6) + 0) AS c1,
         (round(quantile_cont(total, 0.50), 6) + 0) AS c2,
         (round(quantile_cont(total, 0.75), 6) + 0) AS c3
  FROM spend
)
SELECT s.o_custkey, s.total,
       CAST(1 + CAST(s.total > c.c1 AS BIGINT)
              + CAST(s.total > c.c2 AS BIGINT)
              + CAST(s.total > c.c3 AS BIGINT) AS BIGINT) AS quartile
FROM spend s CROSS JOIN cuts c
""")
def spend_quartile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing WITHOUT the global window — the 100 TB form
    of ntile_customer_quartiles: exact quartile cutpoints from one
    aggregation (three driver-sized numbers, broadcast back), bucket
    assignment as a scan-riding comparison.  No single-partition sort
    anywhere; at extreme scale the cutpoint pass swaps to
    approx_percentile with the same downstream plan.  (Semantics
    differ from ntile at ties: equal totals share a bucket here
    instead of being split to balance bucket sizes.)"""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    cuts = spend.agg(
        rnd(F.expr("percentile(total, 0.25)"), 6).alias("c1"),
        rnd(F.expr("percentile(total, 0.50)"), 6).alias("c2"),
        rnd(F.expr("percentile(total, 0.75)"), 6).alias("c3"))
    q = (F.lit(1)
         + (F.col("total") > F.col("c1")).cast("long")
         + (F.col("total") > F.col("c2")).cast("long")
         + (F.col("total") > F.col("c3")).cast("long"))
    return (spend.crossJoin(F.broadcast(cuts))
            .select("o_custkey", "total", q.cast("long").alias("quartile")))


# exact percent_rank / cume_dist over customer spend
_PCT_RANK_ORACLE = f"""
WITH spend AS ({_CUST_SPEND_SQL})
SELECT o_custkey, total,
       (round(percent_rank() OVER (ORDER BY total, o_custkey), 6) + 0)
         AS pct_rank,
       (round(cume_dist() OVER (ORDER BY total, o_custkey), 6) + 0)
         AS cume
FROM spend
"""


@register("percent_rank_cume_dist", oracle=_PCT_RANK_ORACLE)
def percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks over customer spend (percent_rank /
    cume_dist) — unique (total, custkey) ordering makes both exact and
    deterministic.  PARITY FORM: the global ORDER BY window is a
    single-partition sort at scale; percent_rank_scan is the
    scale-safe twin (same oracle, same values, bucketed two-level
    rank), as spend_quartile_scan is for ntile."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    w = Window.orderBy("total", "o_custkey")
    return spend.select(
        "o_custkey", "total",
        rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
        rnd(F.cume_dist().over(w), 6).alias("cume"))


@register("window_rank_family", oracle="""
SELECT o_custkey, o_orderkey,
       (round(o_totalprice, 2) + 0) AS price,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       (round(first_value(o_totalprice) OVER w2, 2) + 0) AS max_price,
       (round(last_value(o_totalprice) OVER w2, 2) + 0) AS min_price,
       (round(nth_value(o_totalprice, 2) OVER w2, 2) + 0) AS second_price
FROM orders
WHERE o_custkey % 100 = 0
WINDOW w  AS (PARTITION BY o_custkey
              ORDER BY round(o_totalprice, 2) DESC, o_orderkey),
       w2 AS (PARTITION BY o_custkey
              ORDER BY round(o_totalprice, 2) DESC, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining 2.G window functions in one partitioned pass:
    rank / dense_rank on the ordered frame, first / last / nth_value
    on the full-partition frame (last_value REQUIRES the explicit
    unbounded-following frame — the default current-row frame is the
    classic silent-wrong-answer).  All windows share one partition key
    and ordering, so the plan is a single exchange + sort; no global
    window anywhere.  Prices grid-rounded BEFORE ordering so tie
    groups (which rank vs dense_rank exist to distinguish) are
    identical in both engines."""
    orders = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_custkey") % 100 == 0))
    price = rnd(F.col("o_totalprice"), 2)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("price").desc(), F.col("o_orderkey"))
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (orders.withColumn("price", price)
            .select("o_custkey", "o_orderkey", "price",
                    F.rank().over(w).cast("long").alias("rnk"),
                    F.dense_rank().over(w).cast("long").alias("drnk"),
                    rnd(F.first("price").over(w2), 2).alias("max_price"),
                    rnd(F.last("price").over(w2), 2).alias("min_price"),
                    rnd(F.nth_value("price", 2).over(w2), 2)
                    .alias("second_price")))


@register("percent_rank_scan", oracle=_PCT_RANK_ORACLE)
def percent_rank_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist WITHOUT the global window — the 100 TB
    twin of percent_rank_cume_dist (same oracle, same values), via
    two-level distributed rank:

    1. 31 exact-percentile cutpoints over `total` (one aggregation,
       broadcast back as a 1-row build side — spend_quartile_scan's
       pattern);
    2. scan-riding bucket assignment (count of cutpoints below);
    3. per-bucket counts -> prefix offsets via a broadcast theta-join
       over the <=32-row bucket relation (no window at all);
    4. within-bucket row_number over a PARTITIONED window
       (Window.partitionBy(bucket)) — global rank = offset +
       local rank, exact because buckets are value ranges, so
       bucket order extends total order.

    Every stage is either scan-riding, a partitioned window, or
    dimension-sized broadcast; the WindowExec-no-partition hazard the
    parity form carries (contract.percent_rank_cume_dist) never
    appears.  The unique (total, o_custkey) ordering key makes
    percent_rank = (rank-1)/(n-1) and cume_dist = rank/n exact."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    nbuckets = 32
    qs = ",".join(str(i / nbuckets) for i in range(1, nbuckets))
    cuts = spend.agg(F.expr(f"percentile(total, array({qs}))").alias("cs"))
    bucket = (F.lit(1) + F.aggregate(
        "cs", F.lit(0),
        lambda acc, c: acc + (F.col("total") > c).cast("int")))
    b_spend = (spend.crossJoin(F.broadcast(cuts))
               .withColumn("bucket", bucket).drop("cs"))
    counts = b_spend.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (a.join(F.broadcast(b),
                      F.col("b.bucket") < F.col("a.bucket"), "left")
               .groupBy(F.col("a.bucket").alias("bucket"))
               .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).alias("offset")))
    w = Window.partitionBy("bucket").orderBy("total", "o_custkey")
    # n from the bucket counts, not a fourth pass over the spend agg
    # (at 100 TB you'd persist `spend` — it's customer-grain — and let
    # exchange reuse collapse the remaining shared subtrees)
    nrow = counts.agg(F.sum("cnt").alias("n"))
    ranked = (b_spend.join(F.broadcast(offsets), "bucket")
              .withColumn("rank", F.col("offset") + F.row_number().over(w))
              .crossJoin(F.broadcast(nrow)))
    pct = F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
        (F.col("rank") - 1) / (F.col("n") - 1))
    return ranked.select(
        "o_custkey", "total",
        rnd(pct, 6).alias("pct_rank"),
        rnd(F.col("rank") / F.col("n"), 6).alias("cume"))


@register("corr_stats_events", oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       (round(avg(value), 4) + 0) AS mean_value,
       (round(stddev_samp(value), 4) + 0) AS sd_value,
       (round(corr(value, CAST(extract(hour FROM ts) AS DOUBLE)), 4) + 0)
         AS corr_value_hour
FROM events GROUP BY event_type
""")
def corr_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped moment statistics (mean / sample stddev / Pearson
    correlation with hour-of-day): all computed from mergeable
    co-moments, so the plan is one keyed shuffle with map-side
    partials — the feature-statistics pass of a training pipeline.
    Rounded to 4dp: parallel co-moment merge order perturbs the last
    couple of double ulps."""
    events = _t(spark, sf_dir, "events")
    hour = F.hour("ts").cast("double")
    return (events.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 rnd(F.avg("value"), 4).alias("mean_value"),
                 rnd(F.stddev_samp("value"), 4).alias("sd_value"),
                 rnd(F.corr(F.col("value"), hour), 4)
                 .alias("corr_value_hour")))


@register("text_bigram_top20", oracle="""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
), big AS (
  SELECT unnest(list_transform(list_zip(t[:-1], t[2:]),
                               x -> x[1] || ' ' || x[2])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n
FROM big WHERE bigram IS NOT NULL
GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 20
""")
def text_bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (the n-gram language-model building block):
    tokenize -> adjacent-pair -> explode -> count -> top-20.  All
    array ops are codegen'd column expressions riding the scan; the
    count is one shuffle with map-side partials and the top-20 is
    TakeOrderedAndProject — no global sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"),
                    lambda x: x != F.lit(""))
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))
    return (docs.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "bigram").limit(20))


@register("topk_with_ties", oracle="""
SELECT o_custkey, total, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT o_custkey, (round(sum(o_totalprice), 2) + 0) AS total,
         rank() OVER (ORDER BY (round(sum(o_totalprice), 2) + 0) DESC)
           AS rnk
  FROM orders GROUP BY o_custkey)
WHERE rnk <= 10
""")
def topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH TIES top-k: rank() instead of row_number(), so equal spend
    totals all make the cut — membership is a pure function of the
    data, no arbitrary tie survivor.  Ranking on the ROUNDED total
    keeps tie groups identical across engines."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        rnd(F.sum("o_totalprice"), 2).alias("total"))
    w = Window.orderBy(F.col("total").desc())
    return (spend.withColumn("rnk", F.rank().over(w).cast("long"))
            .filter(F.col("rnk") <= 10))


@register("unpivot_daily_counts", oracle="""
WITH d AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
k AS (SELECT unnest(['click','error','purchase','signup','view']) AS kind),
c AS (SELECT date_trunc('day', ts) AS day, event_type AS kind,
             count(*) AS n
      FROM events GROUP BY 1, 2)
SELECT d.day, k.kind, CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM d CROSS JOIN k LEFT JOIN c USING (day, kind)
""")
def unpivot_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long, the melt inverse of
    pivot_event_type_daily): the pivoted daily matrix back to (day,
    kind, n) rows — zero-filled cells become explicit zero rows, which
    is the densified form a feature store wants.  Unpivot is a
    projection-time explode: no shuffle beyond the pivot's own."""
    kinds = ["click", "error", "purchase", "signup", "view"]
    wide = pivot_event_type_daily(spark, sf_dir)
    return (wide.unpivot("day", kinds, "kind", "n")
            .select("day", "kind", F.col("n").cast("long").alias("n")))


@register("user_event_type_sets", oracle="""
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',')
         AS kinds,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_kinds
FROM events GROUP BY user_id
""")
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped set aggregation: each user's distinct event types as a
    sorted, comma-joined string (string-joined rather than an array
    column so the value-hash comparison is canonical).  collect_set's
    state is bounded by the type dictionary, not event count — map-side
    partials apply."""
    events = _t(spark, sf_dir, "events")
    return (events.groupBy("user_id")
            .agg(F.concat_ws(",", F.sort_array(
                     F.collect_set("event_type"))).alias("kinds"),
                 F.count_distinct("event_type").alias("n_kinds")))


@register("funnel_signup_click_purchase", oracle="""
WITH s AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.t0
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t1
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after
""")
def funnel_signup_click_purchase(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users who signed up, then clicked at or
    after signup, then purchased at or after that click.  Each stage is
    one keyed aggregation joined forward — per-user state never leaves
    its shuffle partition and stage outputs shrink monotonically, so
    the funnel costs steps x one co-partitioned join, not a
    self-join explosion."""
    events = _t(spark, sf_dir, "events")
    s = (events.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("t0")))
    c = (events.filter(F.col("event_type") == "click")
         .join(s, "user_id")
         .filter(F.col("ts") >= F.col("t0"))
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    p = (events.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") >= F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    return (s.agg(F.count("*").alias("n_signup"))
            .crossJoin(c.agg(F.count("*").alias("n_click_after")))
            .crossJoin(p.agg(F.count("*").alias("n_purchase_after"))))


@register("cohort_weekly_retention", oracle="""
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT f.cohort,
       CAST(date_diff('week', f.cohort, a.wk) AS BIGINT) AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM first_seen f JOIN activity a USING (user_id)
GROUP BY 1, 2
""")
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week,
    counted as active per week offset.  Two keyed aggregations and one
    user-key join; both sides shrink to (user, week) granularity before
    anything joins, so the triangle's cost is user-cardinality, not
    event-cardinality.  Both engines truncate weeks to Monday, and
    week offsets of week-truncated instants are exact."""
    events = _t(spark, sf_dir, "events")
    first_seen = (events.groupBy("user_id")
                  .agg(F.date_trunc("week", F.min("ts")).alias("cohort")))
    activity = (events.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")).distinct())
    return (first_seen.join(activity, "user_id")
            .groupBy("cohort",
                     (F.floor(F.datediff("wk", "cohort") / 7)
                      .cast("long").alias("week_offset")))
            .agg(F.count_distinct("user_id").alias("n_active")))


@register("rolling_1h_range_agg", oracle="""
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       (round(sum(value) OVER w, 4) + 0) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""")
def rolling_1h_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE rolling window: per event, that user's event count
    and value sum over the trailing hour — a VALUE-based frame (all
    peers of an equal timestamp included), unlike the row-based
    rolling_window_agg.  Ordered by unix_micros so the frame bound is
    exact to the stored microsecond, matching the oracle's INTERVAL
    arithmetic."""
    events = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"))
         .rangeBetween(-3_600_000_000, 0))
    return events.select(
        "event_id", "user_id",
        F.count("*").over(w).alias("n_1h"),
        rnd(F.sum("value").over(w), 4).alias("sum_1h"))
