"""Skew & scale patterns: the explicit two-phase / salted forms"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import _t, register


@register("distinct_users_twophase", oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS users
FROM events GROUP BY event_type
""")
def distinct_users_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) decomposed into its scale-stable two-phase
    form: dedup (event_type, user_id) pairs first, then count rows
    per type.  Same result as a direct countDistinct, but the first
    shuffle spreads a hot event_type's users across ALL partitions
    (hash of the pair), so no single reducer ever materializes a hot
    key's full distinct set — the rewrite that keeps a 100 TB
    grouped-distinct from OOMing on skew.  Phase 1 partial-aggregates
    map-side, so the shuffle carries already-deduped pairs."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    pairs = ev.distinct()
    return (pairs.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("users")))


@register("join_salted_skew", oracle="""
WITH fs AS (SELECT user_id, min(ts) AS first_seen FROM events GROUP BY 1)
SELECT e.event_id, e.user_id,
       CAST(floor(date_diff('second', fs.first_seen, e.ts) / 86400.0)
            AS BIGINT) AS age_days
FROM events e JOIN fs ON fs.user_id = e.user_id
""")
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: enrich every event with the age since its
    user's first event, with the fact->dim join salted R=8 ways.  The
    fact side gets a deterministic salt (hash of its unique id); the
    dim side is replicated once per salt value; the join key becomes
    (user_id, salt), so a hot user's rows land on 8 reducers instead
    of one.  Result is EXACTLY the unsalted join (the oracle is the
    plain join) — salting changes placement, not semantics.  This is
    the manual form of AQE's skew-join split, usable when the skew is
    known ahead of time or AQE's thresholds won't trigger.  (At
    fixture scale Catalyst broadcasts the tiny sides and the salt is
    inert; the salted key governs placement exactly when the dim
    outgrows the broadcast threshold — the regime this pattern
    exists for.)"""
    r_salt = 8
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id", "ts")
          .withColumn("_salt", F.pmod(F.hash("event_id"),
                                      F.lit(r_salt)).cast("int")))
    dim = (_t(spark, sf_dir, "events")
           .groupBy("user_id").agg(F.min("ts").alias("first_seen")))
    salts = spark.range(r_salt).select(F.col("id").cast("int")
                                       .alias("_salt"))
    dim_rep = dim.crossJoin(salts)
    age = F.floor((F.col("ts").cast("long")
                   - F.col("first_seen").cast("long"))
                  / F.lit(86400.0)).cast("long")
    return (ev.join(dim_rep, ["user_id", "_salt"])
            .select("event_id", "user_id", age.alias("age_days")))
