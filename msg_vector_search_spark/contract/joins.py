"""Joins / lookups (SURVEY 2.D)"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators import dims as dims_ops
from ..operators import enrich as enrich_ops
from ..operators import filters as filter_ops

from .core import _t, register


@register("join_user_dim", oracle="""
SELECT o.o_orderkey, o.o_custkey,
       coalesce(c.c_name, 'User ' || CAST(o.o_custkey AS VARCHAR)) AS user_name
FROM orders o
LEFT JOIN (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 != 0) c
  ON o.o_custkey = c.c_custkey
""")
def join_user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: broadcast left lookup join with 'User {id}' fallback
    (reference: user_mapper.py:252-263); a third of the dimension is
    withheld to exercise the fallback path."""
    orders = _t(spark, sf_dir, "orders")
    user_dim = (_t(spark, sf_dir, "customer")
                .filter(F.col("c_custkey") % 3 != 0)
                .select(F.col("c_custkey").alias("user_id"),
                        F.col("c_name").alias("user_name")))
    facts = orders.select("o_orderkey", F.col("o_custkey").alias("user_id"))
    out = enrich_ops.join_user_dim(facts, user_dim)
    return out.select("o_orderkey", F.col("user_id").alias("o_custkey"),
                      "user_name")


@register("join_conv_name", oracle="""
WITH m AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN user_id % 3 = 0 THEN 'group-' || CAST(user_id AS VARCHAR)
              ELSE 'buddy-' || CAST(user_id AS VARCHAR) END AS session_id,
         CASE WHEN event_type = 'view'
              THEN '{"n": "room-' || CAST(user_id AS VARCHAR) || '"}'
              ELSE props END AS content
  FROM events
), cand AS (
  SELECT session_id, ts, event_id,
         CASE WHEN json_valid(content)
               AND length(trim(json_extract_string(content, '$.n'))) > 0
               AND length(trim(json_extract_string(content, '$.n'))) < 100
              THEN trim(json_extract_string(content, '$.n')) END AS nm,
         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS priority
  FROM m WHERE event_type IN ('view', 'click')
), ranked AS (
  SELECT session_id, nm,
         row_number() OVER (PARTITION BY session_id
                            ORDER BY priority, ts, event_id) AS rn
  FROM cand WHERE nm IS NOT NULL
), dim AS (
  SELECT session_id, nm AS conversation_name FROM ranked WHERE rn = 1
)
SELECT s.session_id, coalesce(d.conversation_name, s.session_id)
         AS conversation_name
FROM (SELECT DISTINCT session_id FROM m) s
LEFT JOIN dim d USING (session_id)
""")
def join_conv_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: conversation-name dimension built ONCE (first qualifying
    group-info row per session by priority+time), then a broadcast
    lookup with sid fallback — the decorrelation of the reference's
    per-row LIMIT-1 queries (processor.py:192-264,
    embeddings/processor.py:548-617)."""
    events = _t(spark, sf_dir, "events")
    sid = (F.when(F.col("user_id") % 3 == 0,
                  F.concat(F.lit("group-"), F.col("user_id").cast("string")))
           .otherwise(F.concat(F.lit("buddy-"), F.col("user_id").cast("string"))))
    content = (F.when(F.col("event_type") == "view",
                      F.concat(F.lit('{"n": "room-'),
                               F.col("user_id").cast("string"), F.lit('"}')))
               .otherwise(F.col("props")))
    msgs = (events.withColumn("session_id", sid)
            .withColumn("content", content))
    dim = dims_ops.conversation_dim(
        msgs, "session_id", "ts", "content",
        info_types=["view"], creation_types=["click"],
        type_col="event_type", tiebreak_col="event_id")
    sessions = msgs.select("session_id").distinct()
    return (sessions.join(F.broadcast(dim), "session_id", "left")
            .select("session_id",
                    F.coalesce("conversation_name", "session_id")
                    .alias("conversation_name")))


@register("context_prev_next", oracle="""
SELECT event_id, user_id,
       lag(props) OVER w AS prev_text,
       lead(props) OVER w AS next_text
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, props, event_id)
""")
def context_prev_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: prev/next message text per session via lag/lead — the window
    rewrite of the reference's two correlated point queries per row
    (processor.py:266-318)."""
    events = _t(spark, sf_dir, "events")
    out = enrich_ops.context_prev_next(events, "user_id", "ts", "props",
                                       tiebreak_col="event_id")
    return out.select("event_id", "user_id", "prev_text", "next_text")


@register("anti_join_unnamed", oracle="""
SELECT DISTINCT user_id FROM events
WHERE user_id IS NOT NULL
  AND user_id NOT IN (SELECT DISTINCT user_id FROM events
                      WHERE event_type = 'click')
""")
def anti_join_unnamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: users lacking a name = distinct keys minus resolved keys, as
    a left-anti join (reference set difference: user_mapper.py:179-182).
    'Named' here = users with any click event."""
    events = _t(spark, sf_dir, "events")
    all_users = filter_ops.not_null_distinct(events, "user_id")
    named = (events.filter(F.col("event_type") == "click")
             .select("user_id").distinct())
    return dims_ops.unnamed_users(all_users, named)


@register("semi_join_deep_search", oracle="""
WITH unnamed AS (
  SELECT DISTINCT user_id FROM events
  WHERE user_id IS NOT NULL
    AND user_id NOT IN (SELECT DISTINCT user_id FROM events
                        WHERE event_type = 'purchase' AND value > 150)
)
SELECT event_id, user_id, event_type FROM events
WHERE user_id IN (SELECT user_id FROM unnamed)
   OR (props LIKE '%"k": 7%' AND props LIKE '%7}%')
ORDER BY event_id LIMIT 500
""")
def semi_join_deep_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: bounded candidate fetch for unnamed users — id-set membership
    OR content probes, deterministic cap (reference:
    user_mapper.py:188-198 ``u IN (...) OR content LIKE ... LIMIT
    500``).  'Named' = users with a >150-value purchase so the unnamed
    set is nonempty at sf0.01; the probe arm pulls rows from named
    users too, exercising the OR."""
    events = _t(spark, sf_dir, "events")
    all_users = filter_ops.not_null_distinct(events, "user_id")
    named = (events.filter((F.col("event_type") == "purchase")
                           & (F.col("value") > 150))
             .select("user_id").distinct())
    unnamed = dims_ops.unnamed_users(all_users, named)
    out = dims_ops.deep_search_candidates(events, unnamed, cap=500,
                                          order_col="event_id",
                                          content_col="props",
                                          probes=['"k": 7', '7}'])
    return out.select("event_id", "user_id", "event_type")


@register("dedup_last_wins", oracle="""
WITH doubled AS (
  SELECT event_id, ts, value FROM events
  UNION ALL
  SELECT event_id, ts + INTERVAL 1 HOUR AS ts, value + 100 AS value
  FROM events WHERE event_id % 10 = 0
), ranked AS (
  SELECT event_id, ts, value,
         row_number() OVER (PARTITION BY event_id ORDER BY ts DESC, event_id)
           AS rn
  FROM doubled
)
SELECT event_id, ts, value FROM ranked WHERE rn = 1
""")
def dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: last-writer-wins primary-key dedup (INSERT OR REPLACE
    semantics, reference: embeddings/processor.py:382-388); every 10th
    event re-arrives 1 h later with a new value and must shadow the
    original."""
    events = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    newer = (events.filter(F.col("event_id") % 10 == 0)
             .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
             .withColumn("value", F.col("value") + 100))
    return dedup_ops.dedup_last_wins(events.unionByName(newer),
                                     "event_id", "ts")
