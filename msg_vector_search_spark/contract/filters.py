"""Filters / predicates (SURVEY 2.B)"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textops
from ..operators import filters as filter_ops

from .core import _t, register


@register("filter_since_ts", oracle="""
SELECT event_id, ts, user_id FROM events
WHERE ts > (SELECT min(ts) + INTERVAL 5 DAYS FROM events)
""")
def filter_since_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: the incremental watermark predicate (reference:
    processor.py:349-353) — pushed down to the parquet scan."""
    events = _t(spark, sf_dir, "events")
    wm = events.agg(F.expr("min(ts) + INTERVAL 5 DAYS")).head()[0]
    return (filter_ops.since_ts(events, wm)
            .select("event_id", "ts", "user_id"))


@register("filter_like_json_probe", oracle="""
SELECT event_id, props FROM events
WHERE contains(props, '"k":') AND contains(props, '9')
""")
def filter_like_json_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: cheap contains-probe ahead of JSON parsing (reference:
    user_mapper.py:95-100)."""
    return (filter_ops.json_probe(_t(spark, sf_dir, "events"), "props",
                                  '"k":', "9")
            .select("event_id", "props"))


@register("filter_in_list", oracle="""
SELECT event_id, event_type FROM events
WHERE event_type IN ('click', 'view')
""")
def filter_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: type-code membership (reference: user_mapper.py:99)."""
    return (filter_ops.in_list(_t(spark, sf_dir, "events"), "event_type",
                               ["click", "view"])
            .select("event_id", "event_type"))


@register("filter_not_null_distinct", oracle="""
SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
""")
def filter_not_null_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 (reference: user_mapper.py:180)."""
    return filter_ops.not_null_distinct(_t(spark, sf_dir, "events"), "user_id")


_DUCK_DIRTY = ("""(text || ' see https://ex.com/p?id=' || doc_id """
               """|| ' ok✨ end')""")

@register("filter_nonempty_text", oracle=f"""
SELECT doc_id, cleaned FROM (
  SELECT doc_id,
         {textops.duck_clean_text("CASE WHEN doc_id % 7 = 0 THEN '   ' ELSE text END")} AS cleaned
  FROM documents
) WHERE length(trim(cleaned)) > 0
""")
def filter_nonempty_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: drop rows whose cleaned text is empty (reference:
    processor.py:449-451); every 7th row is blanked to exercise it."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "cleaned",
        textops.clean_text(
            F.when(F.col("doc_id") % 7 == 0, F.lit("   "))
            .otherwise(F.col("text"))))
    return filter_ops.nonempty_text(docs, "cleaned").select("doc_id", "cleaned")


@register("filter_dynamic_conj", oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE lang = 'en' AND source = 'src3'
""")
def filter_dynamic_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: optional-parameter conjunctive predicate (reference:
    embeddings/processor.py:472-486); the None parameter is skipped."""
    return filter_ops.dynamic_conjunction(
        _t(spark, sf_dir, "documents"),
        lang="en", source="src3", n_chars=None)
