"""Batch-incremental processing with explicit state (SURVEY 2.H).

The reference is micro-batch-by-hand: poll for a count gap, clamp the
watermark, cap the backfill, process, advance (reference:
src/core/search/engine.py:136-175, src/core/database/processor.py:
320-508).  The driver contract is batch-only, so this module implements
those exact semantics over the state table in sources/state.py; the
true Structured Streaming variant lives in streaming/stream.py.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame


# H4 backfill caps (reference: setup.sh:275-299, engine.py:57)
SAFE_MODE_BACKLOG = 50_000
MEDIUM_BACKLOG = 20_000
CAPS = {  # backlog tier -> (max_messages per run, embed batch)
    "large": (5_000, 250),
    "medium": (10_000, 500),
    "small": (10_000, 1_000),
}


def backlog_tier(backlog: int) -> str:
    """Reference's setup auto-tuning tiers (setup.sh:275-299)."""
    if backlog > SAFE_MODE_BACKLOG:
        return "large"
    if backlog > MEDIUM_BACKLOG:
        return "medium"
    return "small"


def backfill_caps(backlog: int) -> tuple[int, int]:
    return CAPS[backlog_tier(backlog)]


def seven_day_reset(watermark: dt.datetime, oldest: dt.datetime,
                    newest: dt.datetime) -> dt.datetime:
    """H2: when the stored watermark predates the oldest message (stale
    state after a purge), reprocess only the last 7 days (reference:
    processor.py:372-383)."""
    if watermark < oldest:
        return max(newest - dt.timedelta(days=7), oldest)
    return watermark


def gap(total_df: DataFrame, embedded_df: DataFrame) -> int:
    """E5: the freshness-trigger input, two counts (engine.py:160-175)."""
    return total_df.count() - embedded_df.count()
