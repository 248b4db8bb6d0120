"""Enrichment joins and window context (SURVEY 2.D D1/D3, 2.G).

The reference enriches per row: a dict lookup for the user name
(src/core/database/user_mapper.py:252-263, called per message at
processor.py:453-454) and TWO correlated point queries per message for
previous/next context (processor.py:266-318) — O(N · log N) random
B-tree probes.  Spark-first: one broadcast hash join + one window with
``lag``/``lead``, a single shuffle partitioned by session, linear work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textops


def join_user_dim(facts: DataFrame, user_dim: DataFrame,
                  key: str = "user_id", name_col: str = "user_name") -> DataFrame:
    """D1 ``join_user_dim``: broadcast left join + "User {id}" fallback
    (reference: user_mapper.py:252-263).  The dimension is small by
    construction — broadcast is the correct plan at any corpus scale."""
    joined = facts.join(F.broadcast(user_dim), key, "left")
    return joined.withColumn(
        name_col,
        F.coalesce(F.col(name_col),
                   F.concat(F.lit("User "), F.col(key).cast("string"))))


def context_prev_next(df: DataFrame, part_col: str, ts_col: str,
                      text_col: str, truncate: int = 100,
                      tiebreak_col: str | None = None) -> DataFrame:
    """D3 ``context_prev_next``: previous/next message text within the
    same session ordered by time, truncated to 100 chars.

    Reference: processor.py:266-318 — two correlated ``ORDER BY ..
    LIMIT 1`` queries PER ROW.  The canonical window rewrite: one
    shuffle on the session key, then ``lag``/``lead`` inside each
    sorted partition.  The text column breaks equal-ts ties; pass
    *tiebreak_col* (a unique column) to make the order TOTAL — rows
    sharing (part, ts, text) otherwise receive their prev/next
    assignments in nondeterministic order (r14 review; outputs carry
    per-row ids, so the swap is visible even though the tied texts
    are equal).
    """
    order = [ts_col, text_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(part_col).orderBy(*order)
    return (
        df.withColumn("prev_text",
                      textops.truncate_ellipsis(F.lag(text_col, 1).over(w), truncate))
        .withColumn("next_text",
                     textops.truncate_ellipsis(F.lead(text_col, 1).over(w), truncate))
    )


def rolling_agg(df: DataFrame, part_col: str, order_cols: list,
                value_col: str, n_preceding: int = 3) -> DataFrame:
    """2.G extension: rolling aggregate over the last *n* rows per key —
    the frame-spec window the reference never needed but any event
    pipeline does (SURVEY 2.G note).

    *order_cols* must make the ordering total (include a unique
    tiebreak) or the frame contents are nondeterministic.  The rolling
    average is derived from the grid-rounded sum and the frame count so
    both engines of an oracle pair divide identical doubles.
    """
    w = (Window.partitionBy(part_col).orderBy(*order_cols)
         .rowsBetween(-n_preceding, 0))
    rsum = F.round(F.sum(value_col).over(w), 3) + F.lit(0.0)
    rcnt = F.count(value_col).over(w)
    return (df.withColumn("rolling_sum", rsum)
              .withColumn("rolling_avg",
                          F.round(rsum / rcnt, 6) + F.lit(0.0)))


def salted_join(skewed: DataFrame, other: DataFrame, key: str,
                unique_col: str, n_salts: int = 16,
                how: str = "inner") -> DataFrame:
    """Skew-safe equi-join: spread each hot key over *n_salts* reducers.

    The skewed side gets a deterministic salt (hash of its unique id —
    NOT rand(), which breaks retry idempotence); the other side is
    replicated once per salt value.  Every original pair still meets on
    exactly one (key, salt), so the result equals the plain join while
    the hottest reducer shrinks by ~n_salts.  AQE's skew-join splitting
    handles moderate skew automatically; explicit salting is for the
    pathological key that exceeds a single executor even after splits.
    """
    # the equals-plain-join claim holds ONLY when unmatched OTHER-side
    # rows are dropped: the replicated side's n_salts copies of an
    # unmatched key would each null-extend under right/full outer,
    # multiplying those rows by n_salts (r14 review) — refuse the
    # broken variants
    allowed = {"inner", "left", "leftouter", "left_outer", "semi",
               "leftsemi", "left_semi", "anti", "leftanti", "left_anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join cannot render how={how!r}: the other side is "
            "replicated per salt, so joins keeping unmatched other-side "
            "rows emit them n_salts times — use a plain join (AQE skew "
            "handling) for right/full outer")
    s = skewed.withColumn(
        "_salt", F.pmod(F.hash(F.col(unique_col)), F.lit(n_salts)))
    o = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    return s.join(o, [key, "_salt"], how).drop("_salt")
