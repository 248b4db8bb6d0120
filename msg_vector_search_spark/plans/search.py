"""The search pipeline (SURVEY 3.1) — the reference's flagship
``search_messages`` read path as one DataFrame plan plus a thin driver
envelope.

Reference flow (src/core/search/engine.py:105-226 + src/core/embeddings/
processor.py:436-622): freshness gate -> embed query -> full scan with
per-row json.loads + NumPy cosine -> threshold -> sort -> slice k ->
per-result correlated enrichment queries -> dict envelope.

Spark plan: optional predicates (pushed to the scan) -> codegen'd cosine
-> threshold -> TakeOrderedAndProject top-k -> broadcast enrichment
joins ON K ROWS (not per-row re-queries) -> collect -> envelope.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import embed
from ..operators import filters, similarity


class FreshnessGate:
    """H3 trigger policy: refresh embeddings before searching iff the
    new-message gap exceeds a threshold (x3 during the first 5 searches)
    AND a cooldown has elapsed (60 s during the first 10 min, then
    300 s).  Reference: engine.py:32-36, :136-175; server.py:79, :207."""

    def __init__(self, threshold: int = 50, warmup_searches: int = 5,
                 early_cooldown_s: int = 60, late_cooldown_s: int = 300,
                 early_window_s: int = 600, clock=time.time):
        self.threshold = threshold
        self.warmup_searches = warmup_searches
        self.early_cooldown_s = early_cooldown_s
        self.late_cooldown_s = late_cooldown_s
        self.early_window_s = early_window_s
        self._clock = clock
        self._start = clock()
        self._last_update: float | None = None
        self.search_count = 0

    def should_update(self, gap, force: bool = False) -> bool:
        """*gap* may be an int or a ZERO-ARG CALLABLE returning the int.

        The cooldown check runs FIRST and a callable gap is only invoked
        after it passes — so the watermark-pruned source count that
        computes the gap is skipped entirely while the cooldown holds
        (the reference orders its checks the same way, engine.py:139-151;
        at 100 TB the count is the dominant cost of the gate).
        """
        self.search_count += 1
        now = self._clock()
        if force:
            self._last_update = now
            return True
        cooldown = (self.early_cooldown_s
                    if now - self._start < self.early_window_s
                    else self.late_cooldown_s)
        if self._last_update is not None and now - self._last_update < cooldown:
            return False
        threshold = self.threshold * (
            3 if self.search_count <= self.warmup_searches else 1)
        if callable(gap):
            gap = gap()
        if gap <= threshold:
            return False
        self._last_update = now
        return True


def search(corpus: DataFrame, query: str, limit: int = 30,
           threshold: float = 0.3,
           conversation_type: str | None = None,
           session_id: str | None = None,
           vec_col: str = "embedding", id_col: str = "message_id") -> DataFrame:
    """Flagship semantic search over an embedded corpus (3.1 steps 3-6).

    Optional equality predicates (B6) go FIRST so Catalyst pushes them
    into the scan before any scoring work — the reference builds the
    same WHERE clause by hand (embeddings/processor.py:472-486).
    """
    qvec = embed.embed_query_vector(query)
    df = filters.dynamic_conjunction(
        corpus, conversation_type=conversation_type, session_id=session_id)
    # knn_search owns the score -> top-k -> threshold composition (and
    # deliberately orders top-k BEFORE the threshold: a pushed-down
    # threshold would inline the cosine expression into the filter and
    # evaluate it twice per corpus row — similarity.py:87-91)
    return (similarity.knn_search(df, qvec, k=limit,
                                  threshold=threshold, vec_col=vec_col,
                                  tiebreak=id_col)
            .withColumn("similarity_score",
                        (F.round(F.col("sim"), 3) + F.lit(0.0))))


def search_many_with_envelopes(corpus: DataFrame, queries: dict,
                               limit: int = 30, threshold: float = 0.3,
                               conversation_type: str | None = None,
                               session_id: str | None = None,
                               vec_col: str = "embedding",
                               id_col: str = "message_id") -> dict:
    """Batched flagship search — Q query strings against ONE corpus
    scan (the facade twin of the batched index serves): the shared
    predicates push into the single scan, the Q query vectors travel
    as a broadcast frame through a per-query-heap KNN
    (``similarity.knn_join`` — the corpus is never shuffled; the rank
    window sees k x Q-bounded survivors), the thresholds filter the
    k-row results exactly as the single path does (top-k first), and
    the Q x k payload rows come back via one broadcast id join and ONE
    collect.  Per-query results are identical to Q
    :func:`search_with_envelope` calls — pinned in
    tests/test_engine_facade.py — at one scan and one scheduler pass.

    *queries* maps a caller key -> query string.  Returns ``{key:
    envelope}`` with each envelope in the single-search shape; every
    envelope reports the SHARED wall time (the batch is one call)."""
    t0 = time.time()
    keys = sorted(queries)
    df = filters.dynamic_conjunction(
        corpus, conversation_type=conversation_type,
        session_id=session_id)
    qrows = [(i, embed.embed_query_vector(queries[key]))
             for i, key in enumerate(keys)]
    spark = corpus.sparkSession
    qframe = spark.createDataFrame(qrows,
                                   "q_id long, q_embedding array<double>")
    top = (similarity.knn_join(df, qframe, k=limit,
                               corpus_vec=vec_col, corpus_id=id_col)
           .filter(F.col("sim") >= threshold))
    payload = (df.join(F.broadcast(top.select("q_id", id_col, "sim")),
                       id_col)
               .withColumn("similarity_score",
                           (F.round(F.col("sim"), 3) + F.lit(0.0))))
    collected = payload.collect()
    ms = round((time.time() - t0) * 1000, 1)
    by_q: dict[int, list] = {i: [] for i in range(len(keys))}
    for r in collected:
        d = r.asDict(recursive=True)
        by_q[d.pop("q_id")].append(d)
    out = {}
    for i, key in enumerate(keys):
        rows = sorted(by_q[i],
                      key=lambda d: (-d["sim"], d[id_col]))
        out[key] = {
            "status": "success",
            "results": rows,
            "metadata": {
                "total_results": len(rows),
                "query": queries[key],
                "threshold": threshold,
                "search_time_ms": ms,
            },
        }
    return out


def search_with_envelope(corpus: DataFrame, query: str, **kwargs) -> dict:
    """3.1 step 7: the reference's response envelope
    (engine.py:192-226) around the collected top-k."""
    t0 = time.time()
    rows = [r.asDict(recursive=True) for r in search(corpus, query, **kwargs).collect()]
    return {
        "status": "success",
        "results": rows,
        "metadata": {
            "total_results": len(rows),
            "query": query,
            "threshold": kwargs.get("threshold", 0.3),
            "search_time_ms": round((time.time() - t0) * 1000, 1),
        },
    }
