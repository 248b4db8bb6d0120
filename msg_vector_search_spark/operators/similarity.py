"""Similarity search operators (SURVEY 2.D D6, 2.F F1, 2.B B7, 4).

The reference's flagship query path: embed the query string, then a
brute-force Python loop over EVERY stored vector — ``json.loads`` the
JSON-encoded embedding, NumPy cosine, threshold filter, ``list.sort``,
slice top-k (reference: src/core/embeddings/processor.py:489-529).

Spark-first rewrite: the corpus is a columnar float-array table; scoring
is a codegen'd higher-order expression; ``orderBy(desc).limit(k)`` plans
``TakeOrderedAndProject`` (per-partition bounded heaps + driver merge —
no global sort shuffle, O(corpus) scan, O(k) memory per partition).
That plan shape survives a 1000-executor 100 TB corpus unchanged.

Scale path beyond brute force: IVF partition pruning (see ``ivf.py``)
cuts the scanned fraction to nprobe/nlist.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import analysis
from ..functions import vector as V


def _np_round6(x):
    """Vectorized HALF-AWAY-FROM-ZERO rounding at 6dp — bit-parity
    with DuckDB ``round(_, 6)``, which rounds the BINARY double
    half-away (``np.round`` is half-TO-EVEN, so a value landing
    exactly on a .5e-6 boundary would diverge between a NumPy twin
    and its shared SQL oracle — ADVICE r13); same grid as the scalar
    ``_round6`` in :func:`mmr_rerank` and ``duck_dequantize_int8``.

    Spark's ``F.round(_, 6)`` is NOT bit-identical on one edge class:
    it rounds the value's SHORTEST-DECIMAL repr via BigDecimal
    HALF_UP, so a double whose shortest repr is an exact 7dp tie
    (e.g. ``0.5165865`` -> Spark ``0.516587``, DuckDB/this grid
    ``0.516586``, because the binary value is ``0.51658649999…``)
    diverges.  Reaching that class requires a double that ROUND-TRIPS
    in <= 7 significant decimals — computed sums/products essentially
    never do (their shortest reprs carry 16-17 digits), which is why
    every F.round-vs-DuckDB twin has hash-matched across 14 rounds of
    full sweeps.  Ties on the 7dp grid are accepted as out-of-model
    (the documented ADVICE r13 alternative); the divergence class is
    pinned by test_np_round6_spark_decimal_tie_divergence."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6


def similarity_to_query(corpus: DataFrame, query_vec: list[float],
                        vec_col: str = "embedding",
                        out_col: str = "sim") -> DataFrame:
    """Score every corpus row against ONE query vector.

    The query vector travels as a literal array expression — the
    single-query special case of the reference's scan loop (reference:
    src/core/embeddings/processor.py:489-506).  No join, no shuffle: the
    plan is scan -> project, one codegen stage.

    The query norm is a CONSTANT, so it is computed here in Python:
    higher-order aggregates over literal arrays are not constant-folded
    by Catalyst and would re-reduce the 0-dim-varying norm on every row.
    Per row this leaves one dot and one corpus-side norm — exactly the
    work brute force requires (pre-normalized corpora skip the latter).
    """
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    if qnorm == 0.0:
        return corpus.withColumn(out_col, F.lit(0.0))
    nprod = V.norm(F.col(vec_col)) * F.lit(qnorm)
    return corpus.withColumn(
        out_col,
        V.bind_once(nprod, lambda n: F.when(n == 0.0, F.lit(0.0))
                    .otherwise(V.dot(F.col(vec_col), qv) / n)))


def threshold_filter(scored: DataFrame, threshold: float,
                     sim_col: str = "sim") -> DataFrame:
    """B7 ``filter_sim_threshold`` (reference:
    src/core/embeddings/processor.py:508; default 0.3 server.py:206)."""
    return scored.filter(F.col(sim_col) >= F.lit(threshold))


def top_k(scored: DataFrame, k: int, sim_col: str = "sim",
          tiebreak: str = "vec_id") -> DataFrame:
    """F1 ``topk_by_similarity``: deterministic global top-k.

    Reference: src/core/embeddings/processor.py:528-529 (full in-memory
    sort then slice).  Spark plans TakeOrderedAndProject.  The tiebreak
    key makes ties deterministic (SURVEY 7 hard-point 3).
    """
    return scored.orderBy(F.col(sim_col).desc(), F.col(tiebreak).asc()).limit(k)


def knn_search(corpus: DataFrame, query_vec: list[float], k: int = 30,
               threshold: float = 0.0, vec_col: str = "embedding",
               tiebreak: str = "vec_id") -> DataFrame:
    """The flagship search composition: score -> threshold -> top-k.

    Scores are rounded to 6 dp for output determinism (float32 corpus,
    double math — FIXTURES.md oracle note); ordering uses the rounded
    value plus the tiebreak so membership of the top-k set is stable.
    """
    scored = (
        similarity_to_query(corpus, query_vec, vec_col)
        .withColumn("sim", (F.round(F.col("sim"), 6) + F.lit(0.0)))
    )
    # top-k FIRST, threshold after: equivalent result (if any top-k row
    # is under the threshold, every non-top-k row is too), but the
    # threshold then filters k rows instead of being pushed down past
    # the projection — which would inline and re-evaluate the whole
    # cosine expression a second time per corpus row.
    return threshold_filter(top_k(scored, k, tiebreak=tiebreak), threshold)


def truncated_rerank_search(corpus: DataFrame, query_vec: list[float],
                            k: int = 10, head_dims: int = 16,
                            shortlist: int = 50,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Adaptive retrieval via dimension truncation (the Matryoshka
    trick, Kusupati et al., NeurIPS 2022): shortlist on the FIRST
    *head_dims* dimensions, exact-re-rank the shortlist at full
    dimension.  With MRL-trained embeddings the head carries most of
    the signal; even without, it is the cheapest re-rankable sketch —
    no codebooks to train, no index to build.

    Scale: the shortlist scan reads head_dims/dim of the vector bytes
    when the head is materialized as its own column at write time (the
    topk_prenormalized pattern; computed here with ``slice`` so the
    operator works on any store).  The shortlist is an ordered
    ``limit`` (TakeOrderedAndProject), its ids broadcast back for the
    re-rank join — the corpus never shuffles, and full-dimension math
    touches only *shortlist* rows.
    """
    qhead = [float(x) for x in query_vec[:head_dims]]
    head = corpus.withColumn("_head", F.slice(F.col(vec_col), 1, head_dims))
    hscored = (similarity_to_query(head, qhead, vec_col="_head",
                                   out_col="hsim")
               .withColumn("hsim", F.round(F.col("hsim"), 6) + F.lit(0.0)))
    short = (hscored
             .orderBy(F.col("hsim").desc(), F.col(id_col).asc())
             .limit(shortlist)
             .select(id_col))
    exact = (similarity_to_query(corpus, query_vec, vec_col)
             .join(F.broadcast(short), id_col)
             .withColumn("sim", F.round(F.col("sim"), 6) + F.lit(0.0)))
    return (exact
            .orderBy(F.col("sim").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, *keep_cols, "sim"))


def knn_join(corpus: DataFrame, queries: DataFrame, k: int = 10,
             corpus_vec: str = "embedding", query_vec: str = "q_embedding",
             corpus_id: str = "vec_id", query_id: str = "q_id") -> DataFrame:
    """D6 ``knn_broadcast_join``: many query vectors vs the whole corpus.

    Reference form is one query vs all rows (src/core/embeddings/
    processor.py:489-525); generalized here to a query SET via a
    broadcast nested-loop join: the small query side is broadcast to
    every corpus partition, each partition keeps per-query heaps via the
    rank window.  corpus is never shuffled until the (tiny) ranked
    result — the correct asymmetric shape at 100 TB.
    """
    # norms once per input row on each side; per pair only the dot runs
    corpus_n = corpus.withColumn("_cn", V.norm(F.col(corpus_vec)))
    queries_n = queries.withColumn("_qn", V.norm(F.col(query_vec)))
    joined = corpus_n.crossJoin(F.broadcast(queries_n))
    nprod = F.col("_cn") * F.col("_qn")
    cos = F.when(nprod == 0.0, F.lit(0.0)).otherwise(
        V.dot(F.col(corpus_vec), F.col(query_vec)) / nprod)
    scored = joined.withColumn("sim", (F.round(cos, 6) + F.lit(0.0)))
    w = Window.partitionBy(query_id).orderBy(
        F.col("sim").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "sim", "rank")
    )


def knn_join_pandas(corpus: DataFrame, query_rows: list, k: int = 10,
                    corpus_vec: str = "embedding",
                    corpus_id: str = "vec_id",
                    query_id: str = "q_id") -> DataFrame:
    """Vectorized twin of :func:`knn_join` with PARTIAL top-k: each
    corpus partition scores all queries in one GEMM and emits only its
    own top-k per query, so the global rank window sees at most
    k * Q * num_partitions rows instead of corpus * Q.

    Two wins over the broadcast-nested-loop + full window plan: the
    scoring kernel is BLAS instead of an interpreted higher-order dot
    per (row, query), and — the part that matters at 100 TB — the
    shuffle into the rank window shrinks from the full cross product to
    the per-partition survivors (top-k is distributive: any global
    top-k row is in its partition's top-k).

    *query_rows* is the collected query set [(q_id, [float,...]), ...]
    — driver-sized by the same contract that lets :func:`knn_join`
    broadcast it.  Ties break exactly like knn_join: (sim desc,
    corpus_id asc), sims rounded to 6dp before ranking.
    """
    import numpy as np
    import pandas as pd

    qids = np.array([q[0] for q in query_rows], dtype=np.int64)
    qmat = np.array([q[1] for q in query_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qunit = qmat / np.where(qnorm == 0.0, 1.0, qnorm)[:, None]
    qunit[qnorm == 0.0] = 0.0

    def part_topk(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf[corpus_id].to_numpy()
            mat = np.vstack(pdf[corpus_vec].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            unit = mat / np.where(norms == 0.0, 1.0, norms)[:, None]
            unit[norms == 0.0] = 0.0
            sims = _np_round6(unit @ qunit.T) + 0.0   # n x Q
            kk = min(k, n)
            order = np.lexsort((np.broadcast_to(ids[:, None], sims.shape),
                                -sims), axis=0)[:kk, :]
            qcol = np.repeat(qids[None, :], kk, axis=0)
            yield pd.DataFrame({
                query_id: qcol.ravel(),
                corpus_id: ids[order.ravel()],
                "sim": sims[order.ravel(),
                            np.repeat(np.arange(len(qids))[None, :],
                                      kk, axis=0).ravel()],
            })

    partial = corpus.select(corpus_id, corpus_vec).mapInPandas(
        part_topk, schema=f"{query_id} long, {corpus_id} long, sim double")
    w = Window.partitionBy(query_id).orderBy(
        F.col("sim").desc(), F.col(corpus_id).asc())
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "sim", "rank"))


def _doc_token_views(vec_col: str, doc_tokens: int, dim: int):
    """The stored multi-vector layout: a doc's embedding column read
    as *doc_tokens* contiguous *dim*-wide token vectors (ColBERT-style
    late-interaction stores one vector PER TOKEN; the fixture's flat
    array is sliced into that layout so the operator works on any
    array<float> store).  Callers bind the returned expression once
    and derive per-token norms from the bound value, so norms compute
    ONCE per doc, not once per (q_token, d_token) pair."""
    dtoks = F.transform(
        F.sequence(F.lit(0), F.lit(doc_tokens - 1)),
        lambda t: F.slice(F.col(vec_col), t * F.lit(dim) + 1, dim))
    return dtoks


def _maxsim_term(dtoks, dnorms, q_token: list[float]):
    """One query token's MaxSim contribution: max_j cos(q_i, d_j),
    each pair cosine rounded to the 6dp serving grid BEFORE the max
    (max is fold-order-free, so the grid is the only cross-engine
    agreement needed)."""
    qn = math.sqrt(sum(float(x) * float(x) for x in q_token))
    if qn == 0.0:
        return F.lit(0.0)
    qlit = F.array(*[F.lit(float(x)) for x in q_token])
    return F.array_max(F.zip_with(
        dtoks, dnorms,
        lambda dv, dn: F.round(
            F.when(dn == 0.0, F.lit(0.0))
            .otherwise(V.dot(dv, qlit) / (dn * F.lit(qn))), 6)
        + F.lit(0.0)))


def maxsim_topk(corpus: DataFrame, query_tokens: list[list[float]],
                k: int = 10, doc_tokens: int = 8, dim: int = 8,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT MaxSim,
    Khattab & Zaharia, SIGIR 2020): score(q, d) = sum_i max_j
    cos(q_i, d_j) over the query's token vectors against each doc's
    token vectors — per-token soft alignment, the retrieval-quality
    step between single-vector cosine and a cross-encoder.

    Brute-force oracle-checkable form: the whole score is ONE codegen
    projection riding the corpus scan (query token vectors travel as
    literal arrays, doc token views are slices of the stored array —
    no join, no shuffle, no UDF), then TakeOrderedAndProject top-k —
    exactly the knn_search plan shape with a richer score expression,
    so it survives a 1000-executor corpus unchanged.  Doc token norms
    are bound once per row; per (i, j) pair only the dot remains.
    Sum over query tokens folds in ascending i (a fixed literal
    chain), each pair cosine on the 6dp grid before the order-free
    max."""
    dtoks_expr = _doc_token_views(vec_col, doc_tokens, dim)

    def score_with(dtoks):
        def score_with_norms(dnorms):
            total = None
            for qt in query_tokens:
                term = _maxsim_term(dtoks, dnorms, qt)
                total = term if total is None else total + term
            return F.round(total, 6) + F.lit(0.0)
        return analysis.bind_once(
            F.transform(dtoks, lambda dv: V.norm(dv)), score_with_norms)

    scored = corpus.withColumn(
        "score", analysis.bind_once(dtoks_expr, score_with))
    return (scored
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, "score"))


def maxsim_serve_many(corpus: DataFrame, query_rows: list, k: int = 10,
                      doc_tokens: int = 8, dim: int = 8,
                      vec_col: str = "embedding",
                      corpus_id: str = "vec_id",
                      query_id: str = "q_id") -> DataFrame:
    """Batched MaxSim serving — the search_index_many discipline
    applied to late interaction: Q queries' token vectors ship as
    broadcast DATA (one tiny frame: q_id, token vectors, their norms
    precomputed driver-side), the corpus is scanned ONCE, and the
    per-(doc, query) score is the same fold as :func:`maxsim_topk`
    expressed over the broadcast row's token array.  Constant plan in
    Q: adding queries adds rows to the broadcast side, never a stage.
    Per-query top-k via the rank window over (score desc, id) — the
    knn_join shape; at very large Q x corpus the knn_join_pandas
    partial-top-k GEMM twin generalizes (per-partition heaps before
    the window shuffle).

    *query_rows* = [(q_id, [[float; dim]; n_q_tokens]), ...],
    driver-sized by the same contract that lets knn_join broadcast
    its query set."""
    spark = corpus.sparkSession
    rows = [(int(qid),
             [[float(x) for x in t] for t in toks],
             [math.sqrt(sum(float(x) * float(x) for x in t))
              for t in toks])
            for qid, toks in query_rows]
    qdf = spark.createDataFrame(
        rows, f"{query_id} long, qtoks array<array<double>>, "
              f"qnorms array<double>")
    dtoks_expr = _doc_token_views(vec_col, doc_tokens, dim)

    def score_with(dtoks):
        def score_with_norms(dnorms):
            qpairs = F.zip_with(
                F.col("qtoks"), F.col("qnorms"),
                lambda qt, qn: F.struct(qt.alias("qt"), qn.alias("qn")))
            return F.round(F.aggregate(
                qpairs, F.lit(0.0),
                lambda acc, s: acc + F.array_max(F.zip_with(
                    dtoks, dnorms,
                    lambda dv, dn: F.round(
                        F.when((dn * s.qn) == 0.0, F.lit(0.0))
                        .otherwise(V.dot(dv, s.qt) / (dn * s.qn)), 6)
                    + F.lit(0.0)))), 6) + F.lit(0.0)
        return analysis.bind_once(
            F.transform(dtoks, lambda dv: V.norm(dv)), score_with_norms)

    scored = (corpus.crossJoin(F.broadcast(qdf))
              .withColumn("score",
                          analysis.bind_once(dtoks_expr, score_with)))
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "score", "rank"))


def maxsim_join_pandas(corpus: DataFrame, query_rows: list, k: int = 10,
                       doc_tokens: int = 8, dim: int = 8,
                       vec_col: str = "embedding",
                       corpus_id: str = "vec_id",
                       query_id: str = "q_id") -> DataFrame:
    """GEMM twin of :func:`maxsim_serve_many` with PARTIAL top-k — the
    knn_join_pandas discipline applied to late interaction: each
    corpus partition scores ALL queries' token vectors against all of
    its docs' token vectors in ONE BLAS GEMM ((n x Td, d) @ (d, Q x
    Tq)), folds max-over-doc-tokens then sum-over-query-tokens, and
    emits only its own top-k per query — the rank window's shuffle
    input is k * Q * partitions rows, never corpus * Q.  Bit-parity
    with the expression form: per-pair cosines round to 6dp BEFORE the
    order-free max, and the query-token terms accumulate sequentially
    in ascending i (an explicit loop — numpy's pairwise .sum() folds
    in a different IEEE order), so both operators share one oracle.

    *query_rows* layout matches :func:`maxsim_serve_many`; all query
    token counts must be equal (one GEMM)."""
    import numpy as np
    import pandas as pd

    qids = np.array([q[0] for q in query_rows], dtype=np.int64)
    n_q = len(qids)
    t_q = len(query_rows[0][1])
    qmat = np.array([t for _, toks in query_rows for t in toks],
                    dtype=np.float64)                       # (Q*Tq, d)
    qn = np.linalg.norm(qmat, axis=1)
    qunit = qmat / np.where(qn == 0.0, 1.0, qn)[:, None]
    qunit[qn == 0.0] = 0.0

    def part_topk(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf[corpus_id].to_numpy()
            flat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            dmat = flat.reshape(n * doc_tokens, dim)        # row-major:
            dn = np.linalg.norm(dmat, axis=1)               # token t =
            dunit = dmat / np.where(dn == 0.0, 1.0, dn)[:, None]
            dunit[dn == 0.0] = 0.0                          # slice t*d+1..
            sims = _np_round6(dunit @ qunit.T) + 0.0        # (n*Td, Q*Tq)
            maxed = (sims.reshape(n, doc_tokens, n_q, t_q)
                     .max(axis=1))                          # (n, Q, Tq)
            acc = maxed[:, :, 0]
            for i in range(1, t_q):                         # ascending-i
                acc = acc + maxed[:, :, i]                  # left fold
            scores = _np_round6(acc) + 0.0                  # (n, Q)
            kk = min(k, n)
            order = np.lexsort(
                (np.broadcast_to(ids[:, None], scores.shape), -scores),
                axis=0)[:kk, :]
            qcol = np.repeat(qids[None, :], kk, axis=0)
            yield pd.DataFrame({
                query_id: qcol.ravel(),
                corpus_id: ids[order.ravel()],
                "score": scores[order.ravel(),
                                np.repeat(np.arange(n_q)[None, :],
                                          kk, axis=0).ravel()],
            })

    partial = corpus.select(corpus_id, vec_col).mapInPandas(
        part_topk, schema=f"{query_id} long, {corpus_id} long, "
                          f"score double")
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc())
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "score", "rank"))


SIGNBIT_BITS = 48


def signbit_sketch(vec_col, bits: int = SIGNBIT_BITS) -> Column:
    """Binary sign quantization: bit j = (vec[j] > 0), the first
    *bits* dims packed big-endian into ONE long — Charikar SimHash
    with axis-aligned planes, the storage form behind binary ANN
    indexes (1 bit/dim: 32x smaller than float32, and candidate
    scoring is xor+popcount on words instead of float math).  48 bits
    keeps the integer exactly representable on both engines' fold
    (sum of distinct powers of two < 2^53, exact in the double pow
    both dialects share); a production store packs all dims into an
    array<long> of words, same expressions per word.

    ``try_element_at`` (not ``element_at``, which THROWS out-of-range
    under ANSI mode) makes a vector shorter than *bits* contribute
    0-bits for its missing dims — the same edge behavior as the
    DuckDB CASE form and :func:`signbit_sketch_py` (ADVICE r13)."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc + F.when(
            F.try_element_at(vec, j + 1) > 0,
            F.pow(F.lit(2.0), F.lit(bits - 1) - j).cast("long"))
        .otherwise(F.lit(0).cast("long")))


def signbit_sketch_py(vec: list[float], bits: int = SIGNBIT_BITS) -> int:
    """Driver-side twin of :func:`signbit_sketch` for the query
    vector (same big-endian bit order).  A vector SHORTER than *bits*
    contributes 0-bits for the missing dims — matching the Spark form
    (``try_element_at`` -> NULL -> ``otherwise(0)``) and the DuckDB form
    (out-of-range index -> NULL -> CASE ELSE 0) instead of raising
    IndexError (ADVICE r13).  A NaN dim reads as a 1-BIT: both Spark
    SQL and DuckDB order NaN greater than every numeric, so their
    ``vec[j] > 0`` is true, while Python's ``nan > 0`` is False — the
    twin matches the engines, not Python."""
    out = 0
    for j in range(bits):
        v = float(vec[j]) if j < len(vec) else 0.0
        bit = 1 if (v > 0 or math.isnan(v)) else 0
        out = (out << 1) | bit
    return out


def duck_signbit_sketch(vec_sql: str, bits: int = SIGNBIT_BITS) -> str:
    """DuckDB rendering of :func:`signbit_sketch`."""
    return (f"CAST(list_sum(list_transform(generate_series(0, {bits - 1}),"
            f" j -> CASE WHEN {vec_sql}[j + 1] > 0"
            f" THEN pow(2, {bits - 1} - j) ELSE 0 END)) AS BIGINT)")


def signbit_rerank_search(corpus: DataFrame, query_vec: list[float],
                          k: int = 10, shortlist: int = 64,
                          bits: int = SIGNBIT_BITS,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """Binary-quantized ANN: Hamming-distance shortlist over the
    sign-bit sketches (xor + popcount against the query's sketch — a
    driver-computed long literal), exact-cosine re-rank of the
    shortlist — the :func:`truncated_rerank_search` shape with the
    sketch column in place of the head slice.  At 100 TB the sketch
    is materialized at write time and the shortlist scan reads ONE
    long per vector (32x fewer bytes than float32); here it is
    computed inline so the operator works on any store.  Shortlist is
    TakeOrderedAndProject on (hamming asc, id); full-dimension math
    touches only *shortlist* rows via the broadcast-join re-rank.
    Returns ``(id_col, hamming, sim)`` top-*k* by (sim desc, id)."""
    qsk = signbit_sketch_py(query_vec, bits)
    ham = F.bit_count(signbit_sketch(vec_col, bits)
                      .bitwiseXOR(F.lit(qsk))).cast("int")
    short = (corpus.withColumn("hamming", ham)
             .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
             .limit(shortlist)
             .select(id_col, "hamming"))
    exact = (similarity_to_query(corpus, query_vec, vec_col)
             .join(F.broadcast(short), id_col)
             .withColumn("sim", F.round(F.col("sim"), 6) + F.lit(0.0)))
    return (exact
            .orderBy(F.col("sim").desc(), F.col(id_col).asc())
            .limit(k)
            .select(id_col, "hamming", "sim"))


def rocchio_expand_query(corpus: DataFrame, query_vec: list[float],
                         k_feedback: int = 10, alpha: float = 1.0,
                         beta: float = 0.5,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> list[float]:
    """Pseudo-relevance feedback (Rocchio, the classic query-expansion
    loop): take the brute-force top-*k_feedback* as presumed-relevant,
    blend their 6dp-rounded centroid into the query —
    ``q' = round(alpha * q + beta * centroid, 6)`` per dimension — and
    return the expanded vector for a second search pass.  The
    feedback set is dimension-bounded (k rows collected), centroid
    math is driver-side NumPy on the same 6dp grid the corpus
    centroid rows use (group_centroids_pandas precedent), so an
    oracle rebuilding q' from its own top-k gets identical doubles.
    Cost: one extra corpus scan (the feedback pass) — the expansion
    itself never touches the corpus.

    The feedback pass takes the top-k UNCONDITIONALLY
    (threshold=-1.0, disarming knn_search's default sim >= 0 gate):
    an anti-correlated query whose neighbors all score negative must
    still yield k feedback vectors — a thresholded feedback set would
    diverge from any fixed-LIMIT oracle and, at the extreme, leave
    the centroid with zero rows."""
    import numpy as np

    fb = (knn_search(corpus, query_vec, k=k_feedback, threshold=-1.0,
                     vec_col=vec_col, tiebreak=id_col)
          .select(vec_col).collect())
    mat = np.stack([np.asarray(r[0], dtype=np.float64) for r in fb])
    # Sequential left-fold in the collected (score, id) order — NOT
    # np.mean, whose pairwise multi-accumulator summation can differ
    # from a SQL engine's sequential avg() fold in the last IEEE bit
    # (ADVICE r13); rounding is the explicit half-away 6dp grid.
    acc = np.zeros(mat.shape[1], dtype=np.float64)
    for row in mat:
        acc = acc + row
    cent = _np_round6(acc / float(len(mat))) + 0.0
    return [float(_np_round6(alpha * float(q) + beta * c) + 0.0)
            for q, c in zip(query_vec, cent)]


def similarity_join_topk(assigned: DataFrame, block_col: str, k: int,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_cell: int | None = None,
                         dedup_pairs: bool = False) -> DataFrame:
    """All-vectors-to-their-neighbors similarity JOIN: for every vector,
    its top-k cosine neighbors within its block (IVF cell / LSH bucket)
    — the both-sides-large pattern ``knn_join`` (broadcast query set)
    cannot cover.

    Scale shape: one shuffle on the block key co-locates each cell, the
    quadratic work is confined to within-cell pairs (cells are corpus/
    nlist sized by construction), norms are computed once per ROW before
    the join, and the per-source top-k is a windowed rank inside the
    already-blocked partition.  Recall improves by unioning nprobe>1
    cell assignments per vector before the join.

    *max_cell* guards cell skew (a dense corpus region overloading one
    cell): exact grid salting — side B sub-bucketed by a deterministic
    ``hash48(id) % nsub``, side A replicated per sub-bucket, so the
    result is IDENTICAL to the unsalted join while the hottest reducer
    scores ~max_cell * cell pairs instead of cell^2.  Cell sizes come
    from a partial-aggregated groupBy, never a window over the cell.

    *dedup_pairs* is for MULTI-assignment inputs (one row per (vector,
    cell), e.g. ``ivf.assign_cells_multi``): a pair sharing several
    cells would otherwise be emitted once per shared cell and eat
    duplicate rank slots.  The dedup is a groupBy on (id_a, id_b)
    keeping min(cell)/max(sim) — deterministic, one extra shuffle whose
    input is already blocked-bounded (never the raw corpus)."""
    a = assigned.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("vec_a"),
                        V.norm(vec_col).alias("_na"),
                        F.col(block_col).alias("cell"))
    b = assigned.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("vec_b"),
                        V.norm(vec_col).alias("_nb"),
                        F.col(block_col).alias("cell"))
    if max_cell is not None:
        sizes = (assigned.groupBy(F.col(block_col).alias("cell"))
                 .agg(F.count("*").alias("_csz"))
                 .withColumn("_nsub",
                             F.greatest(F.lit(1),
                                        F.ceil(F.col("_csz") / max_cell))
                             .cast("int"))
                 .drop("_csz"))
        a = (a.join(sizes, "cell")
             .withColumn("_salt", F.explode(
                 F.sequence(F.lit(0), F.col("_nsub") - 1)))
             .drop("_nsub"))
        b = (b.join(sizes, "cell")
             .withColumn("_salt",
                         F.pmod(analysis.token_hash(
                             F.col("id_b").cast("string")), F.col("_nsub")))
             .drop("_nsub"))
        join_keys = ["cell", "_salt"]
    else:
        join_keys = ["cell"]
    nprod = F.col("_na") * F.col("_nb")
    cos = F.when(nprod == 0.0, F.lit(0.0)).otherwise(
        V.dot("vec_a", "vec_b") / nprod)
    pairs = (a.join(b, join_keys)
             .filter(F.col("id_a") != F.col("id_b"))
             .withColumn("sim", F.round(cos, 6) + F.lit(0.0)))
    if dedup_pairs:
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.min("cell").alias("cell"), F.max("sim").alias("sim"))
    w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(),
                                           F.col("id_b"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("id_a", "id_b", "cell", "sim"))


def similarity_join_topk_pandas(assigned: DataFrame, block_col: str,
                                k: int, id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                dedup_pairs: bool = False) -> DataFrame:
    """Vectorized twin of :func:`similarity_join_topk`: the within-cell
    pairwise kernel as one numpy matrix multiply per cell via
    ``applyInPandas``, instead of an interpreted higher-order dot per
    pair.

    Why it exists: Spark's higher-order functions evaluate per array
    element in the interpreter, so the blocked quadratic kernel costs
    ~cell^2 * dim interpreted ops; normalizing the cell's matrix once
    and calling BLAS GEMM does the same arithmetic vectorized in C —
    the right physical kernel when cells are thousands of rows.  Same
    logical result modulo float summation order (GEMM reorders the
    accumulation, so ~1e-15-relative drift vs the sequential expression
    — which is why the ORACLE query keeps the expression form: a
    value-hash comparison cannot tolerate reordered float sums).

    Scale shape is identical: one shuffle groups each cell, memory per
    task is O(cell * dim) for the matrix plus O(cell * k) for results;
    pair k with a cell-size guard (the grid salting of the expression
    variant does not apply here — a mega cell must instead be split by
    re-clustering, or the GEMM tiled).

    *dedup_pairs* (multi-assignment inputs): per-cell top-k remains
    EXACT under multi-assignment — a pair in the global top-k of the
    deduped union is in the top-k of every cell containing it (the
    cell's candidate set is a subset of the union) — so the per-cell
    kernel stays untouched and a groupBy(id_a, id_b) + rank window
    finishes the job on k-bounded survivors, never raw pairs."""
    import numpy as np
    import pandas as pd

    block_type = assigned.schema[block_col].dataType.simpleString()
    out_schema = (f"id_a long, id_b long, {block_col} {block_type}, "
                  "sim double")

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], block_col: [], "sim": []})
        ids = pdf[id_col].to_numpy()
        mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        safe = np.where(norms == 0.0, 1.0, norms)
        unit = mat / safe[:, None]
        sims = unit @ unit.T
        sims[norms == 0.0, :] = 0.0
        sims[:, norms == 0.0] = 0.0
        np.fill_diagonal(sims, -np.inf)
        sims = _np_round6(sims) + 0.0
        kk = min(k, n - 1)
        # per-row top-k with (sim desc, id asc) tiebreak: lexsort on
        # (-sim, id) gives ascending id within equal sims
        order = np.lexsort((np.broadcast_to(ids, sims.shape), -sims),
                           axis=1)[:, :kk]
        rows = np.repeat(np.arange(n), kk)
        cols = order.ravel()
        return pd.DataFrame({
            "id_a": ids[rows],
            "id_b": ids[cols],
            block_col: pdf[block_col].iloc[0],
            "sim": sims[rows, cols],
        })

    per_cell = assigned.select(id_col, vec_col, block_col) \
        .groupBy(block_col).applyInPandas(cell_topk, out_schema)
    if not dedup_pairs:
        return per_cell
    deduped = per_cell.groupBy("id_a", "id_b").agg(
        F.min(block_col).alias(block_col), F.max("sim").alias("sim"))
    w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(),
                                           F.col("id_b"))
    return (deduped.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("id_a", "id_b", block_col, "sim"))


def mmr_shortlist(corpus: DataFrame, query_vec: list[float],
                  shortlist: int, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """The corpus-facing stage of :func:`mmr_rerank`: rounded query
    sims, ordered ``limit`` (plans as TakeOrderedAndProject — pinned in
    tests/test_corpus_audits.py)."""
    return (
        similarity_to_query(corpus, query_vec, vec_col, out_col="simq")
        .withColumn("simq", F.round(F.col("simq"), 6) + F.lit(0.0))
        .orderBy(F.col("simq").desc(), F.col(id_col).asc())
        .limit(shortlist)
        .select(id_col, "simq", vec_col))


def mmr_rerank(corpus: DataFrame, query_vec: list[float], k: int = 10,
               shortlist: int = 50, lam: float = 0.7,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, SIGIR 1998): greedily pick *k* results maximizing
    ``lam * sim(query, d) - (1 - lam) * max_{s in S} sim(d, s)`` —
    relevant results that are NOT near-duplicates of ones already
    chosen.  The reference returns the raw cosine ranking
    (src/core/embeddings/processor.py:528-529); redundant top-k lists
    are the classic failure of that on deduplicated-but-still-similar
    corpora, and MMR is the standard serving-side fix.

    Plan shape at 100 TB: the corpus contributes ONE brute-force
    shortlist pass (TakeOrderedAndProject — swap in the IVF/PQ probe
    for an indexed store); everything after is bounded by *shortlist*:
    a localCheckpoint pins the shortlist at `shortlist` rows, its
    self-join (shortlist^2 pairs) broadcasts, and the inherently
    sequential greedy loop runs over that bounded frame in a single
    applyInPandas group.  Corpus size never touches the greedy stage.

    Determinism: query sims and pairwise sims are rounded to 6dp IN
    SPARK before the loop; the loop compares only those rounded doubles
    (plus half-away-from-zero rounding of the combined score, matching
    F.round / DuckDB round), ties broken by ascending id.
    """
    short = mmr_shortlist(corpus, query_vec, shortlist,
                          vec_col, id_col)
    return mmr_select(short, k=k, lam=lam, vec_col=vec_col,
                      id_col=id_col)


def mmr_select(short: DataFrame, k: int = 10, lam: float = 0.7,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """The bounded half of :func:`mmr_rerank`, reusable over ANY
    shortlist provider (brute force, the materialized IVFPQ index, a
    hybrid fuse): *short* carries (*id_col*, ``simq`` rounded to 6dp,
    *vec_col*); everything here is bounded by its row count —
    localCheckpoint pin, broadcast self-join for the pairwise sims,
    one applyInPandas group for the sequential greedy loop."""
    import math as _math

    import pandas as pd

    short = short.localCheckpoint()
    a = short.select(F.col(id_col).alias("ia"), F.col("simq"),
                     F.col(vec_col).alias("va"))
    b = short.select(F.col(id_col).alias("ib"),
                     F.col(vec_col).alias("vb"))
    pairs = (a.join(F.broadcast(b), F.col("ia") != F.col("ib"))
             .withColumn("sim", F.round(V.cosine("va", "vb"), 6)
                         + F.lit(0.0))
             .select("ia", "simq", "ib", "sim"))

    def _round6(x: float) -> float:
        # F.round / DuckDB round(): half away from zero at 6dp.
        return _math.copysign(
            _math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        simq = {int(r.ia): float(r.simq)
                for r in pdf[["ia", "simq"]].drop_duplicates()
                .itertuples()}
        psim = {(int(r.ia), int(r.ib)): float(r.sim)
                for r in pdf.itertuples()}
        remaining = sorted(simq)
        selected: list[int] = []
        out = []
        for step in range(1, min(k, len(remaining) + len(selected)) + 1):
            best_id, best_score = None, None
            for cid in remaining:
                maxsim = max((psim.get((cid, s), 0.0) for s in selected),
                             default=0.0)
                score = _round6(lam * simq[cid] - (1.0 - lam) * maxsim)
                if (best_id is None or score > best_score
                        or (score == best_score and cid < best_id)):
                    best_id, best_score = cid, score
            out.append((step, best_id, best_score))
            selected.append(best_id)
            remaining.remove(best_id)
        return pd.DataFrame(out,
                            columns=["step", id_col, "mmr_score"])

    return (pairs.groupBy(F.lit(1).alias("_g"))
            .applyInPandas(greedy,
                           schema=f"step long, {id_col} long, "
                                  "mmr_score double"))
