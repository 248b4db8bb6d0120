"""Product-quantization (PQ) ANN: compress each vector into m sub-space
codebook indices, then score candidates with an asymmetric-distance
table (ADC) — one table lookup + add per subspace instead of a d-dim
dot product per row.

Scale story (100 TB): the encoded corpus is m small ints per vector
(d=64 float32 -> m=8 codes = 64x smaller), so a 100 TB raw-vector
corpus becomes ~1.6 TB of codes; the ADC scan is memory-bandwidth
bound, rides the Parquet scan with zero shuffles, and the query-side
distance table is an m*ncodes literal (128 doubles here) folded into
the codegen'd expression — nothing is broadcast, nothing is joined.
Top-k plans as TakeOrderedAndProject exactly like the brute-force
flagship.  Reference analog: the full scan of ``message_embeddings``
with a per-row NumPy cosine (src/core/embeddings/processor.py:489-525)
— PQ is the classic drop-in when that scan outgrows one node, from
Jegou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011).

Two codebook sources, one contract: ``seed_codebooks`` (sub-vectors of
the ``ncodes`` smallest-id corpus vectors — fully deterministic and
SQL-expressible, so the driver's DuckDB oracle value-checks assignment
+ ADC end-to-end) and ``kmeans_codebooks`` (per-subspace Lloyd's on a
bounded deterministic sample — the production quality path: recall@10
0.37 -> 0.83 on the sf0.1 probe, tools/scaling_check.py).  The
encode/search/re-rank plans are identical under either; only the
literal table values change.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seed_codebooks(embeddings: DataFrame, m: int = 8, ncodes: int = 16,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> np.ndarray:
    """Deterministic (m, ncodes, d/m) codebook tensor from the ncodes
    smallest-id vectors — driver-sized collect (16 rows), same pattern
    as ivf.seed_centroids."""
    rows = (embeddings.orderBy(id_col).limit(ncodes)
            .select(vec_col).collect())
    base = np.array([r[0] for r in rows], dtype=np.float64)  # ncodes x d
    d = base.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    # subspace j's codebook = columns [j*dsub, (j+1)*dsub) of the seeds
    return np.stack([base[:, j * dsub:(j + 1) * dsub] for j in range(m)])


def kmeans_codebooks(embeddings: DataFrame, m: int = 8, ncodes: int = 16,
                     sample: int = 8192, iters: int = 10, seed: int = 42,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> np.ndarray:
    """K-means-trained codebooks — the quality upgrade over
    :func:`seed_codebooks`, same (m, ncodes, d/m) contract so encode /
    search / re-rank are unchanged (the drop-in the PQ paper intends).

    Trains per-subspace Lloyd's iterations on a DETERMINISTIC driver
    sample (hash-ordered, bounded by ``sample`` rows): PQ training
    classically needs only a density sample, never the corpus, so the
    collect is bounded regardless of corpus size.  Not used by oracle
    queries (the iteration isn't dialect-reproducible in DuckDB);
    recall vs the seed pick is measured in tools/scaling_check.py."""
    rows = (embeddings
            .orderBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(100003)),
                     id_col)
            .limit(sample).select(vec_col).collect())
    x = np.array([r[0] for r in rows], dtype=np.float64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if len(x) < ncodes:
        raise ValueError(f"training sample {len(x)} < ncodes={ncodes}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        xj = x[:, j * dsub:(j + 1) * dsub]
        # init: ncodes distinct sample rows, deterministic
        cb = xj[rng.choice(len(xj), size=ncodes, replace=False)].copy()
        for _ in range(iters):
            # assign to nearest codeword by L2 (= argmax dot on the
            # residual scale PQ uses); vectorized distance matrix
            d2 = ((xj[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            owner = d2.argmin(axis=1)
            for c in range(ncodes):
                mask = owner == c
                if mask.any():
                    cb[c] = xj[mask].mean(axis=0)
        books.append(cb)
    return np.stack(books)


def pq_encode(embeddings: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding",
              keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Encode every vector into m codebook indices (argmax inner
    product per subspace, ties to the lowest code — matching the
    oracle's ``ORDER BY dot DESC, code`` row_number pick).

    Encode-rule note: classic PQ assigns by MIN L2 (best
    reconstruction), and the two rules diverge when codeword norms
    vary.  Measured at sf0.1 (recall@10, re-rank-200): with TRAINED
    codebooks — the serving path — dot 0.83 vs L2 0.82 (Lloyd's
    codewords take the data's own norms, so the rules nearly
    coincide); only the seed-codebook SPEC twin differs (0.69 vs
    0.76), and it exists for oracle checkability, not recall.  The
    dot rule is kept because the whole SQL-replayed oracle family
    pins it; swap ``dots.argmax`` for an L2 argmin here AND in the
    oracles together if a corpus with wildly varying codeword norms
    ever makes the gap material.

    One Arrow-batched GEMM per (batch, subspace): X_j @ C_j^T is
    (batch x dsub)(dsub x ncodes) — vectorized C, no per-row Python.
    Narrow map, no shuffle; at scale this is the one-off index build.

    ``keep_cols`` pass through unchanged (e.g. the IVF ``cell`` key, so
    the encoded index can be written ``partitionBy(cell)`` and probed
    with literal partition pruning).
    """
    from pyspark.sql import types as T

    m, ncodes, dsub = codebooks.shape
    cb = codebooks  # captured; shipped once per worker via closure
    keep = list(keep_cols)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                # half-away grid like the DuckDB round(.,9) oracle
                # (np.round is half-to-even; r14 review — the
                # _np_round6 precedent at 9dp)
                raw = x[:, j * dsub:(j + 1) * dsub] @ cb[j].T
                dots = np.copysign(
                    np.floor(np.abs(raw) * 1e9 + 0.5), raw) / 1e9
                codes[:, j] = dots.argmax(axis=1)  # first max = lowest code
            out = {id_col: pdf[id_col], "codes": list(codes)}
            for c in keep:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    src = embeddings.select(id_col, vec_col,
                            *[c for c in keep if c != vec_col])
    fields = {f.name: f for f in src.schema.fields}
    out_schema = T.StructType(
        [fields[id_col],
         T.StructField("codes", T.ArrayType(T.IntegerType()))]
        + [fields[c] for c in keep])
    return src.mapInPandas(encode, schema=out_schema)


def adc_table(qvec: list[float], codebooks: np.ndarray) -> np.ndarray:
    """The query's asymmetric-distance table: table[j, c] = <q_j, C_j[c]>
    (rounded to the same 9dp grid as encode so both engines agree)."""
    m, ncodes, dsub = codebooks.shape
    q = np.asarray(qvec, dtype=np.float64)
    def _r9(v):
        # half-away at 9dp, matching pq_encode and the oracles
        return np.copysign(np.floor(np.abs(v) * 1e9 + 0.5), v) / 1e9
    return np.stack([_r9(cb_j @ q[j * dsub:(j + 1) * dsub])
                     for j, cb_j in enumerate(codebooks)])


def adc_score_col(table: np.ndarray, codes_col: str = "codes"):
    """The ADC scoring expression for one query's distance table: the
    table is folded in as an array literal, so scoring is a pure
    codegen expression (m lookups + adds per row) — no UDF, no join,
    no shuffle.  Shared by the single-query top-k
    (:func:`pq_search`) and the batched multi-query serve
    (``ann_index.search_index_many``), which evaluates one such column
    per query over a SINGLE pruned code scan."""
    m, ncodes = table.shape
    flat = [float(v) for v in table.ravel()]  # row-major: j*ncodes + c
    tbl = F.array(*[F.lit(v) for v in flat])
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            tbl, (j * ncodes + F.element_at(codes_col, j + 1) + 1)
            .cast("int")))


def pq_search(codes: DataFrame, table: np.ndarray, k: int = 10,
              id_col: str = "vec_id") -> DataFrame:
    """ADC top-k over the encoded corpus.

    Scoring rides :func:`adc_score_col` (whole-stage codegen) and the
    final top-k is TakeOrderedAndProject.
    """
    score = adc_score_col(table)
    return (codes
            .withColumn("adc_sim", F.round(score, 6) + F.lit(0.0))
            .select(id_col, "adc_sim")
            .orderBy(F.col("adc_sim").desc(), id_col)
            .limit(k))


def pq_rerank(embeddings: DataFrame, codes: DataFrame, table: np.ndarray,
              qvec: list[float], k: int = 10, shortlist: int = 200,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Two-stage PQ search: ADC shortlist (cheap, compressed scan) then
    exact cosine re-rank of the survivors against the raw vectors —
    the standard accuracy recovery for quantization loss.

    The shortlist is k-bounded (``shortlist`` rows), so the re-rank
    side is a broadcast join back into the raw corpus: the expensive
    exact cosine runs on *shortlist* rows, never the corpus.  The
    default of 200 is the measured knee on the fixtures: with trained
    codebooks recall@10 goes 0.54 -> 0.83 moving 50 -> 200 (sf0.1, the
    probe in tools/scaling_check.py) while the re-rank side stays a
    few hundred broadcast rows."""
    from ..functions import vector as V

    short = pq_search(codes, table, k=shortlist, id_col=id_col)
    q = F.array(*[F.lit(float(v)) for v in qvec])
    exact = V.cosine(F.col(vec_col), q)
    return (embeddings.join(F.broadcast(short.select(id_col)), id_col)
            .withColumn("sim", F.round(exact, 6) + F.lit(0.0))
            .select(id_col, "sim")
            .orderBy(F.col("sim").desc(), id_col)
            .limit(k))


def ivfpq_search(assigned: DataFrame, centroids: DataFrame,
                 codebooks: np.ndarray, qvec: list[float], k: int = 10,
                 nprobe: int = 8, shortlist: int = 400,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """IVF x PQ — the composed 100 TB serving plan (FAISS's IVFPQ,
    Jegou et al. TPAMI 2011 section V): the coarse quantizer prunes
    the scan to ~nprobe/nlist of the corpus, ADC scores the survivors
    on the compressed codes (1/64th of the bytes), and the exact
    cosine re-rank touches only ``shortlist`` raw vectors.  Net bytes
    read: (nprobe/nlist) x (1/64) of the raw corpus plus *shortlist*
    full vectors — the plan a real deployment runs when even the IVF
    probe set outgrows memory bandwidth.

    ``assigned`` is the cell-assigned corpus (``ivf.assign_cells``).
    Encoding rides the query here so the DuckDB oracle can value-check
    the whole composition; a deployment encodes ONCE offline and
    stores codes ``partitionBy(cell)`` (``operators/ann_index.py``
    owns that materialized lifecycle), making the probe's semi join
    literal partition pruning over 64x-smaller files.

    The nprobe=8 x shortlist=400 default is the MEASURED knee of the
    recall@10 table (``tools/scaling_check.py --knee``, README): the
    smallest grid point clearing 0.75 on the fixture corpus (0.77
    trained / 0.76 seed; composition recall is bounded by cell
    pruning, so nprobe is the lever).  Oracle-checked registry rows
    pass their own literals explicitly — the spec stays pinned while
    the serving default follows the measurement.
    """
    from . import ivf

    cells = ivf.probe_cells(centroids, qvec, nprobe)
    # prune BEFORE encoding: query-time encode touches only the probed
    # cells' vectors (a materialized deployment skips this stage
    # entirely — codes are precomputed and stored partitionBy(cell),
    # making this semi join literal partition pruning)
    cand = assigned.join(F.broadcast(cells), "cell", "left_semi")
    codes = pq_encode(cand, codebooks, id_col=id_col,
                      vec_col=vec_col, keep_cols=("cell",))
    table = adc_table(qvec, codebooks)
    short = pq_search(codes, table, k=shortlist, id_col=id_col)

    from ..functions import vector as V
    q = F.array(*[F.lit(float(v)) for v in qvec])
    exact = V.cosine(F.col(vec_col), q)
    # re-rank against the CELL-PRUNED frame, not the full corpus: every
    # shortlist id came from cand, so the result is identical, but on a
    # partitionBy(cell) store the pruned join keeps the final stage
    # inside the probed cells' files — joining `assigned` would re-open
    # every cell and break the bytes-read contract above
    return (cand.join(F.broadcast(short.select(id_col)), id_col)
            .withColumn("sim", F.round(exact, 6) + F.lit(0.0))
            .select(id_col, "cell", "sim")
            .orderBy(F.col("sim").desc(), id_col)
            .limit(k))
