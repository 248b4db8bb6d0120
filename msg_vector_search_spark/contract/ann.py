"""ANN scale path: IVF partition-pruned search (SURVEY 4 custom opportunity)"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions import analysis, vector as V
from ..operators import ann_index
from ..operators import corpus as corpus_ops
from ..operators import dedup as dedup_ops
from ..operators import ivf as ivf_ops
from ..operators import lsh as lsh_ops
from ..operators import packing as packing_ops
from ..operators import pq as pq_ops
from ..operators import retrieval as retrieval_ops
from ..operators import similarity as sim_ops
from ..sources import readers, sinks
from ..streaming import stream as streaming_ops

from .core import (
    _ann_built, _built, _copy, _fp_guard, _inverted_index, _publish_codebooks,
    _publish_fingerprint, _publish_frame, _publish_store_link, _query_vec, _t,
    _trained_dir, _upsert_base_path, register, rnd,
)
from .scans import (
    _ASSIGNED, _IVFPQ_SEED_CTES, _TRAINED_JS, _adc, _adc_many, _assign,
    _encode, _ivf_exact, _probe, _probe_cells, _probe_many, _q, _qs, _rerank,
    _seed_cent, _seed_codebooks, _short, _with,
)
from .dedup import (
    _DUCK_TOKENS, _MINHASH_PAIRS_SQL, _duck_shingles, _minhash_bands,
)
from .text import _DUCK_PUNCT_RATIO, _DUCK_STOP_RATIO


@register("ann_ivf_topk", oracle=_with(
    _seed_cent(), _q(), _assign(names=_ASSIGNED), _probe_cells(2))
    + _ivf_exact())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: 16 deterministic centroids, probe top-2 cells,
    brute-force within — the partition-pruned scale path past the
    brute-force flagship (scanned fraction ~ nprobe/nlist)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    return ivf_ops.ivf_search(assigned, cent, _query_vec(spark, sf_dir),
                              k=10, nprobe=2)


@register("ann_ivf_filtered", oracle=_with(
    _seed_cent(), _q(),
    _assign(carry=("embedding", "label"), names=_ASSIGNED), _probe_cells())
    + _ivf_exact("a.label, ", "a.label % 2 = 0"))
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — the hybrid query every vector store serves
    (metadata predicate AND nearest-neighbor): the label filter
    composes with the IVF probe as a plain scan predicate INSIDE the
    probed cells, so selectivity stacks multiplicatively with cell
    pruning (reads nprobe/nlist of the corpus, scores only rows
    passing the filter).  Pre-filtering beats post-filtering the
    top-k (which under-fills k when the predicate is selective);
    nprobe=4 compensates for the ~2x thinner candidate set.  On a
    materialized index the filter pushes into the pruned partitions'
    parquet scan."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent, keep_cols=("label",))
    cells = ivf_ops.probe_cells(cent, _query_vec(spark, sf_dir), 4)
    cand = (assigned
            .join(F.broadcast(cells), "cell", "left_semi")
            .filter(F.col("label") % 2 == 0))
    qv = _query_vec(spark, sf_dir)
    scored = sim_ops.similarity_to_query(cand, qv)
    return (scored
            .withColumn("sim", rnd(F.col("sim"), 6))
            .select("vec_id", "label", "cell", "sim")
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(10))


@register("ann_lsh_topk", oracle=f"""
WITH planes AS (
  SELECT embedding AS pv, row_number() OVER (ORDER BY vec_id) - 1 AS pidx
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
), buckets AS (
  SELECT e.vec_id, e.embedding,
         CAST(sum(CASE WHEN (round({V.duck_dot('e.embedding', 'p.pv')}, 6)
                             + 0) >= 0
                  THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END) AS BIGINT)
           AS bucket
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, e.embedding
), q AS (
  SELECT embedding AS qv, bucket AS qbucket FROM buckets WHERE vec_id = 0
), probe AS (
  SELECT DISTINCT pb FROM (
    SELECT qbucket AS pb FROM q
    UNION ALL
    SELECT xor(qbucket, CAST(1 AS BIGINT) << i) AS pb FROM q, range(4) t(i)
  )
), cand AS (
  SELECT b.vec_id, b.embedding, b.bucket
  FROM buckets b JOIN probe ON b.bucket = probe.pb
)
SELECT c.vec_id, c.bucket,
       (round({V.duck_cosine('c.embedding', 'q.qv')}, 6) + 0) AS sim
FROM cand c, q
ORDER BY sim DESC, c.vec_id LIMIT 10
""")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN search: 4 deterministic hyperplanes -> 16-bucket
    sign index assigned in ONE narrow codegen expression (no shuffle),
    multi-probe of the query bucket's Hamming-1 neighborhood (5 of 16
    buckets), brute-force cosine within — the bucketed scale path the
    brief asks for next to IVF.  The materialized form writes
    ``partitionBy("bucket")`` so the probe prunes partitions."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = lsh_ops.seed_planes(emb, 4)
    return lsh_ops.lsh_search(emb, planes, query_id=0, k=10)


# PQ alone: seed codebooks, the whole corpus encoded, ADC-scored.
_PQ_ADC_CTES = (_seed_codebooks(), _encode("embeddings e", out="assigned"),
                _q(), _adc("assigned"))


@register("ann_pq_topk", oracle=_with(*_PQ_ADC_CTES) + """
SELECT vec_id, adc_sim FROM adc
ORDER BY adc_sim DESC, vec_id LIMIT 10
""")
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al., TPAMI 2011): m=8
    subspaces x 16 seed codewords; corpus encoded to 8 small ints per
    vector (64x smaller than float32); query scored via an asymmetric-
    distance table folded into a codegen expression — m lookups + adds
    per row, no UDF/join/shuffle on the serving path, top-k as
    TakeOrderedAndProject.  The compressed-scan path past brute force
    when even the IVF probe set outgrows memory bandwidth."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_ops.seed_codebooks(emb, m=8, ncodes=16)
    codes = pq_ops.pq_encode(emb, cb)
    table = pq_ops.adc_table(_query_vec(spark, sf_dir), cb)
    return pq_ops.pq_search(codes, table, k=10)


@register("ann_pq_rerank", oracle=_with(*_PQ_ADC_CTES, _short(50))
          + _rerank("embeddings e", cell=False))
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ: ADC shortlist (top-50 on the compressed scan) then
    exact cosine re-rank of the survivors — the standard recovery for
    quantization loss.  The exact cosine runs on 50 broadcast-joined
    rows, never the corpus; at 100 TB stage 1 reads ~1/64th of the
    bytes and stage 2 is a point lookup per survivor."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_ops.seed_codebooks(emb, m=8, ncodes=16)
    codes = pq_ops.pq_encode(emb, cb)
    qv = _query_vec(spark, sf_dir)
    table = pq_ops.adc_table(qv, cb)
    return pq_ops.pq_rerank(emb, codes, table, qv, k=10, shortlist=50)


_PQRR_TRAINED_DIR = _trained_dir("ann_pq_rerank_trained")


@register("ann_pq_rerank_trained", oracle=_with(
    f"""cb AS (
  SELECT j, cw, cv
  FROM read_parquet('{_PQRR_TRAINED_DIR}/codebooks/*.parquet')
  WHERE {_fp_guard("ann_pq_rerank_trained", "embeddings")}
)""",
    _TRAINED_JS, _encode("embeddings e", out="assigned"), _q(),
    _adc("assigned"), _short(200)) + _rerank("embeddings e", cell=False))
def ann_pq_rerank_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION PQ path: k-means-trained codebooks (bounded
    deterministic sample, operators/pq.py:kmeans_codebooks) + the
    measured-knee shortlist of 200.  Identical plan shape to
    ann_pq_rerank — compressed ADC scan, TakeOrderedAndProject
    shortlist, broadcast exact re-rank — only the codebook literals
    differ.

    FULL oracle since r12 (VERDICT r11 item 1): Lloyd's iterations
    aren't DuckDB-reproducible, so the query persists the trained
    codebooks and the oracle replays encode -> ADC -> re-rank from the
    persisted parquet — ann_pq_rerank's oracle with the codebook CTE
    swapped from seed derivation to read_parquet.  Training QUALITY is
    separately invariant-checked (test_pq.py::
    test_trained_beats_seed_recall; recall table in
    tools/scaling_check.py — 0.37 seed vs 0.83 trained at sf0.1)."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_ops.kmeans_codebooks(emb, m=8, ncodes=16)
    _publish_codebooks("ann_pq_rerank_trained", cb)
    _publish_fingerprint(spark, sf_dir, "ann_pq_rerank_trained", "embeddings")
    codes = pq_ops.pq_encode(emb, cb)
    qv = _query_vec(spark, sf_dir)
    table = pq_ops.adc_table(qv, cb)
    return pq_ops.pq_rerank(emb, codes, table, qv, k=10, shortlist=200)


# The seed-artifact IVF x PQ composition, end to end in SQL — shared by
# the inline row (ann_ivfpq_topk) and the materialized-index row
# (ann_ivfpq_materialized): same artifacts, same parameters, so the
# persisted layout must reproduce the inline computation exactly.
_IVFPQ_SEED_ORACLE = _with(*_IVFPQ_SEED_CTES, _short()) + _rerank()


@register("ann_ivfpq_topk", oracle=_IVFPQ_SEED_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composition (FAISS IVFPQ shape): 16 coarse centroids
    prune the scan to the query's top-4 cells (~1/4 of the corpus
    here, nprobe/nlist in general — literal partition pruning once the
    codes are stored partitionBy(cell)); ADC scores the survivors on
    8-byte codes (1/64th of the raw bytes); exact cosine re-ranks the
    top-50 shortlist via broadcast join.  Every stage seed-picked so
    the DuckDB oracle value-checks the whole composition end-to-end;
    swap seed picks for kmeans_centroids/kmeans_codebooks for the
    trained production variant (same plan, better recall — measured in
    tools/scaling_check.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    cb = pq_ops.seed_codebooks(emb, m=8, ncodes=16)
    return pq_ops.ivfpq_search(assigned, cent, cb,
                               _query_vec(spark, sf_dir),
                               k=10, nprobe=4, shortlist=50)


def _materialized_index(spark: SparkSession, sf_dir: str,
                        trained: bool = False) -> str:
    """The cached full-corpus index (seed or trained artifacts)."""
    return _ann_built(spark, (sf_dir, "ann", trained),
                      lambda: _t(spark, sf_dir, "embeddings"),
                      trained=trained)


@register("ann_ivfpq_materialized", oracle=_IVFPQ_SEED_ORACLE)
def ann_ivfpq_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ served from the PERSISTED index (operators/ann_index):
    one partitionBy(cell) store holding each vector's PQ codes beside
    it, with centroid + codebook sidecars; the query probes the
    sidecar, prunes the store to the probed cells (literal partition
    pruning — pinned in tests/test_ivf_index.py), ADC-scores the
    pruned codes (a scan that reads no vector column) and
    exact-re-ranks the shortlist.  NO training and NO assignment at
    query time — the build job ran once (cached per fixture).  Seed
    artifacts, so the oracle is ann_ivfpq_topk's verbatim: the
    materialized layout must reproduce the inline composition
    bit-for-bit."""
    path = _materialized_index(spark, sf_dir, trained=False)
    return ann_index.search_index(spark, path, _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50)


# ann_ivfpq_topk's seed composition with the CELL COUNT DERIVED from
# the corpus instead of pinned: nlist = max(16, floor(sqrt(N))) — the
# first-write auto-sizing policy ann_index.build_index applies when
# nlist is not pinned (r17 mechanism 5), replayed in SQL so the
# driver's hash check covers the derived layout end-to-end.  FLOOR(
# SQRT()) equals Python's isqrt at every fixture N (500 -> 22,
# 2000 -> 44); codebook seeds stay ncodes=16 — auto-sizing moves only
# the coarse quantizer.
_IVFPQ_AUTOSIZED_ORACLE = _with("""nl AS (
  SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS nlist
  FROM embeddings
)""", _seed_cent("""(
    SELECT vec_id, embedding, row_number() OVER (ORDER BY vec_id) AS rn
    FROM embeddings)""", "WHERE rn <= (SELECT nlist FROM nl)"),
    *_IVFPQ_SEED_CTES[1:], _short()) + _rerank()


@register("ann_ivfpq_autosized", oracle=_IVFPQ_AUTOSIZED_ORACLE)
def ann_ivfpq_autosized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-SIZED index layout served end-to-end (VERDICT r17
    item 4): build_index with nlist=None derives the cell count from
    the corpus (max(16, isqrt(N)) — a serve pays nlist centroid
    distances plus ~nprobe*N/nlist candidate rows, and sqrt(N)
    equalizes the two growth terms), records it in the meta sidecar,
    and every later verb follows the recorded layout.  The oracle
    replays the same derivation in SQL, so the driver's hash check
    pins the auto-sizing policy itself — not just a pinned-layout
    instance of it.  This is the path the Engine facade now takes
    with nlist=None (ensure_index passes the facade's nlist through;
    the facade's encoder-backed store itself stays oracle-exempt by
    the SURVEY §5.2 model-UDF contract, so the policy is pinned here
    over the deterministic embeddings fixture instead).  Build cached
    per fixture (the offline job); the meta assertion fails loudly if
    the recorded layout ever drifts from the policy."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    path = _ann_built(spark, (sf_dir, "autosized"), lambda: emb,
                      nlist=None)
    meta = ann_index.read_meta(path)
    n = emb.count()
    assert meta["nlist"] == max(16, math.isqrt(int(n))), \
        (meta["nlist"], n)
    return ann_index.search_index(spark, path, _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50)


_TRAINED_STORE_LINK = _trained_dir("trained_index")

# Intrinsic scale guard for the store-link oracles (ADVICE r12): the
# linked store is always a FULL-corpus index, so its stored vectors
# must content-match the oracle's own embeddings view — no
# fingerprint sidecar needed, the store is its own witness.  Both
# operands are computed in DuckDB over identically-typed float
# arrays, so the native hash() rendering agrees; counts alone would
# NOT discriminate (sf0.001 and sf0.01 both hold 500 embeddings).  A
# link left pointing at another scale's store empties the centroid
# CTE and the row fails loudly instead of replaying stale artifacts.
_TRAINED_LINK_GUARD = (
    f"(SELECT sum(hash(CAST(vec_id AS VARCHAR) ||"
    f" CAST(embedding AS VARCHAR))) FROM read_parquet("
    f"'{_TRAINED_STORE_LINK}/vectors/*/*.parquet', "
    f"hive_partitioning = true)) = (SELECT sum(hash("
    f"CAST(vec_id AS VARCHAR) || CAST(embedding AS VARCHAR)))"
    f" FROM embeddings)")


# The trained store's centroid sidecar, behind the link guard.
_TRAINED_LINK_CENT = f"""cent AS (
  SELECT centroid_id, centroid_vec AS cvec
  FROM read_parquet('{_TRAINED_STORE_LINK}/centroids/*.parquet')
  WHERE {_TRAINED_LINK_GUARD}
)"""

# The SERVE path replayed from the linked store's own parquet: probe
# from the centroid sidecar, hive-partition-filtered code scan of the
# cell store, the adc_score_col fold over the STORED codes,
# shortlist-400.
_TRAINED_STORE_SERVE = (_TRAINED_LINK_CENT, f"""cb AS (
  SELECT j, cw, cv
  FROM read_parquet('{_TRAINED_STORE_LINK}/codebooks/*.parquet')
)""", _q(), f"""probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT 8
), codes AS (
  SELECT vec_id, codes, CAST(cell AS BIGINT) AS cell
  FROM read_parquet('{_TRAINED_STORE_LINK}/vectors/*/*.parquet',
                    hive_partitioning = true)
  WHERE CAST(cell AS BIGINT) IN (SELECT cell FROM probe)
)""", _TRAINED_JS, f"""expl AS (
  SELECT c.vec_id, js.j, c.codes[js.j + 1] AS cw
  FROM codes c CROSS JOIN js
), qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT e.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM expl e JOIN qtab t ON t.j = e.j AND t.cw = e.cw
  GROUP BY e.vec_id
), short AS (
  SELECT vec_id FROM adc ORDER BY adc_sim DESC, vec_id LIMIT 400
)""")


def _trained_vecs(*cols: str) -> str:
    """``vecs``: the linked store's vectors in the probed cells."""
    return f"""vecs AS (
  SELECT {", ".join(("vec_id", "embedding") + cols)}
  FROM read_parquet('{_TRAINED_STORE_LINK}/vectors/*/*.parquet',
                    hive_partitioning = true)
  WHERE CAST(cell AS BIGINT) IN (SELECT cell FROM probe)
)"""


@register("ann_ivfpq_materialized_trained", oracle=_with(
    *_TRAINED_STORE_SERVE, _trained_vecs("CAST(cell AS BIGINT) AS cell"))
    + f"""
SELECT v.vec_id, v.cell,
       (round({V.duck_cosine('v.embedding', '(SELECT qv FROM q)')}, 6) + 0)
         AS sim
FROM vecs v JOIN short s ON s.vec_id = v.vec_id
ORDER BY sim DESC, v.vec_id LIMIT 10
""")
def ann_ivfpq_materialized_trained(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The production serving row: trained IVF x PQ artifacts built
    ONCE (cached materialized index), queries served from the
    persisted store with cell partition pruning — no k-means, no
    Lloyd's, no assignment in the query path, unlike
    ann_ivfpq_trained (kept registered as the build-path check).

    FULL oracle since r12 (VERDICT r11 item 1): the query re-points a
    canonical symlink at the cached store and the oracle replays the
    SERVE path from the store's own parquet — probe from the persisted
    centroid sidecar, hive-partition-filtered code scan, the
    adc_score_col fold over the STORED codes (j*ncodes+code indexing,
    6dp), shortlist-400, exact re-rank over the stored vectors.  The
    store's content AND the serving math are both value-verified; only
    the training iterations themselves stay unchecked (they cannot
    be — but a wrong artifact would shift cells/codes and break the
    match)."""
    path = _materialized_index(spark, sf_dir, trained=True)
    _publish_store_link("trained_index", path)
    return ann_index.search_index(spark, path, _query_vec(spark, sf_dir),
                                  k=10, nprobe=8, shortlist=400)


@register("ann_trained_store_exhaustive", oracle=f"""
SELECT vec_id,
       (round({V.duck_cosine('e.embedding', 'q.qv')}, 6) + 0) AS sim
FROM embeddings e,
     (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
ORDER BY sim DESC, vec_id ASC LIMIT 10
""")
def ann_trained_store_exhaustive(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Full-oracle verification of the TRAINED store build — the one
    lifecycle leg the seed twins cannot reach (ann_ivfpq_materialized
    value-checks the same serving plan over SEED artifacts; the
    trained row is rows-only because k-means|| centroids are not
    DuckDB-reproducible).  Served in EXHAUSTIVE mode (nprobe = nlist,
    shortlist = corpus), the result is independent of WHERE the
    trained centroids put each vector: every cell is probed and every
    candidate survives the ADC shortlist into the exact re-rank, so
    the top-10 must equal brute-force cosine over the raw table.  A
    vector lost, duplicated, or corrupted anywhere in the trained
    build chain (k-means assign -> Lloyd's PQ encode ->
    partitionBy(cell) write -> pruned read) breaks the match — the
    store's CONTENT is value-verified even though the trained
    artifacts themselves cannot be.  The ``cell`` column is dropped:
    cell ids are a property of the trained centroids, not of the
    corpus."""
    path = _materialized_index(spark, sf_dir, trained=True)
    n = _t(spark, sf_dir, "embeddings").count()
    return (ann_index.search_index(spark, path,
                                   _query_vec(spark, sf_dir),
                                   k=10, nprobe=16, shortlist=n)
            .select("vec_id", "sim"))


def _labeled_index(spark: SparkSession, sf_dir: str) -> str:
    """The cached metadata-carrying materialized index
    (meta_cols=("label",)): every stored row carries the label column,
    so a where-predicate at serve time is a PRE-filter on the code scan."""
    return _ann_built(spark, (sf_dir, "labeled"),
                      lambda: _t(spark, sf_dir, "embeddings"),
                      meta_cols=("label",))


@register("ann_ivfpq_filtered_materialized", oracle=_with(
    _seed_cent(), _q(), _assign(carry=("embedding", "label")),
    _probe(where="label % 2 = 0"), _seed_codebooks(), _encode(), _adc(),
    _short()) + _rerank())
def ann_ivfpq_filtered_materialized(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Filtered ANN from the PERSISTED index — the production hybrid-
    filter shape ann_ivf_filtered inlines, now index-served: the build
    stored the label column in every row (meta_cols), so the
    ``label % 2 = 0`` predicate PRE-filters the code scan (stacking
    with the cell partition filter — ADC scores eligible rows only,
    and the shortlist is drawn from eligible rows, no post-filter
    recall loss) and the re-rank scan alike.  The oracle replays the
    seed-IVFPQ composition with the candidate set label-filtered
    before encoding — exactly the pre-filter semantics."""
    path = _labeled_index(spark, sf_dir)
    return ann_index.search_index(spark, path,
                                  _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50,
                                  where="label % 2 = 0")


_MANY_QIDS = [0, 7, 13, 21, 34]
_MANY_QIDS_LARGE = [0, 3, 7, 13, 21, 34, 55, 89]


def _ivfpq_many_oracle(qids: list) -> str:
    return _with(
        _seed_cent(), _qs(qids), _assign(), _probe_many(),
        _seed_codebooks(), _encode(carry=("cell",)), _adc_many()) + f"""
SELECT s.qid, c.vec_id, c.cell,
       (round({V.duck_cosine('c.embedding', 'q.qv')}, 6) + 0) AS sim
FROM short s
JOIN cand c ON c.vec_id = s.vec_id
JOIN qs q ON q.qid = s.qid
QUALIFY row_number() OVER (PARTITION BY s.qid
                           ORDER BY sim DESC, c.vec_id) <= 10
ORDER BY s.qid, sim DESC, c.vec_id
"""


_IVFPQ_MANY_ORACLE = _ivfpq_many_oracle(_MANY_QIDS)


@register("search_index_many", oracle=_IVFPQ_MANY_ORACLE)
def search_index_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query serving from the persisted IVFPQ index —
    the high-QPS path: five queries in ONE plan.  The probed cells of
    every query union into a single literal partition filter, the
    pruned code scan runs once, per-query scoring follows the
    strategy switch (Q=5 > literal_max=4, so this row serves on the
    broadcast-data path — tables joined on probed cell, constant
    plan; the small-batch literal path is value-verified by the same
    oracle through r10's windows and by the equivalence pins),
    per-query shortlists come from a qid-partitioned
    WindowGroupLimit, and the exact re-rank joins the broadcast
    (qid, id) shortlist plus the broadcast query dim against the
    pruned raw vectors.  Per-query results are bit-identical to five
    separate search_index calls (pinned in tests/test_ivf_index.py);
    the oracle replays the full seed-IVFPQ composition per query with
    QUALIFY windows over a shared candidate set — exactly the batched
    plan's sharing structure."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(_MANY_QIDS))
             .select("vec_id", "embedding").collect()}
    path = _materialized_index(spark, sf_dir, trained=False)
    return ann_index.search_index_many(spark, path, qrows, k=10,
                                       nprobe=4, shortlist=50)


@register("search_index_many_large",
          oracle=_ivfpq_many_oracle(_MANY_QIDS_LARGE))
def search_index_many_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVFPQ serving on the LARGE-Q strategy — the
    constant-plan path search_index_many switches to above
    ``literal_max`` queries (forced here with literal_max=0 so the
    driver value-verifies it directly): the per-query ADC tables move
    from plan literals into a broadcast (qid, table) frame, a
    broadcast (qid, cell) probe frame replicates each code row to
    exactly the queries that probed its cell, and ONE shared
    element_at fold scores every pair — plan size, analysis time and
    codegen constant in Q, per-row work sum_q |rows in q's cells| (the
    same bytes Q single calls would touch).  Same doubles as the
    literal strategy by construction (identical table values, lookup
    indices and summation order — pinned in tests/test_ivf_index.py);
    the oracle is the seed-IVFPQ per-query replay at Q=8."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
             for r in emb.filter(F.col("vec_id").isin(_MANY_QIDS_LARGE))
             .select("vec_id", "embedding").collect()}
    path = _materialized_index(spark, sf_dir, trained=False)
    return ann_index.search_index_many(spark, path, qrows, k=10,
                                       nprobe=4, shortlist=50,
                                       literal_max=0)


def _hybrid_queries(emb: DataFrame, terms: dict) -> dict:
    """``qid -> {terms, qvec}`` for ``hybrid_serve_many``: each qid's
    *terms* and the stored embedding of vec_id = qid."""
    qids = sorted(terms)
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin(qids))
          .select("vec_id", "embedding").collect()}
    return {qid: {"terms": terms[qid], "qvec": qv[qid]} for qid in qids}


_HYBRID_TERMS = {0: ["spark", "query", "dup"],
                 7: ["data", "join"],
                 13: ["the", "vector"]}


def _hybrid_many_oracle(doc_from: str = "documents",
                        vec_pred: str | None = None,
                        termsets: dict | None = None) -> str:
    """Batched-hybrid oracle: the seed-IVFPQ composition per qid
    (shared candidate CTEs, per-qid QUALIFY windows — the
    _IVFPQ_MANY_ORACLE construction at leg depth 50) for the vector
    leg, the scan-side BM25 per term set for the keyword leg (the
    index-served path is bit-identical, proven by the text rows), and
    reciprocal-rank fusion with per-qid QUALIFY top-10.

    *doc_from* / *vec_pred* render the FILTERED variant: the keyword
    leg scores over a document slice, the vector leg's candidate set
    is label-gated before ADC (pre-filter, exactly the serve path's
    semantics).  With the defaults both fragments render empty and the
    string is the unfiltered oracle, byte-identical to before.
    *termsets* overrides the qid -> terms map (the large-Q row)."""
    termsets = termsets or _HYBRID_TERMS
    qids = sorted(termsets)
    carry = ("embedding", "label") if vec_pred else ("embedding",)
    where = f"({vec_pred})" if vec_pred else ""
    kw_blocks = []
    for qid in qids:
        kw_blocks.append(f"""
SELECT CAST({qid} AS BIGINT) AS qid, doc_id,
       CAST(row_number() OVER (
         ORDER BY (round(bm25, 6) + 0) DESC, doc_id) AS INT) AS rank_kw
FROM ({retrieval_ops.duck_bm25(termsets[qid], _DUCK_TOKENS,
                               from_table=doc_from)})
QUALIFY row_number() OVER (
  ORDER BY (round(bm25, 6) + 0) DESC, doc_id) <= 50""")
    kwrank = "\nUNION ALL\n".join(kw_blocks)
    return _with(
        _seed_cent(), _qs(qids), _assign(carry=carry),
        _probe_many(where=where), _seed_codebooks(), _encode(carry=("cell",)),
        _adc_many(short="vshort"), f"""vrank AS (
  SELECT s.qid, c.vec_id AS doc_id,
         CAST(row_number() OVER (
           PARTITION BY s.qid
           ORDER BY (round({V.duck_cosine('c.embedding', 'q.qv')}, 6) + 0)
                      DESC, c.vec_id) AS INT) AS rank_vec
  FROM vshort s
  JOIN cand c ON c.vec_id = s.vec_id
  JOIN qs q ON q.qid = s.qid
), kwrank AS ({kwrank}
)""") + """
SELECT COALESCE(k.qid, v.qid) AS qid,
       COALESCE(k.doc_id, v.doc_id) AS doc_id,
       k.rank_kw, v.rank_vec,
       (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
            + COALESCE(1.0::DOUBLE / (60 + v.rank_vec), 0.0), 6) + 0)
         AS rrf
FROM kwrank k FULL JOIN vrank v
  ON k.qid = v.qid AND k.doc_id = v.doc_id
QUALIFY row_number() OVER (
  PARTITION BY COALESCE(k.qid, v.qid)
  ORDER BY (round(COALESCE(1.0::DOUBLE / (60 + k.rank_kw), 0.0)
               + COALESCE(1.0::DOUBLE / (60 + v.rank_vec), 0.0), 6) + 0)
             DESC,
           COALESCE(k.doc_id, v.doc_id)) <= 10
ORDER BY 1, rrf DESC, 2
"""


@register("hybrid_serve_many", oracle=_hybrid_many_oracle())
def hybrid_serve_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched HYBRID serving — the serving tier's capstone over the
    two batched index serves: three (term-set, query-vector) pairs
    answered with ONE pruned postings read (search_inverted_index_many)
    and ONE pruned code + vector scan (search_index_many), each leg
    ranked by its own qid-partitioned top-50 window, both legs
    collected (at most Q x 50 rows each) and fused by reciprocal-rank
    fusion on the driver, per-qid top-10 — the row is a local
    relation.  Q hybrid queries cost two index reads total and no
    Spark work after the legs.  The
    oracle composes the proven per-leg constructions — scan-side BM25
    (the index-served path is bit-identical) and the shared-candidate
    seed-IVFPQ replay — and fuses them with the same 6dp-grid RRF."""
    queries = _hybrid_queries(_t(spark, sf_dir, "embeddings"),
                              _HYBRID_TERMS)
    tpath = _inverted_index(spark, sf_dir)
    apath = _materialized_index(spark, sf_dir, trained=False)
    return retrieval_ops.hybrid_serve_many(spark, tpath, apath, queries,
                                           leg_k=50, k=10, nprobe=4,
                                           shortlist=50)


_HYBRID_TERMS_LARGE = {0: ["spark", "query", "dup"],
                       7: ["data", "join"],
                       13: ["the", "vector"],
                       21: ["spark", "data"],
                       34: ["query", "join", "vector"],
                       55: ["the", "dup"]}


@register("hybrid_serve_many_large",
          oracle=_hybrid_many_oracle(termsets=_HYBRID_TERMS_LARGE))
def hybrid_serve_many_large(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Batched hybrid serving with BOTH legs on the LARGE-Q strategy
    (forced with literal_max=0): the keyword leg's term sets and the
    vector leg's ADC tables travel as broadcast DATA through
    constant-size plans, ranks fuse on the driver exactly as in the
    literal-strategy row — fusion is strategy-agnostic because each
    leg's scores are bit-identical either way (pinned per leg in
    tests/).  Six queries
    so the driver value-verifies the strategy the serving tier
    actually uses at load (literal_max=4 default); the oracle is the
    same per-leg composition at Q=6."""
    queries = _hybrid_queries(_t(spark, sf_dir, "embeddings"),
                              _HYBRID_TERMS_LARGE)
    tpath = _inverted_index(spark, sf_dir)
    apath = _materialized_index(spark, sf_dir, trained=False)
    return retrieval_ops.hybrid_serve_many(spark, tpath, apath, queries,
                                           leg_k=50, k=10, nprobe=4,
                                           shortlist=50, literal_max=0)


# Shared by ann_index_upsert and streaming_index_upsert: the final
# index state after folding the vec_id%10==3 batch into the base-built
# artifacts, replayed as one full-corpus assignment + encoding against
# the BASE-derived centroids/codebooks.  Batch-split invariance is the
# point: one upsert call or N micro-batches must land on the same rows.
_INDEX_UPSERT_ORACLE = _with(
    "base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3)",
    _seed_cent("base"), _q(3), _assign(), _probe(), _seed_codebooks("base"),
    _encode(), _adc(), _short()) + _rerank()


@register("ann_index_upsert", oracle=_INDEX_UPSERT_ORACLE)
def ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance — the ANN side of the recurring
    crawl (pairs with dedup_incremental_new_docs): build the
    materialized index over 90% of the corpus, then fold the held-out
    10% in via ann_index.upsert_index — assignment against the
    PERSISTED centroids, encoding with the PERSISTED codebooks, merge
    rewriting only the cell partitions the batch maps into
    (O(batch + touched cells), never a rebuild).  The query vector IS
    a batch member (vec_id=3), so a green row proves post-upsert
    search finds the new vectors; the oracle replays assignment +
    encoding of the full corpus against the BASE-derived artifacts —
    exactly what build-then-upsert must equal.

    The base-corpus build is an offline scheduled job, so it runs once
    per fixture (cached, like _materialized_index); every invocation
    copies the immutable base artifact and folds the batch into the
    COPY — the upsert + post-upsert search are exercised fresh each
    run, the build is not re-paid."""
    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    path = _copy(_upsert_base_path(spark, sf_dir))
    ann_index.upsert_index(spark, path, batch)
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    return ann_index.search_index(spark, path, qv,
                                  k=10, nprobe=4, shortlist=50)


@register("streaming_index_upsert", oracle=_INDEX_UPSERT_ORACLE)
def streaming_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector ingestion into the materialized ANN index —
    the live form of ann_index_upsert: the new-vector batch arrives as
    a file stream (3 files, maxFilesPerTrigger=1, so THREE separate
    micro-batches), and foreachBatch folds each one into the persisted
    index via streaming_ops.stream_index_upsert.  Sharing
    ann_index_upsert's oracle proves batch-split invariance: N
    incremental micro-batch upserts land the index in exactly the
    state one bulk upsert (and the full-corpus replay) produces — the
    property that makes continuous vector ingest safe to retry and
    re-shard.  The in-stream maintenance policy runs OBSERVE-ONLY
    here (maintain_every=2, no thresholds armed): the decay signals
    are evaluated at ingest cadence through the same driver-checked
    row, and with no armed trigger the index state is bit-identical
    to plain streaming upsert.  The armed-threshold lifecycle
    (growth trips exactly one staged rebuild mid-stream) is pinned in
    tests/test_streaming_incremental.py."""
    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    path = _copy(_upsert_base_path(spark, sf_dir))

    src = os.path.join(tempfile.mkdtemp(prefix="annstream_"), "incoming")
    batch.repartition(3).write.parquet(src)
    decisions = streaming_ops.stream_index_upsert(
        spark, path, src, batch.schema, maintain_every=2)
    assert all(not d["rebuilt"] for d in decisions)
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()
    qv = [float(x) for x in qrow[0]]
    return ann_index.search_index(spark, path, qv,
                                  k=10, nprobe=4, shortlist=50)


@register("ann_index_rebuild", oracle=_IVFPQ_SEED_ORACLE)
def ann_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance closes the lifecycle loop: build on 90% of
    the corpus, upsert the rest (centroids deliberately frozen — cell
    balance drifts, which ann_index_stats observes), then REBUILD the
    index from the store's own vectors — the scheduled job the decay
    signal triggers.  The oracle is ann_ivfpq_topk's fresh-build
    composition verbatim: after the rebuild, seed artifacts derive
    from the full corpus exactly as a from-scratch build would, so
    upsert-then-rebuild must converge bit-for-bit to the fresh-build
    state — drift is maintenance debt, never permanent error."""
    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    path = _copy(_upsert_base_path(spark, sf_dir))
    ann_index.upsert_index(spark, path, batch)
    ann_index.rebuild_index(spark, path)
    return ann_index.search_index(spark, path,
                                  _query_vec(spark, sf_dir),
                                  k=10, nprobe=4, shortlist=50)


# Erasure replay: the index was BUILT on the full corpus (so centroids
# and PQ codebooks are full-corpus seed artifacts and do NOT move on
# erase — artifact movement is rebuild's job), then the vec_id%10==3
# slice was erased; serving sees only survivors under the unchanged
# layout.  The query vector is itself a victim's (vec_id=3): a green
# row proves an erased vector can no longer be returned even when the
# query is exactly that vector.
_INDEX_ERASE_ORACLE = _with(
    _seed_cent(), _q(3),
    "surv AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 3)",
    _assign("surv"), _probe(), _seed_codebooks(), _encode(), _adc(),
    _short()) + _rerank()


@register("ann_index_erase", oracle=_INDEX_ERASE_ORACLE)
def ann_index_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure propagation into the materialized ANN index — the
    missing store verb's index twin (delete_keys erases the primary
    store; this erases the serving artifact, closing the GDPR loop
    without an O(corpus) rebuild): build the full-corpus index once
    (cached), delete the vec_id%10==3 key set via
    ann_index.delete_index_keys — victims' cells found by a
    column-pruned id scan, both cell-partitioned stores rewritten only
    in those cells through the staged-manifest commit — then query
    with an ERASED vector's own embedding.  The oracle replays the
    composition over survivors under the unchanged full-corpus
    artifacts: erased rows must be unreachable, surviving rows must
    score exactly as before."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _copy(_materialized_index(spark, sf_dir))
    victims = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()
    touched = ann_index.delete_index_keys(spark, path, victims)
    assert touched, "erasure must touch at least one cell"
    return ann_index.search_index(spark, path,
                                  [float(x) for x in qrow[0]],
                                  k=10, nprobe=4, shortlist=50)


@register("streaming_index_erase", oracle=_INDEX_ERASE_ORACLE)
def streaming_index_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure requests arriving LIVE — the streaming twin of
    ann_index_erase, mirroring streaming_index_upsert on the forget
    side: the victim key set reaches the index as a file stream in
    THREE separate micro-batches (maxFilesPerTrigger=1), each folded
    by foreachBatch into delete_index_keys.  Sharing the batch row's
    oracle proves batch-split invariance for the GDPR verb: N partial
    erasures land the index in exactly the state one bulk erasure
    produces, so a deletion queue can be re-sharded and re-tried
    freely — the property that makes forget-on-stream deployable."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _copy(_materialized_index(spark, sf_dir))
    victims = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    qrow = emb.filter(F.col("vec_id") == 3).select("embedding").head()

    src = os.path.join(tempfile.mkdtemp(prefix="erasestream_"), "keys")
    victims.repartition(3).write.parquet(src)
    streaming_ops.foreach_file_batch(
        spark, src, victims.schema,
        lambda bdf, _: ann_index.delete_index_keys(bdf.sparkSession,
                                                   path, bdf),
        "erasestream")
    return ann_index.search_index(spark, path,
                                  [float(x) for x in qrow[0]],
                                  k=10, nprobe=4, shortlist=50)


# Per-cell row counts of the replayed assignment: the cell store must
# hold exactly these rows, each with its codes.
_CELL_COUNTS = """
SELECT cell, count(*) AS n_vectors, count(*) AS n_codes
FROM celled GROUP BY cell ORDER BY cell
"""


@register("ann_index_stats_trained",
          oracle=_with(_TRAINED_LINK_CENT, _assign(carry=())) + _CELL_COUNTS)
def ann_index_stats_trained(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """ann_index_stats over the TRAINED store, full-oracle via the r12
    artifact replay: DuckDB re-derives every vector's cell from the
    PERSISTED trained centroids and the counts must equal what the
    physical cell directories hold — the layout-equals-assignment
    invariant for the index the deployment actually serves (the seed
    twin pins the same invariant for the spec artifacts).  Cost: one
    count-per-partition scan of the cell store, no vector bytes."""
    path = _materialized_index(spark, sf_dir, trained=True)
    _publish_store_link("trained_index", path)
    return _index_cell_counts(spark, path)


def _index_cell_counts(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell rows and rows carrying PQ codes of an index's cell
    store, from one scan that reads the codes column and no vectors."""
    return (spark.read.parquet(os.path.join(path, "vectors"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.count("codes").alias("n_codes"))
            .select(F.col("cell").cast("long").alias("cell"),
                    "n_vectors", "n_codes")
            .orderBy("cell"))


@register("ann_index_stats",
          oracle=_with(_seed_cent(), _assign(carry=())) + _CELL_COUNTS)
def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index observability: per-cell occupancy of the persisted cell
    store read straight off its cell-partitioned layout — the
    cell-balance signal that schedules a centroid retrain (upsert_index
    deliberately never moves centroids; decay shows up here first) —
    and the every-row-has-codes invariant (n_vectors == n_codes per
    cell).  The oracle replays the seed assignment, so a green row also
    proves the physical directory layout holds exactly the rows the
    layout function assigns.  Cost: one scan of count per partition
    that reads the codes column — no vector bytes read."""
    return _index_cell_counts(
        spark, _materialized_index(spark, sf_dir, trained=False))


def _day_events(spark: SparkSession, sf_dir: str) -> str:
    """The cached copy of events written partitionBy(day)."""
    return _built((sf_dir, "day_events"), lambda path: (
        _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        .repartition("day").write.partitionBy("day").parquet(path)),
        leaf="events")


@register("partitioned_time_scan", oracle="""
SELECT event_id, user_id, event_type, ts
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-13 00:00:00'
""")
def partitioned_time_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style date partitioning — the third physical layout next
    to Z-order clustering and bucketing: events written
    partitionBy(day), then a 3-day range query FROM THE PARTITIONED
    COPY.  The day predicate binds to the partition column, so
    Catalyst plans it as PartitionFilters — directories outside the
    window are never even LISTED, the dominant economics of every
    time-series corpus at 100 TB (a day of a year-long table is
    ~0.3% of the files).  The residual ts range finishes exactness
    inside the kept days; the oracle is the same query on the raw
    table, proving the partitioned rewrite is lossless.  Write once
    per fixture (cached), query many."""
    part = spark.read.parquet(_day_events(spark, sf_dir))
    lo, hi = "2024-01-10", "2024-01-13"
    return (part
            .filter((F.col("day") >= F.lit(lo).cast("date"))
                    & (F.col("day") < F.lit(hi).cast("date")))
            .filter((F.col("ts") >= F.lit(f"{lo} 00:00:00").cast("timestamp"))
                    & (F.col("ts") < F.lit(f"{hi} 00:00:00").cast("timestamp")))
            .select("event_id", "user_id", "event_type", "ts"))


@register("store_bucket_stats", oracle="""
SELECT CAST(floor(event_id / 4096) AS INT) AS bucket,
       count(*) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS min_key,
       CAST(max(event_id) AS BIGINT) AS max_key
FROM events GROUP BY 1 ORDER BY 1
""")
def store_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store observability: physical occupancy of the range-layout
    upsert store, read off the _bkt partition directories themselves.
    The oracle recomputes the layout function (key div 4096) from the
    raw table, so a green row proves every key physically lives in the
    directory the layout function maps it to — the invariant ALL
    directory-pruned operations (incremental upsert, delete_keys,
    watermark reads) silently rely on.  min/max per bucket double as
    the contiguity evidence behind the range layout's O(batch/width)
    touched-directory bound."""
    store = _built((sf_dir, "range_store"), lambda path: (
        sinks.upsert_parquet(
            spark, _t(spark, sf_dir, "events")
            .select("event_id", "user_id", "ts"),
            path, key="event_id", order_col="ts", layout="range")),
        leaf="store")
    raw = spark.read.parquet(store)
    return (raw.groupBy(F.col(sinks.BUCKET_COL).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("event_id").alias("min_key"),
                 F.max("event_id").alias("max_key"))
            .orderBy("bucket"))


_SIM_JOIN_IVF_SQL = _with(_seed_cent(), _assign(names=_ASSIGNED)) + f""",
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
         (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) AS sim
  FROM assigned a JOIN assigned b ON a.cell = b.cell
  WHERE a.vec_id <> b.vec_id
)
SELECT id_a, id_b, cell, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY sim DESC, id_b) AS rn
  FROM pairs) WHERE rn <= 3
"""


@register("sim_join_ivf", oracle=_SIM_JOIN_IVF_SQL)
def sim_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity JOIN, both sides large: every vector's top-3 cosine
    neighbors within its IVF cell — blocked co-location instead of the
    broadcast the query-set KNN uses.  One shuffle on the cell key; the
    quadratic work never leaves a cell.  max_cell turns on the exact
    grid-salting skew guard (output identical — the oracle above is the
    unsalted join)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    # max_cell bounds the hottest reducer at ~max_cell*cell pairs; the
    # cost is replicating side A ceil(cell/max_cell) times, so the cap
    # is set well above the EXPECTED cell size (corpus/nlist) and only
    # bites outlier cells.
    return sim_ops.similarity_join_topk(assigned, "cell", k=3,
                                        max_cell=512)


_SIM_JOIN_IVF_P2_SQL = _with(
    _seed_cent(), _assign(names=_ASSIGNED, cells=2)) + f""",
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         min(a.cell) AS cell,
         max((round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0))
           AS sim
  FROM assigned a JOIN assigned b ON a.cell = b.cell
  WHERE a.vec_id <> b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, cell, sim FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY sim DESC, id_b) AS rn
  FROM pairs) WHERE rn <= 3
"""


@register("sim_join_ivf_p2", oracle=_SIM_JOIN_IVF_P2_SQL)
def sim_join_ivf_p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cell similarity join: every vector assigned to its TWO
    nearest cells (ivf.assign_cells_multi), pairs meeting in any shared
    cell, deduped before ranking.  Fixes the p=1 recall gap — a pair of
    near-dups straddling a cell boundary is never compared by
    sim_join_ivf; with p=2 they meet whenever either's second cell is
    the other's first (pair-recall delta measured in
    tools/scaling_check.py).  Runs the GEMM kernel — p=2 quadruples
    within-cell pair volume, exactly when BLAS beats the interpreted
    dot (~2.5x here); the expression form is equality-pinned in
    tests/test_skew_guards.py and shares this oracle (reorder drift
    ~1e-15, 9 orders inside the 6dp grid)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells_multi(emb, cent, nprobe=2)
    return sim_ops.similarity_join_topk_pandas(assigned, "cell", k=3,
                                               dedup_pairs=True)


@register("sim_join_ivf_pandas", oracle=_SIM_JOIN_IVF_SQL)
def sim_join_ivf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same similarity join with the within-cell kernel as ONE
    BLAS matrix multiply per cell (applyInPandas) instead of an
    interpreted higher-order dot per pair — ~10x at sf0.1, and the
    right physical kernel when cells hold thousands of rows.  Same
    oracle as sim_join_ivf: GEMM reorders float accumulation, but the
    ~1e-15 drift sits ~9 orders of magnitude inside the 6dp rounding
    grid."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = ivf_ops.seed_centroids(emb, 16)
    assigned = ivf_ops.assign_cells(emb, cent)
    return sim_ops.similarity_join_topk_pandas(assigned, "cell", k=3)


@register("topk_quantized_int8", oracle=f"""
WITH q AS (
  SELECT {V.duck_dequantize_int8('embedding')} AS qv
  FROM embeddings WHERE vec_id = 0
), dq AS (
  SELECT vec_id, {V.duck_dequantize_int8('embedding')} AS dvec
  FROM embeddings
)
SELECT d.vec_id,
       (round({V.duck_cosine('d.dvec', 'q.qv')}, 6) + 0) AS sim
FROM dq d, q
ORDER BY sim DESC, d.vec_id LIMIT 30
""")
def topk_quantized_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship top-k over int8-quantized vectors: per-vector
    symmetric quantize/dequantize fused into the scoring expression, so
    the accuracy of the 4x-smaller storage path is value-checked
    end-to-end against the oracle doing identical arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    dq = emb.select("vec_id", V.dequantize_int8("embedding").alias("dvec"))
    qrow = (dq.filter(F.col("vec_id") == 0)
            .select(F.col("dvec").alias("qv")))
    sim = V.cosine(F.col("dvec"), F.col("qv"))
    return (dq.crossJoin(F.broadcast(qrow))
            .withColumn("sim", F.round(sim, 6) + F.lit(0.0))
            .orderBy(F.col("sim").desc(), F.col("vec_id"))
            .limit(30)
            .select("vec_id", "sim"))


# The MinHash+LSH pair graph (both directions) and its reachability
# walk from every node: min(comp) per id is the connected component.
_CC_WALK = f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
walk(id, comp) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
)"""
_CC_ORACLE = _CC_WALK + """
SELECT id, min(comp) AS component FROM walk GROUP BY id
"""


@register("dedup_components", oracle=_CC_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash+LSH candidate-pair graph:
    the clustering stage that turns near-dup PAIRS into dedup DECISIONS
    (component id = smallest reachable doc id = the canonical doc to
    keep).  Alternating large-star/small-star contraction (Kiveris
    SoCC'14): rounds bounded by log^2(component size), not graph
    diameter, so chain-shaped dup graphs converge too; the oracle is
    DuckDB's recursive CTE over the same pair set.  Min-label
    propagation remains available as connected_components()."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.dedup_minhash_lsh(docs, num_hashes=8, bands=4,
                                        shingle_n=3, max_block=32)
    return dedup_ops.connected_components_star(pairs)


@register("dedup_keep_canonical", oracle=_CC_WALK + """,
cc AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE id <> component)
""")
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline materialized end-to-end: LSH candidate pairs
    (grid-salted band join — the eighth review aligned this row with
    its guarded siblings; pair set identical, hypothesis-pinned) ->
    connected components -> DROP every non-canonical member (keep the
    smallest id per component) via an anti join against the drop
    list.  NO broadcast hint on the drop list (eighth review): its
    size is O(duplicate documents) — corpus-proportional at a real
    crawl's dup rate, not dimension-bounded — so the planner must be
    free to pick a shuffle anti join at scale (at fixture scale AQE
    still broadcasts it under the threshold, same physical plan)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_ops.dedup_minhash_lsh(docs, num_hashes=8, bands=4,
                                        shingle_n=3, max_block=32)
    comp = dedup_ops.connected_components_star(pairs)
    drops = comp.filter(F.col("id") != F.col("component")).select("id")
    return (docs.join(drops, docs["doc_id"] == drops["id"], "left_anti")
            .select("doc_id", "source"))


@register("dedup_repeated_chunks", oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 10 = 0
), toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM corpus
), sized AS (
  SELECT doc_id, toks,
         CAST(ceil(len(toks) / 16.0) AS INT) AS n FROM toks
), chunks AS (
  SELECT doc_id,
         unnest(range(n)) AS pos,
         unnest([array_to_string(toks[i * 16 + 1 : i * 16 + 16], ' ')
                 FOR i IN range(n)]) AS chunk
  FROM sized WHERE n > 0
), counted AS (
  SELECT doc_id, pos, chunk,
         count(*) OVER (PARTITION BY chunk) AS cnt
  FROM chunks
)
SELECT doc_id, count(*) AS kept_chunks,
       string_agg(chunk, ' ' ORDER BY pos) AS clean_text
FROM counted WHERE cnt <= 1
GROUP BY doc_id
""")
def dedup_repeated_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup (CCNet/Dolma paragraph stage on token
    windows): 16-token chunks repeated anywhere in the corpus are
    dropped and docs reassembled from survivors.  Every 10th doc is
    re-injected verbatim, so BOTH copies lose all their chunks and
    vanish — the exact-boilerplate kill the stage exists for."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (docs.filter(F.col("doc_id") % 10 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000))
    return dedup_ops.dedup_repeated_chunks(docs.unionByName(dups),
                                           chunk_tokens=16,
                                           max_occurrences=1)


# ``corpus``/``toks``/``sized``: the documents plus every 10th one
# re-injected SHIFTED BY ONE TOKEN (a unique 'zshiftN' prefix) as
# doc_id + 1000000, tokenized
_SHIFTED_CORPUS = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'zshift' || CAST(doc_id AS VARCHAR) || ' ' || text AS text
  FROM documents WHERE doc_id % 10 = 0
), toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM corpus
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
)"""
# ``wins``/``cnt``: every overlapping 16-token window hash of ``sized``
# and its count over the corpus
_WINDOW_COUNTS = _SHIFTED_CORPUS + """, wins AS (
  SELECT doc_id,
         unnest([(('0x' || substr(md5(
                    array_to_string(t[p : p + 15], ' ')), 1, 12))::BIGINT)
                 FOR p IN range(1, greatest(n - 15, 1) + 1)]) AS whash
  FROM sized
), cnt AS (SELECT whash, count(*) AS c FROM wins GROUP BY 1)"""


def _with_shifted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of :data:`_SHIFTED_CORPUS` (doc_id, text)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                    F.concat(F.lit("zshift"),
                             F.col("doc_id").cast("string"), F.lit(" "),
                             F.col("text")).alias("text")))
    return docs.unionByName(dups)


@register("dedup_unaligned_substring", oracle=_SHIFTED_CORPUS + """, wins AS (
  SELECT doc_id,
         unnest(range(1, greatest(n - 15, 1) + 1)) AS wpos,
         unnest([(('0x' || substr(md5(
                    array_to_string(t[p : p + 15], ' ')), 1, 12))::BIGINT)
                 FOR p IN range(1, greatest(n - 15, 1) + 1)]) AS whash
  FROM sized
), cnt AS (SELECT whash, count(*) AS c FROM wins GROUP BY 1),
cov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT w.doc_id, unnest(range(w.wpos, w.wpos + 16)) AS pos
    FROM wins w JOIN cnt USING (whash) WHERE cnt.c > 1)
), tokpos AS (
  SELECT doc_id, unnest(range(1, n + 1)) AS pos, unnest(t) AS token
  FROM sized
)
SELECT tp.doc_id, count(*) AS kept_tokens,
       string_agg(tp.token, ' ' ORDER BY tp.pos) AS clean_text
FROM tokpos tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
WHERE cov.pos IS NULL
GROUP BY tp.doc_id
""")
def dedup_unaligned_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unaligned repeated-substring dedup (VERDICT r12 item 1 — the
    coverage hole in the chunk-grid stage): every 10th doc is
    re-injected SHIFTED BY ONE TOKEN (a unique 'zshiftN' prefix), so
    none of its copied 16-token chunks land on dedup_repeated_chunks'
    fixed grid — that operator keeps both copies whole — while the
    overlapping-window operator (dedup.dedup_unaligned_substring)
    matches every shared window at its shifted offset: the original
    vanishes entirely and the copy keeps exactly its one novel prefix
    token.  tests/test_dedup_units.py pins the gap this row closes
    (the shifted duplicate IS caught here, is NOT caught by the
    grid)."""
    return dedup_ops.dedup_unaligned_substring(
        _with_shifted_dups(spark, sf_dir), window_tokens=16,
        max_occurrences=1)


@register("text_novelty_score", oracle=_WINDOW_COUNTS + """
SELECT w.doc_id, count(*) AS n_windows,
       CAST(sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_windows,
       (round(1.0 - sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 6) + 0) AS novelty
FROM wins w JOIN cnt USING (whash)
GROUP BY w.doc_id
""")
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (dedup.substring_novelty): fraction of a
    doc's overlapping 16-token window hashes unique in the corpus —
    the quality-GATE rendering of unaligned substring dedup (score
    and threshold/weight first, destructive-rewrite only when
    needed).  Same one-token-shifted injections as the dedup row: the
    originals and copies read novelty ~0 (only the copies' one novel
    prefix window differs), untouched docs read 1.0."""
    return dedup_ops.substring_novelty(_with_shifted_dups(spark, sf_dir),
                                       window_tokens=16)


@register("curate_by_novelty", oracle=_WINDOW_COUNTS + """,
nov AS (
  SELECT w.doc_id,
         (round(1.0 - sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END)
                      / CAST(count(*) AS DOUBLE), 6) + 0) AS novelty
  FROM wins w JOIN cnt USING (whash)
  GROUP BY w.doc_id
)
SELECT c.doc_id, n.novelty,
       CAST(length(c.text) AS BIGINT) AS n_chars
FROM corpus c JOIN nov n USING (doc_id)
WHERE n.novelty >= 0.5
""")
def curate_by_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty-GATED curation (VERDICT r13 item 4's pipeline half):
    score every doc with dedup.substring_novelty, keep docs whose
    overlapping-window novelty clears 0.5 — the non-destructive
    curation stage that scores first and rewrites never (weight or
    drop by the score; Lee et al. 2022 shape as a quality gate).
    Same one-token-shifted injections as text_novelty_score: both
    members of every shifted pair read ~0 novelty and are dropped;
    untouched docs read 1.0 and survive with their payload intact.
    Plan = the novelty scorer (one explode, one count-over-window on
    the uniform hash key, one per-doc aggregate) plus ONE doc-keyed
    equi-join back to the corpus — nothing corpus-quadratic; the gate
    prunes before any downstream (training) stage sees the rows."""
    corpus = _with_shifted_dups(spark, sf_dir)
    nov = dedup_ops.substring_novelty(corpus, window_tokens=16)
    return (corpus.join(nov.filter(F.col("novelty") >= 0.5)
                        .select("doc_id", "novelty"), "doc_id")
            .select("doc_id", "novelty",
                    F.length("text").cast("long").alias("n_chars")))


@register("pipeline_clean_corpus", oracle=f"""
WITH RECURSIVE kept AS (
  SELECT doc_id, text, n_chars
  FROM (SELECT doc_id, text, n_chars, {_DUCK_TOKENS} AS toks
        FROM documents) t
  WHERE {_DUCK_STOP_RATIO} >= 0.08
    AND (round(
          0.5 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
        + 0.5 * least({_DUCK_STOP_RATIO} * 5.0, 1.0)
        - 0.25 * least({_DUCK_PUNCT_RATIO} * 5.0, 1.0), 6) + 0) >= 0.3
), exact AS (
  SELECT doc_id, text, n_chars FROM (
    SELECT doc_id, text, n_chars,
           row_number() OVER (
             PARTITION BY md5(array_to_string({_DUCK_TOKENS}, ' '))
             ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1
), {_minhash_bands(f"(SELECT doc_id, {_DUCK_TOKENS} AS toks FROM exact) t")},
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id <> b.doc_id
), walk AS (
  SELECT DISTINCT src AS id, src AS comp FROM edges
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
), cc AS (
  SELECT id, min(comp) AS component FROM walk GROUP BY id
)
SELECT doc_id, n_chars FROM exact
WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> component)
""")
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline end-to-end: language gate -> quality
    gate -> exact dedup (keep smallest id per fingerprint) -> near-dup
    dedup (LSH candidates, star connected components, keep canonical) —
    one composed DataFrame plan.

    Scale shape per stage: the two gates are Column predicates riding
    the scan (no shuffle); exact dedup is one window on the uniform
    fingerprint; LSH is the guarded band join; components is the
    log^2-round star contraction; the final drop is a broadcast anti
    join, so the corpus is never shuffled after dedup decisions are
    made."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    kept = (docs
            .filter(analysis.lang_id(F.col("text")) == "en")
            .filter(analysis.quality_score(F.col("text")) >= 0.3))
    w = W.partitionBy(analysis.fingerprint_md5("text")).orderBy("doc_id")
    exact = (kept.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
    pairs = dedup_ops.dedup_minhash_lsh(exact, num_hashes=8, bands=4,
                                        shingle_n=3, max_block=32)
    comp = dedup_ops.connected_components_star(pairs)
    drops = comp.filter(F.col("id") != F.col("component")).select("id")
    # no broadcast hint: the drop list is O(duplicates), corpus-
    # proportional at a real dup rate (eighth review) — AQE still
    # broadcasts it at fixture scale, shuffles it at 100 TB
    return (exact.join(drops, exact["doc_id"] == drops["id"],
                       "left_anti")
            .select("doc_id", "n_chars"))


@register("stratified_sample", oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} % 100 <
      (CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 80 ELSE 100 END)
""")
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified downsampling — the data-mixing primitive of
    a training pipeline (downweight the dominant language, keep the
    rest).  Deterministic id-hash buckets, not rand(): reproducible
    across runs and retries, and the whole thing is a narrow filter on
    the scan — no shuffle at any scale."""
    docs = _t(spark, sf_dir, "documents")
    rate = (F.when(F.col("lang") == "en", F.lit(40))
            .when(F.col("lang") == "zh", F.lit(80))
            .otherwise(F.lit(100)))
    return (docs.filter(analysis.stratified_keep(F.col("doc_id"), rate))
            .select("doc_id", "lang"))


@register("text_tfidf_topterms", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         (round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) + 0)
           AS tfidf
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rn
  FROM scored) WHERE rn <= 3
""")
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF: per-document top-3 terms scored against
    corpus-wide document frequencies — the two-pass shape (global stats
    joined back to per-doc counts) that keyword extraction, quality
    weighting and weighted MinHash all build on.

    Scale: the DF table is vocabulary-sized, so it does NOT broadcast —
    the term join co-partitions both sides on the (uniform) term key,
    then one more shuffle re-keys by doc for the windowed top-k.  At
    100 TB prune the vocabulary first (df > 1 cutoff drops the hapax
    half) and the per-doc aggregate is map-side partial."""
    docs = _t(spark, sf_dir, "documents")
    tok = readers.widen(docs).select(
        "doc_id", F.explode(analysis.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n))
              .withColumn(
                  "tfidf",
                  rnd(F.col("tf") * F.log(F.col("n_docs").cast("double")
                                          / F.col("df")), 6)))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                             F.col("term"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("doc_id", "term", "tfidf"))


@register("text_unigram_logprob", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
), cnt AS (
  SELECT term, count(*) AS c FROM tok GROUP BY 1
), tot AS (SELECT count(*) AS n FROM tok)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       (round(avg(-ln(CAST(c.c AS DOUBLE) / tot.n)), 6) + 0)
         AS avg_neg_logprob
FROM tok t JOIN cnt c USING (term), tot
GROUP BY t.doc_id
""")
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality gate (the CCNet/Gopher filter shape):
    score every document by the average negative log-probability of
    its tokens under the corpus's own unigram model.  High scores =
    improbable token streams (gibberish, boilerplate soup) — the rows
    a training pipeline drops or down-weights.

    Same two-pass scale shape as TF-IDF: the unigram table is
    vocabulary-sized so it does NOT broadcast — the term join
    co-partitions on the uniform token key; the total-count scalar IS
    broadcast (one row); the per-doc average is map-side partial.  At
    100 TB the model table comes from a held-out reference corpus
    instead of the corpus itself — the plan is identical."""
    docs = _t(spark, sf_dir, "documents")
    tok = readers.widen(docs).select(
        "doc_id", F.explode(analysis.tokens(F.col("text"))).alias("term"))
    cnt = tok.groupBy("term").agg(F.count("*").alias("c"))
    tot = tok.agg(F.count("*").alias("n"))
    return (tok.join(cnt, "term")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_toks"),
                 rnd(F.avg(-F.log(F.col("c").cast("double")
                                  / F.col("n"))), 6)
                 .alias("avg_neg_logprob")))


@register("dsir_importance_sample", oracle=f"""
WITH tok AS (
  SELECT doc_id, (source IN ('src1', 'src3')) AS tgt,
         unnest({_DUCK_TOKENS}) AS term
  FROM documents
), ca AS (SELECT term, count(*) AS c_all FROM tok GROUP BY 1),
ct AS (SELECT term, count(*) AS c_t FROM tok WHERE tgt GROUP BY 1),
vv AS (SELECT count(*) AS v, sum(c_all) AS n_all FROM ca),
tt AS (SELECT count(*) AS n_t FROM tok WHERE tgt),
r AS (
  SELECT ca.term,
         (ln(CAST(coalesce(ct.c_t, 0) + 1 AS DOUBLE) / (tt.n_t + vv.v))
          - ln(CAST(ca.c_all + 1 AS DOUBLE) / (vv.n_all + vv.v))) AS lr
  FROM ca LEFT JOIN ct USING (term), vv, tt
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       (round(avg(r.lr), 6) + 0) AS avg_log_ratio
FROM tok t JOIN r USING (term) WHERE NOT t.tgt
GROUP BY t.doc_id
ORDER BY avg_log_ratio DESC, doc_id LIMIT 100
""")
def dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): rank candidate documents
    by the mean per-token log importance ratio between a target-slice
    unigram model (source in src1/src3 — the held-out quality proxy)
    and the raw-corpus model, add-one smoothed over the shared vocab.
    The keep-the-target-lookalikes primitive a pretraining pipeline
    runs after dedup and before packing.  Scale notes in
    corpus.dsir_importance: vocabulary-sized count tables co-partition
    on the token key (never broadcast), the two scalar totals do
    broadcast, per-doc means are map-side partial, top-k is
    TakeOrderedAndProject."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.dsir_importance(
        docs, F.col("source").isin("src1", "src3"))


@register("dsir_hashed_bigram", oracle=f"""
WITH lt AS (
  SELECT doc_id, (source IN ('src1', 'src3')) AS tgt,
         {_DUCK_TOKENS} AS t
  FROM documents
), tok AS (
  SELECT doc_id, tgt,
         ((('0x' || substr(md5(f), 1, 12))::BIGINT) % 4096) AS b
  FROM (
    SELECT doc_id, tgt,
           unnest(list_concat(
             t, [t[i + 1] || ' ' || t[i + 2]
                 FOR i IN range(len(t) - 1)])) AS f
    FROM lt)
), ca AS (SELECT b, count(*) AS c_all FROM tok GROUP BY 1),
ct AS (SELECT b, count(*) AS c_t FROM tok WHERE tgt GROUP BY 1),
na AS (SELECT sum(c_all) AS n_all FROM ca),
nt AS (SELECT count(*) AS n_t FROM tok WHERE tgt),
r AS (
  SELECT ca.b,
         (ln(CAST(coalesce(ct.c_t, 0) + 1 AS DOUBLE) / (nt.n_t + 4096))
          - ln(CAST(ca.c_all + 1 AS DOUBLE) / (na.n_all + 4096))) AS lr
  FROM ca LEFT JOIN ct USING (b), na, nt
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       (round(avg(r.lr), 6) + 0) AS avg_log_ratio
FROM tok t JOIN r USING (b) WHERE NOT t.tgt
GROUP BY t.doc_id
ORDER BY avg_log_ratio DESC, doc_id LIMIT 100
""")
def dsir_hashed_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR as Xie et al. 2023 actually ship it (section 3, hashed
    n-gram features): unigrams + bigrams hashed into 4096 buckets,
    same importance-ratio estimator as dsir_importance_sample over the
    bucket counts — the model is 4096 rows by construction, so at
    100 TB the count tables are bounded regardless of vocabulary and
    the bigram features add word-order signal (VERDICT r11 item 5).
    Same target slice (source src1/src3) so the two estimators'
    rankings are directly comparable."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.dsir_hashed_ngrams(
        docs, F.col("source").isin("src1", "src3"))


_MIX_BUDGETS = {f"src{i}": 500 for i in range(20)}
_MIX_BUDGETS["src1"] = 120   # small budgets exercise the admit
_MIX_BUDGETS["src3"] = 80    # boundary even at the sf0.001 fixture
# ``b``: the budgets as a VALUES list
_MIX_BUDGETS_SQL = "b(source, budget) AS (VALUES " + ", ".join(
    f"('{s}', {n})" for s, n in sorted(_MIX_BUDGETS.items())) + ")"


def _budget_admit(hashed: bool = True) -> str:
    """``d``/``c`` and the final select: each source's documents, in
    48-bit hash order (*hashed*) or doc_id order, admitted while the
    source's running token sum fits its budget in ``b``."""
    h = """,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT)
           AS h""" if hashed else ""
    order = "h, doc_id" if hashed else "doc_id"
    return f"""d AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           AS n_tokens{h}
  FROM documents
), c AS (
  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY {order}
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM d
)
SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
FROM c JOIN b USING (source)
WHERE c.cum_tokens <= b.budget
"""


@register("streaming_budget_admit", oracle=_with(
    _MIX_BUDGETS_SQL, _budget_admit(hashed=False)))
def streaming_budget_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-budget gate as a STREAMING stateful operator
    (streaming.stateful_budget_admit): documents arrive, each source
    admits until its budget fills, then closes for the rest of the
    stream — state is (consumed, closed) per source, bounded by the
    source count forever.  Arrival order here is doc_id order (one
    AvailableNow micro-batch over the static fixture, kernel-sorted),
    so the oracle is the plain window cumsum over the same order with
    the same budgets — the batch twin (mix_token_budget) differs only
    in using the reshuffle-stable HASH admit order."""
    from ..streaming import stream as stream_ops

    return stream_ops.run_stateful_budget_admit(
        spark, sf_dir, _MIX_BUDGETS,
        query_name=f"budget_admit_{abs(hash(sf_dir)) % 10**6}")


@register("mix_token_budget", oracle=_with(_MIX_BUDGETS_SQL, _budget_admit()))
def mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing to per-source token budgets (the curriculum /
    mixture-weights primitive): admit each source's documents in the
    deterministic 48-bit-hash order until the source's budget fills.
    Implemented as a DISTRIBUTED PREFIX SUM (corpus.mix_token_budget):
    the hash order is cut into range buckets, (source, bucket) windows
    run in parallel, and the dimension-bounded bucket offsets are
    broadcast back — no per-source serialized window, because at
    100 TB the sources ARE the hot keys.  The oracle replays the total
    as one plain window cumsum over the same order, value-verifying
    the parallel decomposition."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.mix_token_budget(docs, _MIX_BUDGETS)


_TEMP_MIX_DIR = _trained_dir("mix_temperature_budget")


@register("mix_temperature_budget", oracle=_with(f"""b AS (
  SELECT source, budget
  FROM read_parquet('{_TEMP_MIX_DIR}/budgets/*.parquet')
  WHERE {_fp_guard("mix_temperature_budget", "documents")}
)""", _budget_admit()))
def mix_temperature_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixed sampling (the T5/multilingual data-mixing
    trick): per-source budgets PROPORTIONAL TO n_s^alpha with
    alpha = 0.5 — upweights small sources relative to their raw share
    — derived from the corpus's own per-source token totals
    (dimension-bounded driver collect: one row per source), then
    admitted by the same distributed-prefix-sum operator as
    mix_token_budget.  Global budget = 40% of corpus tokens.

    The derived budgets are PUBLISHED to the canonical artifact dir
    and the oracle replays the admit FROM them (the trained-ANN
    technique): sqrt/sum arithmetic is driver-side floats whose exact
    doubles a SQL dialect need not reproduce, but the admit given the
    budgets is exact.  The derivation itself is pinned in
    tests/test_corpus_audits.py (weights proportional to sqrt(n_s),
    floor rounding, sum(budgets) <= global budget)."""
    import math as _math

    docs = readers.widen(_t(spark, sf_dir, "documents"))
    toks = analysis.whitespace_token_count(F.col("text")).cast("long")
    totals = {r["source"]: int(r["n"]) for r in
              docs.select("source", toks.alias("n_tokens"))
              .groupBy("source").agg(F.sum("n_tokens").alias("n"))
              .collect()}
    corpus_total = sum(totals.values())
    global_budget = corpus_total * 2 // 5
    sum_w = sum(_math.sqrt(n) for _, n in sorted(totals.items()))
    budgets = {src: int(global_budget * _math.sqrt(n) / sum_w)
               for src, n in sorted(totals.items())}
    _publish_frame(
        "mix_temperature_budget",
        spark.createDataFrame(sorted(budgets.items()),
                              "source string, budget long"),
        "budgets")
    _publish_fingerprint(spark, sf_dir, "mix_temperature_budget", "documents")
    return corpus_ops.mix_token_budget(docs, budgets)


@register("text_bigram_perplexity", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
), cu AS (SELECT term, count(*) AS c_u FROM tok GROUP BY 1),
nt AS (SELECT count(*) AS n FROM tok),
lt AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
big AS (
  SELECT doc_id, p['u'] AS u, p['w'] AS w FROM (
    SELECT doc_id,
           unnest([{{'u': t[i + 1], 'w': t[i + 2]}}
                   FOR i IN range(len(t) - 1)]) AS p
    FROM lt)
), cuw AS (SELECT u, w, count(*) AS c_uw FROM big GROUP BY 1, 2),
sc AS (
  SELECT b.doc_id,
         -ln({0.7!r} * CAST(cuw.c_uw AS DOUBLE) / cu1.c_u
             + {1.0 - 0.7!r} * CAST(cu2.c_u AS DOUBLE) / nt.n) AS nll
  FROM big b
  JOIN cuw ON cuw.u = b.u AND cuw.w = b.w
  JOIN cu cu1 ON cu1.term = b.u
  JOIN cu cu2 ON cu2.term = b.w, nt
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       (round(avg(nll), 6) + 0) AS avg_neg_ll
FROM sc GROUP BY doc_id
ORDER BY avg_neg_ll DESC, doc_id LIMIT 100
""")
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity gate (corpus.bigram_perplexity
    — the word-order-aware upgrade over text_unigram_logprob): mean
    -ln(lam * c(u,w)/c(u) + (1-lam) * c(w)/N) per document, counts
    from the corpus itself.  Count tables co-partition on their token
    keys (vocabulary-sized — never broadcast), the scalar total
    broadcasts, per-doc means map-side partial, top-k is
    TakeOrderedAndProject.  The scoring join input is pre-aggregated
    to per-doc distinct bigrams and the mean weighted by their counts
    (r12 item 3 — strictly less shuffle volume); the oracle stays the
    naive per-occurrence mean, value-verifying the weighted
    decomposition against the definition."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.bigram_perplexity(docs, lam=0.7)


@register("span_corruption", oracle=f"""
WITH lt AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
), base AS (SELECT doc_id, t, len(t) AS n FROM lt),
built AS (
  SELECT doc_id, n,
    flatten([CASE
       WHEN p = (((p - 1) // 20) * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST((p - 1) // 20 AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1)
         THEN ['<extra_id_' || CAST((p - 1) // 20 AS VARCHAR) || '>']
       WHEN p > (((p - 1) // 20) * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST((p - 1) // 20 AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) AND p <= (((p - 1) // 20) * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST((p - 1) // 20 AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) + 2
         THEN []
       ELSE [t[p]] END
      FOR p IN range(1, n + 1)]) AS inp,
    flatten([['<extra_id_' || CAST(b AS VARCHAR) || '>']
              || t[(b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) : least((b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) + 2, n)]
             FOR b IN range(CAST(ceil(n / 20.0) AS INT))
             IF (b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) <= n]) AS tgt,
    coalesce(list_sum([least(3, n - (b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) + 1)
             FOR b IN range(CAST(ceil(n / 20.0) AS INT))
             IF (b * 20 + ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12))::BIGINT) % 18) + 1) <= n]), 0) AS n_masked
  FROM base
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(n_masked AS BIGINT) AS n_masked,
       coalesce(array_to_string(inp, ' '), '') AS input_text,
       coalesce(array_to_string(tgt, ' '), '') AS target_text
FROM built
""")
def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span corruption as a deterministic transform
    (corpus.span_corruption_pairs): one 3-token span masked per
    20-token block (the paper's ~15% rate), sentinel-in / sentinel+
    span-out pair layout, span starts drawn from the shared 48-bit
    hash of (doc_id, block) so pairs are reproducible from identity
    alone.  Block-local spans make the transform a per-position O(1)
    codegen expression — no sequential scan — and the oracle rebuilds
    both strings token-for-token."""
    docs = readers.widen(_t(spark, sf_dir, "documents"))
    return corpus_ops.span_corruption_pairs(docs)


@register("decontaminate_ngram", oracle=f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct({_duck_shingles(3)})) AS sh FROM toks
), ev AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
), tr AS (
  SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0
)
SELECT tr.doc_id, count(DISTINCT tr.sh) AS n_shared
FROM tr JOIN ev ON tr.sh = ev.sh
GROUP BY tr.doc_id
""")
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one 3-gram shingle with the held-out eval set (here the
    deterministic doc_id%50 slice stands in for a benchmark suite).

    Scale shape: in a REAL deployment the eval shingle set is
    benchmark-sized (a few eval suites, tiny next to a 100 TB corpus)
    and broadcasts.  This row's stand-in eval set is a 2% CORPUS
    SLICE — corpus-proportional, a different scale class — so the
    broadcast is left to the PLANNER (eighth review: a forced hint
    here would bypass the threshold and OOM at scale on the stand-in;
    AQE broadcasts it at fixture scale, producing the documented
    map-side plan, and a production caller with a true
    benchmark-sized eval set may force the hint safely)."""
    docs = _t(spark, sf_dir, "documents")
    sh = readers.widen(docs).select(
        "doc_id",
        F.explode(F.array_distinct(
            dedup_ops.shingles(F.col("text"), 3))).alias("sh"))
    ev = (sh.filter(F.col("doc_id") % 50 == 0)
          .select("sh").distinct())
    tr = sh.filter(F.col("doc_id") % 50 != 0)
    return (tr.join(ev, "sh")
            .groupBy("doc_id")
            .agg(F.countDistinct("sh").alias("n_shared")))


@register("shard_assignment", oracle=f"""
WITH h AS (
  SELECT doc_id,
         {analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
)
SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard,
       row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
FROM h
""")
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled training-shard assignment: every document lands in one
    of 8 shards by id hash, ordered pseudo-randomly (hash order) within
    its shard — reproducible global shuffle without a rand() in sight.
    The write path this models is ``repartition(shard)`` +
    ``sortWithinPartitions(h)``: one shuffle with uniform keys, each
    shard written by exactly one task in shuffled order."""
    docs = _t(spark, sf_dir, "documents")
    h = analysis.token_hash(F.col("doc_id").cast("string"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (docs.select("doc_id", h.alias("h"),
                        (h % 8).cast("long").alias("shard"))
            .withColumn("pos", F.row_number().over(w))
            .select("doc_id", "shard", "pos"))


_PACK_INPUT_SQL = f"""
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           AS BIGINT) AS n_tok,
         CAST({analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} % 16
           AS BIGINT) AS shard
  FROM documents
"""


def _pack_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        analysis.whitespace_token_count(F.col("text")).cast("long")
        .alias("n_tok"),
        (analysis.token_hash(F.col("doc_id").cast("string")) % 16)
        .cast("long").alias("shard"))


@register("pack_sequences_budget", oracle=f"""
WITH t AS ({_PACK_INPUT_SQL})
SELECT doc_id, shard, n_tok,
       CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tok) / 512.0) AS BIGINT) AS pack_id
FROM t
""")
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, scan-riding form: concatenate each shard's
    documents (hash-sharded, id-ordered) into 512-token training
    sequences via pack_id = floor(exclusive-prefix-tokens / budget) —
    a pure partitioned-window cumsum, one shard-key shuffle, no
    Python.  A document may straddle a pack boundary (GPT-style
    stream packing slices the token stream anyway); pack_greedy is
    the never-split twin.  The reference serves search, not training
    batches — this is the extension surface's dataloader leg."""
    return packing_ops.pack_sequential(
        _pack_input(spark, sf_dir), 512, "shard", "doc_id", "n_tok")


def _greedy_packs(src: str) -> str:
    """``t``/``rec`` (recursive): the rows of *src* (shard, doc_id,
    n_tok) packed greedily per shard in doc_id order — a doc that would
    overflow a non-empty 512-token pack opens the next one."""
    return f"""t AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM {src}
), rec AS (
  SELECT shard, rn, doc_id, n_tok, n_tok AS run,
         CAST(0 AS BIGINT) AS pack_id
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tok,
         CASE WHEN rec.run + t.n_tok > 512 AND rec.run > 0 THEN t.n_tok
              ELSE rec.run + t.n_tok END,
         CASE WHEN rec.run + t.n_tok > 512 AND rec.run > 0
              THEN rec.pack_id + 1 ELSE rec.pack_id END
  FROM rec JOIN t ON t.shard = rec.shard AND t.rn = rec.rn + 1
)"""


@register("pack_fill_stats", oracle=f"""
WITH RECURSIVE {_greedy_packs(f"({_PACK_INPUT_SQL})")}
SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens
FROM rec GROUP BY shard, pack_id
""")
def pack_fill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the greedy packs: docs and token
    fill per pack — the number a dataloader publishes (padding waste =
    1 - pack_tokens/budget).  One extra keyed aggregation on the
    (shard, pack_id) grain riding the packing pass's shard exchange."""
    packed = packing_ops.pack_greedy(
        _pack_input(spark, sf_dir), 512, "shard", "doc_id", "n_tok")
    return packing_ops.pack_stats(packed, "shard", "n_tok")


@register("pipeline_training_batches", oracle=f"""
WITH RECURSIVE wts AS (
  SELECT source,
         (round(least(1.0, 150.0 / (round(avg(n_chars), 2) + 0)), 6) + 0)
           AS keep_frac
  FROM documents GROUP BY source
), sampled AS (
  SELECT d.doc_id,
         CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(d.text), '\\s+')) END
           AS BIGINT) AS n_tok,
         CAST({analysis.duck_token_hash("CAST(d.doc_id AS VARCHAR)")} % 16
           AS BIGINT) AS shard
  FROM documents d JOIN wts w ON d.source = w.source
  WHERE {analysis.duck_token_hash("CAST(d.doc_id AS VARCHAR)")} % 1000000
        < CAST(floor(w.keep_frac * 1000000) AS BIGINT)
), {_greedy_packs("sampled")}
SELECT doc_id, n_tok, shard, pack_id FROM rec
""")
def pipeline_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataloader path end-to-end: corpus mixture re-weighting
    (per-source keep fractions, stable hash admission) feeding greedy
    sequence packing (never-split, 512-token budget) per shard — raw
    corpus in, training batches out, every stage deterministic and the
    whole composition value-checked by one nested-CTE oracle.  Plan:
    one dimension-sized stats aggregate broadcast back, a scan-riding
    hash filter, one shard-key exchange shared by the packing pass —
    at 100 TB nothing in the chain shuffles more than once."""
    docs = _t(spark, sf_dir, "documents")
    wts = (docs.groupBy("source")
           .agg(rnd(F.avg("n_chars"), 2).alias("avg_chars"))
           .select("source",
                   rnd(F.least(F.lit(1.0), F.lit(150.0)
                               / F.col("avg_chars")), 6)
                   .alias("keep_frac")))
    h = analysis.token_hash(F.col("doc_id").cast("string")) % 1000000
    sampled = (docs.join(F.broadcast(wts), "source")
               .filter(h < F.floor(F.col("keep_frac") * 1000000).cast("long"))
               .select(
                   "doc_id",
                   analysis.whitespace_token_count(F.col("text"))
                   .cast("long").alias("n_tok"),
                   (analysis.token_hash(F.col("doc_id").cast("string"))
                    % 16).cast("long").alias("shard")))
    return packing_ops.pack_greedy(sampled, 512, "shard", "doc_id",
                                   "n_tok")


@register("pack_sequences_greedy", oracle=f"""
WITH RECURSIVE {_greedy_packs(f"({_PACK_INPUT_SQL})")}
SELECT doc_id, n_tok, shard, pack_id FROM rec
""")
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, exact dataloader semantics: documents never
    split; a new 512-token pack starts when the next document would
    overflow (oversized documents pack alone).  The reset recurrence
    is order-sequential per shard, so it runs as ONE applyInPandas
    pass per shard — the shard is the parallel grain, O(1) state per
    task.  The DuckDB oracle replays the same recurrence as a
    recursive CTE, so the driver value-checks a genuinely stateful
    non-window computation end-to-end."""
    return packing_ops.pack_greedy(
        _pack_input(spark, sf_dir), 512, "shard", "doc_id", "n_tok")


@register("text_pii_scrub", oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' Contact u' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://ex.com/d/' || CAST(doc_id AS VARCHAR)
              || ' ref ' || CAST(10000000 + doc_id AS VARCHAR) AS text
  FROM documents
), scrubbed AS (
  SELECT doc_id, {analysis.duck_pii_scrub('text')} AS clean FROM seeded
)
SELECT doc_id, clean,
       CAST((length(clean) - length(replace(clean, '<PII>', '')))
            / {len(analysis.PII_TOKEN)} AS BIGINT) AS n_redactions
FROM scrubbed
""")
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, URLs, long digit runs -> a placeholder) —
    narrow regexp_replace chain in the scan stage.  Deterministic PII is
    seeded into every document (the fixture corpus has none) so the
    regexes are genuinely exercised; n_redactions counts placeholder
    occurrences."""
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" Contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://ex.com/d/"),
            F.col("doc_id").cast("string"), F.lit(" ref "),
            (F.lit(10000000) + F.col("doc_id")).cast("string"),
        ).alias("text"))
    clean = analysis.pii_scrub(F.col("text"))
    return seeded.select(
        "doc_id",
        clean.alias("clean"),
    ).withColumn(
        "n_redactions",
        ((F.length("clean")
          - F.length(F.regexp_replace("clean", analysis.PII_TOKEN, "")))
         / len(analysis.PII_TOKEN)).cast("long"))
