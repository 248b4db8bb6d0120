"""Scaling probe: replicate the fixture corpus Nx in /tmp and measure
the heavy operators, verifying wall-time grows ~linearly (blocking
held, no quadratic blowup) and parallelism engages.  Run:
python tools/scaling_check.py [replication ...]"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = "/root/testdata/sf0.1"


def replicate(spark, mult: int, out_dir: str) -> None:
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    copies = [docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
              for i in range(mult)]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite") \
       .parquet(f"{out_dir}/documents.parquet")


def replicate_embeddings(spark, mult: int, out_dir: str) -> None:
    # jitter one coordinate per replica so copies aren't exact dups and
    # buckets/cells keep realistic occupancy
    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    copies = []
    for i in range(mult):
        c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        if i:
            c = c.withColumn(
                "embedding",
                F.transform("embedding",
                            lambda x, j: (x + F.when(j == 0, F.lit(i * 1e-4))
                                          .otherwise(F.lit(0.0))).cast("float")))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite") \
       .parquet(f"{out_dir}/embeddings.parquet")


def measure_ivf_recall(spark, emb, nlist: int = 16, nprobe: int = 2,
                       k: int = 10, n_queries: int = 10) -> dict[str, float]:
    """recall@k of IVF (seed-picked vs k-means centroids) against
    brute-force ground truth, averaged over *n_queries* stored vectors.
    The measurement the centroid-quality claim rests on: k-means cells
    follow the density, so the query's true neighbors concentrate in
    fewer cells and survive nprobe pruning more often."""
    from msg_vector_search_spark.operators import ivf, similarity

    # query vectors must be DISJOINT from the seed-centroid picks (the
    # nlist smallest ids): a query that IS a centroid trivially keeps
    # its neighborhood in its own cell and inflates seed recall.
    qrows = emb.orderBy(F.col("vec_id").desc()).limit(n_queries) \
        .select("vec_id", "embedding").collect()
    truth = {}
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        top = similarity.knn_search(emb, qv, k=k).select("vec_id").collect()
        truth[r["vec_id"]] = {t["vec_id"] for t in top}

    out = {}
    for name, cents in [
        ("seed", ivf.seed_centroids(emb, nlist)),
        ("kmeans", ivf.kmeans_centroids(emb, nlist)),
    ]:
        assigned = ivf.assign_cells(emb, cents).localCheckpoint()
        hits = 0
        for r in qrows:
            qv = [float(x) for x in r["embedding"]]
            got = {g["vec_id"] for g in
                   ivf.ivf_search(assigned, cents, qv, k=k, nprobe=nprobe)
                   .select("vec_id").collect()}
            hits += len(got & truth[r["vec_id"]])
        out[name] = hits / (k * len(qrows))
    return out


def measure_pq_recall(spark, emb, m: int = 8, ncodes: int = 16,
                      k: int = 10,
                      n_queries: int = 10) -> dict[str, float]:
    """recall@k of PQ-ADC against brute-force ground truth, seed vs
    k-means-trained codebooks side by side, raw and re-ranked at the
    50 and 200 shortlists — the README recall table's source: the
    accuracy the 64x compression claim costs, how much training the
    codebooks recovers, and where the shortlist knee sits."""
    from msg_vector_search_spark.operators import pq, similarity

    qrows = emb.orderBy(F.col("vec_id").desc()).limit(n_queries) \
        .select("vec_id", "embedding").collect()
    truth = {}
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        truth[r["vec_id"]] = {t["vec_id"] for t in
                              similarity.knn_search(emb, qv, k=k)
                              .select("vec_id").collect()}
    out: dict[str, float] = {}
    for kind, cb in [("seed", pq.seed_codebooks(emb, m=m, ncodes=ncodes)),
                     ("trained", pq.kmeans_codebooks(emb, m=m,
                                                     ncodes=ncodes))]:
        codes = pq.pq_encode(emb, cb).localCheckpoint()
        raw_hits = 0
        rr_hits = {50: 0, 200: 0}
        for r in qrows:
            qv = [float(x) for x in r["embedding"]]
            table = pq.adc_table(qv, cb)
            raw = {g["vec_id"] for g in
                   pq.pq_search(codes, table, k=k).select("vec_id").collect()}
            raw_hits += len(raw & truth[r["vec_id"]])
            for sl in rr_hits:
                rr = {g["vec_id"] for g in
                      pq.pq_rerank(emb, codes, table, qv, k=k, shortlist=sl)
                      .select("vec_id").collect()}
                rr_hits[sl] += len(rr & truth[r["vec_id"]])
        denom = k * len(qrows)
        out[f"{kind}_adc"] = raw_hits / denom
        out[f"{kind}_rerank50"] = rr_hits[50] / denom
        out[f"{kind}_rerank200"] = rr_hits[200] / denom
    return out


def measure_truncated_recall(spark, emb, k: int = 10,
                             n_queries: int = 10) -> dict[str, float]:
    """recall@k of the truncated-head rerank (ann_truncated_rerank)
    against brute-force ground truth over the head_dims x shortlist
    grid — the operating-point table for the train-nothing sketch,
    alongside the PQ and IVFPQ knees."""
    from msg_vector_search_spark.operators import similarity

    qrows = emb.orderBy(F.col("vec_id").desc()).limit(n_queries) \
        .select("vec_id", "embedding").collect()
    truth = {}
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        truth[r["vec_id"]] = {t["vec_id"] for t in
                              similarity.knn_search(emb, qv, k=k)
                              .select("vec_id").collect()}
    out: dict[str, float] = {}
    for head in (8, 16, 32):
        for sl in (50, 200):
            hits = 0
            for r in qrows:
                qv = [float(x) for x in r["embedding"]]
                got = {g["vec_id"] for g in
                       similarity.truncated_rerank_search(
                           emb, qv, k=k, head_dims=head, shortlist=sl)
                       .select("vec_id").collect()}
                hits += len(got & truth[r["vec_id"]])
            out[f"head{head}_short{sl}"] = hits / (k * len(qrows))
    return out


def trunc_main() -> None:
    """python tools/scaling_check.py --trunc — print the truncated-head
    operating-point grid at sf0.1."""
    from msg_vector_search_spark.session import get_spark

    spark = get_spark("trunc_recall")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    rec = measure_truncated_recall(spark, emb)
    print(f"{'head_dims':>10} {'shortlist':>10} {'recall@10':>10}")
    for key, v in rec.items():
        head, sl = key.replace("head", "").split("_short")
        print(f"{head:>10} {sl:>10} {v:>10.2f}")


def measure_ivfpq_recall(spark, emb, nlist: int = 16, nprobe: int = 4,
                         m: int = 8, ncodes: int = 16, k: int = 10,
                         shortlist: int = 200, n_queries: int = 10,
                         kinds: tuple = ("seed", "trained"),
                         ) -> dict[str, float]:
    """recall@k of the composed IVF x PQ path (cell pruning + ADC +
    exact re-rank), seed picks vs fully trained (k-means centroids AND
    codebooks).  The composition's recall is bounded by the IVF cell
    recall (a true neighbor outside every probed cell is gone before
    ADC sees it), so this measures what the 100 TB serving plan
    actually returns."""
    from msg_vector_search_spark.operators import ivf, pq, similarity

    qrows = emb.orderBy(F.col("vec_id").desc()).limit(n_queries) \
        .select("vec_id", "embedding").collect()
    truth = {}
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        truth[r["vec_id"]] = {t["vec_id"] for t in
                              similarity.knn_search(emb, qv, k=k)
                              .select("vec_id").collect()}
    out: dict[str, float] = {}
    makers = {
        "seed": lambda: (ivf.seed_centroids(emb, nlist),
                         pq.seed_codebooks(emb, m=m, ncodes=ncodes)),
        "trained": lambda: (ivf.kmeans_centroids(emb, nlist),
                            pq.kmeans_codebooks(emb, m=m,
                                                ncodes=ncodes)),
    }
    # kinds lets callers skip artifact builds they discard — the
    # recall-floor probe only reads 'trained', and the seed build +
    # assignment + 10-query serve is minutes of waste at 10x corpus
    for kind in kinds:
        cent, cb = makers[kind]()
        assigned = ivf.assign_cells(emb, cent).localCheckpoint()
        hits = 0
        for r in qrows:
            qv = [float(x) for x in r["embedding"]]
            got = {g["vec_id"] for g in
                   pq.ivfpq_search(assigned, cent, cb, qv, k=k,
                                   nprobe=nprobe, shortlist=shortlist)
                   .select("vec_id").collect()}
            hits += len(got & truth[r["vec_id"]])
        out[kind] = hits / (k * len(qrows))
    return out


def measure_ivfpq_knee(spark, emb, nlist: int = 16, m: int = 8,
                       ncodes: int = 16, k: int = 10,
                       n_queries: int = 10,
                       nprobes=(2, 4, 6, 8),
                       shortlists=(200, 400)) -> list[dict]:
    """The IVFPQ operating-point sweep: recall@k over the
    nprobe x shortlist grid, trained and seed artifacts side by side,
    with the corpus read fraction each point costs —
    (nprobe/nlist) * (1/64) for the compressed code scan plus
    shortlist raw rows for the re-rank.  The serving default must be
    a measured knee on this table, not a guess."""
    from msg_vector_search_spark.operators import ivf, pq, similarity

    n_corpus = emb.count()
    qrows = emb.orderBy(F.col("vec_id").desc()).limit(n_queries) \
        .select("vec_id", "embedding").collect()
    truth = {}
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        truth[r["vec_id"]] = {t["vec_id"] for t in
                              similarity.knn_search(emb, qv, k=k)
                              .select("vec_id").collect()}
    rows = []
    for kind, cent, cb in [
        ("seed", ivf.seed_centroids(emb, nlist),
         pq.seed_codebooks(emb, m=m, ncodes=ncodes)),
        ("trained", ivf.kmeans_centroids(emb, nlist),
         pq.kmeans_codebooks(emb, m=m, ncodes=ncodes)),
    ]:
        assigned = ivf.assign_cells(emb, cent).localCheckpoint()
        for nprobe in nprobes:
            for sl in shortlists:
                hits = 0
                for r in qrows:
                    qv = [float(x) for x in r["embedding"]]
                    got = {g["vec_id"] for g in
                           pq.ivfpq_search(assigned, cent, cb, qv, k=k,
                                           nprobe=nprobe, shortlist=sl)
                           .select("vec_id").collect()}
                    hits += len(got & truth[r["vec_id"]])
                frac = (nprobe / nlist) * (1 / 64) + sl / n_corpus
                rows.append({"kind": kind, "nprobe": nprobe,
                             "shortlist": sl,
                             "recall": hits / (k * len(qrows)),
                             "read_frac": frac})
    return rows


def knee_main() -> None:
    """python tools/scaling_check.py --knee  — print the operating
    table the serving default is chosen from (sf0.1 corpus)."""
    from msg_vector_search_spark.session import get_spark

    spark = get_spark("ivfpq_knee")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    rows = measure_ivfpq_knee(spark, emb)
    print(f"{'kind':>8} {'nprobe':>6} {'shortlist':>9} "
          f"{'recall@10':>9} {'read_frac':>9}")
    for r in rows:
        print(f"{r['kind']:>8} {r['nprobe']:>6} {r['shortlist']:>9} "
              f"{r['recall']:>9.2f} {r['read_frac']:>9.4f}", flush=True)


def replicate_tpch(spark, mult: int, out_dir: str) -> None:
    """Replicated TPC-H layout: the FACTS (lineitem, orders) grow
    mult-x with consistent orderkey offsets so every replica's
    lineitems join their own orders copy; the DIMENSIONS stay fixed —
    the shape a real warehouse scales in (facts accrete, dims don't).
    Non-replicated tables are symlinked from the base fixture."""
    off = 10_000_000
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    od = spark.read.parquet(f"{BASE}/orders.parquet")
    li_copies = [li.withColumn("l_orderkey",
                               F.col("l_orderkey") + F.lit(i * off))
                 for i in range(mult)]
    od_copies = [od.withColumn("o_orderkey",
                               F.col("o_orderkey") + F.lit(i * off))
                 for i in range(mult)]
    li_out, od_out = li_copies[0], od_copies[0]
    for c in li_copies[1:]:
        li_out = li_out.unionByName(c)
    for c in od_copies[1:]:
        od_out = od_out.unionByName(c)
    li_out.repartition(32).write.mode("overwrite") \
        .parquet(f"{out_dir}/lineitem.parquet")
    od_out.repartition(32).write.mode("overwrite") \
        .parquet(f"{out_dir}/orders.parquet")
    for t in ("customer", "nation", "part", "region", "supplier",
              "documents", "embeddings", "events"):
        os.symlink(f"{BASE}/{t}.parquet", f"{out_dir}/{t}.parquet")


def tpch_main() -> None:
    """python tools/scaling_check.py --tpch [mults ...] — time the
    heavy TPC-H shapes (Q1 scan-agg, Q9 multi-join profit, Q21
    aggregate-rewrite) at replicated lineitem/orders scale, so AQE has
    real size/skew decisions to make.  Wall time must track the fact
    growth ~linearly: a super-linear jump means a join shape degraded
    (broadcast flipped to shuffle on the wrong side, or a skewed key
    serialized a reducer)."""
    from msg_vector_search_spark import contract
    from msg_vector_search_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 16]
    queries = ["tpch_q1_pricing_summary", "tpch_q9_product_profit",
               "tpch_q21_waiting_suppliers"]
    spark = get_spark("tpch_scale")
    print(f"{'xN':>4} {'lineitem':>10} " +
          " ".join(f"{q.split('_')[1]:>8}" for q in queries))
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"tpch_{m}x_")
        try:
            replicate_tpch(spark, m, d)
            n = spark.read.parquet(f"{d}/lineitem.parquet").count()
            times = []
            for q in queries:
                t0 = time.perf_counter()
                contract.REGISTRY[q](spark, d).count()
                times.append(time.perf_counter() - t0)
            print(f"{m:>4} {n:>10} " +
                  " ".join(f"{t:>8.2f}" for t in times), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)


def measure_pair_recall(spark, emb, nlist: int = 16,
                        k: int = 3) -> dict[str, float]:
    """Pair recall of the blocked similarity JOIN vs exact ground truth
    (every vector's true top-k neighbors, full GEMM in one block).
    Quantifies the p=1 boundary gap the cross-cell (p=2) assignment
    exists to close: a near-dup pair straddling a cell boundary is
    invisible to the within-cell join."""
    from msg_vector_search_spark.operators import ivf, similarity

    def pair_set(df):
        return {(r["id_a"], r["id_b"])
                for r in df.select("id_a", "id_b").collect()}

    truth = pair_set(similarity.similarity_join_topk_pandas(
        emb.withColumn("cell", F.lit(0)), "cell", k=k))

    cent = ivf.seed_centroids(emb, nlist)
    p1 = pair_set(similarity.similarity_join_topk(
        ivf.assign_cells(emb, cent), "cell", k=k))
    p2 = pair_set(similarity.similarity_join_topk(
        ivf.assign_cells_multi(emb, cent, nprobe=2), "cell", k=k,
        dedup_pairs=True))
    return {"p1": len(p1 & truth) / len(truth),
            "p2": len(p2 & truth) / len(truth)}


def main() -> None:
    from msg_vector_search_spark.operators import dedup, ivf, lsh
    from msg_vector_search_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("scaling_check")
    print(f"{'xN':>4} {'docs':>8} {'minhash_s':>10} {'simhash_s':>10} "
          f"{'exact_s':>8} {'pairs':>8} {'ivf_s':>8} {'lsh_s':>8} "
          f"{'cc_s':>8} {'gemm_s':>8} {'pack_s':>8}")
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"scale_{m}x_")
        try:
            replicate(spark, m, d)
            replicate_embeddings(spark, m, d)
            docs = spark.read.parquet(f"{d}/documents.parquet")
            emb = spark.read.parquet(f"{d}/embeddings.parquet")
            n = docs.count()
            t0 = time.perf_counter()
            pair_df = dedup.dedup_minhash_lsh(docs)
            pairs = pair_df.count()
            t_mh = time.perf_counter() - t0
            t0 = time.perf_counter()
            dedup.dedup_simhash(docs).count()
            t_sh = time.perf_counter() - t0
            t0 = time.perf_counter()
            dedup.dedup_exact(docs).count()
            t_ex = time.perf_counter() - t0
            # ANN search latency must stay ~flat: the probed fraction of
            # the corpus is what grows, not the full scan
            qv = [float(x) for x in emb.select("embedding").head()[0]]
            cent = ivf.seed_centroids(emb, 16)
            assigned = ivf.assign_cells(emb, cent)
            t0 = time.perf_counter()
            ivf.ivf_search(assigned, cent, qv, k=10, nprobe=2).count()
            t_ivf = time.perf_counter() - t0
            planes = lsh.seed_planes(emb, 4)
            t0 = time.perf_counter()
            lsh.lsh_search(emb, planes, query_id=0, k=10).count()
            t_lsh = time.perf_counter() - t0
            # components over the real near-dup graph (star contraction:
            # rounds ~ log^2 component size, per-round cost ~ edge count)
            t0 = time.perf_counter()
            dedup.connected_components_star(pair_df).count()
            t_cc = time.perf_counter() - t0
            # both-sides-large similarity join with the GEMM kernel —
            # quadratic work per cell, so this is the column to watch
            # for blowup as cells grow with the corpus
            from msg_vector_search_spark.operators import similarity
            cent32 = ivf.seed_centroids(emb, 32)
            assigned32 = ivf.assign_cells(emb, cent32)
            t0 = time.perf_counter()
            similarity.similarity_join_topk_pandas(assigned32, "cell",
                                                   k=3).count()
            t_gemm = time.perf_counter() - t0
            # greedy sequence packing: sequential per shard, so wall
            # time must track rows/shards — shard count doubles with
            # each corpus doubling in a real deployment; here shards
            # are fixed at 64 so the column should grow ~linearly
            from msg_vector_search_spark.functions import analysis
            from msg_vector_search_spark.operators import packing
            pack_in = docs.select(
                "doc_id",
                analysis.whitespace_token_count(F.col("text"))
                .cast("long").alias("n_tok"),
                (analysis.token_hash(F.col("doc_id").cast("string")) % 64)
                .cast("long").alias("shard"))
            t0 = time.perf_counter()
            packing.pack_greedy(pack_in, 512, "shard", "doc_id",
                                "n_tok").count()
            t_pack = time.perf_counter() - t0
            recall = measure_ivf_recall(spark, emb)
            pr = measure_pair_recall(spark, emb) if m == 1 else None
            pqr = measure_pq_recall(spark, emb) if m == 1 else None
            ivfpqr = measure_ivfpq_recall(spark, emb) if m == 1 else None
            print(f"{m:>4} {n:>8} {t_mh:>10.2f} {t_sh:>10.2f} "
                  f"{t_ex:>8.2f} {pairs:>8} {t_ivf:>8.2f} {t_lsh:>8.2f} "
                  f"{t_cc:>8.2f} {t_gemm:>8.2f} {t_pack:>8.2f}  "
                  f"recall@10 seed={recall['seed']:.2f} "
                  f"kmeans={recall['kmeans']:.2f}"
                  + (f"  pair-recall@3 p1={pr['p1']:.2f} p2={pr['p2']:.2f}"
                     if pr else "")
                  + (f"  pq-recall@10 "
                     f"seed adc={pqr['seed_adc']:.2f}"
                     f"/rr50={pqr['seed_rerank50']:.2f}"
                     f"/rr200={pqr['seed_rerank200']:.2f} "
                     f"trained adc={pqr['trained_adc']:.2f}"
                     f"/rr50={pqr['trained_rerank50']:.2f}"
                     f"/rr200={pqr['trained_rerank200']:.2f}"
                     if pqr else "")
                  + (f"  ivfpq-recall@10 seed={ivfpqr['seed']:.2f} "
                     f"trained={ivfpqr['trained']:.2f}"
                     if ivfpqr else ""),
                  flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)


def retrieval_main() -> None:
    """python tools/scaling_check.py --retrieval [mults ...] — time the
    hybrid-retrieval rows at replicated corpus scale.  All three plans
    are bounded compositions (one-row broadcast stats + ordered-limit
    heaps + k-row broadcast joins), so wall time must track the scan
    ~linearly with NO shuffle growth: a super-linear jump means a
    bounded frame stopped being bounded."""
    from msg_vector_search_spark import contract
    from msg_vector_search_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 16]
    queries = ["text_bm25_topk", "hybrid_search_rrf",
               "ann_truncated_rerank", "rerank_cross_encoder",
               "pipeline_serving_capstone"]
    spark = get_spark("retrieval_scale")
    print(f"{'xN':>4} {'docs':>8} " +
          " ".join(f"{q[:18]:>20}" for q in queries))
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"retr_{m}x_")
        try:
            replicate(spark, m, d)
            replicate_embeddings(spark, m, d)
            n = spark.read.parquet(f"{d}/documents.parquet").count()
            times = []
            for q in queries:
                t0 = time.perf_counter()
                contract.REGISTRY[q](spark, d).count()
                times.append(time.perf_counter() - t0)
            print(f"{m:>4} {n:>8} " +
                  " ".join(f"{t:>20.2f}" for t in times), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)


def audits_main() -> None:
    """python tools/scaling_check.py --audits [mults ...] — time the
    corpus-audit rows at replicated corpus scale.  Expected shapes:
    overlap grows ~linearly (shingle-keyed shuffle, vocabulary-bounded
    tail); drift and reservoir grow ~linearly in the scan with constant
    shuffle tails (labels x dim / sources x k rows); MMR must stay
    ~FLAT past the shortlist scan — its greedy stage never sees the
    corpus, so super-linear growth there means the bounded frame
    leaked."""
    from msg_vector_search_spark import contract
    from msg_vector_search_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 16]
    queries = ["corpus_overlap_matrix", "embedding_centroid_drift",
               "sample_fixed_k_per_group", "topk_mmr_diverse",
               "dedup_cluster_histogram", "dedup_components_incremental",
               "dsir_importance_sample", "tokenizer_fertility_by_source"]
    spark = get_spark("audit_scale")
    print(f"{'xN':>4} {'docs':>8} " +
          " ".join(f"{q[:20]:>22}" for q in queries))
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"audit_{m}x_")
        try:
            replicate(spark, m, d)
            replicate_embeddings(spark, m, d)
            n = spark.read.parquet(f"{d}/documents.parquet").count()
            times = []
            for q in queries:
                t0 = time.perf_counter()
                contract.REGISTRY[q](spark, d).count()
                times.append(time.perf_counter() - t0)
            print(f"{m:>4} {n:>8} " +
                  " ".join(f"{t:>22.2f}" for t in times), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)


def transforms_main() -> None:
    """python tools/scaling_check.py --transforms [mults ...] — time
    the corpus-transform rows at replicated corpus scale (VERDICT r12
    item 8: the retrieval rows have measured scaling tables; the new
    transforms claimed flat/narrow scaling without one).  Expected
    shapes: span_corruption is ONE narrow Project — pure scan, ~linear
    wall time, zero shuffle at any size; mix_token_budget is two
    narrow shuffles whose cumulated state is bounded by sources x
    buckets — ~linear scan, constant tail as the bucket count holds;
    text_bigram_perplexity grows with distinct (doc, bigram) volume
    (the r13 pre-aggregated join input); dedup_unaligned_substring
    grows with token volume (one window hash per position);
    maxsim_topk stays one scan + bounded heap."""
    from msg_vector_search_spark import contract
    from msg_vector_search_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 10]
    queries = ["span_corruption", "mix_token_budget",
               "text_bigram_perplexity", "dedup_unaligned_substring",
               "maxsim_topk",
               # VERDICT r13 item 4: the novelty scorer and the
               # novelty-gated curation share the dedup row's
               # overlapping-window machinery — same expected shape
               # (~linear in token volume, uniform 48-bit shuffle key),
               # now single-pass (count-over-window, r14 item 2)
               "text_novelty_score", "curate_by_novelty"]
    spark = get_spark("transform_scale")
    print(f"{'xN':>4} {'docs':>8} " +
          " ".join(f"{q[:22]:>24}" for q in queries))
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"tfm_{m}x_")
        try:
            replicate(spark, m, d)
            replicate_embeddings(spark, m, d)
            n = spark.read.parquet(f"{d}/documents.parquet").count()
            times = []
            for q in queries:
                t0 = time.perf_counter()
                contract.REGISTRY[q](spark, d).count()
                times.append(time.perf_counter() - t0)
            print(f"{m:>4} {n:>8} " +
                  " ".join(f"{t:>24.2f}" for t in times), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)


def recall_floor_main() -> None:
    """python tools/scaling_check.py --recallfloor [mults ...] —
    VERDICT r13 item 5: prove the TRAINED IVFPQ serving default
    (nlist=16, nprobe=8, shortlist=400 — the measured knee) holds its
    recall as the corpus grows 1x/4x/10x with the SAME probe budget.
    10 held-out queries per scale against brute-force ground truth.

    The asserted floor (at every replicated scale >= 4x) is
    NON-DEGRADATION: recall@10(mx) >= recall@10(1x) - 0.05, AND the
    knee table's absolute operating floor recall@10 >= 0.75.  A fixed
    0.90 would be the wrong constant on THIS fixture: at 4x each
    query's jittered siblings fill only 3 of its 10 true neighbors
    (measured 0.84 vs 0.80 at 1x), while at 10x the 9 siblings fill
    the whole truth set and recall reads 1.00 — the claim that must
    survive scale is that cell pruning with a CONSTANT probed
    fraction loses nothing as cells grow proportionally, which is
    exactly the non-degradation bound."""
    from msg_vector_search_spark.session import get_spark

    # Parse mults from EVERY numeric token (the --recallfloor flag may
    # sit anywhere in argv — sys.argv[2:] would drop a mult that
    # precedes it), and anchor the non-degradation bound by always
    # measuring the 1x baseline FIRST: without it base_rec stayed
    # None and the gate silently weakened to the 0.75 absolute
    # fallback (r14 review).
    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 10]
    if 1 not in mults:
        print("note: adding 1x baseline (non-degradation bound needs it)")
        mults = [1] + mults
    mults = sorted(set(mults))
    spark = get_spark("recall_floor")
    print(f"{'xN':>4} {'vecs':>7} {'trained_recall@10':>18} "
          f"(nlist=16 nprobe=8 shortlist=400)")
    failures = []
    base_rec = None
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"recallf_{m}x_")
        try:
            replicate_embeddings(spark, m, d)
            emb = spark.read.parquet(f"{d}/embeddings.parquet")
            n = emb.count()
            rec = measure_ivfpq_recall(spark, emb, nlist=16, nprobe=8,
                                       shortlist=400,
                                       kinds=("trained",))["trained"]
            if m == 1:
                base_rec = rec
            verdict = ""
            if m >= 4:
                floor = max(0.75, (base_rec or 0.75) - 0.05)
                ok = rec >= floor
                verdict = (f"  floor>={floor:.2f} "
                           + ("PASS" if ok else "FAIL"))
                if not ok:
                    failures.append((m, rec, floor))
            print(f"{m:>4} {n:>7} {rec:>18.2f}{verdict}", flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    if failures:
        sys.exit(f"recall floor violated: {failures}")


def erase_main() -> None:
    """Erase-path scaling: delete a FIXED 20-key batch from indexes
    built over 1x/4x/16x corpora.  nlist scales with the corpus (the
    production sizing — cells stay ~constant-size), so the fast path
    (victims' vectors provided, cells by centroid assignment) must
    stay ~flat: rewritten bytes are bounded by batch x cell_size —
    touched cells <= batch however large the corpus, so the REWRITTEN
    FRACTION of the index falls as the corpus grows (the number the
    README table reports).  The fallback id-column scan adds a term linear in
    corpus ids — visible but tiny (id pages only).  The text-index
    tombstone append is O(batch) flat by construction."""
    from msg_vector_search_spark.operators import ann_index, retrieval
    from msg_vector_search_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 16]
    spark = get_spark("erase_scaling")
    print(f"{'xN':>4} {'vecs':>7} {'nlist':>6} {'fast_s':>7} "
          f"{'fcells':>7} {'scan_s':>7} {'scells':>7} {'text_s':>7}")
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"erase_{m}x_")
        try:
            replicate_embeddings(spark, m, d)
            replicate(spark, m, d)
            emb = spark.read.parquet(f"{d}/embeddings.parquet")
            docs = spark.read.parquet(f"{d}/documents.parquet")
            n = emb.count()
            nlist = 16 * m
            idx = os.path.join(d, "index")
            ann_index.build_index(spark, emb, idx, nlist=nlist,
                                  m=8, ncodes=16)
            tidx = os.path.join(d, "tindex")
            retrieval.build_inverted_index(docs, tidx)

            fast_keys = emb.filter(F.col("vec_id") < 20)
            t0 = time.perf_counter()
            fcells = ann_index.delete_index_keys(
                spark, idx, fast_keys.select("vec_id"),
                vectors=fast_keys)
            t_fast = time.perf_counter() - t0

            scan_keys = emb.filter((F.col("vec_id") >= 20)
                                   & (F.col("vec_id") < 40))
            t0 = time.perf_counter()
            scells = ann_index.delete_index_keys(
                spark, idx, scan_keys.select("vec_id"))
            t_scan = time.perf_counter() - t0

            t0 = time.perf_counter()
            retrieval.delete_inverted_docs(
                docs.filter(F.col("doc_id") < 500).select("doc_id"),
                tidx)
            t_text = time.perf_counter() - t0

            print(f"{m:>4} {n:>7} {nlist:>6} {t_fast:>7.2f} "
                  f"{len(fcells):>7} {t_scan:>7.2f} {len(scells):>7} "
                  f"{t_text:>7.2f}")
        finally:
            shutil.rmtree(d, ignore_errors=True)


def ttl_index_main() -> None:
    """python tools/scaling_check.py --ttlindex [mult ...] — INDEX-SIDE
    TTL scaling (r16 verbs): text + ANN indexes built over 1x/4x/16x
    corpora with the row timestamp recorded in meta_cols, then swept
    at a fixed 25% age cut.  The claims under measurement: the text
    sweep is a doclen-sidecar scan + ONE tombstone append (no posting
    touched — ~flat in corpus size apart from the metadata scan), and
    the ANN erase-by-predicate is one column-pruned vectors-sidecar
    scan + victim-cell rewrites whose touched-cell count tracks the
    victim spread (at production nlist the rewritten FRACTION falls
    as the corpus grows, same argument as the key-erase fast path).
    Victim counts scale with the corpus (25% of rows) — this probes
    the BULK-expiry shape, complementing --erase's fixed-20-key
    shape."""
    import datetime as dt

    from msg_vector_search_spark.operators import ann_index, retrieval
    from msg_vector_search_spark.session import get_spark

    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 16]
    spark = get_spark("ttl_index_scaling")
    origin = dt.datetime(2024, 1, 1)
    print(f"{'xN':>4} {'docs':>7} {'text_s':>7} {'tomb':>7} "
          f"{'vecs':>7} {'nlist':>6} {'ann_s':>7} {'cells':>6}")
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"ttlidx_{m}x_")
        try:
            replicate(spark, m, d)
            replicate_embeddings(spark, m, d)
            docs = spark.read.parquet(f"{d}/documents.parquet")
            emb = spark.read.parquet(f"{d}/embeddings.parquet")
            n_d, n_v = docs.count(), emb.count()
            # age = arrival order (row_number over id), so the 25% cut
            # expires the same fraction at every scale
            aged_docs = docs.select(
                "doc_id", "text",
                (F.lit(origin) + F.make_interval(
                    mins=(F.row_number().over(
                        Window.orderBy("doc_id")) % 2_000_000).cast("int")
                )).alias("ts"))
            tidx = os.path.join(d, "tindex")
            retrieval.build_inverted_index(aged_docs, tidx,
                                           meta_cols=("ts",))
            tcut = origin + dt.timedelta(minutes=n_d // 4)
            t0 = time.perf_counter()
            info = retrieval.retention_sweep_inverted_index(
                spark, tidx, tcut)
            t_text = time.perf_counter() - t0

            nlist = 16 * m
            aged_emb = emb.select(
                "vec_id", "embedding",
                (F.lit(origin) + F.make_interval(
                    mins=(F.row_number().over(
                        Window.orderBy("vec_id")) % 2_000_000).cast("int")
                )).alias("ts"))
            aidx = os.path.join(d, "aindex")
            ann_index.build_index(spark, aged_emb, aidx, nlist=nlist,
                                  m=8, ncodes=16, meta_cols=("ts",))
            vcut = origin + dt.timedelta(minutes=n_v // 4)
            t0 = time.perf_counter()
            cells = ann_index.delete_index_where(
                spark, aidx,
                f"ts < timestamp'{vcut.strftime('%Y-%m-%d %H:%M:%S')}'")
            t_ann = time.perf_counter() - t0
            print(f"{m:>4} {n_d:>7} {t_text:>7.2f} "
                  f"{info['tombstoned']:>7} {n_v:>7} {nlist:>6} "
                  f"{t_ann:>7.2f} {len(cells):>6}")
        finally:
            shutil.rmtree(d, ignore_errors=True)


def servelist_main() -> None:
    """python tools/scaling_check.py --servelist [nlist ...] — the r17
    serving-read question isolated: how much does PARTITION DISCOVERY
    cost as the cell count grows, for a serve that reads a fixed
    nprobe=8 cells?  Builds a synthetic cell-partitioned store with
    nlist dirs (8 rows each — data volume per probe held CONSTANT, so
    any growth is pure listing), then medians 5 reps of
    (a) the pre-r17 form `read.parquet(store).filter(cell isin probe)`
    (lists every dir during discovery) vs (b) `_read_cells` /
    `sinks._read_buckets` (explicit dirs + basePath, lists only the
    probed 8).  On local FS the syscalls are cheap, so the measured
    gap UNDERSTATES object storage, where each dir list is a network
    round trip; the point is the TREND — (a) grows with nlist, (b)
    stays flat."""
    import statistics

    from msg_vector_search_spark.operators.ann_index import _read_cells
    from msg_vector_search_spark.session import get_spark

    nlists = [int(a) for a in sys.argv[1:] if a.isdigit()] \
        or [64, 512, 2048, 8192]
    spark = get_spark("servelist_scaling")
    probe = list(range(8))
    print(f"{'nlist':>6} {'dirs':>6} {'old_s':>7} {'new_s':>7} "
          f"{'old/new':>8}")
    for nlist in nlists:
        d = tempfile.mkdtemp(prefix=f"servelist_{nlist}_")
        store = os.path.join(d, "vectors")
        try:
            # repartition ON cell first: each writer task holds whole
            # cells, so the store lands as ONE file per cell dir (the
            # shape a compacted real store has) instead of up to
            # 32 x nlist fragments
            (spark.range(nlist * 8)
             .select(F.col("id"),
                     (F.col("id") % nlist).cast("int").alias("cell"),
                     F.rand(seed=7).alias("v"))
             .repartition(32, "cell")
             .write.partitionBy("cell").parquet(store))
            olds, news = [], []

            def run_old():
                return (spark.read.parquet(store)
                        .filter(F.col("cell").isin(probe)).count())

            def run_new():
                return _read_cells(spark, store, probe).count()

            assert run_old() == run_new() == 64
            for _ in range(5):
                t0 = time.perf_counter(); run_old()
                olds.append(time.perf_counter() - t0)
                t0 = time.perf_counter(); run_new()
                news.append(time.perf_counter() - t0)
            o, n = statistics.median(olds), statistics.median(news)
            print(f"{nlist:>6} {nlist:>6} {o:>7.3f} {n:>7.3f} "
                  f"{o / n:>8.2f}")
        finally:
            shutil.rmtree(d, ignore_errors=True)


def retention_main() -> None:
    """python tools/scaling_check.py --retention [mult ...] — TTL-sweep
    scaling: stores of 1x/4x/16x rows under the SAME per-dir width
    discipline (~constant keys/dir, so dir count grows with the
    corpus), each swept at a fixed 25% retention cut.  The claim under
    measurement: sweep cost is footers + boundary bytes — whole-dir
    drops are metadata renames, live dirs are never opened — so
    sweep_s grows far slower than store size (the probe is O(dirs)
    driver-side metadata; the ONE boundary-bucket rewrite is
    ~constant).  build_s is the setup cost, reported for contrast."""
    import datetime as dt

    from msg_vector_search_spark.session import get_spark
    from msg_vector_search_spark.sources import readers, sinks

    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 16]
    spark = get_spark("retention_scaling")
    origin = dt.datetime(2024, 1, 1)
    print(f"{'xN':>4} {'rows':>9} {'dirs':>6} {'build_s':>8} "
          f"{'sweep_s':>8} {'dropped':>8} {'rewrit':>7} {'surv':>9}")
    for m in mults:
        d = tempfile.mkdtemp(prefix=f"ttl_{m}x_")
        try:
            ev = readers.read_table(spark, BASE, "events") \
                .select("event_id", "ts")
            n0 = ev.count()
            copies = [ev.withColumn("event_id",
                                    F.col("event_id") + F.lit(i * 10_000_000))
                      .withColumn("ts", F.col("ts") + F.expr(
                          f"INTERVAL {i * 31} DAYS"))
                      for i in range(m)]
            big = copies[0]
            for c in copies[1:]:
                big = big.unionByName(c)
            # production sizing: keys/dir held constant -> dirs grow
            # with the corpus (the property the footer probe rides)
            width = 2_500
            store = os.path.join(d, "store")
            t0 = time.perf_counter()
            sinks.upsert_parquet(spark, big.withColumn("_ord", F.lit(1)),
                                 store, key="event_id", order_col="_ord",
                                 layout="range", range_width=width)
            t_build = time.perf_counter() - t0
            ndirs = sum(1 for e in os.listdir(store)
                        if e.startswith(sinks.BUCKET_COL + "="))
            # fixed 25% cut of the OLDEST data (replica 0's first week)
            cutoff = origin + dt.timedelta(days=7, hours=12)
            t0 = time.perf_counter()
            info = sinks.retention_sweep(spark, store, cutoff)
            t_sweep = time.perf_counter() - t0
            surv = sinks.read_store(spark, store).count()
            print(f"{m:>4} {n0 * m:>9} {ndirs:>6} {t_build:>8.2f} "
                  f"{t_sweep:>8.2f} {len(info['dropped']):>8} "
                  f"{len(info['rewritten']):>7} {surv:>9}")
        finally:
            shutil.rmtree(d, ignore_errors=True)


def batch_main() -> None:
    """python tools/scaling_check.py --batch [Q ...] — measure the
    batched-serving amortization: Q single search_index calls vs ONE
    search_index_many(Q), and Q single search_inverted_index calls vs
    ONE search_inverted_index_many(Q), on materialized sf0.1 indexes.
    The batched paths share the pruned scans and pay the per-call
    scheduler round trip once, so the ratio should grow toward Q for
    cheap queries (overhead-dominated) and toward the shared-I/O
    fraction for expensive ones."""
    from msg_vector_search_spark.operators import ann_index, retrieval

    qs = [int(a) for a in sys.argv[1:] if a.isdigit()] or [2, 5, 10]
    from msg_vector_search_spark.session import get_spark
    spark = get_spark("batch_probe")  # the engine's tuned session
    # (r14 review: a raw builder here measured batched serving under
    # different planner confs than the engine actually runs)
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"))
    d = tempfile.mkdtemp(prefix="batchprobe_")
    try:
        apath = os.path.join(d, "ann")
        ann_index.build_index(spark, emb, apath, nlist=16, m=8, ncodes=16)
        docs = spark.read.parquet(f"{BASE}/documents.parquet")
        tpath = os.path.join(d, "text")
        retrieval.build_inverted_index(docs, tpath)
        qvecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
                 for r in emb.limit(max(qs)).collect()}
        base_terms = [["spark", "query", "dup"], ["data", "join"],
                      ["the", "vector"], ["spark", "data"],
                      ["query", "join"], ["vector", "dup"],
                      ["the", "spark"], ["data", "query"],
                      ["join", "vector"], ["the", "dup"]]
        # warmup both paths
        ann_index.search_index(spark, apath, next(iter(qvecs.values())),
                               k=10, nprobe=4, shortlist=50).count()
        retrieval.search_inverted_index(spark, tpath,
                                        base_terms[0]).count()
        print("Q  ann_single_sum  ann_lit  ann_joined | "
              "text_single_sum  text_lit  text_joined | hybrid_batched")
        # above this Q, skip the O(Q)-cost comparison arms (Q
        # sequential singles and the O(Q)-plan literal strategy) —
        # only the joined strategy and the hybrid are measured
        joined_only_above = 100
        for q in qs:
            full = q <= joined_only_above
            sub = dict(list(sorted(qvecs.items()))[:q])
            t_single = t_lit = float("nan")
            if full:
                t0 = time.time()
                for qv in sub.values():
                    ann_index.search_index(spark, apath, qv, k=10,
                                           nprobe=4,
                                           shortlist=50).count()
                t_single = time.time() - t0
                t0 = time.time()
                ann_index.search_index_many(spark, apath, sub, k=10,
                                            nprobe=4, shortlist=50,
                                            literal_max=10**9).count()
                t_lit = time.time() - t0
            t0 = time.time()
            ann_index.search_index_many(spark, apath, sub, k=10,
                                        nprobe=4, shortlist=50,
                                        literal_max=0).count()
            t_join = time.time() - t0
            tsets = {f"q{i}": base_terms[i % len(base_terms)]
                     for i in range(q)}
            x_single = x_lit = float("nan")
            if full:
                t0 = time.time()
                for ts in tsets.values():
                    retrieval.search_inverted_index(spark, tpath,
                                                    ts).count()
                x_single = time.time() - t0
                t0 = time.time()
                retrieval.search_inverted_index_many(
                    spark, tpath, tsets, k=20,
                    literal_max=10**9).count()
                x_lit = time.time() - t0
            t0 = time.time()
            retrieval.search_inverted_index_many(
                spark, tpath, tsets, k=20, literal_max=0).count()
            x_join = time.time() - t0
            hq = {qid: {"terms": base_terms[i % len(base_terms)],
                        "qvec": qv}
                  for i, (qid, qv) in enumerate(sorted(sub.items()))}
            t0 = time.time()
            retrieval.hybrid_serve_many(spark, tpath, apath, hq,
                                        leg_k=50, k=10, nprobe=4,
                                        shortlist=50).count()
            h_batch = time.time() - t0
            print(f"{q:<3d}{t_single:>13.2f}s{t_lit:>8.2f}s"
                  f"{t_join:>10.2f}s |{x_single:>14.2f}s"
                  f"{x_lit:>9.2f}s{x_join:>11.2f}s |{h_batch:>9.2f}s")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def engine_serve_main() -> None:
    """python tools/scaling_check.py --engineserve [mult ...] — warm
    indexed ``Engine.search`` as the store grows: the sf0.01 events
    replicated 1x/4x/16x (replica i's event_ids offset by i x 10,000,
    so ids stay arrival-ordered and the range-layout store grows new
    buckets; ts shifted by i x 31 days), ingested into a fresh store,
    indexed (default nlist 16, nprobe 8), then 5 timed warm
    ``search(limit=5)`` calls.  Reports the median wall ms, Spark jobs
    per call, and the payload read: the store files listed by the
    search's reads of the store (``read_store`` or ``_read_buckets``
    on the store path) and their bytes.  The claim: payload files and
    bytes per search stay flat as the store grows, because the served
    ids are fetched by key from their buckets.  The last line is the
    curve as one JSON object."""
    import json
    import statistics

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    from msg_vector_search_spark.engine import Engine
    from msg_vector_search_spark.session import get_spark
    from msg_vector_search_spark.sources import sinks

    mults = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 16]
    spark = get_spark("engine_serve_scaling")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    events = papq.read_table(os.path.join(os.path.dirname(BASE), "sf0.01",
                                          "events.parquet"))
    read_store, read_buckets = sinks.read_store, sinks._read_buckets
    frames: list = []
    store = {"path": None}  # the store whose reads are recorded

    def spy_store(spark_, path):
        df = read_store(spark_, path)
        if path == store["path"]:
            frames.append(df)
        return df

    def spy_buckets(spark_, path, buckets, part_col=sinks.BUCKET_COL):
        df = read_buckets(spark_, path, buckets, part_col=part_col)
        if path == store["path"]:
            frames.append(df)
        return df

    sinks.read_store, sinks._read_buckets = spy_store, spy_buckets
    curve = []
    print(f"{'xN':>4} {'rows':>7} {'buckets':>7} {'ingest_s':>8} "
          f"{'search_ms':>9} {'jobs':>4} {'files':>5} {'bytes':>9}")
    try:
        for m in mults:
            d = tempfile.mkdtemp(prefix=f"engine_serve_{m}x_")
            try:
                reps = [events.set_column(
                    0, "event_id", pc.add(events["event_id"], i * 10_000))
                    .set_column(1, "ts", pc.add(events["ts"], pa.scalar(
                        i * 31 * 86_400_000_000, pa.duration("us"))))
                    for i in range(m)]
                papq.write_table(pa.concat_tables(reps),
                                 os.path.join(d, "events.parquet"))
                eng = Engine(spark, d, os.path.join(d, "store"),
                             update_threshold=10 ** 9, clock=lambda: 0.0,
                             index_dir=os.path.join(d, "ann"))
                t0 = time.perf_counter()
                eng.update_embeddings(max_messages=None)
                assert eng.ensure_index()
                t_ingest = time.perf_counter() - t0
                store["path"] = eng._store_path()
                n_buckets = sum(e.startswith(sinks.BUCKET_COL + "=")
                                for e in os.listdir(store["path"]))
                eng.search("test message 7", limit=5, threshold=-1.0)
                walls, jobs, files = [], [], []
                for rep in range(5):
                    frames.clear()
                    before = sched.numTotalJobs()
                    t0 = time.perf_counter()
                    env = eng.search(f"test message {rep}", limit=5,
                                     threshold=-1.0)
                    walls.append((time.perf_counter() - t0) * 1000)
                    jobs.append(sched.numTotalJobs() - before)
                    assert len(env["results"]) == 5
                    files.append({f for df in frames
                                  for f in df.inputFiles()})
                n_bytes = [sum(os.path.getsize(f.removeprefix("file:"))
                               for f in fs) for fs in files]
                row = {"mult": m, "rows": events.num_rows * m,
                       "store_buckets": n_buckets,
                       "ingest_s": round(t_ingest, 1),
                       "search_ms_median": round(
                           statistics.median(walls), 1),
                       "search_jobs": statistics.median(jobs),
                       "payload_files_median": statistics.median(
                           len(fs) for fs in files),
                       "payload_bytes_median": statistics.median(n_bytes)}
                curve.append(row)
                print(f"{m:>4} {row['rows']:>7} {n_buckets:>7} "
                      f"{t_ingest:>8.1f} {row['search_ms_median']:>9.1f} "
                      f"{row['search_jobs']:>4} "
                      f"{row['payload_files_median']:>5} "
                      f"{row['payload_bytes_median']:>9}")
            finally:
                shutil.rmtree(d, ignore_errors=True)
    finally:
        sinks.read_store, sinks._read_buckets = read_store, read_buckets
    print(json.dumps({"cores": spark.sparkContext.defaultParallelism,
                      "curve": curve}))


def bucketwidth_main() -> None:
    """python tools/scaling_check.py --bucketwidth [vocab ...] — the
    r17 auto-sizing question isolated: how many postings rows does a
    4-term serve SCAN as the vocabulary grows, under the historical
    fixed-64 layout vs the auto-sized one (vocab/512 buckets)?  The
    serve reads whole term buckets then filters to its terms, so
    terms-per-bucket is pure read amplification; rows-scanned is
    deterministic (counted off the probed-dirs read, before the term
    filter), making this an exact accounting rather than a local-FS
    timing.  Each term appears in exactly 2 docs, so rows-per-term is
    constant and any growth is layout width alone."""
    from msg_vector_search_spark.operators import retrieval
    from msg_vector_search_spark.sources.sinks import _read_buckets
    from msg_vector_search_spark.session import get_spark

    vocabs = [int(a) for a in sys.argv[1:] if a.isdigit()] \
        or [8192, 65536, 262144]
    spark = get_spark("bucketwidth_scaling")
    terms = [f"t{i}x" for i in (7, 1009, 4001, 8111)]
    print(f"{'vocab':>8} {'auto_nb':>8} {'rows_64':>9} {'rows_auto':>10} "
          f"{'ratio':>6}")
    for v in vocabs:
        d = tempfile.mkdtemp(prefix=f"bucketwidth_{v}_")
        try:
            # v distinct terms, each in docs (t mod D) and (t+1 mod D)
            ndocs = max(64, v // 64)
            docs = (spark.range(v).select(
                F.concat(F.lit("t"), F.col("id").cast("string"),
                         F.lit("x")).alias("term"),
                F.explode(F.array(
                    (F.col("id") % ndocs),
                    ((F.col("id") + 1) % ndocs))).alias("doc_id"))
                .groupBy("doc_id")
                .agg(F.concat_ws(" ", F.collect_list("term"))
                     .alias("text")))
            rows = {}
            for label, nb in (("64", 64), ("auto", None)):
                path = os.path.join(d, f"idx_{label}")
                retrieval.build_inverted_index(docs, path,
                                               n_buckets=nb)
                meta = retrieval._read_text_meta(path)
                got_nb = int(meta["n_buckets"])
                row = spark.range(1).select(*[
                    F.pmod(F.xxhash64(F.lit(t)), F.lit(got_nb))
                    .alias(f"b{i}") for i, t in enumerate(terms)]) \
                    .collect()[0]
                tbs = sorted({int(x) for x in row})
                rows[label] = _read_buckets(
                    spark, os.path.join(path, "postings"), tbs,
                    part_col="tb").count()
                if label == "auto":
                    auto_nb = got_nb
            print(f"{v:>8} {auto_nb:>8} {rows['64']:>9} "
                  f"{rows['auto']:>10} "
                  f"{rows['64'] / max(1, rows['auto']):>6.1f}")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    if "--knee" in sys.argv:
        knee_main()
    elif "--recallfloor" in sys.argv:
        recall_floor_main()
    elif "--batch" in sys.argv:
        batch_main()
    elif "--erase" in sys.argv:
        erase_main()
    elif "--retention" in sys.argv:
        retention_main()
    elif "--ttlindex" in sys.argv:
        ttl_index_main()
    elif "--servelist" in sys.argv:
        servelist_main()
    elif "--bucketwidth" in sys.argv:
        bucketwidth_main()
    elif "--engineserve" in sys.argv:
        engine_serve_main()
    elif "--tpch" in sys.argv:
        tpch_main()
    elif "--retrieval" in sys.argv:
        retrieval_main()
    elif "--trunc" in sys.argv:
        trunc_main()
    elif "--audits" in sys.argv:
        audits_main()
    elif "--transforms" in sys.argv:
        transforms_main()
    else:
        main()
