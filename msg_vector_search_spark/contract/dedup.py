"""Training-data pipeline: dedup family (extension surface)"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import analysis, vector as V
from ..operators import ann_index
from ..operators import dedup as dedup_ops
from ..operators import ivf as ivf_ops
from ..operators import lsh as lsh_ops
from ..streaming import stream as streaming_ops

from .core import _t, _upsert_base_path, register
from .ivfpq_oracle import _seed_cent, _with


_DUCK_TOKENS = ("string_split_regex(trim(lower(text)), '\\s+')")
# how many of the Gopher required stop words ``toks`` holds
_DUCK_GOPHER_STOPS = "(" + " + ".join(
    f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END"
    for w in analysis.GOPHER_REQUIRED_STOPWORDS) + ")"


@register("dedup_exact", oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp,
       min(doc_id) AS doc_id, count(*) AS dup_count
FROM corpus GROUP BY 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint; every 10th doc is
    re-injected under a new id and must collapse onto the original
    (dup_count 2, canonical id = min)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (docs.filter(F.col("doc_id") % 10 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000))
    return dedup_ops.dedup_exact(docs.unionByName(dups))


@register("dedup_incremental_new_docs", oracle=f"""
WITH fp AS (
  SELECT doc_id, md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp
  FROM documents
), batch AS (
  SELECT fp, min(doc_id) AS doc_id,
         CAST(count(*) AS BIGINT) AS batch_dups
  FROM fp GROUP BY fp
)
SELECT b.doc_id, b.fp, b.batch_dups
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM fp s
                  WHERE s.doc_id % 2 = 0 AND s.fp = b.fp)
""")
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus hygiene — the shape every recurring crawl
    runs: a fingerprint STORE of previously admitted documents (here:
    the even-id half, persisted to parquet in-query so the anti join
    reads a real store, not lineage) filters a NEW batch down to
    genuinely new documents.  Batch-internal dedup first (groupBy fp,
    canonical = min id, map-side partials), then one LEFT ANTI join
    against the store on the uniform fp key.  At 100 TB the store is
    |corpus-to-date| fingerprints — 16 bytes/doc, bucketed by fp so
    the nightly anti join is co-located; the batch side is one crawl,
    orders of magnitude smaller.  The admission decision never
    rescans admitted TEXT, only fingerprints."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fp = docs.select("doc_id",
                     analysis.fingerprint_md5("text").alias("fp"))
    store_dir = os.path.join(tempfile.mkdtemp(prefix="fpstore_"), "fp")
    (fp.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
     .write.mode("overwrite").parquet(store_dir))
    store = spark.read.parquet(store_dir)
    batch = (fp.groupBy("fp")
             .agg(F.min("doc_id").alias("doc_id"),
                  F.count(F.lit(1)).alias("batch_dups")))
    return (batch.join(store, "fp", "left_anti")
            .select("doc_id", "fp", "batch_dups"))


@register("streaming_incremental_dedup", oracle=f"""
WITH fp AS (
  SELECT doc_id, md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp
  FROM documents
), store AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0
), incoming AS (
  SELECT doc_id, fp, doc_id % 3 AS batch FROM fp WHERE doc_id % 2 = 1
), fresh AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = i.fp)
), ranked AS (
  SELECT doc_id, fp, batch,
         row_number() OVER (PARTITION BY fp
                            ORDER BY batch, doc_id) AS rn
  FROM fresh
)
SELECT doc_id, fp, batch FROM ranked WHERE rn = 1
""")
def streaming_incremental_dedup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The recurring crawl LIVE: odd-id documents arrive as a file
    stream in three micro-batches (one file per doc_id%3 slice,
    mtime-ordered so batch order is deterministic), and each
    foreachBatch admits only fingerprints seen in NEITHER the
    persisted store (pre-seeded with the even-id half) NOR any earlier
    micro-batch — admitting appends both the document row and its
    fingerprint, so the store the next batch anti-joins against has
    grown.  The oracle replays the whole stream as one SQL statement
    (first batch wins per fingerprint, min doc_id within the batch):
    a green row proves cross-batch admission converges to exactly the
    batch-mode answer, i.e. re-sharding or re-batching a crawl never
    changes what gets admitted.  Cost per batch stays
    O(batch + store-probe) — the streaming form of
    dedup_incremental_new_docs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fp = docs.select("doc_id",
                     analysis.fingerprint_md5("text").alias("fp"))

    root = tempfile.mkdtemp(prefix="streamdedup_")
    fp_store = os.path.join(root, "fp_store")
    admitted_store = os.path.join(root, "admitted")
    src = os.path.join(root, "incoming")
    os.makedirs(src)
    (fp.filter(F.col("doc_id") % 2 == 0).select("fp").distinct()
     .write.mode("overwrite").parquet(fp_store))

    # three arrival files in deterministic order: doc_id%3 slices with
    # strictly increasing mtimes (FileStreamSource processes oldest
    # first; maxFilesPerTrigger=1 makes each file its own micro-batch)
    odd = fp.filter(F.col("doc_id") % 2 == 1)
    for b in range(3):
        part_dir = os.path.join(root, f"stage_{b}")
        (odd.filter(F.col("doc_id") % 3 == b).coalesce(1)
         .write.mode("overwrite").parquet(part_dir))
        part = next(f for f in os.listdir(part_dir)
                    if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch_{b}.parquet")
        os.rename(os.path.join(part_dir, part), dst)
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        store = sess.read.parquet(fp_store)
        fresh = (batch_df.groupBy("fp")
                 .agg(F.min("doc_id").alias("doc_id"))
                 .join(store, "fp", "left_anti")
                 .withColumn("batch", F.lit(batch_id).cast("long"))
                 .select("doc_id", "fp", "batch")
                 .localCheckpoint())
        fresh.write.mode("append").parquet(admitted_store)
        fresh.select("fp").write.mode("append").parquet(fp_store)

    streaming_ops.foreach_file_batch(spark, src, odd.schema, admit,
                                     "streamdedup")
    return spark.read.parquet(admitted_store) \
        .select("doc_id", "fp", "batch")


@register("pipeline_crawl_admit_index", oracle=f"""
WITH fp AS (
  SELECT doc_id, text, md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp
  FROM documents
), store AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0
), admitted AS (
  SELECT fp, min(doc_id) AS doc_id FROM fp
  WHERE doc_id % 2 = 1 GROUP BY fp
), fresh AS (
  SELECT a.doc_id FROM admitted a
  WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = a.fp)
), gm AS (
  SELECT f.doc_id, t.text, {_DUCK_TOKENS.replace('text', 't.text')} AS toks
  FROM fresh f JOIN documents t ON t.doc_id = f.doc_id
), gated AS (
  SELECT doc_id FROM gm
  WHERE len(toks) BETWEEN 50 AND 100000
    AND CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
        / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0
    AND (len(regexp_extract_all(text, '#'))
         + len(regexp_extract_all(text, '\\.\\.\\.')))
        / CAST(greatest(len(toks), 1) AS DOUBLE) <= 0.1
    AND len(list_filter(string_split(text, chr(10)),
            x -> regexp_matches(x, '^\\s*[-*]')))
        / CAST(len(string_split(text, chr(10))) AS DOUBLE) <= 0.9
    AND len(list_filter(string_split(text, chr(10)),
            x -> regexp_matches(x, '\\.\\.\\.\\s*$')))
        / CAST(len(string_split(text, chr(10))) AS DOUBLE) <= 0.3
    AND len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        / CAST(greatest(len(toks), 1) AS DOUBLE) >= 0.8
    AND {_DUCK_GOPHER_STOPS} >= 1
), {_seed_cent("embeddings WHERE vec_id % 10 <> 3")}, cscored AS (
  SELECT e.vec_id, c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM embeddings e
  JOIN gated g ON g.doc_id = e.vec_id
  CROSS JOIN cent c
)
SELECT vec_id AS doc_id, centroid_id AS cell FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cdist DESC, centroid_id) AS rn
  FROM cscored) WHERE rn = 1
""")
def pipeline_crawl_admit_index(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The crawl-ingestion capstone, one declarative chain: the
    incoming half of the corpus is deduped batch-internally and
    anti-joined against the persisted fingerprint store (admission),
    the admitted documents pass the Gopher quality battery (gating),
    and the survivors' embeddings are assigned to the PERSISTED
    index's coarse cells (the routing step of the ANN upsert) — the
    data-shaping spine of dedup -> filter -> index that a recurring
    crawl runs end to end, composed from the same operators the
    standalone rows verify individually.  The full-oracle output
    (doc_id, cell) value-checks every stage at once: a regression
    anywhere in the chain moves the final assignment."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fpd = docs.select("doc_id",
                      analysis.fingerprint_md5("text").alias("fp"))
    store = (fpd.filter(F.col("doc_id") % 2 == 0)
             .select("fp").distinct())
    admitted = (fpd.filter(F.col("doc_id") % 2 == 1)
                .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
                .join(store, "fp", "left_anti").select("doc_id"))
    flags = analysis.gopher_flags(F.col("text"), min_stopwords=1)
    gated = (admitted.join(docs, "doc_id")
             .filter(flags["keep"]).select("doc_id"))
    cent = ann_index.load_centroids(
        spark, _upsert_base_path(spark, sf_dir))
    emb = _t(spark, sf_dir, "embeddings")
    routed = ivf_ops.assign_cells(
        emb.join(gated, emb.vec_id == gated.doc_id).drop("doc_id"),
        cent)
    return routed.select(F.col("vec_id").alias("doc_id"),
                         F.col("cell").cast("long").alias("cell"))


def _duck_shingles(n: int) -> str:
    """DuckDB twin of dedup.shingles: word n-grams with the short-doc
    fallback (1-indexed lists; range() is 0-based)."""
    joins = " || ' ' || ".join(f"toks[i + {j + 1}]" for j in range(n))
    return (f"CASE WHEN len(toks) - {n - 1} <= 0 "
            f"THEN [array_to_string(toks, ' ')] "
            f"ELSE [{joins} FOR i IN range(len(toks) - {n - 1})] END")


_DUCK_HASH48 = "(('0x' || substr(md5({x}), 1, 12))::BIGINT)"


def _duck_minhash(num_hashes: int) -> str:
    """DuckDB twin of dedup.minhash_signature over an `hs` base-hash
    list: seeded universal hashes (a*h+b) mod p, min per seed."""
    P = dedup_ops.MINHASH_PRIME
    parts = [
        f"list_min(list_transform(hs, h -> "
        f"({dedup_ops.MINHASH_A[i]} * h + {dedup_ops.MINHASH_B[i]}) % {P}))"
        for i in range(num_hashes)
    ]
    return "[" + ", ".join(parts) + "]"


def _minhash_bands(toks: str = "toks") -> str:
    """``sh``/``hashed``/``sig``/``banded``: 3-word shingles of *toks*
    (a relation of doc_id, toks), MinHash(8), 4 bands of 2 rows."""
    return f"""sh AS (
  SELECT doc_id, {_duck_shingles(3)} AS sh FROM {toks}
), hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> {_DUCK_HASH48.format(x='s')}) AS hs
  FROM sh
), sig AS (
  SELECT doc_id, {_duck_minhash(8)} AS sig FROM hashed
), banded AS (
  SELECT doc_id,
         unnest(range(4)) AS band_idx,
         unnest([
           CAST(sig[1] AS VARCHAR) || '_' || CAST(sig[2] AS VARCHAR),
           CAST(sig[3] AS VARCHAR) || '_' || CAST(sig[4] AS VARCHAR),
           CAST(sig[5] AS VARCHAR) || '_' || CAST(sig[6] AS VARCHAR),
           CAST(sig[7] AS VARCHAR) || '_' || CAST(sig[8] AS VARCHAR)
         ]) AS band_hash
  FROM sig
)"""


_MINHASH_CTE = _with(f"""toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
)""", _minhash_bands())

_MINHASH_PAIRS_SQL = _MINHASH_CTE + """
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", oracle=_MINHASH_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands x 2 rows) near-dup candidate pairs over
    3-word shingles — shuffle keys are uniform band hashes, corpus never
    all-paired.  max_block turns on the exact grid-salting skew guard
    (boilerplate mega-buckets spread over ceil(n/32) reducers; output
    identical — the oracle above is the unsalted join)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.dedup_minhash_lsh(docs, num_hashes=8, bands=4,
                                       shingle_n=3, max_block=32)


@register("dedup_lsh_star", oracle=_MINHASH_CTE + """, sized AS (
  SELECT doc_id, band_idx, band_hash,
         count(*) OVER (PARTITION BY band_idx, band_hash) AS bsz,
         min(doc_id) OVER (PARTITION BY band_idx, band_hash) AS bmin
  FROM banded
)
SELECT DISTINCT id_a, id_b FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sized a JOIN sized b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.bsz <= 8 AND a.doc_id < b.doc_id
  UNION ALL
  SELECT bmin AS id_a, doc_id AS id_b
  FROM sized WHERE bsz > 8 AND doc_id <> bmin
)
""")
def dedup_lsh_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates with O(n) output for oversized buckets: buckets
    over the threshold emit star (min_id, member) spanning edges instead
    of the quadratic pair set — identical connected components, bounded
    output.  Threshold 8 is artificially low so sf0.01 exercises both
    arms; 100 TB default is O(thousands)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.lsh_star_pairs(docs, num_hashes=8, bands=4,
                                    shingle_n=3, star_threshold=8)


def _duck_simhash(bits: int) -> str:
    h = _DUCK_HASH48.format(x="t")
    terms = []
    for b in range(bits):
        vote = (f"list_sum(list_transform(toks, t -> "
                f"CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END))")
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2 ** b} ELSE 0 END)")
    return " + ".join(terms)


@register("dedup_simhash", oracle=f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
), fp AS (
  SELECT doc_id, CAST({_duck_simhash(16)} AS BIGINT) AS simhash FROM toks
)
SELECT simhash, count(*) AS cluster_size, min(doc_id) AS min_id
FROM fp GROUP BY simhash HAVING count(*) > 1
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash clusters (hamming-0 grouping); sign-vote bits over
    token hashes, one shuffle on the fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.dedup_simhash(docs, bits=16)


@register("dedup_simhash_hamming", oracle=f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
), fp AS (
  SELECT doc_id, CAST({_duck_simhash(16)} AS BIGINT) AS fp FROM toks
), banded AS (
  SELECT doc_id, fp,
         unnest(range(3)) AS block_idx,
         unnest([(fp >> 0) & 63, (fp >> 6) & 31, (fp >> 11) & 31])
           AS block_val
  FROM fp
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.block_idx = b.block_idx AND a.block_val = b.block_val
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 2
""")
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming distance <= 2 via bit-slice
    blocking (3 slices of the 16-bit fingerprint; pigeonhole guarantees
    any <=2-distant pair shares a slice) — candidates are same-slice
    rows only, verified with one xor+popcount each."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup_ops.simhash_hamming_pairs(docs, bits=16, max_distance=2)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


@register("dedup_minhash_estimate", oracle=_MINHASH_CTE + """,
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       (round(CAST(list_sum([CASE WHEN sa.sig[i + 1] = sb.sig[i + 1]
                             THEN 1 ELSE 0 END FOR i IN range(8)])
                   AS DOUBLE) / 8, 6) + 0) AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_a
JOIN sig sb ON sb.doc_id = p.id_b
""")
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-based Jaccard ESTIMATE for the LSH candidate pairs
    (E[component match] = J): num_hashes integer compares per pair
    instead of re-shingling both documents — the cheap prune between
    candidate generation and exact verification at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.minhash_estimate_pairs(docs, num_hashes=8, bands=4,
                                            shingle_n=3)


def _scaled_corpus(cols: str = "") -> str:
    """``corpus``: the embeddings (with the *cols* columns) plus every
    20th vector re-injected scaled x1.25 as vec_id + 1000000 — cosine
    1.0 with its original, which near-dup detection must catch."""
    return f"""corpus AS (
  SELECT vec_id,{cols} embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,{cols}
         list_transform(embedding, x -> CAST(x * 1.25 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 20 = 0
)"""


def _with_scaled_dups(emb: DataFrame) -> DataFrame:
    """The Spark twin of :func:`_scaled_corpus`."""
    scaled = (emb.filter(F.col("vec_id") % 20 == 0)
              .withColumn("vec_id", F.col("vec_id") + 1000000)
              .withColumn("embedding", F.transform(
                  "embedding",
                  lambda x: (x * F.lit(1.25)).cast("float"))))
    return emb.unionByName(scaled)


@register("dedup_embedding_lsh", oracle=f"""
WITH {_scaled_corpus()}, planes AS (
  SELECT embedding AS pv, row_number() OVER (ORDER BY vec_id) - 1 AS pidx
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
), buckets AS (
  SELECT c.vec_id, c.embedding,
         CAST(sum(CASE WHEN (round({V.duck_dot('c.embedding', 'p.pv')}, 6)
                             + 0) >= 0
                  THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END) AS BIGINT)
           AS bucket
  FROM corpus c CROSS JOIN planes p
  GROUP BY c.vec_id, c.embedding
)
SELECT a.bucket AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) AS sim
FROM buckets a JOIN buckets b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) >= 0.99
""")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with the block = the vector's own sign-LSH
    bucket (no label column needed — the 100 TB shape, where blocking
    must come from the vectors themselves).  Scale-dup injections (x
    1.25) share their original's bucket EXACTLY: a positive scale
    flips no dot-product sign, so LSH blocking provably cannot miss
    them."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _with_scaled_dups(emb)
    planes = lsh_ops.seed_planes(emb, 4)
    assigned = lsh_ops.assign_buckets(corpus.select("vec_id", "embedding"),
                                      planes)
    return dedup_ops.embedding_near_dup(assigned, block_col="bucket",
                                        threshold=0.99)


@register("dedup_ngram_jaccard", oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS toks FROM documents
), sh AS (
  SELECT doc_id, source AS block,
         unnest(list_distinct({_duck_shingles(2)})) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, block, count(*) AS set_size FROM sh GROUP BY 1, 2
), inter AS (
  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_size
  FROM sh a JOIN sh b ON a.block = b.block AND a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
)
SELECT i.block, i.id_a, i.id_b,
       (round(CAST(i.inter_size AS DOUBLE)
              / (sa.set_size + sb.set_size - i.inter_size), 6) + 0) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a AND sa.block = i.block
JOIN sizes sb ON sb.doc_id = i.id_b AND sb.block = i.block
WHERE (round(CAST(i.inter_size AS DOUBLE)
             / (sa.set_size + sb.set_size - i.inter_size), 6) + 0) >= 0.2
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-gram Jaccard >= 0.2 for pairs sharing a source block —
    the verification stage after LSH blocking."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.ngram_jaccard_pairs(docs, "source", shingle_n=2,
                                         threshold=0.2)


@register("dedup_containment", oracle=f"""
WITH lt AS (
  SELECT doc_id, source, {_DUCK_TOKENS} AS t FROM documents
), corpus AS (
  SELECT doc_id, source, t FROM lt
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, source,
         t[1:greatest(len(t) // 2, 1)] AS t
  FROM lt WHERE doc_id % 20 = 0
), sh AS (
  SELECT doc_id, source AS block,
         unnest(list_distinct(CASE WHEN len(t) - 1 <= 0
           THEN [array_to_string(t, ' ')]
           ELSE [t[i + 1] || ' ' || t[i + 2] FOR i IN range(len(t) - 1)]
         END)) AS shingle
  FROM corpus
), sizes AS (
  SELECT doc_id, block, count(*) AS set_size FROM sh GROUP BY 1, 2
), inter AS (
  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b,
         count(*) AS inter_size
  FROM sh a JOIN sh b ON a.block = b.block AND a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
), scored AS (
  SELECT i.block, i.id_a, i.id_b,
         (round(CAST(i.inter_size AS DOUBLE)
                / least(sa.set_size, sb.set_size), 6) + 0) AS containment,
         (round(CAST(i.inter_size AS DOUBLE)
                / (sa.set_size + sb.set_size - i.inter_size), 6) + 0)
           AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a AND sa.block = i.block
  JOIN sizes sb ON sb.doc_id = i.id_b AND sb.block = i.block
)
SELECT * FROM scored WHERE containment >= 0.8
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup (Broder's measure — the subset-duplication
    gate): every 20th doc is re-injected as its first-half token
    excerpt; the excerpt's 2-gram shingles are a SUBSET of the
    original's, so containment pins 1.0 while Jaccard sits near 0.5 —
    the asymmetric quote/boilerplate-inclusion case Jaccard
    structurally misses (both scores returned so the gap is in the
    verified values).  Blocked by source like the Jaccard row; at
    100 TB the block is an LSH bucket and this is the verification
    stage (dedup.containment_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    toks = analysis.tokens(F.col("text"))
    excerpt = F.array_join(
        F.slice(toks, 1,
                F.greatest((F.size(toks) / F.lit(2)).cast("int"),
                           F.lit(1))), " ")
    corpus = docs.select("doc_id", "source", "text").unionByName(
        docs.filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
                "source", excerpt.alias("text")))
    return dedup_ops.containment_pairs(corpus, "source", shingle_n=2,
                                       threshold=0.8)


@register("dedup_edit_distance", oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         substr(text, 1, 20) || 'Z' || substr(text, 21) AS text
  FROM documents WHERE doc_id % 15 = 0
), keyed AS (
  SELECT doc_id, lower(substr(text, 1, 12)) AS block,
         substr(text, 1, 64) AS cmp
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.cmp, b.cmp) AS BIGINT) AS dist
FROM keyed a JOIN keyed b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE levenshtein(a.cmp, b.cmp) <= 2
""")
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by bounded edit distance (record-linkage style):
    every 15th doc is re-injected with one character inserted at
    position 21 and must pair with its original at dist 1.  Blocks by
    the 12-char lowercase prefix (untouched by the injected edit);
    levenshtein runs over the first 64 chars only, so per-candidate
    cost is constant regardless of document length.  The operator
    grid-salts hot blocks; the oracle is the plain block join — salt
    changes placement, never the pair set."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mut = (docs.filter(F.col("doc_id") % 15 == 0)
           .withColumn("doc_id", F.col("doc_id") + 2000000)
           .withColumn("text", F.concat(F.substring("text", 1, 20),
                                        F.lit("Z"),
                                        F.expr("substring(text, 21)"))))
    return dedup_ops.edit_distance_pairs(docs.unionByName(mut))


@register("dedup_embedding_cosine", oracle=f"""
WITH {_scaled_corpus(" label,")}
SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) AS sim
FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE (round({V.duck_cosine('a.embedding', 'b.embedding')}, 6) + 0) >= 0.99
""")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within a label block; every 20th
    vector is re-injected scaled x1.25 (cosine 1.0 with its original)
    and must be caught."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _with_scaled_dups(emb)
    return dedup_ops.embedding_near_dup(corpus, threshold=0.99)
