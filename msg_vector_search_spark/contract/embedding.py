"""Embedding UDF (SURVEY 2.I I1/I2) and multimodal plumbing

The model itself is not SQL-expressible, so these are rows-only checks
except where the output is model-free (multimodal metadata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import embed, multimodal
from ..functions import analysis, vector as V
from ..operators import dedup as dedup_ops
from ..operators import dims as dims_ops
from ..operators import similarity as sim_ops
from ..sources import readers

from .core import _query_vec, _t, register, rnd
from .dedup import _DUCK_TOKENS


@register("udf_embed_batch")
def udf_embed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1 ``udf_embed_batch``: Arrow-batched pandas-UDF embedding of the
    documents table (deterministic fake encoder; rows-only check).
    Output is the model-free part: id, dimension, unit norm.
    Reference: src/core/embeddings/processor.py:174-324."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = embed.with_embeddings(readers.widen(docs), text_col="text")
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        rnd(V.norm("embedding"), 3).alias("norm"))


@register("udf_embed_query")
def udf_embed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 ``udf_embed_query`` + the full search path: embed one query
    string driver-side, broadcast it as a literal, cosine top-k against
    the stored corpus (rows-only: the query vector is model output).
    Reference: embeddings/processor.py:461-529."""
    qv = embed.embed_query_vector("test message")
    emb = _t(spark, sf_dir, "embeddings")
    # Scalar projection only: the driver's pandas canonicalizer cannot
    # hash array cells, and the embedding column is knn_search
    # passthrough baggage — (vec_id, sim) IS the search answer.
    return sim_ops.knn_search(emb, qv, k=10, threshold=-1.0).select(
        "vec_id", "sim")


@register("multimodal_features", oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       octet_length(encode(text)) AS n_bytes
FROM documents
""")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary payload column ->
    mapInPandas feature extraction (byte histograms standing in for
    codec+CNN) -> typed metadata.  The oracle checks the model-free
    metadata columns; the feature vectors are covered by unit tests."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(readers.widen(media))
    return feats.select("media_id", "media_type", "n_bytes")


@register("multimodal_dedup_bytes", oracle="""
WITH media AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS media_id, text
  FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(text) AS payload_md5, min(media_id) AS media_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM media GROUP BY payload_md5
""")
def multimodal_dedup_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact multimodal dedup: group opaque binary payloads by
    content hash (md5 computed JVM-side on the binary column — no
    decode, no Python), canonical = smallest id.  Every 7th payload is
    re-injected under a new id and must collapse onto its original.
    The first pass of any multimodal pipeline: at 100 TB the hash
    rides the scan and the only shuffle carries (16-byte digest, id)
    pairs, never payload bytes — identical shape to dedup_exact but on
    raw media bytes instead of normalized text.  (Spark hashes the
    BINARY column; DuckDB's md5 is VARCHAR-only, so the oracle hashes
    the text whose UTF-8 encoding IS that byte stream.)"""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.encode("text", "UTF-8").alias("payload"))
    dups = (docs.filter(F.col("doc_id") % 7 == 0)
            .select((F.col("doc_id") + 500000).alias("media_id"),
                    F.encode("text", "UTF-8").alias("payload")))
    return (media.unionByName(dups)
            .groupBy(F.md5("payload").alias("payload_md5"))
            .agg(F.min("media_id").alias("media_id"),
                 F.count(F.lit(1)).alias("dup_count")))


def _media_with_truncated_dups(docs: DataFrame) -> DataFrame:
    """Shared media-fixture construction for the two multimodal dedup
    rows (r14 seventh review: previously duplicated verbatim): every
    9th payload re-injected truncated to 80% of its bytes — the
    stand-in for a re-encode.

    ORACLE-MODEL NOTE: payloads are UTF-8 encodings of
    ``documents.text``, and these rows' DuckDB oracles window the TEXT
    by CHARACTERS while the engine windows the payload BYTES — equal
    exactly when the text is single-byte (pure ASCII), which every
    fixture is (asserted by tests/test_oracle_model_boundaries.py);
    multibyte text is off-model for the ORACLES (this DuckDB build has
    no blob substring/md5 to express byte windows), never for the
    engine, whose byte windows are the real media semantics."""
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.encode("text", "UTF-8").alias("payload"))
    dups = (docs.filter(F.col("doc_id") % 9 == 0)
            .select((F.col("doc_id") + 500000).alias("media_id"),
                    F.encode(F.expr(
                        "substring(text, 1, "
                        "cast(floor(length(text) * 0.8) as int))"),
                        "UTF-8").alias("payload")))
    return media.unionByName(dups)


# ``media``: the SQL twin of _media_with_truncated_dups, on text
_TRUNCATED_MEDIA = """
WITH media AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS media_id,
         substring(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
  FROM documents WHERE doc_id % 9 = 0
)"""


@register("multimodal_dedup_near", oracle=_TRUNCATED_MEDIA + f""", wins AS (
  SELECT media_id, substring(text, CAST(i*4+1 AS INT), 8) AS win
  FROM media, LATERAL unnest(range((length(text) - 8) // 4 + 1)) t(i)
  WHERE length(text) >= 8
  UNION ALL
  SELECT media_id, text AS win FROM media
  WHERE length(text) > 0 AND length(text) < 8
), hashed AS (
  SELECT media_id, {analysis.duck_token_hash('win')} AS h FROM wins
), votes AS (
  SELECT media_id, b.bit,
         sum(CASE WHEN (h >> CAST(b.bit AS INT)) % 2 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(32)) AS bit) b
  GROUP BY media_id, b.bit
), fp AS (
  SELECT m.media_id,
         CAST(coalesce(sum(CASE WHEN v.v > 0
                           THEN CAST(1 AS BIGINT) << CAST(v.bit AS INT)
                           END), 0) AS BIGINT) AS fp
  FROM media m LEFT JOIN votes v ON v.media_id = m.media_id
  GROUP BY m.media_id
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.media_id < b.media_id
WHERE bit_count(xor(a.fp, b.fp)) <= 4
""")
def multimodal_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup multimodal dedup — the perceptual twin of
    multimodal_dedup_bytes (which only catches byte-identical copies):
    every 9th payload is re-injected TRUNCATED to 80% of its bytes
    (the fixture's stand-in for a re-encode), fingerprinted with the
    32-bit strided-window SimHash (multimodal.perceptual_simhash), and
    paired at hamming distance <= 4 through the same bit-slice
    blocking as text SimHash (dedup.hamming_pairs — 5 slices, never
    all-pairs).  The oracle computes the identical fingerprint in SQL
    (md5-prefix window hashes + integer votes) and verifies the pair
    list ALL-PAIRS — proving the pigeonhole blocking loses nothing.
    Plan: narrow fingerprint map riding the scan, one exchange on the
    (block_idx, block_val) key; corrupted copies land within the
    distance budget while unrelated payloads sit ~bits/2 apart."""
    docs = _t(spark, sf_dir, "documents")
    fps = multimodal.perceptual_simhash(
        readers.widen(_media_with_truncated_dups(docs)),
        bits=32, window=8, stride=4)
    pairs = dedup_ops.hamming_pairs(fps, id_col="media_id",
                                    fp_col="fp", bits=32,
                                    max_distance=4)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


@register("multimodal_frame_dedup", oracle=_TRUNCATED_MEDIA + """, frames AS (
  SELECT media_id,
         md5(substring(text, CAST(i*64+1 AS INT), 64)) AS fh
  FROM media, LATERAL unnest(
    range(0, greatest(1, CAST(ceil(length(text) / 64.0) AS INT)), 2)
  ) t(i)
), f AS (SELECT DISTINCT media_id, fh FROM frames)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared_frames
FROM f a JOIN f b ON a.fh = b.fh AND a.media_id < b.media_id
GROUP BY 1, 2
""")
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip detection — the content-ID shape: videos sharing ANY
    near-identical frame pair up through an inverted index on
    per-frame fingerprints (here md5 of the stubbed 64-byte frame
    slice; a deployment swaps in a perceptual frame hash and keeps
    the plan).  The whole-payload SimHash (multimodal_dedup_near)
    misses partial reuse — a clip embedded in a longer video moves
    most payload windows — while the frame index finds it from one
    surviving frame.  Plan: frame fan-out is a narrow mapInPandas
    (rows out > rows in, no shuffle), then ONE equi-join on the frame
    hash — candidates are only frame-hash collisions, never
    all-pairs, exactly the MinHash-band economics at video scale.
    Every 9th payload re-injected truncated to 80%: the copy shares
    its surviving full frames with the original, unrelated videos
    share none."""
    docs = _t(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(
        readers.widen(_media_with_truncated_dups(docs)),
        frame_size=64, stride=2)
    f = (frames.select("media_id", F.md5("frame_payload").alias("fh"))
         .distinct())
    a = f.select(F.col("media_id").alias("id_a"),
                 F.col("fh").alias("fh_a"))
    b = f.select(F.col("media_id").alias("id_b"),
                 F.col("fh").alias("fh_b"))
    return (a.join(b, (F.col("fh_a") == F.col("fh_b"))
                   & (F.col("id_a") < F.col("id_b")))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_frames")))


@register("multimodal_resize", oracle="""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type,
       CASE WHEN doc_id % 3 = 0 THEN 64 ELSE CAST(NULL AS INTEGER) END AS width,
       CASE WHEN doc_id % 3 = 0 THEN 64 ELSE CAST(NULL AS INTEGER) END AS height,
       CASE WHEN doc_id % 3 = 0 THEN 4096
            ELSE octet_length(encode(text)) END AS n_bytes
FROM documents
""")
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage plumbing: image rows resampled to 64x64 (stubbed
    codec, true byte-count contract payload==W*H), other modalities
    pass through.  The oracle checks the full metadata surface; payload
    bytes are pinned by unit tests."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    resized = multimodal.resize_images(readers.widen(media), 64, 64)
    return resized.select(
        "media_id", "media_type", "width", "height",
        F.length("payload").cast("long").alias("n_bytes"))


@register("multimodal_frame_sample", oracle="""
WITH media AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS L
  FROM documents WHERE doc_id % 3 = 2
), f AS (
  SELECT media_id, L,
         greatest(1, CAST(ceil(L / 256.0) AS BIGINT)) AS n_frames
  FROM media
)
SELECT media_id,
       CAST(unnest(range(0, n_frames, 2)) AS INTEGER) AS frame_idx,
       least(256, L - CAST(unnest(range(0, n_frames, 2)) AS BIGINT) * 256)
         AS frame_bytes,
       n_frames
FROM f
""")
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: every video payload explodes to every
    2nd 256-byte frame (stubbed demux, metadata-faithful) — the
    UDTF-shaped mapInPandas a video pipeline runs before per-frame
    embedding.  Oracle checks the whole fan-out metadata (frame index
    set, per-frame sizes, frame counts)."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs).filter(
        F.col("media_type") == "video")
    frames = multimodal.sample_frames(readers.widen(media),
                                      frame_size=256, stride=2)
    return frames.select("media_id", "frame_idx", "frame_bytes", "n_frames")


@register("search_topk_enriched", oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         (round({V.duck_cosine('e.embedding', 'qv')}, 6) + 0) AS sim
  FROM embeddings e, q
), topk AS (
  SELECT * FROM scored ORDER BY sim DESC, vec_id LIMIT 30
)
SELECT t.vec_id, t.sim, (round(t.sim, 3) + 0) AS similarity_score,
       n.n_name AS label_name
FROM topk t JOIN nation n ON t.label = n.n_nationkey
""")
def search_topk_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 3.1 read path composed: brute-force cosine top-k, then
    broadcast dimension enrichment ON THE K ROWS (the reference re-ran
    correlated lookups per result, embeddings/processor.py:532-617) and
    the reference's 3-dp display rounding (engine.py:203)."""
    emb = _t(spark, sf_dir, "embeddings")
    topk = sim_ops.knn_search(emb, _query_vec(spark, sf_dir), k=30,
                              threshold=-1.0)
    dim = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("label"),
        F.col("n_name").alias("label_name"))
    return (topk.join(F.broadcast(dim), "label")
            .select("vec_id", "sim",
                    (F.round(F.col("sim"), 3) + F.lit(0.0))
                    .alias("similarity_score"),
                    "label_name"))


@register("udtf_explode_users", oracle="""
SELECT c_custkey AS user_id, trim(c_name) AS user_name FROM customer
""")
def udtf_explode_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDTF-shaped surface (SURVEY 2.I): struct/array -> JSON text
    at the storage boundary (C9, to_json), then the read side's LIKE
    pre-filter -> from_json -> explode of the member array (reference:
    src/core/database/user_mapper.py:95-137).  The oracle checks the
    round trip preserved the full (uid, name) relation."""
    cust = _t(spark, sf_dir, "customer")
    grouped = (cust.groupBy("c_nationkey")
               .agg(F.sort_array(F.collect_list(F.struct(
                   F.col("c_custkey").alias("uid"),
                   F.col("c_name").alias("n")))).alias("u")))
    json_msgs = grouped.select(F.to_json(F.struct(
        F.concat(F.lit("Group "), F.col("c_nationkey").cast("string"))
         .alias("n"),
        F.col("u"))).alias("c"))
    return dims_ops.users_from_group_info(json_msgs, "c")


@register("train_test_split", oracle=f"""
SELECT doc_id,
       CASE WHEN {analysis.duck_token_hash("CAST(doc_id AS VARCHAR)")} % 100 < 80
            THEN 'train' ELSE 'test' END AS split
FROM documents
""")
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/test assignment by hashing the stable
    id — reproducible across runs/retries (a rand() split is neither),
    and shuffle-free: the split is a narrow projection, so downstream
    per-split writes partition by this column."""
    docs = _t(spark, sf_dir, "documents")
    bucket = analysis.token_hash(F.col("doc_id").cast("string")) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train")).otherwise(F.lit("test"))
         .alias("split"))


@register("corpus_weighted_sample", oracle=f"""
WITH stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         (round(avg(n_chars), 2) + 0) AS avg_chars
  FROM documents GROUP BY source
), wts AS (
  SELECT source, n_docs,
         (round(least(1.0, 150.0 / avg_chars), 6) + 0) AS keep_frac
  FROM stats
)
SELECT d.doc_id, d.source, w.keep_frac
FROM documents d JOIN wts w ON d.source = w.source
WHERE {analysis.duck_token_hash("CAST(d.doc_id AS VARCHAR)")} % 1000000
      < CAST(floor(w.keep_frac * 1000000) AS BIGINT)
""")
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture re-weighting — the sampling step that turns raw
    source proportions into a training mixture: per-source statistics
    (one aggregation; here a quality proxy — shorter-doc sources keep
    more) become per-source keep fractions, and a document survives
    iff its STABLE id-hash falls under its source's threshold.  Two
    stages only: a dimension-sized stats aggregate broadcast back, and
    a scan-riding hash filter — no rand() (reproducible across runs
    and retries, the property a resumable 100 TB pipeline needs), no
    per-source shuffles, and the realized sample converges to
    keep_frac per source by hash uniformity."""
    docs = _t(spark, sf_dir, "documents")
    wts = (docs.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                rnd(F.avg("n_chars"), 2).alias("avg_chars"))
           .select("source",
                   rnd(F.least(F.lit(1.0), F.lit(150.0)
                               / F.col("avg_chars")), 6)
                   .alias("keep_frac")))
    h = analysis.token_hash(F.col("doc_id").cast("string")) % 1000000
    return (docs.join(F.broadcast(wts), "source")
            .filter(h < F.floor(F.col("keep_frac") * 1000000).cast("long"))
            .select("doc_id", "source", "keep_frac"))


@register("zscore_by_group", oracle="""
WITH stats AS (
  SELECT event_type,
         (round(avg(value), 6) + 0) AS mu,
         (round(stddev_samp(value), 6) + 0) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       (round((e.value - s.mu) / s.sigma, 4) + 0) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE s.sigma > 0
""")
def zscore_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise feature normalization (z-score within event_type):
    the two-pass broadcast form — moments from ONE partial-aggregated
    pass over the scan (never a per-row window: an unbounded
    avg/stddev window would re-shuffle the fact table and serialize
    hot groups), joined back as a dimension-sized build side so the
    normalization itself rides the scan.  Moments are grid-rounded
    before the division so both engines divide identical doubles."""
    events = _t(spark, sf_dir, "events")
    stats = (events.groupBy("event_type")
             .agg(rnd(F.avg("value"), 6).alias("mu"),
                  rnd(F.stddev_samp("value"), 6).alias("sigma")))
    return (events.join(F.broadcast(stats), "event_type")
            .filter(F.col("sigma") > 0)
            .select("event_id", "event_type",
                    rnd((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
                    .alias("z")))


@register("text_chunking", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(len(toks) / 32.0) AS BIGINT))) AS chunk_idx,
         toks
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, chunk_idx,
       array_to_string(toks[chunk_idx * 32 + 1 : (chunk_idx + 1) * 32], ' ')
         AS chunk_text,
       least(32, len(toks) - chunk_idx * 32) AS n_tokens
FROM chunks
""")
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: split each document into <=32-token
    chunks with a stable chunk index — the pre-tokenization chunker of
    a training pipeline.  One narrow pass: bind tokens once, transform
    over chunk indices, posexplode; no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    size = 32

    def build(toks):
        n_chunks = F.ceil(F.size(toks) / F.lit(float(size))).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                F.concat_ws(" ", F.slice(toks, i * size + 1, size))
                 .alias("chunk_text"),
                F.least(F.lit(size), F.size(toks) - i * size)
                 .alias("n_tokens")))

    chunks = analysis.bind_once(analysis.tokens(F.col("text")), build)
    return (docs.filter(F.size(analysis.tokens(F.col("text"))) > 0)
            .select("doc_id", F.posexplode(chunks)
                    .alias("chunk_idx", "chunk"))
            .select("doc_id", F.col("chunk_idx").cast("long"),
                    F.col("chunk.chunk_text").alias("chunk_text"),
                    F.col("chunk.n_tokens").cast("long").alias("n_tokens")))


@register("text_repetition", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       (round(CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END,
              6) + 0) AS distinct_ratio
FROM t
""")
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal: distinct-token ratio (low values =
    boilerplate/spam, a standard pretraining filter)."""
    docs = _t(spark, sf_dir, "documents")
    ratio = analysis.bind_once(
        analysis.tokens(F.col("text")),
        lambda toks: F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)))
    return docs.select("doc_id", (F.round(ratio, 6) + F.lit(0.0))
                       .alias("distinct_ratio"))


@register("topk_prenormalized", oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qn AS (SELECT list_transform(qv, x -> CAST(x AS DOUBLE)
                / sqrt(list_dot_product(list_transform(qv, y -> CAST(y AS DOUBLE)),
                                        list_transform(qv, y -> CAST(y AS DOUBLE)))))
         AS qv FROM q),
norm_corpus AS (
  SELECT vec_id,
         CASE WHEN {V.duck_norm('embedding')} = 0.0
              THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
              ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)
                     / {V.duck_norm('embedding')}) END AS nvec
  FROM embeddings
)
SELECT vec_id,
       (round(list_dot_product(nvec, qv), 6) + 0) AS sim
FROM norm_corpus, qn
ORDER BY sim DESC, vec_id LIMIT 30
""")
def topk_prenormalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-time pre-normalization design (SURVEY 4a): store
    l2-normalized vectors once, and query-time cosine degenerates to a
    single dot product — no per-row norm at all, ~3x less arithmetic on
    the 100 TB scan side.  Matches plain cosine top-k up to rounding."""
    emb = _t(spark, sf_dir, "embeddings")
    normed = emb.select("vec_id", V.l2_normalize("embedding").alias("nvec"))
    qv = _query_vec(spark, sf_dir)
    import math
    qn = math.sqrt(sum(x * x for x in qv)) or 1.0
    qlit = F.array(*[F.lit(float(x) / qn) for x in qv])
    return (normed
            .select("vec_id",
                    (F.round(V.dot(F.col("nvec"), qlit), 6) + F.lit(0.0))
                    .alias("sim"))
            .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            .limit(30))


@register("group_centroids_pandas", oracle="""
SELECT label, count(*) AS n, CAST(idx - 1 AS INTEGER) AS dim_idx,
       (round(avg(CAST(embedding[idx] AS DOUBLE)), 6) + 0) AS value
FROM embeddings, range(1, 65) t(idx)
GROUP BY label, idx
""")
def group_centroids_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Arrow surface (applyInPandas): per-label embedding
    centroids computed with vectorized NumPy per group — the plan shape
    of per-cluster model fitting at scale (one shuffle on the group
    key, then pure Arrow batches).  The centroid array is exploded to
    (label, n, dim_idx, value) rows so the driver's pandas
    canonicalizer (which cannot hash list cells) can sort/hash the
    result.  Oracle: per-dimension averages via a range cross join."""
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings")

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        # sequential fold + half-away grid (r14 review; the rocchio
        # centroid precedent): np.mean's pairwise summation and
        # np.round's half-to-even both differ from DuckDB's
        # sequential avg + half-away round on tie-class values
        acc = np.zeros(mat.shape[1], dtype=np.float64)
        for row in mat:
            acc = acc + row
        c = sim_ops._np_round6(acc / float(len(mat))) + 0.0
        return pd.DataFrame({"label": [pdf["label"].iloc[0]],
                             "n": [len(pdf)],
                             "centroid": [c.tolist()]})

    grouped = emb.groupBy("label").applyInPandas(
        centroid, "label int, n bigint, centroid array<double>")
    return grouped.select(
        "label", "n",
        F.posexplode("centroid").alias("dim_idx", "value"))


@register("event_value_percentiles", oracle="""
SELECT event_type,
       (round(quantile_cont(value, 0.5), 6) + 0) AS p50,
       (round(quantile_cont(value, 0.9), 6) + 0) AS p90,
       (round(quantile_cont(value, 0.99), 6) + 0) AS p99
FROM events GROUP BY event_type
""")
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact percentiles (interpolated) — the stats surface the
    reference lacks entirely.  At 100 TB the exact sort-based percentile
    gives way to approx_percentile (t-digest sketch, one pass,
    mergeable); the plan shape is the same single keyed shuffle."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        rnd(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        rnd(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        rnd(F.expr("percentile(value, 0.99)"), 6).alias("p99"))
