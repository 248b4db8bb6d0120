"""Text analysis family (training-data-pipeline extension surface)

Language id, quality scoring, token counting, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import analysis

from .core import _t, register, rnd
from .dedup import _DUCK_GOPHER_STOPS, _DUCK_TOKENS


_DUCK_STOP = ", ".join(f"'{w}'" for w in analysis.EN_STOPWORDS)
_DUCK_STOP_RATIO = (
    "(CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
    f"CAST(len(list_filter(toks, t -> t IN ({_DUCK_STOP}))) AS DOUBLE)"
    " / len(toks) END)")
_DUCK_PUNCT_RATIO = (
    "(CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)"
    " / length(text) END)")


@register("text_lang_id", oracle=f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN {_DUCK_STOP_RATIO} >= 0.08 THEN 'en' ELSE 'und' END AS lang_id,
       (round({_DUCK_STOP_RATIO}, 6) + 0) AS stopword_ratio
FROM t
""")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language id by English-stopword density (extension
    surface; no analog in the reference, whose corpus is chat text)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        analysis.lang_id(F.col("text")).alias("lang_id"),
        rnd(analysis.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"))


@register("text_quality_score", oracle=f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       (round(
          0.5 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
        + 0.5 * least({_DUCK_STOP_RATIO} * 5.0, 1.0)
        - 0.25 * least({_DUCK_PUNCT_RATIO} * 5.0, 1.0), 6) + 0) AS quality
FROM t
""")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length band + stopword presence -
    punctuation excess (fixed weights, deterministic)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        (analysis.quality_score(F.col("text")) + F.lit(0.0)).alias("quality"))


@register("text_gopher_rules", oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_DUCK_TOKENS} AS toks,
         string_split(text, chr(10)) AS lines,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({_DUCK_TOKENS}) END AS n_words
  FROM documents
), m AS (
  SELECT doc_id, n_words,
         CAST(greatest(n_words, 1) AS DOUBLE) AS nw,
         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
           AS nonspace,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
         CAST(len(lines) AS DOUBLE) AS n_lines,
         len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*]')))
           AS n_bullet,
         len(list_filter(lines, x -> regexp_matches(x, '\\.\\.\\.\\s*$')))
           AS n_ell,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
           AS n_alpha,
         {_DUCK_GOPHER_STOPS}
           AS n_stop
  FROM t
)
SELECT doc_id,
       (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
       (nonspace / nw >= 3.0 AND nonspace / nw <= 10.0)
         AS ok_mean_word_len,
       (n_sym / nw <= 0.1) AS ok_symbol_ratio,
       (n_bullet / n_lines <= 0.9) AS ok_bullet_lines,
       (n_ell / n_lines <= 0.3) AS ok_ellipsis_lines,
       (n_alpha / nw >= 0.8) AS ok_alpha_words,
       (n_stop >= 1) AS ok_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (nonspace / nw >= 3.0 AND nonspace / nw <= 10.0)
        AND (n_sym / nw <= 0.1)
        AND (n_bullet / n_lines <= 0.9)
        AND (n_ell / n_lines <= 0.3)
        AND (n_alpha / nw >= 0.8)
        AND (n_stop >= 1)) AS keep
FROM m
""")
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021 §A.1.1): word
    count, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, required-stopword presence —
    per-rule booleans plus the conjunction, all pure Column
    expressions riding the scan in one narrow shuffle-free stage (the
    higher-order lambdas fall out of whole-stage codegen but stay
    JVM-side).  The per-rule flags (not just `keep`) are the
    operational form: a corpus report groups by failing rule to see
    WHY documents wash out before committing to a filter threshold.
    min_stopwords=1 here (the fixture vocabulary carries only 'the'
    from the required set); the operator default is the paper's 2."""
    docs = _t(spark, sf_dir, "documents")
    flags = analysis.gopher_flags(F.col("text"), min_stopwords=1)
    return docs.select("doc_id",
                       *[c.alias(name) for name, c in flags.items()])


@register("corpus_report", oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_DUCK_TOKENS} AS toks,
         md5(array_to_string({_DUCK_TOKENS}, ' ')) AS fp
  FROM documents
), m AS (
  SELECT doc_id, fp,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END
           AS n_words,
         CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
               ELSE CAST(len(list_filter(toks,
                      x -> list_contains(['the','a','an','and','is','to',
                                          'of','in','it','you','that',
                                          'for','on','with','as'], x)))
                    AS DOUBLE) / len(toks) END) >= 0.08
              THEN 1 ELSE 0 END AS is_en
  FROM t
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       CAST(sum(is_en) AS BIGINT) AS n_english,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_docs,
       (round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) + 0)
         AS exact_dup_rate
FROM m
""")
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus dashboard row: document count, token volume,
    language mix, exact-dup rate — the first query a pipeline owner
    runs on a new crawl, composed from the same primitives the
    filtering stages use (so the report numbers MATCH what the
    filters will do).  One scan with map-side partial aggregation; the
    distinct fingerprint count is the only keyed exchange."""
    docs = _t(spark, sf_dir, "documents")
    m = docs.select(
        analysis.fingerprint_md5("text").alias("fp"),
        analysis.whitespace_token_count(F.col("text")).alias("n_words"),
        (analysis.lang_id(F.col("text")) == "en").cast("int")
        .alias("is_en"))
    return m.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        F.sum("is_en").alias("n_english"),
        F.countDistinct("fp").alias("n_distinct_docs"),
        (F.round(F.lit(1.0) - F.countDistinct("fp").cast("double")
                 / F.count(F.lit(1)), 6) + F.lit(0.0))
        .alias("exact_dup_rate"))


@register("skew_report_events", oracle="""
WITH k AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY user_id
), s AS (
  SELECT CAST(sum(n_rows) AS DOUBLE) AS total,
         avg(n_rows) AS mean_n FROM k
)
SELECT k.user_id, k.n_rows,
       (round(k.n_rows / s.total, 6) + 0) AS share,
       (round(k.n_rows / s.mean_n, 6) + 0) AS ratio_to_mean
FROM k, s
ORDER BY k.n_rows DESC, k.user_id LIMIT 10
""")
def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew observability: the top hot keys with their row share
    and ratio-to-mean — the measurement that DECIDES whether a join
    or aggregation on this key needs salting (join_salted_skew) or
    AQE skew handling, instead of guessing.  One keyed aggregation,
    checkpointed at |keys| rows so the totals derivation re-reads the
    key counts, not the corpus; the global totals arrive back as a
    broadcast single row; the top-10 is a bounded heap
    (TakeOrderedAndProject)."""
    ev = _t(spark, sf_dir, "events")
    k = (ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
         .localCheckpoint())
    s = k.agg(F.sum("n_rows").cast("double").alias("total"),
              F.avg("n_rows").alias("mean_n"))
    return (k.crossJoin(F.broadcast(s))
            .select("user_id", "n_rows",
                    rnd(F.col("n_rows") / F.col("total"), 6).alias("share"),
                    rnd(F.col("n_rows") / F.col("mean_n"), 6)
                    .alias("ratio_to_mean"))
            # asc_nulls_last matches DuckDB's default NULLS LAST on
            # the ascending tiebreak (eighth review; Spark defaults
            # NULLS FIRST asc — a NULL user_id group tying at the
            # rank-10 boundary would cut different rows; fixtures
            # carry no NULL user_id, so outputs are identical today)
            .orderBy(F.col("n_rows").desc(),
                     F.col("user_id").asc_nulls_last()).limit(10))


@register("vocab_coverage", oracle=f"""
WITH toks AS (
  SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok
), vocab AS (
  SELECT tok FROM counts ORDER BY n DESC, tok LIMIT 16
)
SELECT CAST(16 AS BIGINT) AS vocab_size,
       CAST(sum(c.n) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN v.tok IS NOT NULL THEN c.n ELSE 0 END)
            AS BIGINT) AS covered_tokens,
       (round(CAST(sum(CASE WHEN v.tok IS NOT NULL THEN c.n ELSE 0 END)
                   AS DOUBLE) / sum(c.n), 6) + 0) AS coverage
FROM counts c LEFT JOIN vocab v ON v.tok = c.tok
""")
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary planning: induce the top-V corpus tokens
    by frequency and measure what fraction of all token occurrences
    they cover — the corpus-side number a vocab-size decision rests
    on (the real BPE merge loop starts from exactly this frequency
    table).  Plan: explode -> one keyed count (map-side partials
    absorb the token Zipf skew), top-V as a bounded heap, coverage as
    a second pass over the COUNTS (vocab-sized, broadcast), never the
    corpus.  The counts table is checkpointed so both consumers (the
    vocab cut and the coverage join) read the |vocab|-row
    materialization — without it Spark re-derives the shared subplan
    per consumer and the corpus is exploded and counted TWICE."""
    docs = _t(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(analysis.tokens(F.col("text")))
                          .alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
              .localCheckpoint())
    vocab = (counts.orderBy(F.col("n").desc(), "tok").limit(16)
             .select(F.col("tok").alias("vtok")))
    joined = counts.join(F.broadcast(vocab),
                         counts.tok == vocab.vtok, "left")
    covered = F.sum(F.when(F.col("vtok").isNotNull(), F.col("n"))
                    .otherwise(F.lit(0)))
    return joined.agg(
        F.lit(16).cast("long").alias("vocab_size"),
        F.sum("n").alias("total_tokens"),
        covered.alias("covered_tokens"),
        rnd(covered.cast("double") / F.sum("n"), 6).alias("coverage"))


@register("doc_length_histogram", oracle=f"""
WITH t AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({_DUCK_TOKENS}) END AS n_words
  FROM documents
), s AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM t)
SELECT CAST(n_words // 10 AS INT) AS bucket,
       CAST(min(n_words) AS BIGINT) AS min_words,
       CAST(max(n_words) AS BIGINT) AS max_words,
       CAST(count(*) AS BIGINT) AS n_docs,
       (round(count(*) / s.total, 6) + 0) AS share
FROM t, s
GROUP BY bucket, s.total ORDER BY bucket
""")
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution in 10-token bins — the histogram
    a sequence-length / packing-budget decision reads (pack_fill_stats
    measures the chosen budget's efficiency AFTER the fact; this is
    the BEFORE view).  One narrow pass computes the bin, one keyed
    aggregation builds the histogram (checkpointed at |buckets| rows);
    the doc total is DERIVED from the histogram, not a second corpus
    scan, and joins back as a broadcast single row."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        (analysis.whitespace_token_count(F.col("text")) / 10)
        .cast("int").alias("bucket"),
        analysis.whitespace_token_count(F.col("text")).alias("n_words"))
    hist = (t.groupBy("bucket")
            .agg(F.min("n_words").alias("min_words"),
                 F.max("n_words").alias("max_words"),
                 F.count(F.lit(1)).alias("n_docs"))
            .localCheckpoint())
    s = hist.agg(F.sum("n_docs").cast("double").alias("total"))
    return (hist.crossJoin(F.broadcast(s))
            .select("bucket", "min_words", "max_words", "n_docs",
                    rnd(F.col("n_docs") / F.col("total"), 6).alias("share"))
            .orderBy("bucket"))


@register("integrity_orphans", oracle="""
SELECT CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_without_vec,
       CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS vecs_without_doc,
       CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS matched
FROM documents d FULL JOIN embeddings e ON e.vec_id = d.doc_id
""")
def integrity_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between the document corpus and
    its embedding store (doc_id <-> vec_id): documents that never got
    embedded, embeddings whose document was deleted, and the matched
    count — the invariant an ingest+embed pipeline must report on
    before serving (a nonzero left column means the embed backlog; a
    nonzero right column means erasure missed the vector side).  One
    full outer join on the shared key, both sides pruned to the key
    column at the scan."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = _t(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(e, d.doc_id == e.vec_id, "full")
    return j.agg(
        F.sum(F.col("vec_id").isNull().cast("int"))
        .alias("docs_without_vec"),
        F.sum(F.col("doc_id").isNull().cast("int"))
        .alias("vecs_without_doc"),
        F.sum((F.col("doc_id").isNotNull()
               & F.col("vec_id").isNotNull()).cast("int"))
        .alias("matched"))


@register("text_token_counts", oracle=f"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END
         AS ws_tokens,
       len(regexp_extract_all(text, '{analysis.RE_BPE_TOKEN}')) AS bpe_tokens
FROM documents
""")
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs | digit runs | single symbols)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        analysis.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        analysis.bpe_token_count(F.col("text")).alias("bpe_tokens"))


@register("text_fingerprint", oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       md5(array_to_string(toks, ' ')) AS fp_md5,
       CAST(list_sum([
         (('0x' || substr(md5(toks[i + 1]), 1, 8))::BIGINT) * (i + 1)
         FOR i IN range(len(toks))
       ]) AS BIGINT) AS fp_rolling
FROM t
""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact md5 of normalized text plus an
    order-sensitive positional rolling hash."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        analysis.fingerprint_md5("text").alias("fp_md5"),
        analysis.fingerprint_rolling("text").alias("fp_rolling"))
