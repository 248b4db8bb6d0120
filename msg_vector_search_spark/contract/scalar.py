"""Scalar text / json / time functions (SURVEY 2.C)"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textops

from .core import _t, register
from .filters import _DUCK_DIRTY


@register("json_extract_text", oracle="""
WITH c AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN '{"text": "' || substr(text, 1, 20) || '"}'
      WHEN 1 THEN '[{"text": "' || substr(text, 1, 8)
                  || '"}, {"note": 1}, {"text": "' || lang || '"}]'
      WHEN 2 THEN text
      ELSE '{"x": 1}'
    END AS content
  FROM documents
)
SELECT doc_id,
  CASE substr(ltrim(content), 1, 1)
    WHEN '{' THEN CASE WHEN json_valid(content)
                       THEN coalesce(json_extract_string(content, '$.text'), content)
                       ELSE content END
    WHEN '[' THEN array_to_string(list_filter(
                    [json_extract_string(content, '$[0].text'),
                     json_extract_string(content, '$[1].text'),
                     json_extract_string(content, '$[2].text')],
                    x -> x IS NOT NULL), ' ')
    ELSE content
  END AS extracted
FROM c
""")
def json_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: object => .text, array => joined segment texts with
    text-LESS items SKIPPED (reference appends only items that have
    "text", processor.py:141-145 — no separator doubling), non-JSON =>
    raw passthrough, dict-without-text => raw passthrough too (the
    reference's ``"text" in data`` guard falls through to ``return
    content``, processor.py:137-150).  Inputs constructed per doc_id %
    4; the %4==3 branch ({"x": 1}) pins the no-text raw passthrough
    and the %4==1 array carries a text-less MIDDLE item so the skip
    semantics are value-pinned on every fixture row (ADVICE r16: the
    oracle's old ''-coalesce join would double the separator here —
    both sides now implement the skip)."""
    docs = _t(spark, sf_dir, "documents")
    content = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('{"text": "'), F.substring("text", 1, 20),
                        F.lit('"}')))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit('[{"text": "'), F.substring("text", 1, 8),
                       F.lit('"}, {"note": 1}, {"text": "'),
                       F.col("lang"), F.lit('"}]')))
        .when(F.col("doc_id") % 4 == 2, F.col("text"))
        .otherwise(F.lit('{"x": 1}'))
    )
    return docs.select(
        "doc_id",
        textops.extract_text(content).alias("extracted"))


@register("clean_text", oracle=f"""
SELECT doc_id, {textops.duck_clean_text(_DUCK_DIRTY)} AS cleaned
FROM documents
""")
def clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: whitespace collapse -> URL strip -> emoji/non-text strip ->
    trim, reference regexes in reference order (processor.py:153-178);
    a URL and an emoji are appended to every row to exercise all three."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(F.col("text"), F.lit(" see https://ex.com/p?id="),
                     F.col("doc_id").cast("string"), F.lit(" ok✨ end"))
    return docs.select("doc_id", textops.clean_text(dirty).alias("cleaned"))


@register("fmt_human_time", oracle="""
SELECT event_id, strftime(ts, '%b %d, %Y at %I:%M %p') AS message_time
FROM events
""")
def fmt_human_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: '%b %d, %Y at %I:%M %p' (reference: processor.py:463-464)."""
    return _t(spark, sf_dir, "events").select(
        "event_id", textops.fmt_human_time(F.col("ts")).alias("message_time"))


@register("conv_type_from_sid", oracle="""
WITH s AS (
  SELECT event_id,
         CASE WHEN user_id % 3 = 0 THEN 'group-' || CAST(user_id AS VARCHAR)
              ELSE 'buddy-' || CAST(user_id AS VARCHAR) END AS session_id
  FROM events
)
SELECT event_id, session_id,
       CASE WHEN starts_with(session_id, 'group-') THEN 'group'
            ELSE 'private' END AS conversation_type,
       regexp_replace(session_id, '^buddy-', '') AS peer_id
FROM s
""")
def conv_type_from_sid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: group/private from the sid prefix + buddy-prefix strip
    (reference: processor.py:203, :250-252)."""
    events = _t(spark, sf_dir, "events")
    sid = (F.when(F.col("user_id") % 3 == 0,
                  F.concat(F.lit("group-"), F.col("user_id").cast("string")))
           .otherwise(F.concat(F.lit("buddy-"), F.col("user_id").cast("string"))))
    return (events.withColumn("session_id", sid)
            .select("event_id", "session_id",
                    textops.conv_type_from_sid(F.col("session_id"))
                    .alias("conversation_type"),
                    textops.buddy_user_id(F.col("session_id")).alias("peer_id")))


@register("truncate_ellipsis", oracle="""
SELECT doc_id,
       CASE WHEN length(text) > 100 THEN substr(text, 1, 100) || '...'
            ELSE text END AS snippet
FROM documents
""")
def truncate_ellipsis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: 100-char context snippet (reference: processor.py:298, :313)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", textops.truncate_ellipsis(F.col("text")).alias("snippet"))


@register("regex_name_from_email", oracle="""
WITH c AS (
  SELECT doc_id,
         'User ID: ' || CAST(doc_id AS VARCHAR) || ' Email: ' || source
         || '.' || lang || '@shopee.com' AS content
  FROM documents
)
SELECT doc_id,
       upper(substr(regexp_extract(content, 'Email: (\\w+)\\.(\\w+)@shopee\\.com', 1), 1, 1))
       || lower(substr(regexp_extract(content, 'Email: (\\w+)\\.(\\w+)@shopee\\.com', 1), 2))
       || ' '
       || upper(substr(regexp_extract(content, 'Email: (\\w+)\\.(\\w+)@shopee\\.com', 2), 1, 1))
       || lower(substr(regexp_extract(content, 'Email: (\\w+)\\.(\\w+)@shopee\\.com', 2), 2))
         AS user_name,
       CAST(regexp_extract(content, 'User ID: (\\d+)', 1) AS BIGINT) AS user_id
FROM c
""")
def regex_name_from_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: capitalized display name + numeric user id from email-bearing
    content (reference: user_mapper.py:24-25, :157-175)."""
    docs = _t(spark, sf_dir, "documents")
    content = F.concat(
        F.lit("User ID: "), F.col("doc_id").cast("string"),
        F.lit(" Email: "), F.col("source"), F.lit("."), F.col("lang"),
        F.lit("@shopee.com"))
    return docs.select(
        "doc_id",
        textops.name_from_email(content).alias("user_name"),
        textops.user_id_from_content(content).alias("user_id"))


@register("is_file_name", oracle="""
WITH n AS (
  SELECT doc_id,
    CASE doc_id % 6
      WHEN 0 THEN source || '.pdf'
      WHEN 1 THEN 'Screenshot ' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'a/b/' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'http://' || source
      WHEN 4 THEN 'x'
      ELSE 'Jane ' || source
    END AS name
  FROM documents
)
SELECT doc_id, name,
       (length(name) < 2 OR length(name) > 100
        OR ends_with(lower(name), '.pdf') OR ends_with(lower(name), '.doc')
        OR ends_with(lower(name), '.docx') OR ends_with(lower(name), '.xls')
        OR ends_with(lower(name), '.xlsx') OR ends_with(lower(name), '.ppt')
        OR ends_with(lower(name), '.pptx') OR ends_with(lower(name), '.png')
        OR ends_with(lower(name), '.jpg') OR ends_with(lower(name), '.jpeg')
        OR ends_with(lower(name), '.gif') OR ends_with(lower(name), '.mp4')
        OR ends_with(lower(name), '.mov') OR ends_with(lower(name), '.zip')
        OR ends_with(lower(name), '.txt')
        OR contains(lower(name), 'screenshot') OR contains(lower(name), 'image')
        OR contains(lower(name), 'photo')
        OR contains(name, '/') OR contains(name, '\\')
        OR starts_with(lower(name), 'http') OR starts_with(lower(name), 'www.')
       ) AS is_file
FROM n
""")
def is_file_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: filename-vs-display-name heuristic (reference:
    user_mapper.py:235-250) over six constructed name shapes."""
    docs = _t(spark, sf_dir, "documents")
    name = (
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.col("source"), F.lit(".pdf")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("Screenshot "), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("a/b/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 6 == 3, F.concat(F.lit("http://"), F.col("source")))
        .when(F.col("doc_id") % 6 == 4, F.lit("x"))
        .otherwise(F.concat(F.lit("Jane "), F.col("source")))
    )
    return (docs.withColumn("name", name)
            .select("doc_id", "name",
                    textops.is_file_name(F.col("name")).alias("is_file")))


@register("derived_pct", oracle="""
SELECT (round(100.0 * (SELECT count(*) FROM embeddings)
              / (SELECT count(*) FROM documents), 1) + 0) AS coverage_pct
""")
def derived_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: coverage percentage (reference: engine.py:274)."""
    emb = _t(spark, sf_dir, "embeddings").agg(F.count("*").alias("e"))
    docs = _t(spark, sf_dir, "documents").agg(F.count("*").alias("d"))
    return emb.crossJoin(docs).select(
        (textops.coverage_pct(F.col("e"), F.col("d")) + F.lit(0.0))
        .alias("coverage_pct"))


@register("group_name_probe", oracle="""
WITH c AS (
  SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN '{"n": "' || source || '"}'
      WHEN 1 THEN '{"gn": "' || source || '"}'
      WHEN 2 THEN '{"group_name": "' || source || '"}'
      WHEN 3 THEN '{"n": ""}'
      ELSE 'not json'
    END AS content
  FROM documents
)
SELECT doc_id,
  CASE WHEN json_valid(content) THEN
    coalesce(
      CASE WHEN length(trim(json_extract_string(content, '$.n'))) > 0
            AND length(trim(json_extract_string(content, '$.n'))) < 100
           THEN trim(json_extract_string(content, '$.n')) END,
      CASE WHEN length(trim(json_extract_string(content, '$.gn'))) > 0
            AND length(trim(json_extract_string(content, '$.gn'))) < 100
           THEN trim(json_extract_string(content, '$.gn')) END,
      CASE WHEN length(trim(json_extract_string(content, '$.group_name'))) > 0
            AND length(trim(json_extract_string(content, '$.group_name'))) < 100
           THEN trim(json_extract_string(content, '$.group_name')) END
    ) END AS conv_name
FROM c
""")
def group_name_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: group display-name probe with fallback keys and the
    0 < len < 100 guard (reference: processor.py:218-247)."""
    docs = _t(spark, sf_dir, "documents")
    content = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit('{"n": "'), F.col("source"), F.lit('"}')))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit('{"gn": "'), F.col("source"), F.lit('"}')))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit('{"group_name": "'), F.col("source"), F.lit('"}')))
        .when(F.col("doc_id") % 5 == 3, F.lit('{"n": ""}'))
        .otherwise(F.lit("not json"))
    )
    return docs.select(
        "doc_id", textops.group_name_probe(content).alias("conv_name"))
