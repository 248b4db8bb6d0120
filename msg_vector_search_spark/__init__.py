"""msg_vector_search_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of the reference MCP semantic-search
server (``agentcluck77/msg-vector-search``), re-expressed Spark-first.

The reference is a single-node Python/SQLite pipeline (encrypted SQLite
scan -> JSON text extraction -> regex cleaning -> embedding -> brute-force
cosine top-k).  This package re-implements every one of those capabilities
as declarative DataFrame/SQL operators designed for 100 TB scale:

- columnar Parquet scans with predicate pushdown / column pruning
- broadcast dimension joins instead of per-row correlated lookups
- window functions (lag/lead, row_number) instead of per-row
  ``ORDER BY .. LIMIT 1`` point queries
- a higher-order-function cosine expression (JVM codegen, no UDF)
- one Arrow-batched pandas UDF for the embedding model (the only
  genuinely non-relational step)
- last-writer-wins upsert via ``row_number() = 1`` dedup
- batch-incremental watermark state (the reference's actual semantics)
  plus a Structured Streaming variant
- the large-scale training-data-pipeline extension surface: exact and
  near-duplicate detection (MinHash+LSH, SimHash, n-gram Jaccard,
  embedding cosine), approximate nearest-neighbour search (brute-force
  and IVF partition-pruned), text analysis (language id, quality
  scoring, token counting, fingerprinting), multimodal binary-column
  plumbing.

Layout (SURVEY.md section 7):
    contract/         the query registry: every operator with its DuckDB
                      oracle, one module per row section over core.py
    session.py        SparkSession builder tuned for the fixture scales
    schemas.py        explicit StructTypes for every fixture table
    sources/          readers, snapshot/latest-file discovery, watermark
                      state, upsert sinks              (SURVEY 2.A)
    functions/        scalar text/json/time/vector functions (2.C)
    operators/        filters, dims, joins, windows, dedup, similarity,
                      aggregates, top-k                (2.B, 2.D-2.G)
    plans/            ingest / search / stats pipelines (SURVEY 3)
    streaming/        incremental batch-with-state + readStream variants
                      (2.H)
    embed.py          the embedding pandas UDF          (2.I)
    multimodal.py     binary-column decode/feature plumbing (stubbed)
"""

__version__ = "0.1.0"
