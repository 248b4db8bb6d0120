"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The actual implementations live in ``msg_vector_search_spark``; this
module is a thin re-export of its contract registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from msg_vector_search_spark import contract  # noqa: E402
from msg_vector_search_spark.operators import similarity as _sim  # noqa: E402
from msg_vector_search_spark.session import tune_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's headline operation (SURVEY 3.1): brute-force cosine
    top-k of the vector corpus against a query vector, threshold 0.0,
    k=30, deterministic tiebreak — plans TakeOrderedAndProject over a
    single codegen'd scan stage.
    """
    tune_session(spark)
    emb = spark.read.parquet(f"{SMOKE_SF_DIR}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qvec = [float(x) for x in qrow[0]]
    return _sim.knn_search(emb, qvec, k=30, threshold=0.0)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2.

    Ordered oldest green driver check first, ties in registry order
    (``contract.verification_order``): never-checked rows lead, and
    the driver's gate covers a prefix of this dict.
    """
    return contract.verification_order(contract.REGISTRY)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-expressible query,
    in the same order as ``queries()``."""
    return contract.verification_order(contract.ORACLES)
