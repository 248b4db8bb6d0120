"""Bucketed tables — shuffle-free co-located joins.

`partitionBy` prunes directories; BUCKETING pre-shuffles at WRITE time:
``bucketBy(n, key)`` hash-splits every write into n files per the join
key, and records the layout in the catalog, so two tables bucketed the
same way join with ZERO exchange — the shuffle was paid once when the
data landed, not per query.  This is the third leg of the join-strategy
triad the engine uses (broadcast for dims, shuffle for ad-hoc,
bucketing for the recurring fact-to-fact join), and the one that
matters most at 100 TB: a nightly lineitem x orders reconciliation
re-shuffles 100 TB every run unless both sides are bucketed on
orderkey, after which it reads co-located files forever.

The reference keeps everything in one SQLite file (B-tree lookups, no
join co-location concept — src/core/database/connection.py); bucketing
is what that becomes on a cluster.

Notes that matter in practice:

* one file per bucket: ``repartition(n, key)`` before the write, so
  every bucket is a single sorted file and the sort-merge join needs
  no per-file merge or re-sort;
* ``sortBy(key)`` inside the bucket makes the SMJ's sort a no-op read;
* the in-memory catalog keeps bucketing metadata per session — a
  production deployment uses a persistent metastore, same API.
"""

from __future__ import annotations

import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str,
                   nbuckets: int, path: str | None = None,
                   sort_cols: list[str] | None = None) -> None:
    """Save *df* as a parquet table bucketed (and bucket-sorted) on
    *key* — one file per bucket via an explicit pre-repartition.

    Drops any prior table AND its on-disk location first: with the
    in-memory catalog a previous session's managed-table location
    survives on disk while its catalog entry does not, and saveAsTable
    refuses to reuse an unregistered location (LOCATION_ALREADY_EXISTS).

    *path* writes an external table at an explicit location;
    *sort_cols* overrides the default bucket-key sort."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if path is not None:
        shutil.rmtree(path, ignore_errors=True)
    else:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir",
                                     "spark-warehouse"))
        if wh.scheme in ("", "file"):
            shutil.rmtree(f"{wh.path}/{table.lower()}",
                          ignore_errors=True)
    w = (df.repartition(nbuckets, key)
         .write.mode("overwrite")
         .bucketBy(nbuckets, key).sortBy(*(sort_cols or [key]))
         .format("parquet"))
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — carries the bucket spec, which is what lets the
    optimizer drop the exchange on bucket-aligned joins."""
    return spark.table(table)
