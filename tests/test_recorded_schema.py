"""Store reads typed by the schema Spark's writer recorded in the
Parquet footer (``sinks.read_parquet``): for every store kind the
engine writes, the frame's schema equals the plain inferring read's —
same fields, order, nullability, partition column and its type — and
building the frame launches no Spark job.  Strays, foreign files and
remote paths keep (or fall back to) the plain read."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as papq
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                               LongType, StructField, StructType,
                               TimestampType)

from msg_vector_search_spark.operators import ann_index, retrieval
from msg_vector_search_spark.sources import fs, readers, sinks


def _jobs(spark, build):
    """(build(), Spark jobs it launched)."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    out = build()
    return out, sched.numTotalJobs() - before


def _assert_parity(spark, *dirs, base=None):
    """read_parquet over *dirs* launches no job and has the plain
    read's schema; returns the frame."""
    df, n = _jobs(spark, lambda: sinks.read_parquet(spark, *dirs,
                                                    base=base))
    assert n == 0, f"{dirs}: {n} jobs"
    plain = spark.read if base is None else \
        spark.read.option("basePath", base)
    assert df.schema == plain.parquet(*dirs).schema
    return df


def _part_dirs(store: str, col: str) -> list:
    return sorted(os.path.join(store, e) for e in os.listdir(store)
                  if e.startswith(f"{col}="))


def test_message_store_root_and_buckets(spark, tmp_path):
    """A ``_bkt=``-partitioned upsert store whose columns are written
    non-nullable at the top level, in an array element and in a
    struct field."""
    schema = StructType([
        StructField("k", LongType(), False),
        StructField("v", ArrayType(FloatType(), False), False),
        StructField("s", StructType([StructField("a", IntegerType(),
                                                 False)]), False),
        StructField("ts", TimestampType(), True)])
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, [float(i)], (i,), t0) for i in range(20)]
    path = str(tmp_path / "store")
    sinks.upsert_parquet(spark, spark.createDataFrame(rows, schema), path,
                         key="k", order_col="ts", layout="range",
                         range_width=8)
    recorded = sinks.recorded_schema(path)
    assert not recorded["v"].dataType.containsNull
    assert sinks.BUCKET_COL not in recorded.names

    _assert_parity(spark, path)
    buckets = _part_dirs(path, sinks.BUCKET_COL)
    assert len(buckets) == 3
    _assert_parity(spark, *buckets[1:], base=path)
    store, n = _jobs(spark, lambda: sinks.read_store(spark, path))
    assert n == 0
    assert store.schema == spark.read.parquet(path).drop(
        sinks.BUCKET_COL).schema
    assert sorted(r["k"] for r in store.collect()) == list(range(20))


def test_ann_cells_centroids_and_pyarrow_sidecar(spark, sf_dir, tmp_path):
    emb = readers.read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    path = str(tmp_path / "ann")
    ann_index.build_index(spark, emb.filter(F.col("vec_id") % 4 == 0),
                          path, nlist=4, m=8, ncodes=16)
    vstore = os.path.join(path, "vectors")
    cells = _part_dirs(vstore, "cell")
    _assert_parity(spark, vstore)
    _assert_parity(spark, *cells[:2], base=vstore)
    _, n = _jobs(spark, lambda: ann_index._read_cells(spark, vstore,
                                                      [0, 1, 99]))
    assert n == 0

    cent_dir = os.path.join(path, "centroids")
    cent, n = _jobs(spark, lambda: ann_index.load_centroids(spark, path))
    assert n == 0
    assert cent.schema == spark.read.parquet(cent_dir).schema

    # the codebooks sidecar is pyarrow-written: no recorded schema, so
    # the read is the plain one
    books = os.path.join(path, "codebooks")
    assert sinks.recorded_schema(books) is None
    assert sinks.read_parquet(spark, books).schema == \
        spark.read.parquet(books).schema


def test_strays_and_markers_are_never_picked(spark, sf_dir, tmp_path):
    emb = readers.read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    path = str(tmp_path / "ann")
    ann_index.build_index(spark, emb.filter(F.col("vec_id") % 4 == 1),
                          path, nlist=4, m=8, ncodes=16)
    vstore = os.path.join(path, "vectors")
    clean = sinks.recorded_schema(vstore)
    # a swap stray that sorts before every live cell, holding a
    # Spark-written file of another schema; marker files at the root
    stray = os.path.join(vstore, "cell=-1._old")
    os.makedirs(stray)
    cent = sinks._first_data_file(os.path.join(path, "centroids"))
    shutil.copy(cent, os.path.join(stray, os.path.basename(cent)))
    with open(os.path.join(vstore, sinks.DELETE_MANIFEST), "w") as f:
        f.write("{}")
    shutil.copy(cent, os.path.join(vstore, "_aside.parquet"))
    picked = sinks._first_data_file(vstore)
    assert os.path.basename(os.path.dirname(picked)).startswith("cell=")
    assert "._" not in picked
    assert sinks.recorded_schema(vstore) == clean
    # a _bkt=N dir starts with '_' and is still a partition dir
    bkt = tmp_path / "bkt" / "_bkt=0"
    bkt.mkdir(parents=True)
    papq.write_table(pa.table({"x": [1]}), str(bkt / "a.parquet"))
    assert sinks._first_data_file(str(tmp_path / "bkt")) == \
        str(bkt / "a.parquet")


def test_text_index_stores_and_remote_fallback(spark, tmp_path,
                                               monkeypatch):
    docs = spark.createDataFrame(
        [(f"d{i}", f"alpha beta w{i % 5} w{i % 3}", i % 2)
         for i in range(30)], ["doc_id", "text", "grp"])
    path = str(tmp_path / "text")
    retrieval.build_inverted_index(docs, path, meta_cols=("grp",))
    retrieval.delete_inverted_docs(
        spark.createDataFrame([("d3",), ("d7",)], ["doc_id"]), path)
    postings = os.path.join(path, "postings")
    _assert_parity(spark, *_part_dirs(postings, "tb")[:3], base=postings)
    _assert_parity(spark, postings)
    doclen = os.path.join(path, "doclen")
    _assert_parity(spark, doclen)
    _assert_parity(spark, os.path.join(path, "tombstones"))
    _, n = _jobs(spark, lambda: retrieval._tombstone_frame(
        spark, path, "doc_id"))
    assert n == 0

    # a remote path reads no footer on the driver: the plain read,
    # same rows
    local = sorted(sinks.read_parquet(spark, doclen).collect())
    monkeypatch.setattr(fs, "_LOCAL_SCHEMES", ())
    remote = f"file:{doclen}"
    assert fs.is_remote(remote)
    assert sinks.recorded_schema(remote) is None
    assert sorted(sinks.read_parquet(spark, remote).collect()) == local
