"""Remote-path parity for the sidecar/meta/tombstone reads (VERDICT
r17 item 3 closure): every driver-side single-file read the serving
tier depends on (json meta sidecars, the pyarrow parquet-sidecar fast
path, the tombstone existence probe) dispatches on the path scheme —
local paths keep the free ``os``/``open`` calls, remote URIs go
through the Hadoop ``FileSystem`` API with ZERO Spark jobs.

The remote branch is exercised the same way test_layout_scale pins
``probe_dirs``: ``file:`` URIs are forced through it (by emptying
``fs._LOCAL_SCHEMES``, so Hadoop's ``LocalFileSystem`` serves the
same directories the ``os`` branch sees) and pinned byte-equal on
identical stores — plus a job-group pin that the sidecar reads launch
no Spark job on either branch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from msg_vector_search_spark.operators import ann_index, retrieval
from msg_vector_search_spark.sources import fs, readers

SF = "/root/testdata/sf0.001"


def _no_jobs(spark, group, fn):
    """Run *fn* under a job group and assert it launched NO Spark
    job; returns fn()'s result."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(group) \
        == [], f"{group}: expected zero Spark jobs"
    return out


def test_fs_read_bytes_and_list_files_branches_match(spark, tmp_path):
    d = tmp_path / "store"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"alpha")
    (d / "b.parquet").write_bytes(b"beta")
    (d / "_marker").write_text("x")
    (d / ".hidden.parquet").write_text("x")
    (d / "notes.txt").write_text("x")

    local = fs.list_files(str(d), suffix=".parquet")
    hadoop = fs.list_files(f"file:{d}", suffix=".parquet",
                           force_hadoop=True)
    assert local == [str(d / "a.parquet"), str(d / "b.parquet")]
    assert [p.removeprefix("file:") for p in hadoop] == local
    # absent dir: [] on both branches, no raise
    assert fs.list_files(str(d / "nope")) == []
    assert fs.list_files(f"file:{d}/nope", force_hadoop=True) == []

    assert fs.read_bytes(str(d / "a.parquet")) == b"alpha"
    assert fs.read_bytes(f"file:{d}/a.parquet",
                         force_hadoop=True) == b"alpha"
    import pytest
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(str(d / "gone"))
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(f"file:{d}/gone", force_hadoop=True)


def test_ann_sidecar_reads_remote_parity_zero_jobs(
        spark, tmp_path, monkeypatch):
    emb = readers.read_table(spark, SF, "embeddings")
    path = str(tmp_path / "annidx")
    ann_index.build_index(spark, emb, path, nlist=8, m=8, ncodes=16)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0)
          .select("embedding").collect()[0][0]]
    plain = ann_index.search_index(spark, path, qv, k=5, nprobe=2,
                                   shortlist=50).collect()
    meta_local = ann_index.read_meta(path)
    cent_local = ann_index.load_centroid_rows(spark, path)
    books_local = ann_index.load_codebooks(spark, path)

    # force file: URIs down the REMOTE branch (Hadoop LocalFileSystem)
    monkeypatch.setattr(fs, "_LOCAL_SCHEMES", ())
    rpath = f"file:{path}"
    assert fs.is_remote(rpath)

    meta_r = _no_jobs(spark, "meta", lambda: ann_index.read_meta(rpath))
    cent_r = _no_jobs(spark, "cent",
                      lambda: ann_index.load_centroid_rows(spark, rpath))
    books_r = _no_jobs(spark, "books",
                       lambda: ann_index.load_codebooks(spark, rpath))
    assert meta_r == meta_local
    assert cent_r == cent_local
    assert (books_r == books_local).all()
    assert books_r.dtype == books_local.dtype

    # full serve through the remote-forced store: identical rows
    served = ann_index.search_index(spark, rpath, qv, k=5, nprobe=2,
                                    shortlist=50).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in plain]


def test_text_index_serves_remote_parity_with_tombstones(
        spark, tmp_path, monkeypatch):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta doc{i}" if i % 3 else
             "alpha gamma") for i in range(30)])
    path = str(tmp_path / "txtidx")
    retrieval.build_inverted_index(docs, path,
                                   n_buckets=retrieval.INDEX_BUCKETS)
    # live tombstones: the remote probe must SEE them (the old
    # os.path.isdir probe read False on any URI and would silently
    # serve erased docs)
    retrieval.delete_inverted_docs(
        docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"), path,
        auto_compact_tombstones=None)
    terms = ["alpha", "gamma"]
    plain = sorted(
        tuple(r) for r in
        retrieval.search_inverted_index(spark, path, terms).collect())
    meta_local = _no_jobs(spark, "tmeta",
                          lambda: retrieval._read_text_meta(path))

    monkeypatch.setattr(fs, "_LOCAL_SCHEMES", ())
    rpath = f"file:{path}"
    assert fs.is_remote(rpath)
    meta_r = _no_jobs(spark, "tmeta_r",
                      lambda: retrieval._read_text_meta(rpath))
    assert meta_r == meta_local
    served = sorted(
        tuple(r) for r in
        retrieval.search_inverted_index(spark, rpath, terms).collect())
    assert served == plain
    assert len(served) > 0


def test_hybrid_serve_many_remote_matches_local(
        spark, tmp_path, monkeypatch):
    """Batched hybrid serving over remote paths returns the local rows.
    Its two legs are built in ``run_concurrently`` worker threads,
    where the thread-local ``SparkSession.getActiveSession()`` is None,
    so the legs' sidecar reads must reach the JVM without it."""
    emb = readers.read_table(spark, SF, "embeddings")
    docs = readers.read_table(spark, SF, "documents")
    apath = str(tmp_path / "annidx")
    tpath = str(tmp_path / "txtidx")
    ann_index.build_index(spark, emb, apath, nlist=8, m=8, ncodes=16)
    retrieval.build_inverted_index(docs.select("doc_id", "text"), tpath)
    qv = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
          for r in emb.filter(F.col("vec_id").isin(0, 7))
          .select("vec_id", "embedding").collect()}
    queries = {0: {"terms": ["spark", "query"], "qvec": qv[0]},
               7: {"terms": ["data", "join"], "qvec": qv[7]}}

    def serve(tp, ap):
        return [tuple(r) for r in retrieval.hybrid_serve_many(
            spark, tp, ap, queries, leg_k=20, k=5, nprobe=2,
            shortlist=50).collect()]

    plain = serve(tpath, apath)
    monkeypatch.setattr(fs, "_LOCAL_SCHEMES", ())
    assert fs.is_remote(f"file:{apath}")
    assert serve(f"file:{tpath}", f"file:{apath}") == plain
    assert len(plain) == 10


def test_lost_meta_sidecar_fails_loudly_on_wide_layout_remote(
        tmp_path, monkeypatch, spark):
    """The text index's lost-sidecar guard on both read branches: with
    no meta sidecar, a ``postings/`` or ``doclen/`` store is refused
    whatever its bucket ids, neither store is the bootstrap default,
    and an unparseable sidecar is reported as corrupt — identically
    for a local path and a forced-remote one."""
    import os

    import pytest

    def index(name: str, sub: str) -> str:
        path = tmp_path / name
        os.makedirs(path / sub)
        return str(path)

    wide = index("wide", f"postings/tb={retrieval.INDEX_BUCKETS}")
    legacy = index("legacy", "postings/tb=3")
    doclen_only = index("doclen_only", "doclen")
    fresh = str(tmp_path / "fresh")
    corrupt = index("corrupt", "postings/tb=3")
    with open(os.path.join(corrupt, retrieval.TEXT_META), "w") as f:
        f.write("{not json")

    for remote in (False, True):
        if remote:
            monkeypatch.setattr(fs, "_LOCAL_SCHEMES", ())

        def at(p: str) -> str:
            return f"file:{p}" if remote else p

        assert fs.is_remote(at(wide)) == remote
        for p in (wide, legacy, doclen_only):
            with pytest.raises(ValueError, match="build_inverted_index"):
                retrieval._read_text_meta(at(p))
        assert retrieval._read_text_meta(at(fresh)) == {
            "n_buckets": retrieval.INDEX_BUCKETS, "gen": 0,
            "id_col": "doc_id"}
        with pytest.raises(ValueError, match="corrupt text-index meta"):
            retrieval._read_text_meta(at(corrupt))


def test_read_table_footer_schema_matches_plain_read(
        spark, tmp_path, monkeypatch):
    """read_table types each fixture table from one data file's footer,
    read on the driver: for every sf0.001 table, and for a TIMESTAMP
    (NANOS) events table written by pyarrow as a directory of two
    files, the frame's schema and rows equal the plain inferring
    read's, and building the frame launches no Spark job — on local
    paths and on ``file:`` URIs forced down the remote branch."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    events = papq.read_table(f"{SF}/events.parquet")
    events = events.set_column(events.schema.get_field_index("ts"), "ts",
                               events["ts"].cast(pa.timestamp("ns")))
    nanos = tmp_path / "nanos"
    (nanos / "events.parquet").mkdir(parents=True)
    papq.write_table(events.slice(0, 400),
                     str(nanos / "events.parquet" / "part-0.parquet"))
    papq.write_table(events.slice(400),
                     str(nanos / "events.parquet" / "part-1.parquet"))
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    def check(sf: str, name: str) -> None:
        before = sched.numTotalJobs()
        df = readers.read_table(spark, sf, name)
        assert sched.numTotalJobs() == before, f"{name}: a Spark job ran"
        with monkeypatch.context() as m:
            m.setattr(readers, "_footer_schema", lambda *a: None)
            plain = readers.read_table(spark, sf, name)
        assert df.schema == plain.schema, name
        assert (sorted(map(str, df.collect()))
                == sorted(map(str, plain.collect()))), name

    for name in readers.FIXTURE_TABLES:
        check(SF, name)
    check(str(nanos), "events")
    assert "_ts_nanos" in readers.read_table(spark, str(nanos),
                                             "events").columns

    monkeypatch.setattr(fs, "_LOCAL_SCHEMES", ())
    assert fs.is_remote(f"file:{SF}")
    check(f"file:{SF}", "events")
    check(f"file:{nanos}", "events")
