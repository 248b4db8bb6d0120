"""SparkSession construction tuned for this engine.

Local mode is the test bed; the configs are chosen so the same code is
correct on a multi-executor cluster: AQE on (runtime coalescing, skew
join splitting, dynamic broadcast), shuffle partitions sized to cores
locally (on a real cluster AQE coalesces from a larger initial number),
Arrow enabled for the pandas-UDF path, session timezone pinned to UTC so
timestamp rendering matches the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Local-mode cores: $SPARK_GRAFT_CPUS, else the CPUs this process may
#: run on.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))
#: Driver-side thread cap for :func:`run_concurrently`.
MAX_THREADS = 32


def run_concurrently(*legs):
    """Run zero-argument callables as concurrent driver threads and
    return their results in leg order.

    Independent Spark jobs (two store writes over one checkpoint, the
    two legs of a hybrid serve) overlap as concurrent job streams, so
    the scheduler back-fills one job's straggler tail with the other's
    tasks.  Every leg runs to completion before anything is raised;
    the error that reaches the caller is the one of the first failed
    leg in leg order — no leg is still writing when the caller
    unwinds."""
    from concurrent.futures import ThreadPoolExecutor

    if not legs:
        return []
    with ThreadPoolExecutor(
            max_workers=min(MAX_THREADS, len(legs))) as pool:
        futures = [pool.submit(leg) for leg in legs]
    # leaving the with-block joined every leg
    return [f.result() for f in futures]


def get_spark(app_name: str = "msg_vector_search_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Every config below also makes sense on a 1000-executor cluster;
    nothing here is local-mode-only except ``master``.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle sizing: ~cores locally; AQE coalesces small partitions
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps resolve to TIMESTAMP (with zone, = UTC),
        # matching schemas.TABLES and event-time watermark requirements,
        # regardless of which table a session happens to read first
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # events.ts has shipped as TIMESTAMP(NANOS) in some fixture
        # generations; the vectorized reader needs this to read it at all
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # WRITE timestamps as INT64 micros, not the INT96 legacy default:
        # INT96 columns carry NO min/max statistics, which kills parquet
        # row-group pruning on every ts predicate against our own stores
        # AND the retention sweep's footer-stats fast path
        # (sinks.retention_sweep).  Micros matches TimestampType's own
        # resolution — lossless.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Arrow for pandas UDFs / toPandas
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parallelPartitionDiscovery.threshold stays at Spark's default
        # 32: the event-log profile showed ~0.3 s listing JOBS on the
        # ~60-dir range-layout reads, but an A/B at threshold=128
        # (5-rep medians, r17) measured NO wall-clock win on any
        # wide-touch row — the listing job overlaps other work — so
        # the default keeps wide discovery distributed where object
        # storage needs it.  (Override via SPARK_GRAFT_EXTRA_CONF.)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    # experiment/override hook: "k=v;k=v" extra confs (A/B harness and
    # cluster-specific tuning land here without code edits)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created
    session (the driver hands us one in ``__spark_entry__``).

    Only runtime SQL confs are touched — safe on a live session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # INT64-micros writes: ts stats survive into footers (row-group
    # pruning + retention_sweep's footer probe) — see get_spark
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    return spark


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least *min_partitions* (default: cluster parallelism)
    for compute-heavy downstream stages.

    Small fixture files arrive as ONE input split, serializing expensive
    per-row work (shingling, hashing, embedding) onto a single core.  At
    production scale the scan is already wide and this is a no-op — the
    round-robin repartition only fires when the source is narrower than
    the cluster.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
