"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Measurement protocol (pinned in round 4 so numbers are comparable
across rounds):

* headline metrics (search latency, embed throughput, ingest
  throughput) run FIRST, immediately after warmup, BEFORE the query
  sweep — the sweep's shuffle/GC churn used to leak into them and
  drifted search latency ~0.33 -> 0.53 s across rounds for harness
  reasons alone;
* every headline is best-of-3 (all three raw values reported under
  "reps" so variance is visible);
* the per-query sweep is the MEDIAN of $SPARK_GRAFT_BENCH_REPS
  (default 3) full passes, so sub-second numbers aren't hostage to
  one contended run.

Headline set = the reference's flagship paths (brute-force KNN search,
batched embed, full ingest pipeline).  Baseline context (BASELINE.md):
the reference does brute-force cosine over ~70 k 384-dim rows
"sub-second" and ingests 150-200 msg/s on its best hardware.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from msg_vector_search_spark.session import DEFAULT_CPUS as CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def _best_of(n: int, fn) -> tuple[float, list[float]]:
    """Best (min) wall time of *n* runs plus every raw value."""
    vals = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        vals.append(time.perf_counter() - t0)
    return min(vals), [round(v, 3) for v in vals]


def main() -> None:
    from msg_vector_search_spark.session import get_spark
    from msg_vector_search_spark import contract
    from msg_vector_search_spark.embed import encoder_kind
    _encoder = encoder_kind()

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark("bench", cpus=CPUS)

    # JVM/codegen warmup so the first timed query isn't charged for
    # session spin-up (~3-5 s that no steady-state deployment pays).
    # The search path is warmed to JIT steady state (C2-compiled
    # codegen, warm parquet footer cache) — that's the latency a
    # serving deployment sees, and what "sub-second" in BASELINE.md
    # means.
    for _ in range(3):
        contract.REGISTRY["topk_by_similarity"](spark, SF_DIR).count()
    # Python-worker warmup: the first Arrow/pandas stage otherwise pays
    # one interpreter spawn + numpy/pandas import per core (~2-4 s wall)
    spark.range(CPUS * 4).repartition(CPUS).mapInPandas(
        lambda it: it, schema="id long").count()

    # ---- headline metrics (BEFORE the sweep; directly comparable to
    # BASELINE.md) -------------------------------------------------------
    # search latency: warm brute-force cosine top-k over the corpus
    # (reference claims "sub-second" at 70k x 384-dim on a Mac)
    search_latency, search_reps = _best_of(
        3, lambda: contract.REGISTRY["topk_by_similarity"](
            spark, SF_DIR).count())

    # embedding throughput: pandas-UDF embed of the documents table
    # (reference: 150-200 msg/s best-case on M3)
    n_docs = None
    embed_rate = None
    embed_reps: list[float] = []
    if "udf_embed_batch" in contract.REGISTRY:
        def _embed():
            nonlocal n_docs
            n_docs = contract.REGISTRY["udf_embed_batch"](
                spark, SF_DIR).count()
        embed_best, embed_reps = _best_of(3, _embed)
        embed_rate = round(n_docs / embed_best, 1) if embed_best > 0 else None

    # ingest throughput: the FULL 3.2 write path (scan -> extract/clean
    # -> lag/lead context -> dim join -> embed UDF -> dedup upsert ->
    # watermark) in messages/second; the reference's headline number is
    # 150-200 msg/s (M3) for the same pipeline.  Fresh store per rep —
    # this measures the first (bulk) write, the reference's headline
    # scenario.
    ingest_rate = None
    n_ingested = None
    ingest_reps: list[float] = []
    try:
        import shutil
        import tempfile

        from msg_vector_search_spark.plans import ingest as ingest_plan

        def _ingest():
            nonlocal n_ingested
            store = tempfile.mkdtemp(prefix="bench_ingest_")
            try:
                n_ingested = ingest_plan.ingest_batch(
                    spark, SF_DIR, store).count()
            finally:
                shutil.rmtree(store, ignore_errors=True)
        ingest_best, ingest_reps = _best_of(3, _ingest)
        ingest_rate = (round(n_ingested / ingest_best, 1)
                       if ingest_best > 0 else None)
    except Exception as e:
        print(f"bench: ingest headline failed: {e}", file=sys.stderr)

    # ---- per-query sweep: median of REPS passes ------------------------
    heads = [
        "topk_by_similarity",     # flagship brute-force KNN
        "knn_broadcast_join",     # multi-query KNN
        "cosine_similarity",      # full-corpus scoring throughput
        "sink_upsert_embeddings", # upsert/dedup write shape
        "scan_latest_file",
        "watermark_read",
    ]
    names = [n for n in heads if n in contract.REGISTRY]
    names += [n for n in sorted(contract.REGISTRY) if n not in heads]

    raw: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(REPS):
        for name in names:
            fn = contract.REGISTRY[name]
            t0 = time.perf_counter()
            try:
                fn(spark, SF_DIR).count()
            except Exception as e:  # a failing query must not kill bench
                print(f"bench: {name} failed: {e}", file=sys.stderr)
                continue
            raw[name].append(time.perf_counter() - t0)

    timings = {n: round(statistics.median(v), 3)
               for n, v in raw.items() if v}
    total = sum(timings.values())

    # ---- full-sweep artifact (VERDICT r13 item 6): the driver's
    # BENCH_r{N}.json keeps only a truncated tail of the stdout line,
    # losing every key alphabetically before ~"text_i..." from
    # round-over-round comparison.  Persist the COMPLETE per-query
    # median dict to the repo so every sweep survives.  The file is
    # named by CPU count and short commit (numbers are only comparable
    # at the same width) and is never overwritten: a further run of
    # the same commit at the same width gets a _2, _3, ... suffix.
    try:
        import subprocess

        here = os.path.dirname(os.path.abspath(__file__))
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"], cwd=here,
                capture_output=True, text=True, check=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            commit = "nogit"
        stem = os.path.join(here, f"BENCH_SWEEP_c{CPUS}_{commit}")
        sweep_path, n = stem + ".json", 1
        while os.path.exists(sweep_path):
            n += 1
            sweep_path = f"{stem}_{n}.json"
        with open(sweep_path, "x") as f:
            json.dump({"sf": sf, "sweep_reps": REPS,
                       "n_queries": len(timings),
                       "total_sec": round(total, 3),
                       "queries": timings}, f, indent=0, sort_keys=True)
        print(f"bench: full sweep -> {sweep_path}", file=sys.stderr)
    except OSError as e:
        # the headline JSON line below is the run's result — a failed
        # artifact write must not kill the run
        print(f"bench: sweep artifact failed: {e}", file=sys.stderr)

    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sweep_reps": REPS,
        "headline": {
            # "fake" = deterministic md5-seeded encoder (sentence-
            # transformers absent): embed/ingest rates then measure
            # Spark plumbing, NOT model inference, and are not
            # comparable to the reference's 150-200 msg/s MiniLM number
            "encoder": _encoder,
            "search_latency_s": round(search_latency, 3),
            "embed_docs": n_docs,
            "embed_throughput_docs_per_s": embed_rate,
            "ingest_msgs": n_ingested,
            "ingest_throughput_msgs_per_s": ingest_rate,
            "reps": {
                "search_latency_s": search_reps,
                "embed_s": embed_reps,
                "ingest_s": ingest_reps,
            },
        },
    }))


if __name__ == "__main__":
    main()
