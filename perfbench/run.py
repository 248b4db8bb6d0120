"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  One run is one fresh process: it
generates the seeded inputs under ``.perfbench/`` in the checkout,
starts Spark, runs the workload's fixed op sequence through the
engine's public entry points, checks every answer, stops Spark and
prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see README.md).  The exit code is 0
only when every op answered correctly.
"""

from __future__ import annotations

import time

T_START = time.time()  # "process start" for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import procs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "msg_vector_search_spark")
DRIVER_MEM = "2g"


def parse(argv=None) -> argparse.Namespace:
    import workloads
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="default")
    ap.add_argument("--out", help="write the full result (ops, facts, "
                    "layers) as JSON here; default .perfbench/out/")
    return ap.parse_args(argv)


def pin_env(work: str, trace: bool) -> dict:
    """Environment the engine runs under, set before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every JVM's scratch files inside the run directory: the
    # launcher JVM (SPARK_LAUNCHER_OPTS) and the driver JVM
    jvm_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    conf = [
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions={jvm_opts} -Dderby.system.home={work}",
    ]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{work}/events",
                 "spark.eventLog.compress=false"]
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "TMPDIR": tmp,
        # Python workers are spawned by the JVM: they find the package
        # through PYTHONPATH, not through this process's sys.path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    sys.path.insert(0, ROOT)
    return {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")}


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = procs.tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate, then wait again
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: no engine package at {PKG_DIR}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out = args.out or os.path.join(
        ROOT, ".perfbench", "out",
        f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_once(args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for op in result["failed_ops"]:
        print(f"FAILED {op['kind']}: {op['detail']}", file=sys.stderr)
    print("perfbench facts: " + json.dumps(result["facts"], default=str))
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


def run_once(args, work: str, out: str) -> dict:
    """Generate, set up, run and check one workload; write the full
    record to *out* and return the summary."""
    import numpy as np

    import tracing
    import workloads as wl

    env = pin_env(work, bool(args.trace))
    rounds, cycles = wl.plan(args.workload, args.seconds)
    t = time.time()
    inputs = wl.Inputs(work, args.seed, args.size, cycles)
    gen_s = time.time() - t

    from msg_vector_search_spark.session import get_spark
    spark = get_spark("perfbench")
    tracer = None
    try:
        # jobs submitted so far: two readings bracket an op's job ids
        jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
        if args.trace:
            tracer = tracing.Tracer(jobs)
            tracer.install()
        h = wl.Harness(spark, work, inputs, jobs, tracer)
        wl.WORKLOADS[args.workload](h, rounds, cycles,
                                    np.random.default_rng(args.seed))
        run = h.run
        disk = {name: wl.dir_usage(os.path.join(work, d))
                for name, d in (("store", "store/message_embeddings.parquet"),
                                ("ann_index", "ann"),
                                ("text_index", "text"))}
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak = procs.hwm_mb(procs.tree(jvm) + [os.getpid()])
        encoder = _encoder_kind()
        if tracer is not None:
            tracer.uninstall()
            span_cost = tracer.span_cost_s()
    finally:
        stop_spark(spark)

    e2e = {"setup_s": (run.timed_start - T_START - gen_s, "s"),
           **wl.jobs_per_op(run),
           "disk_bytes_per_msg": (sum(b for _, b in disk.values())
                                  / inputs.window, "B")}
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    facts = {**inputs.facts, "rounds": rounds, **wl.repeat_shares(run),
             **env, "encoder": encoder, "gen_s": gen_s,
             "build_s": run.build_s}
    # exact counts: identical in every run with the same arguments
    counts = {"ops": [[o.kind, o.new_messages, o.expired] for o in run.ops],
              "jobs_per_op": [[o.kind, o.jobs]
                              for o in run.setup_ops + run.ops],
              "files_per_cycle": run.files_per_cycle}
    if tracer is not None:
        metrics = tracing.per_layer(
            tracer, work, run, disk, span_cost,
            {**wl.latencies(run), "run.peak_rss_mb": (peak, "MB")})
        counts["gate"] = tracer.gate_decisions
        tracer.dump(out[:-len(".json")] + ".spans.json", {"facts": facts})
    failed = [o.__dict__ for o in run.ops if not o.ok]
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "facts": facts,
                   "counts": counts, "metrics": metrics,
                   "ops": [o.__dict__ for o in run.ops]},
                  f, indent=1, default=str)
    return {"correct": not failed, "attempted": len(run.ops),
            "failed": len(failed), "metrics": metrics, "failed_ops": failed,
            "facts": facts}


def _encoder_kind() -> str:
    from msg_vector_search_spark import embed
    return ("fake" if isinstance(embed._load_model(None),
                                 embed._DeterministicFakeModel) else "real")


if __name__ == "__main__":
    sys.exit(main())
