"""Per-layer tracing from outside the program.

The traced run replaces public functions of the engine's modules with
wrappers that record a span per call: name, start, end, parent span and
the id of the benchmark op that caused it.  The engine looks its callees
up as module or class attributes at call time, so the wrappers see the
calls it makes.  Spans stay in memory and are written when the run ends.

Spark jobs are attributed by job id: the driver's job counter is read at
each span boundary, so the jobs a span launched, its children's
included, are the ids between its start and end readings.  With the
event log on, each job's task time, bytes and run interval come from the
log, which gives task time and bytes per op type and the driver gap
(time inside an op with no job running).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import threading
import time
from collections import defaultdict

from workloads import OP_TYPES

PKG = "msg_vector_search_spark"

#: (module, attribute path) of every wrapped function.  Each is a layer
#: boundary named in the benchmark README's layer-to-metric map.
TRACED = (
    ("server", "ServingShim.handle"),
    ("engine", "Engine.search"),
    ("engine", "Engine.search_many"),
    ("engine", "Engine.search_text"),
    ("engine", "Engine.search_hybrid"),
    ("engine", "Engine.update_embeddings"),
    ("engine", "Engine.apply_retention"),
    ("plans.search", "FreshnessGate.should_update"),
    ("plans.ingest", "run_incremental"),
    ("sources.state", "read_watermark"),
    ("sources.sinks", "read_store"),
    ("sources.sinks", "retention_sweep"),
    ("embed", "embed_query_vector"),
    ("operators.ann_index", "build_index"),
    ("operators.ann_index", "search_index_many"),
    ("operators.ann_index", "upsert_index"),
    ("operators.ann_index", "delete_index_keys"),
    ("operators.retrieval", "build_inverted_index"),
    ("operators.retrieval", "search_inverted_index"),
    ("operators.retrieval", "hybrid_serve_many"),
    ("operators.retrieval", "upsert_inverted_index"),
    ("operators.retrieval", "delete_inverted_docs"),
)

#: harness op spans reported as a layer: the dedup operator returns a
#: lazy frame, so its work runs in the set-up op that collects it
OP_LAYERS = {"op.build_dedup": "operators.dedup.dedup_minhash_lsh"}

SPAN_FIELDS = ("calls", "ms", "self_ms", "jobs")


class Tracer:
    """Span recorder.  ``jobs()`` returns the number of Spark jobs the
    driver has submitted so far (a counter, so two readings bracket the
    ids launched in between)."""

    def __init__(self, jobs):
        self.jobs = jobs
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._local = threading.local()
        self._undo: list = []
        self.gate_decisions: list[bool] = []

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> dict:
        stack = self._stack()
        span = {"id": len(self.spans), "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "op": self.op_id, "start": time.time(),
                "job0": self.jobs()}
        self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["job1"] = self.jobs()
        span["end"] = time.time()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrapping -------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, _, fn_name = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, fn_name)
            setattr(target, fn_name, self._wrap(orig, f"{mod_name}.{attr}"))
            self._undo.append((target, fn_name, orig))

    def uninstall(self) -> None:
        for target, fn_name, orig in reversed(self._undo):
            setattr(target, fn_name, orig)
        self._undo.clear()

    def _wrap(self, fn, name: str):
        tracer = self
        gate = name.endswith("FreshnessGate.should_update")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(s)
            if gate:
                tracer.gate_decisions.append(bool(out))
            return out

        return wrapper

    # -- calibration ----------------------------------------------------
    def span_cost_s(self, n: int = 200) -> float:
        """Measured cost of one empty span (two job-counter reads plus
        bookkeeping), used to estimate the tracing overhead of a run."""
        probe = Tracer(self.jobs)
        t0 = time.perf_counter()
        for _ in range(n):
            probe.close(probe.open("calibrate"))
        return (time.perf_counter() - t0) / n

    # -- aggregation ----------------------------------------------------
    def layer_metrics(self) -> dict:
        """``<layer>.{calls,ms,self_ms,jobs}`` over every span.  Self
        time subtracts what the span's children cover; jobs count every
        job launched inside the span, the children's included."""
        child_ms = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out: dict = {}
        for s in self.spans:
            if s["name"] == "calibrate":
                continue
            ms = (s["end"] - s["start"]) * 1e3
            jobs = s["job1"] - s["job0"]
            name = OP_LAYERS.get(s["name"], s["name"])
            agg = out.setdefault(name, dict.fromkeys(SPAN_FIELDS, 0))
            agg["calls"] += 1
            agg["ms"] += ms
            agg["self_ms"] += ms - child_ms[s["id"]]
            agg["jobs"] += jobs
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def read_event_log(log_dir: str) -> dict:
    """Per-job facts from a Spark event log directory:
    ``{job_id: {submit, end, task_ms, input_bytes, shuffle_bytes}}``
    (times in epoch seconds)."""
    jobs: dict = {}
    stage_job: dict = {}
    # Spark writes a rolling log: a directory of events_<n>_<app> files
    paths = glob.glob(f"{log_dir}/*/events_*")
    for path in sorted(paths, key=lambda p: int(p.rsplit("/", 1)[1]
                                                 .split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1e3,
                                 "end": None, "task_ms": 0,
                                 "input_bytes": 0, "shuffle_bytes": 0}
                    for sid in ev.get("Stage IDs", []):
                        # a stage listed by several jobs runs in the
                        # first; the later ones skip it
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j["task_ms"] += m.get("Executor Run Time", 0)
                    j["input_bytes"] += m.get("Input Metrics", {}).get(
                        "Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    j["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
    return jobs


def covered_s(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of *intervals* clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_by_op(op_spans: list, jobs: dict) -> dict:
    """``spark.<op>.{jobs,task_ms,input_bytes,shuffle_bytes,
    driver_gap_ms}`` summed over the op spans of each op type."""
    out: dict = {}
    for s in op_spans:
        agg = out.setdefault(s["name"], {"jobs": 0, "task_ms": 0,
                                         "input_bytes": 0,
                                         "shuffle_bytes": 0,
                                         "driver_gap_ms": 0.0})
        ids = range(s["job0"], s["job1"])
        agg["jobs"] += len(ids)
        runs = []
        for jid in ids:
            j = jobs.get(jid)
            if j is None:
                continue
            agg["task_ms"] += j["task_ms"]
            agg["input_bytes"] += j["input_bytes"]
            agg["shuffle_bytes"] += j["shuffle_bytes"]
            runs.append((j["submit"], j["end"] or s["end"]))
        span_s = s["end"] - s["start"]
        agg["driver_gap_ms"] += (span_s - covered_s(runs, s["start"],
                                                    s["end"])) * 1e3
    return out

SPARK_FIELDS = ("jobs", "task_ms", "input_bytes", "shuffle_bytes",
                "driver_gap_ms")
#: fields reported per traced layer where not all four are: the shim and
#: the query embed are thin (their jobs and self time are their callee's
#: or zero), and the calls of the engine's read verbs and of the build
#: steps follow from the op sequence
ONCE_PER_OP = ("engine.Engine.search", "engine.Engine.search_many",
               "engine.Engine.search_text", "engine.Engine.search_hybrid",
               "engine.Engine.apply_retention",
               "operators.ann_index.build_index",
               "operators.retrieval.build_inverted_index",
               "operators.dedup.dedup_minhash_lsh")
THIN = {"server.ServingShim.handle": ("ms",),
        "embed.embed_query_vector": ("calls", "ms"),
        **{layer: ("ms", "self_ms", "jobs") for layer in ONCE_PER_OP}}
#: wall-clock figures of the traced run (workloads.latencies)
RUN_METRICS = tuple(
    [f"latency.{k}.p50_ms" for k in OP_TYPES]
    + ["run.batch_qps", "run.ingest_msgs_per_s", "run.ops_per_s",
       "run.peak_rss_mb"])
UNITS = {"calls": "count", "ms": "ms", "self_ms": "ms", "jobs": "count",
         "task_ms": "ms", "input_bytes": "B", "shuffle_bytes": "B",
         "driver_gap_ms": "ms", "files": "count", "bytes": "B",
         "fired": "count", "overhead_pct": "%", "p50_ms": "ms",
         "batch_qps": "1/s", "ingest_msgs_per_s": "1/s", "ops_per_s": "1/s",
         "peak_rss_mb": "MB"}


def unit_of(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = []
    layers = [f"{mod}.{attr}" for mod, attr in TRACED]
    for layer in layers + list(OP_LAYERS.values()):
        names += [f"{layer}.{f}" for f in THIN.get(layer, SPAN_FIELDS)]
    names.append("plans.search.FreshnessGate.should_update.fired")
    names += [f"spark.{op}.{f}" for op in OP_TYPES for f in SPARK_FIELDS]
    names += [f"disk.{d}.{f}" for d in ("store", "ann_index", "text_index")
              for f in ("files", "bytes")]
    names += list(RUN_METRICS) + ["trace.overhead_pct"]
    return names


def per_layer(tracer: Tracer, work: str, run, disk: dict,
              span_cost_s: float, run_metrics: dict) -> dict:
    """The traced run's report: one ``{value, unit}`` per name of
    :func:`per_layer_names`.  *run_metrics* holds the wall-clock
    figures as ``{name: (value, unit)}``; a figure a workload has no op
    for (ingest on serve_warm) reads 0."""
    flat: dict = {k: v for k, (v, _) in run_metrics.items()}
    for layer, agg in tracer.layer_metrics().items():
        for f, v in agg.items():
            flat[f"{layer}.{f}"] = v
    flat["plans.search.FreshnessGate.should_update.fired"] = sum(
        tracer.gate_decisions)
    ops = [{**s, "name": s["name"][len("op."):]} for s in tracer.spans
           if s["name"].startswith("op.") and s["op"] is not None]
    by_op = spark_by_op([s for s in ops if s["name"] in OP_TYPES],
                        read_event_log(f"{work}/events"))
    for op, agg in by_op.items():
        for f, v in agg.items():
            flat[f"spark.{op}.{f}"] = v
    for d, (files, size) in disk.items():
        flat[f"disk.{d}.files"] = files
        flat[f"disk.{d}.bytes"] = size
    n_spans = sum(1 for s in tracer.spans if s["name"] != "calibrate")
    timed_ms = (run.timed_end - run.timed_start) * 1e3
    flat["trace.overhead_pct"] = 100.0 * n_spans * span_cost_s * 1e3 / timed_ms
    return {n: {"value": flat.get(n, 0), "unit": unit_of(n)}
            for n in per_layer_names()}
