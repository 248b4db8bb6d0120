"""The two workloads: fixed, seeded op sequences over one engine.

Both start from an empty store: one bulk ``update_embeddings`` over the
seeded corpus, then the ANN and text index builds (set-up, untimed).
Then:

* ``serve_warm`` ends its set-up with one ingest cycle (ingest a new
  batch, expire the oldest), so it serves from indexes that carry delta
  files and tombstones as a live store's do.  It warms up its read
  paths with queries the timed phase never asks, then reads: rounds of
  a fixed mix of ``search_messages`` (one of the two filtered by
  ``conversation_type``), ``search_text``, ``search_hybrid`` and
  ``search_messages_many``.  Queries are drawn Zipf-like from a pool,
  so many repeat.  Nothing is written in the timed phase.
* ``ingest_stream`` also runs the MinHash-LSH dedup over the fresh store
  in its set-up, then churns: every cycle drops a new arrival file into
  the source, ingests it, expires the oldest batch so the store keeps
  its window size, and reads right after the writes, for probes planted
  in the new batch and older live ones.  No query text is asked twice,
  so a cache that reuses work across queries has nothing to hit here.

The op sequence depends only on the seed and the round/cycle counts,
never on measured time, so two runs with the same arguments issue the
same calls.  Every op's output is checked; a wrong answer counts as a
failed op.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen

#: messages per batch file: the initial corpus is WINDOW // BATCH of
#: them, and every ingest cycle brings one more
SIZES = {
    "default": {"window": 2000, "batch": 1000, "n_exact": 24, "n_tokens": 8,
                "dup_groups": 2},
    "tiny": {"window": 600, "batch": 200, "n_exact": 24, "n_tokens": 8,
             "dup_groups": 1},
}
MANY_Q = 16
#: queries of an ingest_stream batched search that come from the new
#: batch; one more is an expired probe, and the rest older live ones
MANY_NEW = 8
#: Zipf exponent of serve_warm's query popularity.  A choice, not fitted
#: to any traffic log: it makes repeats common (the measured share is in
#: the facts line), so a cross-query cache has work to reuse here, while
#: ingest_stream never repeats a query.
QUERY_ZIPF_S = 1.1
#: per-round read mix of serve_warm; the batched search goes first, so
#: the single-query ops after it often repeat one of its queries
ROUND = ("search_many", "search", "search_filtered", "search_text",
         "search_hybrid")
#: seconds one serve_warm round and one ingest cycle take on a 4-core
#: host; used only to turn --seconds into fixed round/cycle counts
ROUND_EST_S = 10.0
CYCLE_EST_S = 25.0


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool
    detail: str = ""
    queries: int = 1
    new_messages: int = 0
    expired: int = 0
    jobs: int = 0  # Spark jobs the op launched


@dataclass
class Run:
    ops: list[Op] = field(default_factory=list)  # timed
    setup_ops: list[Op] = field(default_factory=list)
    #: query texts (or tokens) of each timed read op, in order
    queries: list[list[str]] = field(default_factory=list)
    build_s: dict = field(default_factory=dict)
    timed_start: float | None = None
    timed_end: float | None = None
    files_per_cycle: list[dict] = field(default_factory=list)


class LogicalClock:
    """The engine's clock: one tick per op, so the freshness gate's
    cooldowns and the cached-gap TTL trip at the same ops in every run."""

    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def tick(self) -> None:
        self.t += 1.0


class Inputs:
    """Generated files plus what was planted in them."""

    def __init__(self, work: str, seed: int, size: str, cycles: int):
        s = SIZES[size]
        self.window, self.batch_n = s["window"], s["batch"]
        corpus = gen.Corpus(seed)
        self.initial: list[gen.Batch] = []
        tables = []
        for _ in range(self.window // self.batch_n):
            b, t = corpus.batch(self.batch_n, s["n_exact"], s["n_tokens"],
                                s["dup_groups"])
            self.initial.append(b)
            tables.append(t)
        import pyarrow as pa
        self.src = os.path.join(work, "src")
        gen.write(pa.concat_tables(tables),
                  os.path.join(self.src, "events.parquet", "part-00000.parquet"))
        self.arrivals: list[tuple[gen.Batch, str]] = []
        for c in range(cycles):
            b, t = corpus.batch(self.batch_n, s["n_exact"], s["n_tokens"], 0)
            path = os.path.join(work, "arrivals", f"cycle-{c:04d}.parquet")
            gen.write(t, path)
            self.arrivals.append((b, path))
        self.facts = {"seed": seed, "size": size, **s, "cycles": cycles,
                      "vocab": len(corpus.vocab)}


class Harness:
    def __init__(self, spark, work: str, inputs: Inputs, jobs, tracer=None):
        from msg_vector_search_spark.engine import Engine
        from msg_vector_search_spark.server import ServingShim

        self.work = work
        self.inp = inputs
        self.clock = LogicalClock()
        self.engine = Engine(spark, inputs.src, os.path.join(work, "store"),
                             clock=self.clock,
                             index_dir=os.path.join(work, "ann"),
                             text_index_dir=os.path.join(work, "text"))
        self.shim = ServingShim(self.engine)
        self.tracer = tracer
        self.jobs = jobs
        self.run = Run()
        self.live_first = 1  # smallest message id still in the window
        self.arrived: list[gen.Batch] = []
        self.asked: set[str] = set()  # every query text or token so far

    # -- op plumbing ------------------------------------------------------
    def _op(self, kind: str, fn, timed: bool = True) -> Op:
        """Run one op: tick the logical clock, time it, check it."""
        self.clock.tick()
        if self.tracer is not None:
            # spans of set-up ops carry no op id: per-op-type Spark
            # figures cover the timed ops only
            self.tracer.op_id = len(self.run.ops) if timed else None
            span = self.tracer.open(f"op.{kind}")
        jobs0 = self.jobs()
        wall0, t0 = time.time(), time.perf_counter()
        try:
            ok, detail, extra = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            ok, detail, extra = False, f"{type(e).__name__}: {e}", {}
        ms = (time.perf_counter() - t0) * 1e3
        extra["jobs"] = self.jobs() - jobs0
        if self.tracer is not None:
            self.tracer.close(span)
        op = Op(kind, ms, ok, detail, **extra)
        if timed:
            if self.run.timed_start is None:
                self.run.timed_start = wall0
            self.run.timed_end = time.time()
            self.run.ops.append(op)
        else:
            if not ok:
                raise RuntimeError(f"setup op {kind} failed: {detail}")
            self.run.setup_ops.append(op)
        return op

    def _ask(self, queries: list[str], timed: bool) -> None:
        if timed:
            self.run.queries.append(queries)
        self.asked.update(queries)

    # -- checked ops ------------------------------------------------------
    def search(self, probe: gen.Probe, filtered: bool = False) -> Op:
        self._ask([probe.text], True)
        args = {"query": probe.text, "limit": 10}
        if filtered:
            args["conversation_type"] = "group" if probe.group else "private"

        def call():
            r = self.shim.handle({"tool": "search_messages", "args": args})
            return (*self._check_search(r, probe, True), {})
        return self._op("search", call)

    def _check_search(self, env: dict, probe: gen.Probe, expect: bool):
        if env.get("status") != "success":
            return False, f"search error: {env}"
        rows = env["results"]
        ids = [r["message_id"] for r in rows]
        if not expect:
            return (probe.message_id not in ids,
                    f"expired {probe.message_id} served")
        if not rows or ids[0] != probe.message_id or rows[0]["sim"] < 0.999:
            top = (ids[0], rows[0]["sim"]) if rows else None
            return False, f"probe {probe.message_id} not first: {top}"
        return True, ""

    def search_many(self, probes: list[gen.Probe], timed: bool = True,
                    absent: list[gen.Probe] = ()) -> Op:
        """One batched search: every query of *probes* must find its
        message first, and no query of *absent* (expired) may find its."""
        queries = [(p, True) for p in probes] + [(p, False) for p in absent]
        self._ask([p.text for p, _ in queries], timed)

        def call():
            r = self.shim.handle({"tool": "search_messages_many", "args": {
                "queries": {str(i): p.text for i, (p, _) in
                            enumerate(queries)},
                "limit": 10}})
            if r.get("status") != "success":
                return False, f"search_many error: {r}", {}
            for i, (p, expect) in enumerate(queries):
                ok, detail = self._check_search(r["envelopes"][str(i)], p,
                                                expect)
                if not ok:
                    return False, detail, {}
            return True, "", {"queries": len(queries)}
        return self._op("search_many", call, timed)

    def search_text(self, probes: list[gen.Probe]) -> Op:
        """Keyword search for the tokens of *probes*: the first probe's
        message must rank first, and the others are expired, so their
        messages must not be served at all."""
        self._ask([p.token for p in probes], True)

        def call():
            rows = self.engine.search_text([p.token for p in probes],
                                           limit=10)
            ids = [r["message_id"] for r in rows]
            gone = [p.message_id for p in probes[1:]]
            return (bool(ids) and ids[0] == probes[0].message_id
                    and not set(gone) & set(ids),
                    f"tokens {[p.token for p in probes]}: {ids[:3]}", {})
        return self._op("search_text", call)

    def search_hybrid(self, probe: gen.Probe, timed: bool = True) -> Op:
        self._ask([probe.text], timed)

        def call():
            r = self.engine.search_hybrid(probe.text, limit=10)
            ids = [x["message_id"] for x in r.get("results", [])]
            return (r.get("status") == "success" and bool(ids)
                    and ids[0] == probe.message_id,
                    f"hybrid {probe.message_id}: {ids[:3]}", {})
        return self._op("search_hybrid", call, timed)

    def ingest(self, expect_new: int, timed: bool = True,
               kind: str = "update_embeddings") -> Op:
        def call():
            r = self.shim.handle({"tool": "update_embeddings",
                                  "args": {"max_messages": None}})
            n = r.get("new_messages", -1)
            return (r.get("status") == "success" and n == expect_new,
                    f"ingest: {r}", {"new_messages": max(n, 0)})
        return self._op(kind, call, timed)

    def retention(self, first_kept: int, expect_expired: int,
                  timed: bool = True) -> Op:
        def call():
            r = self.engine.apply_retention(gen.ts_of(first_kept))
            n = r.get("expired", -1)
            return (r.get("status") == "success" and n == expect_expired
                    and r.get("text_index_tombstoned") == expect_expired,
                    f"retention: expired={n}", {"expired": max(n, 0)})
        op = self._op("apply_retention", call, timed)
        self.live_first = first_kept
        return op

    def stats(self) -> Op:
        def call():
            r = self.shim.handle({"tool": "database_stats"})
            return (r.get("embedded_messages") == self.inp.window,
                    f"stats: {r}", {})
        return self._op("database_stats", call)

    # -- phases -------------------------------------------------------------
    def build(self, with_dedup: bool) -> None:
        """Bulk ingest and both index builds, then optionally the dedup
        pass over the store, each step timed on its own."""
        from msg_vector_search_spark.operators import dedup

        steps = self.run.build_s
        t = time.perf_counter()
        self.ingest(self.inp.window, timed=False, kind="build_ingest")
        steps["ingest"] = time.perf_counter() - t

        def build_ann():
            return self.engine.ensure_index(), "ann build", {}

        def build_text():
            return self.engine.ensure_text_index(), "text build", {}

        def run_dedup():
            store = self.engine._store().select("message_id", "message_text")
            pairs = {(r["id_a"], r["id_b"]) for r in
                     dedup.dedup_minhash_lsh(store, text_col="message_text",
                                             id_col="message_id").collect()}
            # pairs are ordered as Spark compares the string ids
            for b in self.inp.initial:
                for (a, c), near in b.dup_groups:
                    if (min(a, c), max(a, c)) not in pairs:
                        return False, f"exact dup {(a, c)} missed", {}
                    if not any((min(near, e), max(near, e)) in pairs
                               for e in (a, c)):
                        return False, f"near dup {near} missed", {}
            return True, "", {}

        steps_fns = [("ann", build_ann), ("text", build_text)]
        if with_dedup:
            steps_fns.append(("dedup", run_dedup))
        for name, fn in steps_fns:
            t = time.perf_counter()
            self._op(f"build_{name}", fn, timed=False)
            steps[name] = time.perf_counter() - t

    def warm_up(self) -> None:
        """Untimed reads with probes (the oldest live batch's last four)
        that the timed phase never asks for.  A hybrid search runs every
        single-query read layer (query embed, ANN probe, postings read,
        payload join); the batched search has a plan of its own."""
        b = self._live_batches()[0]
        self.search_hybrid(b.exact[-1], timed=False)
        self.search_many(b.exact[-4:] * (MANY_Q // 4), timed=False)

    def write_cycle(self, c: int, timed: bool = True):
        """The writes of one ingest cycle: the arrival, its ingest, and
        the retention of the oldest batch.  Returns (new, expired)."""
        batch, path = self.inp.arrivals[c]
        expired = self._live_batches()[0]
        # the arrival itself is the harness's doing, not a timed op
        shutil.move(path, os.path.join(self.inp.src, "events.parquet",
                                       os.path.basename(path)))
        self.arrived.append(batch)
        self.ingest(batch.n, timed)
        self.retention(expired.last_id + 1, expired.n, timed)
        self.run.files_per_cycle.append(
            {d: dir_usage(os.path.join(self.work, d))[0]
             for d in ("store", "ann", "text")})
        return batch, expired

    def cycle(self, c: int, rng: np.random.Generator) -> None:
        """One ingest cycle: the writes, then reads that must see the new
        batch and the older live ones and must not see the expired one.
        Every query is one no earlier op asked."""
        batch, expired = self.write_cycle(c)
        new = batch.exact

        def fresh(probes, key):
            return [p for p in probes if key(p) not in self.asked]

        self.search_text([batch.tokens[0],
                          fresh(expired.tokens, lambda p: p.token)[0]])
        self.search(new[0], filtered=True)
        self.search_hybrid(new[1])
        older = fresh([p for b in self._live_batches() if b is not batch
                       for p in b.exact], lambda p: p.text)
        pick = rng.choice(len(older), size=MANY_Q - MANY_NEW - 1,
                          replace=False)
        self.search_many(new[2:2 + MANY_NEW] + [older[i] for i in pick],
                         absent=fresh(expired.exact, lambda p: p.text)[:1])

    def _live_batches(self) -> list[gen.Batch]:
        return [b for b in self.inp.initial + self.arrived
                if b.first_id >= self.live_first]


def zipf_picks(rng: np.random.Generator, pool: list, n: int) -> list:
    """*n* draws from *pool*, the i-th item with weight 1/i^s."""
    w = np.arange(1, len(pool) + 1, dtype=np.float64) ** -QUERY_ZIPF_S
    idx = rng.choice(len(pool), size=n, p=w / w.sum())
    return [pool[i] for i in idx]


def serve_warm(h: Harness, rounds: int, cycles: int,
               rng: np.random.Generator) -> None:
    h.build(with_dedup=False)
    h.write_cycle(0, timed=False)
    h.warm_up()
    # timed pool: every live probe the warm-up did not ask
    batches = h._live_batches()
    exact = [p for b in batches for p in b.exact if p.text not in h.asked]
    group = [p for p in exact if p.group]
    tokens = [p for b in batches for p in b.tokens]
    for _ in range(rounds):
        for kind in ROUND:
            if kind == "search":
                h.search(zipf_picks(rng, exact, 1)[0])
            elif kind == "search_filtered":
                h.search(zipf_picks(rng, group, 1)[0], filtered=True)
            elif kind == "search_text":
                h.search_text(zipf_picks(rng, tokens, 1))
            elif kind == "search_hybrid":
                h.search_hybrid(zipf_picks(rng, exact, 1)[0])
            else:
                h.search_many(zipf_picks(rng, exact, MANY_Q))
    h.stats()


def ingest_stream(h: Harness, rounds: int, cycles: int,
                  rng: np.random.Generator) -> None:
    # reads here follow writes and are never warmed up: that first-read
    # cost is what this workload measures; the batch pipeline's dedup
    # pass runs here, once, over the freshly built store
    h.build(with_dedup=True)
    for c in range(cycles):
        h.cycle(c, rng)
    h.stats()


WORKLOADS = {"serve_warm": serve_warm, "ingest_stream": ingest_stream}


def plan(workload: str, seconds: float) -> tuple[int, int]:
    """(read rounds, ingest cycles) for a run of about *seconds*;
    serve_warm's one cycle is part of its set-up."""
    if workload == "serve_warm":
        return max(1, int(seconds // ROUND_EST_S)), 1
    return 0, max(1, int(seconds // CYCLE_EST_S))


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under *path*."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


#: op types, and the prefix of their ``<prefix>_jobs`` metric
OP_TYPES = {"search": "search", "search_text": "text",
            "search_hybrid": "hybrid", "search_many": "many",
            "update_embeddings": "ingest", "apply_retention": "retention"}


def by_kind(run: Run) -> dict:
    out: dict = {}
    for op in run.ops:
        out.setdefault(op.kind, []).append(op)
    return out


def jobs_per_op(run: Run) -> dict:
    """``<prefix>_jobs``: median Spark jobs per call of each op type
    over its timed calls.  serve_warm times no writes, so its write
    figures come from the ingest cycle that ends its set-up."""
    out = {}
    for kind, prefix in OP_TYPES.items():
        ops = ([o for o in run.ops if o.kind == kind]
               or [o for o in run.setup_ops if o.kind == kind])
        out[f"{prefix}_jobs"] = (statistics.median(o.jobs for o in ops),
                                 "count")
    return out


def repeat_shares(run: Run) -> dict:
    """Shares of the timed queries that repeat a query text (or token):
    within the same op (a batched search), and across ops (asked by an
    earlier timed op)."""
    seen: set = set()
    total = within = across = 0
    for queries in run.queries:
        here: set = set()
        for q in queries:
            total += 1
            if q in here:
                within += 1
            elif q in seen:
                across += 1
            here.add(q)
        seen |= here
    return {"queries": total, "repeat_within": within / total,
            "repeat_across": across / total}


def latencies(run: Run) -> dict:
    """Wall-clock figures of the timed ops: per-op-type median latency,
    queries per second of the batched search, stored messages per
    second of ingest (ingest_stream), and ops per second over the timed
    phase."""
    by = by_kind(run)
    out = {f"latency.{k}.p50_ms": (statistics.median(o.ms for o in by[k]),
                                   "ms") for k in OP_TYPES if k in by}
    many = by["search_many"]
    out["run.batch_qps"] = (sum(o.queries for o in many)
                            / (sum(o.ms for o in many) / 1e3), "1/s")
    if "update_embeddings" in by:
        ingests = by["update_embeddings"]
        out["run.ingest_msgs_per_s"] = (
            sum(o.new_messages for o in ingests)
            / (sum(o.ms for o in ingests) / 1e3), "1/s")
    out["run.ops_per_s"] = (len(run.ops) / (run.timed_end - run.timed_start),
                            "1/s")
    return out
