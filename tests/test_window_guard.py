"""Registry-wide window-hazard guard.

An unpartitioned WindowExec funnels its entire input through one
reducer (`Exchange SinglePartition`) — the one plan shape that cannot
survive a 100x scale-up.  This test plans EVERY registry query at
sf0.001 and asserts the only unpartitioned windows are the declared
exemptions, each justified by evidence in the same plan:

* ``ntile_customer_quartiles`` / ``percent_rank_cume_dist`` — the two
  declared parity-form specs (SURVEY 2.G); their scale twins
  ``spend_quartile_scan`` / ``percent_rank_scan`` are partitioned and
  separately pinned in test_plan_shapes.py.
* ``topk_with_ties`` — rank <= 10 over a global order, but Spark plans
  a PARTIAL ``WindowGroupLimit`` below the single-partition exchange,
  so each map task ships at most 10+ties rows, not its whole input.
  The guard asserts that partial limit is present.
* ``sort_ts_pagination`` — the OFFSET-parity page: the window numbers
  a ``TakeOrderedAndProject``-bounded prefix (page_end rows), never
  the table.  The guard asserts the bounded child is present.

Any new registry query that plans an unlisted unpartitioned window
fails here with the offending plan line.

Most registry rows are bound by per-job fixed cost at sf0.001, so the
rows are planned on a small thread pool, each thread on its own
``newSession()`` (one SparkContext, isolated runtime confs and temp
views): a row that pins a conf for its own run cannot leak it into a
neighbour's plan.  A row that errors there (e.g. two rows racing on
one shared artifact) is planned again alone on the test session, so
only a row that fails on its own fails the guard.
"""

from __future__ import annotations

import re
import threading
from concurrent.futures import ThreadPoolExecutor

from msg_vector_search_spark import contract

SF = "/root/testdata/sf0.001"

#: Registry rows planned at once.
WORKERS = 4

# Declared parity forms: unpartitioned by spec, no further evidence.
PARITY_SPECS = {"ntile_customer_quartiles", "percent_rank_cume_dist"}

# Bounded-input exemptions: unpartitioned window allowed ONLY with the
# named boundedness evidence elsewhere in the same physical plan.
BOUNDED_EVIDENCE = {
    "topk_with_ties": "WindowGroupLimit",       # partial per-map limit
    "sort_ts_pagination": "TakeOrderedAndProject",  # limit-bounded prefix
    # retrieval.bounded_rank (r17): each serving leg's rank window is
    # fed by its ordered limit(k) — TakeOrderedAndProject below the
    # window, so the single-partition exchange sees k=50 rows at any
    # corpus size (tests/test_retrieval.py pins the limit-below-window
    # order; this guard pins that the bounded child is in the plan).
    # (pipeline_serving_capstone also calls bounded_rank, but its
    # mmr_select stage localCheckpoints the fused shortlist, so the
    # FINAL plan starts at that pin and shows no window — no
    # exemption needed there.)
    "hybrid_search_rrf": "TakeOrderedAndProject",
    "pipeline_forget_and_serve": "TakeOrderedAndProject",
    "maxsim_hybrid_rrf": "TakeOrderedAndProject",
}


def _unpartitioned_window_lines(plan: str) -> list[str]:
    """Physical-plan ``Window`` lines whose spec has no partition group.

    Format: ``Window [exprs], [partitionSpec], [orderSpec]`` — three
    top-level bracket groups when partitioned AND ordered.  TWO groups
    is ambiguous: a partitioned order-less window (e.g. the
    overlapping-window family's ``count(*) over (partition by whash)``
    — r14) also prints two, so classify the second group: order specs
    carry ``ASC``/``DESC`` direction tokens, partition specs are bare
    column refs.  One group (or a direction-bearing second group) is
    the single-reducer hazard this guard exists for."""
    bad = []
    for ln in plan.splitlines():
        m = re.search(r"(?:^|[-: ])Window (\[.*)$", ln)
        if not m:
            continue
        spans, depth, start = [], 0, None
        for i, ch in enumerate(m.group(1)):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    spans.append(m.group(1)[start:i + 1])
        if len(spans) >= 3:
            continue  # [exprs], [partition], [order]
        if (len(spans) == 2
                and not re.search(r"\b(ASC|DESC)\b", spans[1])
                and re.search(r"#\d+", spans[1])):
            # [exprs], [partition-only]: partitioned, no order.  The
            # attribute-ref requirement (#id) keeps a CONSTANT
            # partition key — partitionBy(lit(1)), a true single
            # reducer — classified as the hazard it is.
            continue
        bad.append(ln.strip())
    return bad


def _plan(spark, fn) -> str:
    return fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def _registry_plans(spark) -> dict[str, str]:
    """Physical plan of every registry row, in registry order."""
    local = threading.local()

    def plan_in_own_session(fn):
        if not hasattr(local, "spark"):
            local.spark = spark.newSession()
        return _plan(local.spark, fn)

    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        futures = {name: pool.submit(plan_in_own_session, fn)
                   for name, fn in contract.REGISTRY.items()}
    plans = {}
    for name, fut in futures.items():
        try:
            plans[name] = fut.result()
        except Exception:
            plans[name] = _plan(spark, contract.REGISTRY[name])
    return plans


def test_only_declared_queries_plan_unpartitioned_windows(spark):
    offenders: dict[str, list[str]] = {}
    plans: dict[str, str] = {}
    for name, plan in _registry_plans(spark).items():
        lines = _unpartitioned_window_lines(plan)
        if lines:
            offenders[name] = lines
            plans[name] = plan

    undeclared = {
        n: ls for n, ls in offenders.items()
        if n not in PARITY_SPECS and n not in BOUNDED_EVIDENCE
    }
    assert not undeclared, (
        "unpartitioned WindowExec outside the declared exemptions:\n"
        + "\n".join(f"  {n}: {ls[0]}" for n, ls in undeclared.items()))

    # The parity specs must still exist (if one is removed/renamed the
    # allowlist must shrink with it).
    for n in PARITY_SPECS:
        assert n in offenders, f"{n} no longer plans its declared hazard form"

    # Bounded exemptions must carry their evidence in the same plan.
    for n, evidence in BOUNDED_EVIDENCE.items():
        assert n in offenders, f"{n} no longer plans an unpartitioned window"
        assert evidence in plans[n], (
            f"{n}: unpartitioned window without its boundedness "
            f"evidence ({evidence}) in the plan")
