"""Capture .explain("formatted") output for named registry queries.

Usage:
    python tools/explain_queries.py OUTDIR SUFFIX name [name ...]
    python tools/explain_queries.py OUTDIR SUFFIX --all

Writes OUTDIR/<name>_<SUFFIX>.txt per query (e.g. plans/r17/foo_before.txt).
Runs at $SPARK_GRAFT_SF_DIR (default sf0.001 — plan SHAPE is scale-free;
lifecycle rows still build their fixture stores, so the explain reflects
the final serve read over the layout the verbs actually produced).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from msg_vector_search_spark import contract
    from msg_vector_search_spark.session import get_spark

    spark = get_spark("explain")
    if names == ["--all"]:
        names = sorted(contract.REGISTRY)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name in names:
        fn = contract.REGISTRY.get(name)
        if fn is None:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        try:
            df = fn(spark, SF)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 - record, keep going
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {SF} ({suffix})\n")
            f.write(plan)
            if not plan.endswith("\n"):
                f.write("\n")
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
