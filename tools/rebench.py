"""Targeted re-measure: bench.py's exact methodology (same session
confs via session.get_spark, same warmup, same timed action
``fn(spark, SF).count()``) over a SUBSET of registry rows, N-rep
median.  For A/B adjudication of individual optimizations without
paying the full 271-row sweep per measurement.

Usage:
    python tools/rebench.py [-r REPS] name [name ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: the
CPUs this process may run on).
Prints one JSON line {"reps": N, "queries": {name: median_sec}, "raw": {...}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-r":
        reps = int(args[1])
        args = args[2:]
    names = args

    from msg_vector_search_spark import contract
    from msg_vector_search_spark.session import DEFAULT_CPUS as cpus
    from msg_vector_search_spark.session import get_spark

    spark = get_spark("rebench", cpus=cpus)
    # bench.py's warmup, verbatim
    for _ in range(3):
        contract.REGISTRY["topk_by_similarity"](spark, SF).count()
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long").count()

    raw: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for name in names:
            fn = contract.REGISTRY[name]
            t0 = time.perf_counter()
            fn(spark, SF).count()
            raw[name].append(round(time.perf_counter() - t0, 3))
    med = {n: round(statistics.median(v), 3) for n, v in raw.items()}
    print(json.dumps({"reps": reps, "sf": SF, "queries": med,
                      "raw": raw}))


if __name__ == "__main__":
    main()
