"""Per-job wall-clock profile of registry queries via the event log.

Usage:
    python tools/profile_query.py name [name ...]

Runs each query once (cold, after one fixture-warm pass of `_t` reads is
NOT done — lifecycle caches behave as in bench: first invocation builds,
so run a row twice to separate build-cache cost), with
spark.eventLog.enabled, then parses the event log into one line per job:
job id, duration, #stages, #tasks, shuffle read/write bytes, description.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVDIR = "/tmp/spark-events"


def main() -> None:
    names = sys.argv[1:]
    os.makedirs(EVDIR, exist_ok=True)
    import shutil
    for f in glob.glob(os.path.join(EVDIR, "*")):
        shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)

    # the engine's own session, plus the event-log confs through the
    # session builder's extra-conf hook
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, [
        os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""),
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir={EVDIR}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false"]))
    from msg_vector_search_spark import contract
    from msg_vector_search_spark.session import DEFAULT_CPUS as cpus
    from msg_vector_search_spark.session import get_spark

    spark = get_spark("profile")

    # Python-worker + codegen warmup (mirrors bench.py)
    contract.REGISTRY["topk_by_similarity"](spark, SF).count()
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long").count()

    marks = []
    for name in names:
        for rep in (1, 2):
            spark.sparkContext.setJobDescription(f"== {name} rep{rep}")
            t0 = time.perf_counter()
            contract.REGISTRY[name](spark, SF).count()
            marks.append((name, rep, time.perf_counter() - t0))
    spark.sparkContext.setJobDescription(None)
    for name, rep, dt in marks:
        print(f"WALL {name} rep{rep}: {dt:.3f}s")
    spark.stop()

    # parse the event log (single-file layout; a dir means the rolling
    # writer was on — take its events_* member)
    evfiles = glob.glob(os.path.join(EVDIR, "*"))
    assert len(evfiles) == 1, evfiles
    if os.path.isdir(evfiles[0]):
        evfiles = [p for p in glob.glob(evfiles[0] + "/events_*")]
    jobs = {}
    stage_of_job = {}
    with open(evfiles[0]) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "t0": ev["Submission Time"],
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""),
                    "ntask": sum(s.get("Number of Tasks", 0)
                                 for s in ev.get("Stage Infos", [])),
                    "in": 0, "sr": 0, "sw": 0,
                }
                for s in ev.get("Stage Infos", []):
                    stage_of_job[s["Stage ID"]] = jid
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerTaskEnd":
                # per-task metrics aggregated to the owning job — this
                # is where the docstring's shuffle read/write bytes
                # come from (ADVICE r17: they were parsed and dropped)
                jid = stage_of_job.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics") or {}
                if jid in jobs and tm:
                    j = jobs[jid]
                    j["in"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    srm = tm.get("Shuffle Read Metrics") or {}
                    j["sr"] += (srm.get("Remote Bytes Read", 0)
                                + srm.get("Local Bytes Read", 0))
                    j["sw"] += (tm.get("Shuffle Write Metrics") or {}
                                ).get("Shuffle Bytes Written", 0)

    def _mb(n: int) -> str:
        return f"{n / 1048576:8.2f}M" if n else "       0 "

    for jid in sorted(jobs):
        j = jobs[jid]
        dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
        print(f"job {jid:4d}  {dur:7.3f}s  tasks={j['ntask']:4d}  "
              f"in={_mb(j['in'])} sr={_mb(j['sr'])} sw={_mb(j['sw'])}  "
              f"{j['desc'][:80]}")


if __name__ == "__main__":
    main()
