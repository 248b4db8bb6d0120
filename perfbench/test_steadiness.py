"""Exact-count steadiness: two traced runs with the same seed must issue
the same Spark work, whatever their timings.

Wall times drift between runs; job counts, freshness-gate decisions and
per-cycle ingest and expiry counts do not, so they are the benchmark's
steadiness anchor.  Index file counts per cycle are checked on their
own: the ANN index's vector files per cell can differ between two
same-seed runs (an extra part file in a few cells after the second
cycle), so that test can fail while the work counts hold.  Run with

    python3 -m pytest perfbench/test_steadiness.py -q

from the root of a checkout (about three minutes on four cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_counts(tag: str) -> dict:
    out = os.path.join(ROOT, ".perfbench", "test", f"{tag}.json")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", "ingest_stream", "--seed", "7", "--seconds", "50",
         "--trace", "1", "--size", "tiny", "--out", out],
        cwd=ROOT, check=True, timeout=600, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)["counts"]


@pytest.fixture(scope="module")
def pair():
    return traced_counts("first"), traced_counts("second")


@pytest.mark.parametrize("key", ["jobs_per_op", "gate", "ops"])
def test_same_seed_same_work(pair, key):
    first, second = pair
    assert first[key] == second[key]


def test_same_seed_same_index_files(pair):
    first, second = pair
    assert len(first["files_per_cycle"]) == 2  # two ingest cycles ran
    assert first["files_per_cycle"] == second["files_per_cycle"]
