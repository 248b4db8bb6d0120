"""COVERAGE.md is generated from the registry by
``python tools/gen_coverage.py``; this pins the committed file to what
the current registry renders, so a row added, moved between ``contract``
modules or re-documented without regenerating it fails here.  Imports
``contract`` only: no SparkSession is started."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_coverage  # noqa: E402


def test_coverage_md_matches_registry():
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        committed = f.read()
    assert committed == gen_coverage.render(), (
        "COVERAGE.md is stale: run python tools/gen_coverage.py")
