"""Pin every registry name, its order and the text of its oracle.

``tests/oracle_fingerprints.json`` lists each ``REGISTRY`` name in
registry order with the sha256 of its oracle after whitespace
normalization (``" ".join(sql.split())``), or ``null`` for a rows-only
row.  A refactor of ``contract.py`` that folds oracle SQL into shared
builders must leave this file unchanged; a change meant to alter an
oracle regenerates it with

    python tests/test_oracle_fingerprints.py --write

and the diff shows which rows moved.  Imports ``contract`` only: no
SparkSession is started.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from msg_vector_search_spark import contract  # noqa: E402

PINS = os.path.join(HERE, "oracle_fingerprints.json")


def _fingerprint(sql: str) -> str:
    return hashlib.sha256(" ".join(sql.split()).encode()).hexdigest()


def rendered() -> list[list]:
    """``[name, sha256-or-None]`` for every registry row, in order."""
    return [[name, _fingerprint(contract.ORACLES[name])
             if name in contract.ORACLES else None]
            for name in contract.REGISTRY]


def test_oracle_fingerprints_match_pins():
    with open(PINS) as f:
        pinned = json.load(f)
    now = rendered()
    assert [n for n, _ in now] == [n for n, _ in pinned], \
        "registry names or their order changed"
    moved = [n for (n, h), (_, p) in zip(now, pinned) if h != p]
    assert not moved, f"oracle text changed for: {moved}"


if __name__ == "__main__":
    if sys.argv[1:] == ["--write"]:
        with open(PINS, "w") as f:
            f.write("[\n" + ",\n".join(
                " " + json.dumps(row) for row in rendered()) + "\n]\n")
        print(f"wrote {PINS}")
    else:
        sys.exit("usage: python tests/test_oracle_fingerprints.py --write")
