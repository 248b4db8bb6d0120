"""Pure-Python pins for the driver-verification order — the age-only
rotation the driver's 50-row CORRECTNESS window rides on (no
SparkSession needed)."""

from __future__ import annotations

from msg_vector_search_spark import contract


def _order():
    return list(contract.verification_order(
        {k: None for k in contract.REGISTRY}))


def test_every_registry_name_appears_once():
    order = _order()
    assert len(order) == len(set(order)) == len(contract.REGISTRY)
    assert set(order) == set(contract.REGISTRY)


def test_order_is_last_green_round_then_registry_position():
    """Oldest green driver check first (never-checked rows have round 0
    and lead); ties keep registry source order."""
    last = contract._last_checked_rounds()
    pos = {k: i for i, k in enumerate(contract.REGISTRY)}
    keys = [(last.get(k, 0), pos[k]) for k in _order()]
    assert keys == sorted(keys)


def test_oracles_follow_registry_order():
    """ORACLES is ordered exactly as REGISTRY, restricted to the names
    that have an oracle."""
    oracles = list(contract.verification_order(contract.ORACLES))
    assert oracles == [k for k in _order() if k in contract.ORACLES]


def test_last_checked_counts_only_green_rows():
    """A failed or hash-mismatched CORRECTNESS row must NOT refresh a
    row's last-checked round (it should rotate FORWARD instead)."""
    import msg_vector_search_spark.contract as c

    # exercise the green() predicate through a synthetic artifact dir
    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "err": None}
    bad_hash = dict(ok, hash_match=False)
    rows_only = {"err": "no_oracle", "spark_rows": 7}
    rows_only_empty = {"err": "no_oracle", "spark_rows": 0}
    # the predicate is embedded in _last_checked_rounds; replicate its
    # contract here so a refactor that weakens it fails this pin
    def green(row):
        if row.get("err") == "no_oracle":
            return (row.get("spark_rows") or 0) > 0
        return (bool(row.get("rows_match")) and bool(row.get("schema_match"))
                and bool(row.get("hash_match")) and row.get("err") is None)

    assert green(ok) and green(rows_only)
    assert not green(bad_hash) and not green(rows_only_empty)
    # and the real cache agrees with CORRECTNESS_r13 (all green there)
    last = c._last_checked_rounds()
    import json, os
    import msg_vector_search_spark as pkg
    root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    r13 = json.load(open(os.path.join(root, "CORRECTNESS_r13.json")))
    for name, row in r13.items():
        if green(row):
            assert last.get(name, 0) >= 13
