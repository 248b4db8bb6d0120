"""The published-artifact scale guards (ADVICE r12): a trained-row
oracle must refuse to replay artifacts left behind by a run at a
different fixture scale.  Row counts cannot discriminate (sf0.001 and
sf0.01 both hold exactly 500 embeddings/documents with different
contents), so the guards compare CONTENT witnesses — these tests pin
both the match and the trip.

Shares /tmp/mvs_trained_artifacts with the gate (documented
single-writer assumption): do not run concurrently with
oracle_check."""

from __future__ import annotations

import duckdb
import pytest

from msg_vector_search_spark.contract.ann import _TRAINED_LINK_GUARD
from msg_vector_search_spark.contract.core import (
    _WITNESS_KEY_SQL, _fp_guard, _publish_fingerprint, _publish_store_link,
    _scale_witness, _trained_dir,
)

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("embeddings", "documents", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.mark.parametrize("table", ["embeddings", "documents", "events"])
def test_fp_guard_matches_own_scale_and_trips_cross_scale(spark, table):
    _publish_fingerprint(spark, SF_A, "guard_test", table)
    guard = _fp_guard("guard_test", table)
    con_a, con_b = _duck(SF_A), _duck(SF_B)
    assert con_a.sql(f"SELECT {guard}").fetchone()[0] is True
    assert con_b.sql(f"SELECT {guard}").fetchone()[0] is not True


def test_spark_witness_equals_duck_witness(spark):
    """The two engines compute the SAME checksum over the same table —
    the property the guard's equality rests on."""
    for table in ("embeddings", "documents", "events"):
        w = _scale_witness(spark, SF_B, table)
        key = _WITNESS_KEY_SQL[table]
        from msg_vector_search_spark.functions import analysis
        con = _duck(SF_B)
        d = con.sql(
            f"SELECT sum(1000003 + ({analysis.duck_token_hash(key)} "
            f"% 1000003)) FROM {table}").fetchone()[0]
        assert w == int(d), table


def test_trained_link_guard_requires_matching_store(spark, tmp_path):
    """The intrinsic store-link guard: a full-corpus index store
    content-matches its own scale's embeddings view and no other.

    The guard SQL hard-codes the canonical 'trained_index' link, so
    the test must borrow it — the original target is restored in
    teardown (pytest's tmp_path cleanup would otherwise leave the
    shared link dangling for any later direct oracle read)."""
    import os

    from msg_vector_search_spark.operators import ann_index
    from msg_vector_search_spark.sources import readers

    link = _trained_dir("trained_index")
    try:
        prior = os.readlink(link)
    except OSError:
        prior = None
    emb = readers.read_table(spark, SF_A, "embeddings")
    path = str(tmp_path / "index")
    ann_index.build_index(spark, emb, path, nlist=8, m=8, ncodes=16)
    try:
        _publish_store_link("trained_index", path)
        guard = _TRAINED_LINK_GUARD
        con_a, con_b = _duck(SF_A), _duck(SF_B)
        assert con_a.sql(f"SELECT {guard}").fetchone()[0] is True
        assert con_b.sql(f"SELECT {guard}").fetchone()[0] is not True
    finally:
        if prior is not None:
            _publish_store_link("trained_index", prior)
        else:
            try:
                os.remove(link)
            except OSError:
                pass
