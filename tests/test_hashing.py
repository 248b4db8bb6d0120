"""Parity pins for the driver-side xxhash64 twin (functions.hashing).

The inverted-index build writes ``tb = pmod(xxhash64(term), n)`` with
the Catalyst expression; the serve (r17) computes the SAME mapping on
the driver to avoid a per-serve 1-row cluster job.  These pins hold the
two implementations bit-equal — a drift would misroute serves to the
wrong postings directories, so the parity test is deliberately broad:
every fixture-vocabulary shape, randomized lengths across the XXH64
block boundaries (0..100 bytes spans the <4, <8, <32 and stripe
paths), and multi-byte scripts.

The store's key -> bucket twin (``sinks.bucket_of_key``, the keyed
payload read of an indexed search) and the HALF_UP rounding twin
(``retrieval.round_half_up``, the search envelope's
``similarity_score``) are pinned here the same way.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from msg_vector_search_spark.functions.hashing import (term_bucket,
                                                       xxhash64_str)
from msg_vector_search_spark.operators import retrieval
from msg_vector_search_spark.sources import sinks

CORPUS = (
    ["", "a", "ab", "abc", "spark", "query", "dup", "the", "vector",
     "data", "join", "zstopz", "qrecycle",
     "x" * 31, "x" * 32, "x" * 33, "y" * 63, "y" * 64, "z" * 100,
     "naïve", "héllo wörld", "日本語のテキスト", "emoji 🙂🚀", "кириллица",
     "tab\tnew\nline", "trailing space ", " leading"]
    + ["".join(random.Random(i).choices(
        "abcdefghijklmnopqrstuvwxyz0123456789 _-", k=random.Random(i).randint(0, 100)))
       for i in range(64)]
)


def test_xxhash64_matches_catalyst(spark):
    got = [xxhash64_str(s) for s in CORPUS]
    row = (spark.range(1).select(*[
        F.xxhash64(F.lit(s)).alias(f"h{i}") for i, s in enumerate(CORPUS)])
        .collect()[0])
    want = [int(v) for v in row]
    assert got == want


def test_term_bucket_matches_catalyst_pmod(spark):
    for n in (1, 7, 64, 120, 499, 8192):
        got = [term_bucket(s, n) for s in CORPUS]
        row = (spark.range(1).select(*[
            F.pmod(F.xxhash64(F.lit(s)), F.lit(n)).alias(f"b{i}")
            for i, s in enumerate(CORPUS)]).collect()[0])
        want = [int(v) for v in row]
        assert got == want


def _one_job(spark, df):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    rows = df.collect()
    assert sched.numTotalJobs() - before == 1
    return rows


def test_bucket_of_key_matches_bucket_expr(spark):
    """``sinks.bucket_of_key`` against ``sinks._bucket_expr`` in ONE
    Spark job, over string and long keys: range ids on both sides of
    every bucket edge (negative ones too), the forms Spark's cast
    trims or accepts (" 12", "+64", "007") or rejects ("1.5", words —
    a None bucket), and hash buckets over the same ids plus CORPUS.
    2.5 s on 4 cores (it reads no fixture, so it costs the same at
    sf0.001)."""
    rnd = random.Random(7)
    ids = [b * w + d for w in (1, 64, 4096) for b in range(-2, 6)
           for d in (-1, 0, 1)]
    # (a bucket id is an int: Spark refuses a wider one at write time)
    ids += [rnd.randrange(1 << 31) for _ in range(64)]
    keys = ([str(i) for i in ids]
            + [" 12", "12 ", "\t64\n", "+64", "-0", "007", "1.5", "1e3",
               "", "9223372036854775808"] + CORPUS)
    metas = ([{"layout": "range", "range_width": w} for w in (1, 64, 4096)]
             + [{"layout": "hash", "num_buckets": n} for n in (64, 97, 8192)])

    def as_long(k):
        try:
            n = int(k)
        except ValueError:
            return None
        return n if -(1 << 63) <= n < (1 << 63) else None

    df = spark.createDataFrame([(k, as_long(k)) for k in keys],
                               "k string, n long")
    rows = _one_job(spark, df.select("k", "n", *[
        sinks._bucket_expr(c, m).alias(f"{c}{i}")
        for i, m in enumerate(metas) for c in ("k", "n")]))
    assert len(rows) == len(keys)
    for r in rows:
        for i, m in enumerate(metas):
            assert sinks.bucket_of_key(r["k"], m) == r[f"k{i}"], (r["k"], m)
            if r["n"] is not None:
                assert sinks.bucket_of_key(r["n"], m) == r[f"n{i}"], \
                    (r["n"], m)
    assert any(r["k0"] is None for r in rows)


def test_round_half_up_matches_spark_round3(spark):
    """``retrieval.round_half_up(x, 3)`` against Spark's
    ``F.round(x, 3) + 0.0`` in ONE Spark job, over every 4th-decimal
    tie of the 6dp sim grid in [-1, 1] (x.xxx5, where round()'s
    half-to-even differs) and 2,000 random points of that grid.
    0.8 s on 4 cores (it reads no fixture, so it costs the same at
    sf0.001)."""
    rnd = random.Random(3)
    xs = [(2 * j + 1) / 2000 for j in range(-1000, 1000)]
    xs += [float(f"{rnd.uniform(-1, 1):.6f}") for _ in range(2000)]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    rows = _one_job(spark, df.select(
        "x", (F.round("x", 3) + F.lit(0.0)).alias("r")))
    assert len(rows) == len(xs)
    half_even = 0
    for r in rows:
        assert retrieval.round_half_up(r["x"], 3) == r["r"], r["x"]
        half_even += round(r["x"], 3) != r["r"]
    assert half_even > 0
