"""Corpus-audit operators: cross-source overlap, drift, deterministic
reservoirs, BPE pair stats, and MMR diversification."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from msg_vector_search_spark.operators import corpus as corpus_ops
from msg_vector_search_spark.operators import similarity as sim_ops
from msg_vector_search_spark.sources import readers


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return readers.read_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return readers.read_table(spark, sf_dir, "embeddings")


def test_overlap_bounds_and_ordering(docs):
    rows = corpus_ops.source_shingle_overlap(docs, shingle_n=3,
                                             top=10).collect()
    assert rows, "fixture sources share at least some shingles"
    for r in rows:
        assert r.src_a < r.src_b
        assert 0.0 <= r.jaccard <= r.containment <= 1.0
        assert r.n_inter <= min(r.n_a, r.n_b)
    jac = [r.jaccard for r in rows]
    assert jac == sorted(jac, reverse=True)


def test_overlap_self_is_total(spark):
    # A source joined with an exact copy of itself: containment == 1.
    df = spark.createDataFrame(
        [("a", "the quick brown fox jumps high"),
         ("b", "the quick brown fox jumps high")],
        "source string, text string")
    r = corpus_ops.source_shingle_overlap(df, shingle_n=3,
                                          top=5).collect()[0]
    assert r.containment == 1.0 and r.jaccard == 1.0


def test_group_sample_exact_k_and_stable(docs):
    out = corpus_ops.deterministic_group_sample(
        docs, group_col="source", id_col="doc_id", k=3)
    sizes = {r.source: r.n
             for r in out.groupBy("source").agg(
                 F.count("*").alias("n")).collect()}
    per_group = {r.source: r.n
                 for r in docs.groupBy("source").agg(
                     F.count("*").alias("n")).collect()}
    for src, n in sizes.items():
        assert n == min(3, per_group[src])
    # Stable under repartitioning: same ids either way.
    ids_a = {r.doc_id for r in out.collect()}
    ids_b = {r.doc_id
             for r in corpus_ops.deterministic_group_sample(
                 docs.repartition(7), "source", "doc_id", 3).collect()}
    assert ids_a == ids_b


def test_bpe_pairs_shape(docs):
    rows = corpus_ops.bpe_pair_counts(docs, top=10).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        assert len(r.pair) == 2 and r.pair.islower()
        assert r.cnt > 0
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_centroid_drift_zero_on_identical(emb):
    out = corpus_ops.centroid_drift(emb, emb).collect()
    assert out
    for r in out:
        assert r.drift == 0.0 and r.n_old == r.n_new


def test_centroid_drift_positive_on_shift(emb):
    shifted = emb.withColumn(
        "embedding",
        F.transform("embedding", lambda x: x + F.lit(0.5)))
    for r in corpus_ops.centroid_drift(emb, shifted).collect():
        assert r.drift > 0.0


def _qvec(emb):
    row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in row[0]]


def test_mmr_first_pick_is_argmax(emb):
    qv = _qvec(emb)
    mmr = sim_ops.mmr_rerank(emb, qv, k=5, shortlist=20).collect()
    top = sim_ops.knn_search(emb, qv, k=1).collect()[0]
    by_step = sorted(mmr, key=lambda r: r.step)
    assert by_step[0].vec_id == top.vec_id
    assert len({r.vec_id for r in mmr}) == 5
    assert [r.step for r in by_step] == [1, 2, 3, 4, 5]


def test_mmr_diversifies_vs_plain_topk(emb, spark):
    """Mean pairwise similarity of the MMR set must not exceed the
    plain top-k set's (that's the whole point of the operator)."""
    qv = _qvec(emb)
    k = 5
    mmr_ids = [r.vec_id for r in sim_ops.mmr_rerank(
        emb, qv, k=k, shortlist=20).collect()]
    top_ids = [r.vec_id for r in sim_ops.knn_search(
        emb, qv, k=k).collect()]

    def mean_pairwise(ids):
        sub = emb.filter(F.col("vec_id").isin(ids))
        a = sub.select(F.col("vec_id").alias("ia"),
                       F.col("embedding").alias("va"))
        b = sub.select(F.col("vec_id").alias("ib"),
                       F.col("embedding").alias("vb"))
        from msg_vector_search_spark.functions import vector as V
        pairs = (a.join(b, F.col("ia") < F.col("ib"))
                 .select(V.cosine("va", "vb").alias("s")))
        return pairs.agg(F.avg("s")).collect()[0][0]

    assert mean_pairwise(mmr_ids) <= mean_pairwise(top_ids) + 1e-9


def test_mmr_shortlist_plan_is_bounded(emb):
    """The corpus-facing stage must be TakeOrderedAndProject (ordered
    limit), not a global sort or window.  (The full mmr_rerank plan
    starts from the localCheckpoint, so the shortlist subtree is pinned
    here directly.)"""
    qv = _qvec(emb)
    plan = sim_ops.mmr_shortlist(emb, qv, 10)._jdf \
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "WindowExec" not in plan


def test_bpe_encode_applies_merges_in_training_order(spark):
    """Hand-checked encode: after merges ['h e', 't he'] the token
    'the' is ONE symbol, 'theme' is the+m+e, 'thesis' is the+s+i+s —
    and ids are 1-based positions in the sorted vocab.  Non-[a-z]
    tokens contribute nothing."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the theme thesis"),
         Row(doc_id=2, text="xx 123 a")])
    merges = ["h e", "t he"]
    vocab = corpus_ops.bpe_vocab(merges)
    assert vocab.index("the") + 1 == 22 and vocab.index("he") + 1 == 9
    out = {r["doc_id"]: (r["n_tokens"], list(r["token_ids"]))
           for r in corpus_ops.bpe_encode(docs, merges).collect()}
    i = {sym: vocab.index(sym) + 1 for sym in
         ("the", "m", "e", "s", "i", "x", "a")}
    assert out[1] == (8, [i["the"], i["the"], i["m"], i["e"],
                          i["the"], i["s"], i["i"], i["s"]])
    assert out[2] == (3, [i["x"], i["x"], i["a"]])


def test_bpe_encode_matches_training_round_state(spark, docs):
    """encode under the first 2 trained merges must reproduce the
    training loop's round-2 symbol state: counting adjacent symbol
    pairs over the encoded tokens (one doc per token, so token
    boundaries are preserved exactly as training preserves them)
    yields the same argmax pair/count that training recorded for
    round 3 — merge APPLICATION feeds the next round's statistics
    correctly."""
    rounds = sorted(corpus_ops.bpe_merge_rounds(docs, rounds=3).collect(),
                    key=lambda r: r["round"])
    merges = [r["pair"] for r in rounds[:2]]
    vocab = corpus_ops.bpe_vocab(merges)
    varr = F.array(*[F.lit(v) for v in vocab])

    # one row per gated token (training's unit of pair counting)
    toks = (docs.select(F.explode(F.split(F.trim(F.lower("text")),
                                          r"\s+")).alias("text"))
            .filter(F.col("text").rlike("^[a-z]+$"))
            .filter(F.length("text") >= 2)
            .withColumn("doc_id", F.monotonically_increasing_id()))
    enc = corpus_ops.bpe_encode(toks, merges)
    syms = F.transform("token_ids", lambda t: F.element_at(varr, t))
    pair = F.transform(
        F.sequence(F.lit(0), F.size("token_ids") - 2),
        lambda i: F.concat(F.get(syms, i), F.lit(" "), F.get(syms, i + 1)))
    best = (enc.filter(F.size("token_ids") >= 2)
            .select(F.explode(pair).alias("pair"))
            .groupBy("pair").agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .head())
    assert (best["pair"], best["cnt"]) == \
        (rounds[2]["pair"], rounds[2]["cnt"])


def test_bpe_encode_empty_merge_list(spark):
    """Zero trained merges = pure character tokenizer: every gated
    token splits to single letters and ids are 1-based alphabet
    positions (vocab == the 26 letters)."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(doc_id=1, text="ab ba")])
    vocab = corpus_ops.bpe_vocab([])
    assert vocab == list(corpus_ops.BPE_ALPHABET)
    row = corpus_ops.bpe_encode(docs, []).head()
    assert row["n_tokens"] == 4
    assert list(row["token_ids"]) == [1, 2, 2, 1]


def test_bpe_encode_zero_gated_tokens(spark):
    """A doc whose every token misses the ^[a-z]+$ gate (digits,
    punctuation, mixed-case-with-digits, empty text) must yield
    n_tokens=0 and an EMPTY (not null) id array — the shape the
    registered row flattens to '' and the packer drops as a 0-length
    sequence."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="123 ?! a1b2"),
         Row(doc_id=2, text="   ")])
    out = {r["doc_id"]: r for r in
           corpus_ops.bpe_encode(docs, ["a b"]).collect()}
    for did in (1, 2):
        assert out[did]["n_tokens"] == 0
        assert out[did]["token_ids"] is not None
        assert list(out[did]["token_ids"]) == []


def test_bpe_encode_single_char_token(spark):
    """Training gates tokens to length >= 2 (a 1-char token has no
    pair to count) but ENCODE must still tokenize them — 'a' is one
    symbol, id = its alphabet position — or the packer undercounts
    real corpus tokens."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(doc_id=1, text="a z")])
    row = corpus_ops.bpe_encode(docs, ["t h"]).head()
    assert row["n_tokens"] == 2
    assert list(row["token_ids"]) == [1, 27]  # 'a'=1; 'z' after 'th'? no:
    # vocab = sorted(26 letters + ['th']) -> 'th' sorts after 't', so
    # 'z' is position 27.


def test_bpe_encode_duplicate_merged_symbol(spark):
    """A repeated merge (same pair twice) is a no-op on the second
    application, and the no-dedup vocab holds the merged symbol twice;
    array_position returns the FIRST position — exactly what DuckDB's
    list_position does — so ids stay deterministic and engine-agreed."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(doc_id=1, text="ab")])
    merges = ["a b", "a b"]
    vocab = corpus_ops.bpe_vocab(merges)
    assert vocab.count("ab") == 2
    first_pos = vocab.index("ab") + 1
    row = corpus_ops.bpe_encode(docs, merges).head()
    assert row["n_tokens"] == 1
    assert list(row["token_ids"]) == [first_pos]


def test_bpe_encode_merge_chain_through_prior_merge(spark):
    """A round-2 merge whose left side IS round 1's merged symbol
    ('h e' then 't he') applies only where round 1 actually fired:
    'tha' has no 'he' so stays t+h+a — the space-sentinel replace
    cannot match across symbol boundaries."""
    from pyspark.sql import Row

    docs = spark.createDataFrame([Row(doc_id=1, text="tha")])
    merges = ["h e", "t he"]
    vocab = corpus_ops.bpe_vocab(merges)
    i = {s: vocab.index(s) + 1 for s in ("t", "h", "a")}
    row = corpus_ops.bpe_encode(docs, merges).head()
    assert list(row["token_ids"]) == [i["t"], i["h"], i["a"]]


def test_dsir_ranks_target_lookalikes_first(spark):
    """DSIR sanity on a hand-built corpus: the target slice is pure
    'alpha'; among candidates, score must fall monotonically with
    alpha density, n_toks counts the candidate's own tokens, and
    target rows never appear in the output."""
    from pyspark.sql import Row

    rows = [Row(doc_id=1, text="alpha alpha alpha", tgt=True),
            Row(doc_id=2, text="alpha alpha alpha alpha", tgt=True),
            Row(doc_id=10, text="alpha alpha alpha beta", tgt=False),
            Row(doc_id=11, text="alpha alpha beta beta", tgt=False),
            Row(doc_id=12, text="beta beta beta gamma", tgt=False)]
    docs = spark.createDataFrame(rows)
    out = corpus_ops.dsir_importance(docs, F.col("tgt"), k=10).collect()
    assert [r["doc_id"] for r in out] == [10, 11, 12]
    assert [r["n_toks"] for r in out] == [4, 4, 4]
    scores = [r["avg_log_ratio"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # hand computation (add-one over v=3, n_t=7, n_all=19):
    # lr(alpha) = ln(8/10) - ln(13/22), lr(beta) = ln(1/10) - ln(7/22)
    lr_a = math.log(8 / 10) - math.log(13 / 22)
    lr_b = math.log(1 / 10) - math.log(7 / 22)
    assert scores[0] == pytest.approx((3 * lr_a + lr_b) / 4, abs=1e-6)
    assert scores[2] < scores[1] < scores[0]  # falls with alpha density


def test_mix_token_budget_decomposition_and_boundary(spark):
    """mix_token_budget's distributed prefix sum == the single-window
    cumsum it decomposes (any buckets value), and the admit boundary
    is inclusive: a doc landing exactly on the budget stays, the first
    overflowing doc and everything after it go."""
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from msg_vector_search_spark.functions import analysis
    from msg_vector_search_spark.operators import corpus

    rows = [Row(doc_id=i, source=f"s{i % 3}",
                text=" ".join(["tok"] * (1 + i % 5))) for i in range(60)]
    docs = spark.createDataFrame(rows)
    budgets = {"s0": 14, "s1": 9, "s2": 10 ** 9}

    # independent single-window reference
    h = analysis.token_hash(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id"))
    n = analysis.whitespace_token_count(F.col("text")).cast("long")
    ref = (docs.select("doc_id", "source", n.alias("n_tokens"))
           .withColumn("cum_tokens",
                       F.sum("n_tokens").over(w).cast("long")))
    want = {(r["doc_id"], r["source"], r["n_tokens"], r["cum_tokens"])
            for r in ref.collect()
            if r["cum_tokens"] <= budgets[r["source"]]}

    for buckets in (1, 4, 64):
        got = {tuple(r) for r in corpus.mix_token_budget(
            docs, budgets, buckets=buckets).collect()}
        assert got == want, buckets

    # boundary semantics: inclusive admit, everything after drops
    by_src = {}
    for d, s, nt, c in sorted(want, key=lambda t: t[3]):
        by_src.setdefault(s, []).append(c)
    assert max(by_src["s0"]) <= 14 and max(by_src["s1"]) <= 9
    # s2's budget is unbounded: every doc of s2 admitted
    n_s2 = sum(1 for r in rows if r.source == "s2")
    assert len(by_src["s2"]) == n_s2


def test_mix_temperature_budget_derivation(spark):
    """mix_temperature_budget's budget derivation (the arithmetic the
    published-artifact oracle deliberately does not replay): budgets
    proportional to sqrt(per-source token total) with floor rounding,
    summing to <= the 40%-of-corpus global budget, and the admitted
    rows respect each derived budget."""
    import math

    from msg_vector_search_spark import contract
    from msg_vector_search_spark.contract.ann import _TEMP_MIX_DIR
    from msg_vector_search_spark.functions import analysis

    sf = "/root/testdata/sf0.001"
    docs = readers.read_table(spark, sf, "documents")
    toks = analysis.whitespace_token_count(F.col("text")).cast("long")
    totals = {r["source"]: int(r["n"]) for r in
              docs.select("source", toks.alias("n"))
              .groupBy("source").agg(F.sum("n").alias("n")).collect()}
    corpus_total = sum(totals.values())
    gb = corpus_total * 2 // 5
    sum_w = sum(math.sqrt(n) for _, n in sorted(totals.items()))
    want = {s: int(gb * math.sqrt(n) / sum_w)
            for s, n in sorted(totals.items())}
    assert sum(want.values()) <= gb

    out = contract.REGISTRY["mix_temperature_budget"](spark, sf)
    got = [(r["source"], r["cum_tokens"]) for r in out.collect()]
    assert got, "admitted set must be non-empty"
    import collections
    max_cum = collections.defaultdict(int)
    for src, cum in got:
        max_cum[src] = max(max_cum[src], cum)
    for src, cum in max_cum.items():
        assert cum <= want[src], (src, cum, want[src])
    # the published artifact carries exactly the derived budgets
    pub = {r["source"]: r["budget"] for r in spark.read.parquet(
        f"{_TEMP_MIX_DIR}/budgets").collect()}
    assert pub == want
