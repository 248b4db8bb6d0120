"""Text-analysis functions for large-scale training-data pipelines:
language id, quality scoring, token counting, document fingerprinting.

Not present in the reference (its corpus is chat messages, already
language-known) — this is the extension surface a 100 TB document
pipeline needs.  Everything is a pure Column expression over built-in
functions, so the whole family runs inside one codegen'd scan stage.

Cross-dialect determinism: token hashing uses the first 12 hex chars of
md5 (48 bits), identical in Spark (``conv(substring(md5(x),1,12),16,10)``)
and DuckDB (``('0x'||substr(md5(x),1,12))::BIGINT``), so every operator
here is DuckDB-oracle checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny English stopword list — deterministic, mirrored verbatim in the
# oracle SQL.  A real deployment swaps in a broadcast dictionary.
EN_STOPWORDS = ("the", "a", "an", "and", "is", "to", "of", "in", "it",
                "you", "that", "for", "on", "with", "as")

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
RE_BPE_TOKEN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
RE_PUNCT = r"[^.,!?;:]"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def bind_once(col: Column, fn) -> Column:
    """Evaluate *col* once and pass it to *fn* as a bound lambda
    variable.

    Higher-order-function lambdas re-evaluate every captured
    *expression* on each reference (they're interpreted, no
    subexpression elimination), but lambda *variables* are computed
    values.  ``transform(array(col), fn)[1]`` binds col exactly once —
    the idiom that turns O(n^2) shingle/ngram builders back into O(n).
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text -> array<string>."""
    return F.split(F.trim(F.lower(_c(text))), r"\s+")


def token_hash(tok: Column) -> Column:
    """48-bit md5-prefix hash of a token — the shared Spark/DuckDB
    deterministic hash primitive used by MinHash/SimHash/fingerprints."""
    return F.conv(F.substring(F.md5(tok), 1, 12), 16, 10).cast("long")


def duck_token_hash(expr: str) -> str:
    """DuckDB rendering of :func:`token_hash` (same 48 bits)."""
    return f"(('0x' || substr(md5({expr}), 1, 12))::BIGINT)"


def whitespace_token_count(text: Column | str) -> Column:
    """Token count by whitespace split (empty text counts 0)."""
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+")))


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token count: letter runs, digit runs, and symbols counted
    separately (a cheap proxy for real BPE vocab growth)."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(RE_BPE_TOKEN), 0))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of whitespace tokens that are common-English stopwords."""
    toks = tokens(text)
    stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        stop.cast("double") / F.size(toks))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are sentence punctuation."""
    c = _c(text)
    puncts = F.length(F.regexp_replace(c, RE_PUNCT, ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        puncts.cast("double") / F.length(c))


def lang_id(text: Column | str, en_threshold: float = 0.08) -> Column:
    """Heuristic language id: stopword density over whitespace tokens.

    'en' when >= *en_threshold* of tokens are English stopwords, else
    'und' (undetermined).  The n-gram-profile generalization is the same
    plan shape: explode n-grams -> broadcast-join a profile dim ->
    argmax per doc.
    """
    return F.when(stopword_ratio(text) >= en_threshold, F.lit("en")).otherwise(
        F.lit("und"))


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [-0.25, 1.0]: length band + stopword
    presence - punctuation excess.  Deterministic arithmetic over the
    ratios above; weights are arbitrary but fixed."""
    c = _c(text)
    len_score = F.least(F.length(c).cast("double") / F.lit(400.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(c) * 5.0, F.lit(1.0))
    punct_penalty = F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    # range is [-0.25, 1.0], NOT [0, 1]: an all-punctuation text earns
    # the full penalty with zero positive terms (r14 review — callers
    # using the score as a weight must clamp; the oracle twins share
    # this exact formula, so the range is part of the contract)
    return F.round(
        0.5 * len_score + 0.5 * stop_score - 0.25 * punct_penalty, 6)


def fingerprint_md5(text: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase
    text.  NULL text fingerprints to NULL (r14 review): concat_ws
    swallows a null token array into '', which would silently collapse
    null docs into the empty-text dedup group — and diverge from the
    DuckDB oracle twin, whose array_to_string propagates NULL.  No
    driver fixture carries a null text (verified at every SF), so this
    is an oracle-model boundary pin, not a live behavior change."""
    c = _c(text)
    norm = F.concat_ws(" ", tokens(c))
    return F.when(c.isNull(), F.lit(None).cast("string")) \
        .otherwise(F.md5(norm))


def token_hash32(tok: Column) -> Column:
    """32-bit md5-prefix hash (first 8 hex chars) — used where hashes are
    SUMMED so the running total stays far from int64 overflow."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def fingerprint_rolling(text: Column | str) -> Column:
    """Positional rolling hash: sum over tokens of (position+1) *
    hash32(token).  Order-sensitive (unlike a bag-of-words hash) yet
    expressible as one higher-order aggregate — and in plain SQL for the
    oracle.  With 32-bit token hashes the sum stays under int64 up to
    ~65k tokens per document; longer docs would bucket by segment."""
    toks = tokens(text)
    idx = F.sequence(F.lit(1), F.size(toks))
    weighted = F.zip_with(toks, idx, lambda t, i: token_hash32(t) * i.cast("long"))
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x)


# ---------------------------------------------------------------------------
# PII scrubbing and sampling (training-data pipeline extension surface)
# ---------------------------------------------------------------------------

# Deliberately simple ASCII regexes, written once and mirrored verbatim
# in the oracle SQL (Spark replaces globally by default; DuckDB needs
# the 'g' flag — see duck_pii_scrub).
RE_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_PII_LONG_DIGITS = r"[0-9]{7,}"
RE_PII_URL = r"https?://[^\s]+"
PII_TOKEN = "<PII>"


def pii_scrub(text: Column | str) -> Column:
    """Redact emails, long digit runs (phone/account numbers), and URLs
    with a fixed placeholder.  Order matters: emails first (their local
    part may contain digit runs), then URLs, then bare digit runs —
    kept identical in the oracle."""
    t = _c(text)
    t = F.regexp_replace(t, RE_PII_EMAIL, PII_TOKEN)
    t = F.regexp_replace(t, RE_PII_URL, PII_TOKEN)
    t = F.regexp_replace(t, RE_PII_LONG_DIGITS, PII_TOKEN)
    return t


def duck_pii_scrub(expr: str) -> str:
    """DuckDB twin of :func:`pii_scrub` (same regexes, same order)."""
    out = f"regexp_replace({expr}, '{RE_PII_EMAIL}', '{PII_TOKEN}', 'g')"
    out = f"regexp_replace({out}, '{RE_PII_URL}', '{PII_TOKEN}', 'g')"
    return f"regexp_replace({out}, '{RE_PII_LONG_DIGITS}', '{PII_TOKEN}', 'g')"


# Gopher-style document quality rules (Rae et al. 2021, §A.1.1 — the
# public heuristic battery most LLM corpus pipelines start from).  The
# required-stopword set is the paper's.
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and",
                             "that", "have", "with")


def gopher_flags(text: Column | str,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_frac: float = 0.9,
                 max_ellipsis_frac: float = 0.3,
                 min_alpha_frac: float = 0.8,
                 min_stopwords: int = 2) -> dict[str, Column]:
    """The Gopher quality-rule battery as pure Column expressions —
    one codegen'd pass over the scan, no UDF, each rule a boolean:

    * word count within [min_words, max_words]
    * mean word length within [min_mean_wl, max_mean_wl]
    * symbol-to-word ratio (# and ... occurrences) <= max_symbol_ratio
    * fraction of lines starting with a bullet <= max_bullet_frac
    * fraction of lines ending in ellipsis <= max_ellipsis_frac
    * fraction of words containing a letter >= min_alpha_frac
    * at least min_stopwords distinct required stopwords present

    Returns the per-rule flags plus ``keep`` (their conjunction).  All
    ratios are count/count divisions, bit-identical across engines, so
    the whole battery is DuckDB-oracle checkable."""
    t = _c(text)
    words = tokens(t)
    n_words = whitespace_token_count(t)
    nw = F.when(n_words == 0, F.lit(1)).otherwise(n_words).cast("double")
    nonspace = F.length(F.regexp_replace(t, r"\s", ""))
    mean_wl = nonspace.cast("double") / nw
    n_sym = (F.size(F.regexp_extract_all(t, F.lit("#"), 0))
             + F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), 0)))
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("double")
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*]")))
    n_ell_end = F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.\s*$")))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    n_stop = sum(F.array_contains(words, F.lit(s)).cast("int")
                 for s in GOPHER_REQUIRED_STOPWORDS)
    flags = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_wl)
                            & (mean_wl <= max_mean_wl),
        "ok_symbol_ratio": (n_sym.cast("double") / nw) <= max_symbol_ratio,
        "ok_bullet_lines": (n_bullet.cast("double") / n_lines)
                           <= max_bullet_frac,
        "ok_ellipsis_lines": (n_ell_end.cast("double") / n_lines)
                             <= max_ellipsis_frac,
        "ok_alpha_words": (n_alpha.cast("double") / nw) >= min_alpha_frac,
        "ok_stopwords": n_stop >= min_stopwords,
    }
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & c
    flags["keep"] = keep
    return flags


def classifier_score(text: Column | str, w_bow: float = 4.0,
                     w_stop: float = 2.0, w_len: float = 1.0,
                     bias: float = -0.5) -> Column:
    """FastText-shape quality classifier as pure Column math: averaged
    per-token weights (the bag-of-words leg) + dense features through a
    logistic link.  The per-token weight is a deterministic stand-in
    derived from the shared md5 token hash — in a deployment it is a
    broadcast lookup of trained weights; the plan (token transform ->
    left-fold average -> scalar sigmoid, all riding the scan) is
    identical either way.  This is the classifier-filter step of
    CCNet/DCLM-style pipelines, next to the rule battery
    (:func:`gopher_flags`) and the perplexity gate."""
    c = _c(text)
    toks = tokens(c)
    tw = F.transform(
        toks,
        lambda t: (token_hash(t) % 1000).cast("double") / F.lit(1000.0)
        - F.lit(0.5))
    bow = F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.aggregate(tw, F.lit(0.0), lambda a, x: a + x)
        / F.size(toks).cast("double"))
    len_feat = F.least(F.length(c).cast("double") / F.lit(400.0),
                       F.lit(1.0))
    z = (F.lit(bias) + F.lit(w_bow) * bow
         + F.lit(w_stop) * stopword_ratio(c) + F.lit(w_len) * len_feat)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def duck_classifier_score(text_expr: str, toks_expr: str,
                          stop_ratio_expr: str, w_bow: float = 4.0,
                          w_stop: float = 2.0, w_len: float = 1.0,
                          bias: float = -0.5) -> str:
    """DuckDB twin of :func:`classifier_score` (same hash, same fold
    order, same literals)."""
    h = duck_token_hash("t")
    bow = (f"(CASE WHEN len({toks_expr}) = 0 THEN 0.0 ELSE "
           f"list_sum(list_transform({toks_expr}, "
           f"t -> CAST({h} % 1000 AS DOUBLE) / 1000.0 - 0.5)) "
           f"/ CAST(len({toks_expr}) AS DOUBLE) END)")
    len_feat = f"least(CAST(length({text_expr}) AS DOUBLE) / 400.0, 1.0)"
    z = (f"({bias!r} + {w_bow!r} * {bow} + {w_stop!r} * {stop_ratio_expr}"
         f" + {w_len!r} * {len_feat})")
    return f"(1.0 / (1.0 + exp(-{z})))"


def stratified_keep(id_col: Column | str, rate_pct: Column) -> Column:
    """Deterministic stratified-sampling predicate: keep iff
    hash48(id) % 100 < rate_pct.  Reproducible across runs/retries
    (unlike rand()-based sampling) and a NARROW filter — no shuffle, and
    at 100 TB the filter rides the scan, so a 10% stratum reads 10% of
    the rows out of the scan stage."""
    bucket = token_hash(_c(id_col).cast("string")) % 100
    return bucket < rate_pct
