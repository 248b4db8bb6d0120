"""IVF x PQ oracle builder: the DuckDB CTE segments every ANN oracle
replays.  It registers no rows; the row sections import it."""

from __future__ import annotations

from ..functions import vector as V


# -------------------------------------------------------------------------
# IVF x PQ oracle builder
# -------------------------------------------------------------------------
# The serving composition (assign -> probe -> encode -> ADC -> re-rank)
# as DuckDB CTE segments, shared by every oracle that replays it.  Seed
# centroids are the first 16 vectors by id; seed codebooks cut the same
# 16 vectors into 8 subspaces of 8 dims.  Assignment, encoding and
# table entries round to 9dp, ADC sums and re-rank cosines to 6dp, ties
# to the lower id — the grid the Spark side rounds to.  Each function
# returns CTE text (a segment may hold several CTEs); _with joins them.
# The IVF-only rows (no PQ) name the assignment CTEs ``scored`` /
# ``assigned`` (_ASSIGNED) and end in _probe_cells + _ivf_exact.
#
# The other shared oracle builders sit next to their first user, after
# the dialect helpers they need: _minhash_bands / _MINHASH_CTE (shingle
# -> MinHash -> LSH band chain), _CC_WALK / _CC_ORACLE (connected
# components of the LSH pair graph), _scaled_corpus (the x1.25 near-dup
# injection; Spark twin _with_scaled_dups), _SHIFTED_CORPUS /
# _WINDOW_COUNTS (the one-token-shifted duplicates and their 16-token
# window counts; Spark twin _with_shifted_dups), _budget_admit /
# _MIX_BUDGETS_SQL (per-source token-budget admit), _greedy_packs
# (greedy sequence packing), _TRUNCATED_MEDIA, _DUCK_GOPHER_STOPS,
# _bm25_sql / _BM25_TOP20 (BM25 top-20; Spark twins _bm25_top20 /
# _invidx_top20), and _kw_leg / _V_LEG / _rank / _rrf (RRF legs and
# fusion; Spark twins _kw_rank / _vec_rank).  Rows that must agree
# share one oracle constant
# (_KNN_JOIN_ORACLE, _TUMBLING_ORACLE, _CC_ORACLE, _PCT_RANK_ORACLE,
# _BM25_ORACLE, _BM25_AND_ORACLE, _BM25_SURV_ORACLE, _DRIFT_ORACLE, ...).
# Fixture builds are cached by _built and copied by _copy.

def _with(*ctes: str) -> str:
    """The WITH clause over *ctes*, in order."""
    out = "\nWITH " + ctes[0]
    for cte in ctes[1:]:
        out += (", " if out.endswith("\n)") else ",\n") + cte
    return out


def _seed_cent(src: str = "embeddings",
               pick: str = "ORDER BY vec_id LIMIT 16") -> str:
    """``cent``: the vectors of *src* that *pick* selects (by default
    the first 16) as centroids."""
    return f"""cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM {src} {pick}
)"""


def _q(qid: int = 0) -> str:
    """``q``: the query vector, row *qid*'s embedding."""
    return ("q AS (SELECT embedding AS qv FROM embeddings "
            f"WHERE vec_id = {qid})")


def _qs(qids) -> str:
    """``qs``: one (qid, qv) row per batched query."""
    return f"""qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(q) for q in qids)})
)"""


def _assign(src: str = "embeddings", carry=("embedding",),
            names=("cscored", "celled"), cells: int = 1) -> str:
    """*names* (``cscored``/``celled``): each row of *src* in its
    *cells* nearest cells by cosine, with the *carry* columns."""
    scored, celled = names
    sel = "".join(f"e.{c}, " for c in carry)
    out = "".join(f"{c}, " for c in carry)
    keep = "rn = 1" if cells == 1 else f"rn <= {cells}"
    return f"""{scored} AS (
  SELECT e.vec_id, {sel}c.centroid_id,
         (round({V.duck_cosine('e.embedding', 'c.cvec')}, 9) + 0) AS cdist
  FROM {src} e CROSS JOIN cent c
), {celled} AS (
  SELECT vec_id, {out}centroid_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdist DESC, centroid_id) AS rn
    FROM {scored}) WHERE {keep}
)"""


# the IVF-only rows' names for the same two CTEs
_ASSIGNED = ("scored", "assigned")


def _probe_cells(nprobe: int = 4) -> str:
    """``probe``: the query's *nprobe* nearest cells."""
    return f"""probe AS (
  SELECT centroid_id AS cell
  FROM cent, q
  ORDER BY {V.duck_cosine('cvec', 'qv')} DESC, centroid_id LIMIT {nprobe}
)"""


def _probe(nprobe: int = 4, where: str = "") -> str:
    """``probe``/``cand``: the query's *nprobe* nearest cells and their
    rows, pre-filtered by *where*."""
    gate = f" AND {where}" if where else ""
    return _probe_cells(nprobe) + f""", cand AS (
  SELECT * FROM celled WHERE cell IN (SELECT cell FROM probe){gate}
)"""


def _ivf_exact(cols: str = "", where: str = "") -> str:
    """The final select of the IVF-only rows: ``assigned`` rows in the
    probed cells (and *where*), exact cosine to ``q``, top 10."""
    gate = f" AND {where}" if where else ""
    return f"""
SELECT a.vec_id, {cols}a.cell,
       (round({V.duck_cosine('a.embedding', 'qv')}, 6) + 0) AS sim
FROM assigned a, q
WHERE a.cell IN (SELECT cell FROM probe){gate}
ORDER BY sim DESC, a.vec_id LIMIT 10
"""


def _probe_many(nprobe: int = 4, where: str = "") -> str:
    """Batched ``probe`` (qid, cell) and ``cand``, the rows of every
    probed cell, pre-filtered by *where*."""
    gate = f" AND {where}" if where else ""
    return f"""probe AS (
  SELECT q.qid, c.centroid_id AS cell
  FROM qs q CROSS JOIN cent c
  QUALIFY row_number() OVER (
    PARTITION BY q.qid
    ORDER BY {V.duck_cosine('c.cvec', 'q.qv')} DESC, c.centroid_id) <= {nprobe}
), cand AS (
  SELECT * FROM celled
  WHERE cell IN (SELECT DISTINCT cell FROM probe){gate}
)"""


def _seed_codebooks(src: str = "embeddings") -> str:
    """``seeds``/``js``/``cb``: the first 16 vectors of *src* as the
    codewords of every subspace."""
    return f"""seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS cw
  FROM (SELECT vec_id, embedding FROM {src} ORDER BY vec_id LIMIT 16)
), js AS (SELECT unnest(range(8)) AS j),
cb AS (
  SELECT js.j, seeds.cw, seeds.sv[(js.j*8+1):(js.j*8+8)] AS cv
  FROM seeds CROSS JOIN js
)"""


# trained codebooks carry their own subspace ids
_TRAINED_JS = "js AS (SELECT DISTINCT j FROM cb)"


def _encode(src: str = "cand c", out: str = "coded", carry=()) -> str:
    """``ev``/*out*: each row of *src* (``relation alias``) encoded to
    its nearest codeword per subspace, with the *carry* columns."""
    a = src.split()[-1]
    sel = "".join(f"{a}.{c}, " for c in carry)
    evs = "".join(f"ev.{c}, " for c in carry)
    cols = "".join(f"{c}, " for c in carry)
    return f"""ev AS (
  SELECT {a}.vec_id, {sel}js.j, {a}.embedding[(js.j*8+1):(js.j*8+8)] AS xv
  FROM {src} CROSS JOIN js
), {out} AS (
  SELECT vec_id, {cols}j, cw FROM (
    SELECT ev.vec_id, {evs}ev.j, cb.cw,
           row_number() OVER (
             PARTITION BY ev.vec_id, ev.j
             ORDER BY (round({V.duck_dot('ev.xv', 'cb.cv')}, 9) + 0) DESC,
                      cb.cw) AS rn
    FROM ev JOIN cb ON cb.j = ev.j) WHERE rn = 1
)"""


def _adc(coded: str = "coded") -> str:
    """``qtab``/``adc``: the query's codeword table and the ADC score
    of every row of *coded*."""
    return f"""qtab AS (
  SELECT cb.j, cb.cw,
         (round({V.duck_dot('(SELECT qv FROM q)[(cb.j*8+1):(cb.j*8+8)]',
                            'cb.cv')}, 9) + 0) AS d
  FROM cb
), adc AS (
  SELECT a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM {coded} a JOIN qtab t ON t.j = a.j AND t.cw = a.cw
  GROUP BY a.vec_id
)"""


def _adc_many(shortlist: int = 50, short: str = "short") -> str:
    """Batched ``qtab``/``adc`` (a row scores only for the queries that
    probed its cell) and *short*, the top *shortlist* ids per qid."""
    return f"""qtab AS (
  SELECT q.qid, cb.j, cb.cw,
         (round({V.duck_dot('q.qv[(cb.j*8+1):(cb.j*8+8)]', 'cb.cv')}, 9)
          + 0) AS d
  FROM qs q CROSS JOIN cb
), adc AS (
  SELECT p.qid, a.vec_id, (round(sum(t.d), 6) + 0) AS adc_sim
  FROM coded a
  JOIN probe p ON p.cell = a.cell
  JOIN qtab t ON t.qid = p.qid AND t.j = a.j AND t.cw = a.cw
  GROUP BY p.qid, a.vec_id
), {short} AS (
  SELECT qid, vec_id FROM adc
  QUALIFY row_number() OVER (PARTITION BY qid
                             ORDER BY adc_sim DESC, vec_id) <= {shortlist}
)"""


def _short(shortlist: int = 50) -> str:
    """``short``: the top *shortlist* ids by ADC score."""
    return ("short AS (SELECT vec_id FROM adc ORDER BY adc_sim DESC, "
            f"vec_id LIMIT {shortlist})")


def _rerank(src: str = "cand c", cell: bool = True) -> str:
    """The final select: the shortlisted rows of *src* (``relation
    alias``) re-ranked by exact cosine, top 10."""
    a = src.split()[-1]
    cols = f"{a}.vec_id, {a}.cell," if cell else f"{a}.vec_id,"
    cos = V.duck_cosine(f"{a}.embedding", "(SELECT qv FROM q)")
    return f"""
SELECT {cols}
       (round({cos}, 6) + 0)
         AS sim
FROM {src} JOIN short s ON s.vec_id = {a}.vec_id
ORDER BY sim DESC, {a}.vec_id LIMIT 10
"""


# The seed composition every seed-artifact IVFPQ oracle replays.
_IVFPQ_SEED_CTES = (_seed_cent(), _q(), _assign(), _probe(),
                    _seed_codebooks(), _encode(), _adc())
