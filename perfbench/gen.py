"""Seeded chat-corpus generator for the benchmark workloads.

Everything the engine sees is written here as parquet files in the
``events`` fixture shape (``event_id, ts, user_id, event_type, value,
props``); the text rides in ``props`` as ``{"text": ...}``.  The same
seed and sizes give byte-identical files.

What the corpus carries, and why:

* a Zipf vocabulary, so term frequencies and postings-list lengths look
  like chat text (a few very common words, a long tail);
* user ids drawn uniformly, so ``user_id % 3 == 0`` (the engine's
  ``group-`` sessions, ``conversation_type = 'group'``) keeps about a
  third of the rows;
* planted exact-text probes: a message whose cleaned text is a query,
  so a vector search for that query must return it at sim 1.0;
* planted unique-token probes: a message holding a token no other
  message holds, so a keyword search for it must rank it first;
* duplicate groups (two exact copies of a base message and one copy
  with a word appended), which a MinHash-LSH dedup must pair up;
* one arrival file per ingest cycle, each with its own probes, with
  timestamps after everything before it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first message instant; one message per second after it.  Fixed (not
#: "now") so inputs repeat, and recent enough that the watermark clamp
#: (state.clamp_watermark: older than ten years -> now-30d) never fires.
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
VOCAB = 4000   # words drawn (duplicates collapse, so slightly fewer)
USERS = 600    # authors; ids divisible by 3 write in 'group' sessions
ZIPF_S = 1.1   # exponent of word popularity


@dataclass
class Probe:
    message_id: str
    text: str          # exact cleaned message text (the vector query)
    token: str | None  # unique token (the keyword query), if any
    group: bool        # conversation_type == 'group' (user_id % 3 == 0)


@dataclass
class Batch:
    """One parquet file's worth of messages and what was planted in it."""
    first_id: int
    n: int
    exact: list[Probe] = field(default_factory=list)
    tokens: list[Probe] = field(default_factory=list)
    #: (the two exact copies, the near copy) of each duplicate group
    dup_groups: list[tuple[tuple[str, str], str]] = field(
        default_factory=list)

    @property
    def last_id(self) -> int:
        return self.first_id + self.n - 1


class Corpus:
    """Deterministic message source: ``rng`` is the only randomness."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        lens = self.rng.integers(3, 9, size=VOCAB)
        words = {"".join(self.rng.choice(LETTERS, size=n)) for n in lens}
        self.vocab = np.array(sorted(words))
        ranks = np.arange(1, len(self.vocab) + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.p = p / p.sum()
        self.next_id = 1

    def _sentence(self, lo: int = 6, hi: int = 16) -> str:
        n = int(self.rng.integers(lo, hi))
        return " ".join(self.rng.choice(self.vocab, size=n, p=self.p))

    def _users(self, n: int) -> np.ndarray:
        return self.rng.integers(0, USERS, size=n, dtype=np.int64)

    def batch(self, n: int, n_exact: int = 0, n_tokens: int = 0,
              dup_groups: int = 0) -> tuple[Batch, pa.Table]:
        """Next *n* messages in arrival order, with planted probes spread
        evenly through the batch."""
        b = Batch(first_id=self.next_id, n=n)
        texts = [self._sentence() for _ in range(n)]
        users = self._users(n)
        slots = iter(self.rng.permutation(n))
        for i in range(n_exact):
            j = next(slots)
            # alternate group and private authors, so filtered searches
            # have probes on both sides of the conversation_type filter
            users[j] = 3 * (users[j] // 3) + (0 if i % 2 == 0 else 1)
            texts[j] = f"probe s{self.seed} m{b.first_id + j} {self._sentence(4, 8)}"
            b.exact.append(Probe(str(b.first_id + j), texts[j], None,
                                 users[j] % 3 == 0))
        for i in range(n_tokens):
            j = next(slots)
            tok = "tok" + "".join(self.rng.choice(LETTERS, size=10))
            texts[j] = f"{self._sentence(3, 8)} {tok} {self._sentence(3, 8)}"
            b.tokens.append(Probe(str(b.first_id + j), texts[j], tok,
                                  users[j] % 3 == 0))
        for g in range(dup_groups):
            base = f"dup s{self.seed} g{b.first_id}x{g} {self._sentence(10, 14)}"
            near = base + " " + str(self.rng.choice(self.vocab))
            j0, j1, j2 = (next(slots) for _ in range(3))
            texts[j0] = texts[j1] = base
            texts[j2] = near
            b.dup_groups.append(((str(b.first_id + j0), str(b.first_id + j1)),
                                 str(b.first_id + j2)))
        ids = np.arange(b.first_id, b.first_id + n, dtype=np.int64)
        table = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array((BASE_TS_US + (ids - 1) * 1_000_000),
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(["text"] * n, pa.string()),
            "value": pa.array(np.ones(n), pa.float64()),
            "props": pa.array([json.dumps({"text": t}) for t in texts],
                              pa.string()),
        })
        self.next_id += n
        return b, table


def ts_of(message_id: int) -> dt.datetime:
    """The instant generated for *message_id*, as an aware datetime."""
    return (dt.datetime.fromtimestamp(BASE_TS_US / 1e6, dt.timezone.utc)
            + dt.timedelta(seconds=message_id - 1))


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
