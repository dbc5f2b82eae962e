"""Seeded input generators. Everything the program receives comes from here.

The corpus mirrors the shape of ``sources.transcripts.synthesize_transcripts``
with ``zipf_tokens=8``: each turn carries a run of words from a small base
vocabulary (head terms present in almost every turn) plus zipf tokens
``z<id>`` drawn log-uniformly from a large synthetic vocabulary, which gives
the head-skew and long tail of a real transcript corpus. It is generated in
NumPy from the seed alone, so the benchmark needs no test-data files.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from dataclasses import dataclass

import numpy as np

BASE_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["none", "search", "code", "browser"]
TURNS_PER_CONV = 8
ZIPF_TOKENS = 8
ZIPF_VOCAB = 200_000
BASE_LEN = (8, 48)  # base words per turn, uniform in [lo, hi)
TS0 = dt.datetime(2025, 1, 1)


@dataclass
class Corpus:
    """Turns as parallel lists."""

    conv_id: list[str]
    turn_idx: list[int]
    text: list[str]

    @property
    def doc_ids(self) -> list[str]:
        return [f"{c}:{t}" for c, t in zip(self.conv_id, self.turn_idx)]

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.text)

    def arrow(self, first_gid: int = 0):
        """The transcript table (``sources.transcripts.TRANSCRIPT_SCHEMA``)."""
        import pyarrow as pa

        n = len(self.text)
        gid = np.arange(first_gid, first_gid + n)
        return pa.table(
            {
                "conv_id": pa.array(self.conv_id, pa.string()),
                "turn_idx": pa.array(self.turn_idx, pa.int32()),
                "role": pa.array([ROLES[t % 4] for t in self.turn_idx], pa.string()),
                "text": pa.array(self.text, pa.string()),
                "tool": pa.array([TOOLS[(g % 16) // 4] for g in gid], pa.string()),
                "ts": pa.array(
                    [TS0 + dt.timedelta(seconds=int(g)) for g in gid],
                    pa.timestamp("us"),
                ),
            }
        )


def _zipf_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    u = rng.random(n)
    return np.floor(np.exp(u * np.log(ZIPF_VOCAB))).astype(np.int64)


def make_turns(
    rng: np.random.Generator,
    n_turns: int,
    conv_prefix: str,
    marker: str | None = None,
) -> Corpus:
    """``n_turns`` turns in conversations ``<conv_prefix><n>``. A ``marker``
    token, when given, is appended to every turn (ingest batches use one
    per batch so a query on it must return exactly that batch)."""
    lens = rng.integers(BASE_LEN[0], BASE_LEN[1], size=n_turns)
    words = rng.integers(0, len(BASE_VOCAB), size=int(lens.sum()))
    zipf = _zipf_ids(rng, n_turns * ZIPF_TOKENS).reshape(n_turns, ZIPF_TOKENS)
    ends = np.cumsum(lens)
    texts = []
    for i in range(n_turns):
        toks = [BASE_VOCAB[w] for w in words[ends[i] - lens[i]: ends[i]]]
        toks.extend(f"z{z}" for z in zipf[i])
        if marker:
            toks.append(marker)
        texts.append(" ".join(toks))
    gid = np.arange(n_turns)
    return Corpus(
        conv_id=[f"{conv_prefix}{g // TURNS_PER_CONV:06d}" for g in gid],
        turn_idx=[int(g % TURNS_PER_CONV) for g in gid],
        text=texts,
    )


def term_df(texts: list[str]) -> Counter:
    """Document frequency per term (a term counts once per turn)."""
    df: Counter = Counter()
    for t in texts:
        df.update(set(t.split()))
    return df


# The serve traffic mix. Every share below is an unverified assumption: the
# repository has no query log to derive them from. They set what the serve
# figures measure (query_p50_s, throughput_per_s, the wand.* and
# spark.{query,bulk}.* layers), so set them from a log once there is one.
# k = 1000 is the reference contract; the k = 10 share is the one number the
# design names without a value.
TERMS_PER_QUERY = (1, 4)  # uniform, inclusive
BANDS = (20, 2000)        # zipf rank band edges: head 1-20, mid 21-2000, tail above
BASE_TERM_SHARE = 0.15    # terms drawn from the base vocabulary instead of a band
DUP_SHARE = 0.2           # queries that repeat one of their terms
ABSENT_SHARE = 0.2        # queries that add a term absent from the corpus
K_SMALL_SHARE = 0.25      # queries (and batches) with k = 10 instead of 1000


@dataclass
class Query:
    query_id: str
    text: str
    k: int


def draw_k(rng: np.random.Generator) -> int:
    return 10 if rng.random() < K_SMALL_SHARE else 1000


class QueryGen:
    """Seeded query mix over the corpus' zipf rank bands (shares above).

    Each term comes from the head, mid or tail band (equal thirds; the tail
    holds only terms present in the corpus) or is a base-vocabulary head
    term."""

    def __init__(self, rng: np.random.Generator, df: Counter):
        self.rng = rng
        ranked = [t for t, _ in sorted(
            ((t, c) for t, c in df.items() if t.startswith("z")),
            key=lambda tc: (-tc[1], tc[0]),
        )]
        lo, hi = BANDS
        self.bands = [b for b in (ranked[:lo], ranked[lo:hi], ranked[hi:]) if b]

    def stream(self, n: int, prefix: str, k: int | None = None) -> list[Query]:
        """``n`` queries; each draws its own k unless ``k`` is given."""
        rng, bands = self.rng, self.bands
        out = []
        for i in range(n):
            terms = []
            for _ in range(int(rng.integers(TERMS_PER_QUERY[0], TERMS_PER_QUERY[1] + 1))):
                r = rng.random()
                if r < BASE_TERM_SHARE:
                    terms.append(BASE_VOCAB[int(rng.integers(len(BASE_VOCAB)))])
                else:
                    b = int((r - BASE_TERM_SHARE) / (1 - BASE_TERM_SHARE) * len(bands))
                    band = bands[min(b, len(bands) - 1)]
                    terms.append(band[int(rng.integers(len(band)))])
            if rng.random() < DUP_SHARE:
                terms.append(terms[int(rng.integers(len(terms)))])
            if rng.random() < ABSENT_SHARE:
                terms.append(f"absent{int(rng.integers(1_000_000))}")
            out.append(Query(f"{prefix}{i}", " ".join(terms), draw_k(rng) if k is None else k))
        return out
