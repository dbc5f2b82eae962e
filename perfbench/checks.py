"""Correctness gate. Every answer gets the structural checks; a seeded
sample is compared with the NumPy oracle (``oracle.rank_documents``) at the
repository's 1e-12 tolerance. A failed check is a failed operation."""

from __future__ import annotations

from bm25_pagerank_rpi_spark import oracle

TOLERANCE = 1e-12


def structural(rows: list[tuple[str, float, int]], k: int, deleted: set[str]) -> str | None:
    """``rows`` are one query's (doc_id, bm25, rank) in rank order."""
    if len(rows) > k:
        return f"{len(rows)} rows > k={k}"
    if [r[2] for r in rows] != list(range(1, len(rows) + 1)):
        return "ranks are not 1..n"
    for (d0, s0, _), (d1, s1, _) in zip(rows, rows[1:]):
        if s1 > s0:
            return f"score rises at {d1}: {s0} -> {s1}"
        if s1 == s0 and d1 <= d0:
            return f"tie at {s0} not broken by doc_id: {d0} then {d1}"
    dead = [r[0] for r in rows if r[0] in deleted]
    if dead:
        return f"tombstoned docs returned: {dead[:3]}"
    return None


def by_query(rows) -> dict[str, list[tuple[str, float, int]]]:
    """Group collected WAND rows into per-query rank-ordered lists."""
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["bm25"], r["rank"]))
    for v in out.values():
        v.sort(key=lambda t: t[2])
    return out


class Oracle:
    """Reference-semantics index over the live corpus."""

    def __init__(self, texts: dict[str, str]):
        self.index, self.doc_lengths, self.n, self.avg = oracle.build_index_from_texts(texts)

    def compare(self, text: str, k: int, rows: list[tuple[str, float, int]]) -> str | None:
        want = oracle.rank_documents(text, self.index, self.doc_lengths, self.n, self.avg, k=k)
        if len(want) != len(rows):
            return f"{len(rows)} rows, oracle has {len(want)}"
        for w, (doc_id, score, rank) in zip(want, rows):
            if w.doc_id != doc_id:
                return f"rank {rank}: got {doc_id} ({score}), oracle {w.doc_id} ({w.bm25})"
            if abs(w.bm25 - score) > TOLERANCE:
                return f"rank {rank}: score {score} vs oracle {w.bm25}"
        return None
