"""NumPy/pure-Python oracle — the executable spec of the reference scorer.

Line-for-line semantic port of the *math* in
/root/reference/internal/ranking/features.go (NOT the code structure):

- tokenize:            types.go:24-26 (strings.Fields)
- getIDF:              features.go:11-18  (ln(N/(df+1)), natural log,
                       df = posting-entry count, can be negative)
- tf stats:            features.go:20-63  (tf=0 for missing terms included;
                       population variance; empty query -> zeros)
- normalized tf stats: features.go:65-116 (docLength<=0 -> zeros)
- bm25:                features.go:118-139 (skip term if tf entry missing OR
                       idf entry missing; duplicate query terms contribute
                       once per occurrence; k1=1.2 b=0.75)
- tfidf stats:         features.go:141-191 (only terms WITH an idf entry
                       count; tf=0 terms with idf ARE included; divisor =
                       count of idf-covered occurrences)
- covered terms:       features.go:259-267 (per-occurrence count incl.
                       duplicates; ratio over len(Terms))
- url analysis:        features.go:193-197 (slash count, byte length)
- rank:                ranker.go:44-68 (sort bm25 desc, truncate 1000,
                       rank=i+1). The reference sort is UNSTABLE on ties
                       (slices.SortFunc); we pin the deterministic
                       tie-break (bm25 desc, doc_id asc) — SURVEY.md §2.5 O1.

Used by tests as the golden oracle for rank-identical verification of the
DataFrame scorer and the WAND scorer.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

K1 = 1.2
B = 0.75
MAX_DOCUMENTS = 1000


# Unicode White_Space (Go unicode.IsSpace): Python's whitespace class minus
# \x1c-\x1f, which str.split() treats as whitespace but strings.Fields
# keeps inside tokens. Written independently of functions/tokenize.py so
# the oracle checks the package's rule instead of sharing it.
_FIELDS_SEP = re.compile(r"[^\S\x1c-\x1f]+")


def tokenize(text: str) -> list[str]:
    """strings.Fields — whitespace-run split, Unicode whitespace."""
    return [t for t in _FIELDS_SEP.split(text) if t]


def idf_map(index: dict[str, list[tuple[str, int]]], doc_count: int) -> dict[str, float]:
    """features.go:11-18. index: term -> posting list [(doc_id, tf)].

    df = number of posting ENTRIES (duplicate doc entries inflate df,
    features_test.go:50-67)."""
    return {
        term: math.log(float(doc_count) / float(len(postings) + 1))
        for term, postings in index.items()
    }


def tf_union(index: dict[str, list[tuple[str, int]]]) -> dict[str, dict[str, int]]:
    """ranker.go:77-107 — A1: per-doc TF map; duplicate postings for the
    same (term, doc) are summed (ranker_test.go:286-310)."""
    docs: dict[str, dict[str, int]] = {}
    for term, postings in index.items():
        for doc_id, freq in postings:
            docs.setdefault(doc_id, {}).setdefault(term, 0)
            docs[doc_id][term] += freq
    return docs


def tf_stats(terms: list[str], tf: dict[str, int]):
    """features.go:20-63."""
    if not terms:
        return 0, 0, 0, 0.0, 0.0
    vals = [tf.get(t, 0) for t in terms]
    n = float(len(terms))
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / n
    return sum(vals), min(vals), max(vals), mean, var


def norm_tf_stats(terms: list[str], tf: dict[str, int], doc_length: int):
    """features.go:65-116."""
    if doc_length <= 0 or not terms:
        return 0.0, 0.0, 0.0, 0.0, 0.0
    vals = [tf.get(t, 0) / float(doc_length) for t in terms]
    n = float(len(terms))
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / n
    return sum(vals), min(vals), max(vals), mean, var


def tfidf_stats(terms: list[str], tf: dict[str, int], idf: dict[str, float]):
    """features.go:141-191 — only idf-covered occurrences participate."""
    vals = [tf.get(t, 0) * idf[t] for t in terms if t in idf]
    if not vals:
        return 0.0, 0.0, 0.0, 0.0, 0.0
    n = float(len(vals))
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / n
    return sum(vals), min(vals), max(vals), mean, var


def bm25(
    terms: list[str],
    tf: dict[str, int],
    idf: dict[str, float],
    doc_length: int,
    avg_doc_length: float,
) -> float:
    """features.go:118-139."""
    score = 0.0
    for t in terms:
        if t not in tf or t not in idf:
            continue
        f = float(tf[t])
        num = f * (K1 + 1)
        den = f + K1 * (1 - B + B * (float(doc_length) / avg_doc_length))
        score += idf[t] * (num / den)
    return score


def covered(terms: list[str], tf: dict[str, int]) -> tuple[int, float]:
    """features.go:261-267 — occurrence-wise, duplicates count twice."""
    c = sum(1 for t in terms if t in tf)
    return c, c / float(len(terms)) if terms else 0.0


def analyze_url(url: str) -> tuple[int, int]:
    """features.go:193-197 — slash count, byte length."""
    return url.count("/"), len(url.encode("utf-8"))


@dataclass
class OracleDoc:
    doc_id: str
    bm25: float
    rank: int = 0
    features: dict = field(default_factory=dict)


def rank_documents(
    query_text: str,
    index: dict[str, list[tuple[str, int]]],
    doc_lengths: dict[str, int],
    doc_count: int,
    avg_doc_length: float,
    k: int = MAX_DOCUMENTS,
    urls: dict[str, str] | None = None,
) -> list[OracleDoc]:
    """ranker.go:11-74 end-to-end: tokenize -> union -> features -> sort ->
    truncate -> rank. Candidates = docs appearing in >=1 query-term posting
    list. Tie-break pinned to (bm25 desc, doc_id asc)."""
    terms = tokenize(query_text)
    # query-scoped index: only entries for query terms (data_getters.go:17-40)
    qindex = {t: index[t] for t in set(terms) if t in index}
    docs_tf = tf_union(qindex)
    if not docs_tf:
        return []
    idf = idf_map(qindex, doc_count)
    out = []
    for doc_id, tf in docs_tf.items():
        dl = doc_lengths.get(doc_id, 0)
        score = bm25(terms, tf, idf, dl, avg_doc_length)
        feats = {}
        cov, ratio = covered(terms, tf)
        feats["covered_query_term_number"] = cov
        feats["covered_query_term_ratio"] = ratio
        s, mn, mx, mean, var = tf_stats(terms, tf)
        feats.update(
            sum_tf=s, min_tf=mn, max_tf=mx, mean_tf=mean, var_tf=var, stream_length=dl
        )
        s, mn, mx, mean, var = norm_tf_stats(terms, tf, dl)
        feats.update(
            sum_ntf=s, min_ntf=mn, max_ntf=mx, mean_ntf=mean, var_ntf=var
        )
        s, mn, mx, mean, var = tfidf_stats(terms, tf, idf)
        feats.update(
            sum_tfidf=s, min_tfidf=mn, max_tfidf=mx, mean_tfidf=mean, var_tfidf=var
        )
        if urls and doc_id in urls:
            ns, ln = analyze_url(urls[doc_id])
            feats.update(num_slashes_in_url=ns, length_of_url=ln)
        out.append(OracleDoc(doc_id=doc_id, bm25=score, features=feats))
    out.sort(key=lambda d: (-d.bm25, d.doc_id))
    out = out[: min(k, len(out))]
    for i, d in enumerate(out):
        d.rank = i + 1
    return out


def build_index_from_texts(
    texts: dict[str, str]
) -> tuple[dict[str, list[tuple[str, int]]], dict[str, int], int, float]:
    """Reference-semantics corpus stats + inverted index from raw texts.

    Returns (index, doc_lengths, doc_count, avg_doc_length). Doc length =
    token count (SURVEY.md §1.3); avgDocLength over ALL docs (S4 semantics:
    corpus-wide stats, data_getters.go:115-144)."""
    index: dict[str, list[tuple[str, int]]] = {}
    doc_lengths: dict[str, int] = {}
    for doc_id, text in texts.items():
        toks = tokenize(text)
        doc_lengths[doc_id] = len(toks)
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        for t, f in tf.items():
            index.setdefault(t, []).append((doc_id, f))
    n = len(texts)
    avg = (sum(doc_lengths.values()) / float(n)) if n else 0.0
    return index, doc_lengths, n, avg
