"""Index-build pipeline: correctness vs oracle, codec round-trip through the
blocks table, resume behavior (SURVEY.md §5 items 2/4/5)."""

from __future__ import annotations

import datetime
import json
import shutil

import numpy as np
import pytest

from bm25_pagerank_rpi_spark import oracle
from bm25_pagerank_rpi_spark.index import codec
from bm25_pagerank_rpi_spark.operators import query_exact
from bm25_pagerank_rpi_spark.plans.index_build import build_index


def transcripts_df(spark, corpus):
    rows = []
    for i, (doc_id, text) in enumerate(sorted(corpus.items())):
        conv, turn = doc_id.split(":")
        rows.append(
            (
                conv,
                int(turn),
                ["user", "assistant", "system", "tool"][i % 4],
                text,
                ["none", "search", "code", "browser"][i % 4],
                datetime.datetime(2025, 1, 1) + datetime.timedelta(seconds=i),
            )
        )
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    cat = build_index(
        spark,
        transcripts_df(spark, corpus),
        out,
        n_buckets=8,
        block_size=16,  # small to force multi-block terms
        range_rows=32,  # small to force multi-range (salted) groups
    )
    return cat


def test_doc_int_dense_and_ordered(built, corpus):
    meta = built.doc_meta().select("doc_id", "doc_int").collect()
    by_id = {r.doc_id: r.doc_int for r in meta}
    expected = {d: i for i, d in enumerate(sorted(corpus))}
    assert by_id == expected


def test_corpus_stats_match_oracle(built, corpus):
    _, dls, n, avg = oracle.build_index_from_texts(corpus)
    doc_count, avgdl = built.scalar_stats()
    assert doc_count == n
    assert abs(avgdl - avg) < 1e-12


def test_postings_match_oracle(built, corpus):
    index, _, _, _ = oracle.build_index_from_texts(corpus)
    expected = {
        (t, doc_id): tf for t, posts in index.items() for doc_id, tf in posts
    }
    meta = {r.doc_int: r.doc_id for r in built.doc_meta().select("doc_int", "doc_id").collect()}
    got = {
        (r.term, meta[r.doc_int]): r.tf
        for r in built.postings().collect()
    }
    assert got == expected


def test_terms_df_idf_match_oracle(built, corpus):
    index, _, n, _ = oracle.build_index_from_texts(corpus)
    idf = oracle.idf_map(index, n)
    got = {r.term: (r.df, r.idf) for r in built.terms().collect()}
    assert set(got) == set(index)
    for t, posts in index.items():
        assert got[t][0] == len(posts), t
        assert abs(got[t][1] - idf[t]) < 1e-12, t


def test_blocks_roundtrip_to_postings(built):
    post = {
        (r.term, r.doc_int): (r.tf, r.doc_length)
        for r in built.postings().collect()
    }
    seen = set()
    for r in built.blocks().collect():
        docs, tfs, factors = codec.decode_block(r)
        assert r.n_postings == docs.size
        assert r.min_doc == docs[0] and r.max_doc == docs[-1]
        assert abs(r.max_factor - factors.max()) < 1e-15
        assert (np.diff(docs) > 0).all()
        for d, tf in zip(docs.tolist(), tfs.tolist()):
            assert post[(r.term, d)][0] == tf
            seen.add((r.term, d))
    assert seen == set(post)  # every posting in exactly one block


def test_block_ids_doc_ordered_within_term(built):
    rows = built.blocks().select("term", "block_id", "min_doc", "max_doc").collect()
    by_term = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    for t, blks in by_term.items():
        blks.sort(key=lambda r: r.block_id)
        for a, b in zip(blks, blks[1:]):
            assert a.max_doc < b.min_doc, f"overlapping/unordered blocks for {t}"


def test_rank_from_index_matches_oracle(built, spark, corpus):
    toks = sorted({t for text in corpus.values() for t in text.split()})
    queries = {
        "q1": f"{toks[0]} {toks[3]} {toks[7]}",
        "q2": f"{toks[1]} {toks[1]} {toks[4]}",
        "q3": "hello, zzz_absent",
    }
    q_df = spark.createDataFrame(list(queries.items()), "query_id string, text string")
    got = query_exact.rank_from_index(built, q_df, k=1000).collect()
    index, dls, n, avg = oracle.build_index_from_texts(corpus)
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, qtext in queries.items():
        exp = oracle.rank_documents(qtext, index, dls, n, avg)
        rows = sorted(by_q.get(qid, []), key=lambda r: r.rank)
        assert [r.doc_id for r in rows] == [d.doc_id for d in exp], qid
        for r, e in zip(rows, exp):
            assert abs(r.bm25 - e.bm25) <= 1e-12


def test_manifest_and_metrics(built):
    m = built.read_manifest()
    for stage in ["doc_meta", "postings", "blocks", "terms", "metrics"]:
        assert m["stages"][stage]["completed"], stage
    met = m["stages"]["metrics"]["metrics"]
    assert met["postings"] > 0
    assert met["bytes_compressed"] > 0
    assert met["skew_ratio"] >= 1.0
    assert len(met["per_bucket"]) <= 8


def test_resume_skips_completed_and_rebuilds_missing(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    t = transcripts_df(spark, corpus)
    cat = build_index(spark, t, out, n_buckets=4, block_size=16, range_rows=32)
    blocks_before = sorted(
        (r.term, r.block_id, bytes(r.docs_enc), bytes(r.tfs_enc))
        for r in cat.blocks().collect()
    )
    # simulate a crash after stage 'postings': wipe blocks/terms/metrics
    m = cat.read_manifest()
    for stage in ["blocks", "terms", "metrics"]:
        del m["stages"][stage]
    cat.write_manifest(m)
    shutil.rmtree(cat.path("blocks"))
    shutil.rmtree(cat.path("terms"))
    # resume: must NOT recompute doc_meta/postings (tracked via manifest
    # timestamps), must rebuild blocks/terms byte-identically
    before_meta = m["stages"]["doc_meta"]["finished_at"]
    cat2 = build_index(spark, t, out, n_buckets=4, block_size=16, range_rows=32)
    m2 = cat2.read_manifest()
    assert m2["stages"]["doc_meta"]["finished_at"] == before_meta  # skipped
    assert m2["stages"]["blocks"]["completed"]
    blocks_after = sorted(
        (r.term, r.block_id, bytes(r.docs_enc), bytes(r.tfs_enc))
        for r in cat2.blocks().collect()
    )
    assert blocks_after == blocks_before  # byte-identical rebuild


def test_build_with_positions(spark, corpus, tmp_path):
    """Opt-in positions column matches a pure-python oracle (the reference
    posting contract, types.go:92-96)."""
    out = str(tmp_path / "idx_pos")
    cat = build_index(
        spark, transcripts_df(spark, corpus), out, n_buckets=4, with_positions=True
    )
    meta = {r.doc_int: r.doc_id for r in cat.doc_meta().collect()}
    got = {
        (meta[r.doc_int], r.term): (r.tf, list(r.positions))
        for r in cat.postings().collect()
    }
    for doc_id, text in corpus.items():
        toks = text.split()
        expect: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            expect.setdefault(t, []).append(i)
        for t, pos in expect.items():
            assert got[(doc_id, t)] == (len(pos), pos), (doc_id, t)


def test_adaptive_tail_salt_reduces_fragmentation(spark, tmp_path):
    """VERDICT r1 #8: a zipf-ish corpus (one hot term + many df<=3 tail
    terms spread across doc ranges) builds far fewer blocks with the
    adaptive salt than with pure doc-range grouping, and WAND stays
    rank-identical to the exact path on mixed head/tail queries."""
    from bm25_pagerank_rpi_spark.operators import query_exact, wand
    from tests.test_wand import _compare

    corpus = {}
    for i in range(120):
        # "hot" appears everywhere (head); rareterm<i> df=2, far apart
        corpus[f"conv_{i:04d}:0"] = f"hot filler{i % 7} rare{i % 60}"
    cat_adaptive = build_index(
        spark, transcripts_df(spark, corpus), str(tmp_path / "a"),
        n_buckets=4, block_size=8, range_rows=16,
    )
    cat_naive = build_index(
        spark, transcripts_df(spark, corpus), str(tmp_path / "n"),
        n_buckets=4, block_size=8, range_rows=16, tail_df_threshold=0,
    )
    ma = cat_adaptive.read_manifest()["stages"]["metrics"]["metrics"]
    mn = cat_naive.read_manifest()["stages"]["metrics"]["metrics"]
    assert ma["tail_blocks"] > 0
    assert ma["total_blocks"] < mn["total_blocks"]
    assert ma["singleton_blocks"] < mn["singleton_blocks"]
    # every rare term collapses to one block under the adaptive salt
    tail_terms = cat_adaptive.terms().filter("has_tail = 1")
    assert tail_terms.filter("n_blocks > 1").count() == 0

    q_df = spark.createDataFrame(
        [("qm", "hot rare3"), ("qt", "rare7 rare8"), ("qh", "hot")],
        "query_id string, text string",
    )
    for cat in (cat_adaptive, cat_naive):
        exact = query_exact.rank_from_index(cat, q_df, k=1000).collect()
        pruned = wand.wand_topk(cat, q_df, k=10).collect()
        _compare(exact, pruned, 10)


def test_build_deterministic_across_parallelism(spark, corpus, tmp_path):
    """Two builds of the same corpus with different shuffle/task layouts
    must produce the SAME logical index: identical terms table and
    identical decoded postings per (term, range) — the property that
    makes resume + lineage claims meaningful on a cluster whose task
    placement differs run to run."""
    from bm25_pagerank_rpi_spark.index import codec

    def build(dir_, parts):
        df = transcripts_df(spark, corpus).repartition(parts)
        return build_index(
            spark, df, str(dir_), n_buckets=4, block_size=16, range_rows=32
        )

    a = build(tmp_path / "a", 2)
    b = build(tmp_path / "b", 13)

    t_a = {(r.term): (r.df, round(r.idf, 12), r.n_blocks, r.has_tail)
           for r in a.terms().collect()}
    t_b = {(r.term): (r.df, round(r.idf, 12), r.n_blocks, r.has_tail)
           for r in b.terms().collect()}
    assert t_a == t_b

    def decoded(cat):
        out = {}
        for r in cat.blocks().collect():
            d, tf, f = codec.decode_block(r)
            out.setdefault((r.term, r.range_id), []).append(
                (r.block_id, list(d), list(tf), [round(x, 12) for x in f])
            )
        return {k: sorted(v) for k, v in out.items()}

    assert decoded(a) == decoded(b)


def test_build_empty_and_degenerate_corpora(spark, tmp_path):
    """Empty corpus and all-empty-text corpus build without error and the
    query paths return empty results instead of crashing."""
    from bm25_pagerank_rpi_spark.operators import query_exact, wand

    q = spark.createDataFrame([("q1", "anything")], "query_id string, text string")

    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cat = build_index(spark, empty, str(tmp_path / "empty"), n_buckets=4)
    assert cat.scalar_stats()[0] == 0
    assert wand.wand_topk(cat, q, k=5).count() == 0
    assert query_exact.rank_from_index(cat, q, k=5).count() == 0

    import datetime

    blank = spark.createDataFrame(
        [("c0", i, "user", "   ", "none", datetime.datetime(2025, 1, 1)) for i in range(3)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cat2 = build_index(spark, blank, str(tmp_path / "blank"), n_buckets=4)
    n, avgdl = cat2.scalar_stats()
    assert n == 3 and avgdl == 0.0
    assert wand.wand_topk(cat2, q, k=5).count() == 0


_NASTY = {
    # Arrow-vs-Java whitespace divergence: \x1c-\x1f stay INSIDE tokens
    "zz:0": "fs\x1cgs stays\x1done token lead\x1dpad",
    # unicode whitespace runs, leading/trailing padding
    "zz:1": "\u3000ideo ls nbsp\xa0 runs\t\tcollapse ",
    "zz:2": "   ",
    "zz:3": "repeat repeat repeat x",
    "zz:4": "a b a\tb  a",
}


def _oracle_positions(texts):
    """(doc_id, term) -> sorted token positions under oracle.tokenize."""
    out: dict[tuple[str, str], list[int]] = {}
    for doc_id, text in texts.items():
        for pos, term in enumerate(oracle.tokenize(text)):
            out.setdefault((doc_id, term), []).append(pos)
    return out


def test_fused_kernel_parity(spark, corpus, tmp_path):
    """The fused tokenize+TF postings plan must produce exactly the
    oracle's postings relation (term, doc, tf, doc_length) and df/idf,
    including on text that exercises the Arrow-vs-Java whitespace
    divergence and unicode whitespace runs."""
    nasty = {**corpus, **_NASTY}
    cat = build_index(
        spark, transcripts_df(spark, nasty), str(tmp_path / "f"),
        n_buckets=4, block_size=16, range_rows=32,
    )
    index, dls, n, _ = oracle.build_index_from_texts(nasty)
    meta = {r.doc_int: r.doc_id for r in cat.doc_meta().collect()}
    want = {
        (t, doc_id, tf, dls[doc_id])
        for t, posts in index.items() for doc_id, tf in posts
    }
    rows = cat.postings().collect()
    got = {(r.term, meta[r.doc_int], r.tf, r.doc_length) for r in rows}
    assert got == want and len(rows) == len(want)
    assert any(t[0] == "fs\x1cgs" for t in got)  # \x1c fallback engaged

    terms = {r.term: r for r in cat.terms().collect()}
    idf = oracle.idf_map(index, n)
    assert set(terms) == set(index)
    for t, posts in index.items():
        assert terms[t].df == len(posts), t
        assert abs(terms[t].idf - idf[t]) < 1e-12, t
    # postings and terms agree on every term's bucket
    assert all(terms[r.term].bucket == r.bucket for r in rows)


def test_fused_kernel_positions_parity(spark, corpus, tmp_path):
    """With positions, the fused kernel must emit the oracle's
    (term, doc, tf, positions) relation — positions index into the
    empties-filtered token array and arrive sorted."""
    nasty = {**corpus, **_NASTY}
    cat = build_index(
        spark, transcripts_df(spark, nasty), str(tmp_path / "f"),
        n_buckets=4, block_size=16, range_rows=32, with_positions=True,
    )
    meta = {r.doc_int: r.doc_id for r in cat.doc_meta().collect()}
    got = {
        (r.term, meta[r.doc_int], r.tf, tuple(r.positions))
        for r in cat.postings().collect()
    }
    want = {
        (t, doc_id, len(p), tuple(p))
        for (doc_id, t), p in _oracle_positions(nasty).items()
    }
    assert got == want and want
    # spot-pin the tricky docs: \x1d stays inside a token, and repeated
    # terms carry their full sorted position lists
    assert ("lead\x1dpad", "zz:0", 1, (3,)) in got
    assert ("a", "zz:4", 3, (0, 2, 4)) in got


def test_compact_without_appends_matches_build(spark, corpus, tmp_path):
    """Build and compaction encode through the same path: compacting a
    fresh build (no appends, no deletes) must rewrite blocks and terms
    row-identical to the build's own."""
    from bm25_pagerank_rpi_spark.streaming.incremental import compact

    cat = build_index(
        spark, transcripts_df(spark, corpus), str(tmp_path / "idx"),
        n_buckets=4, block_size=16, range_rows=32,
    )

    def rows(table):
        df = cat.read(table)
        return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

    blocks, terms = rows("blocks"), rows("terms")
    rids = {r.range_id for r in cat.blocks().select("range_id").distinct().collect()}
    assert -1 in rids and len(rids) > 1  # tail and head routing both hit
    compact(cat)
    assert rows("blocks") == blocks
    assert rows("terms") == terms


def test_write_counted_matches_rescan(built):
    """write_counted's footer-metadata count (a driver-side parquet
    footer read instead of a second scan of the output parquet) must
    equal a direct re-count of every table it records in the manifest."""
    m = built.read_manifest()["stages"]
    assert m["postings"]["rows"] == built.postings().count()
    assert m["blocks"]["rows"] == built.blocks().count()
    assert m["terms"]["rows"] == built.terms().count()


# ---- property test: fused kernel vs a pure-Python reference ---------------
# No Spark involved: _make_tokenize_tf_arrow_fn is a plain generator over
# Arrow batches, so hypothesis can hammer it with adversarial unicode text
# (every White_Space codepoint, the \x1c-\x1f Arrow-divergence bytes,
# nulls, empty docs) far faster than a cluster round-trip would allow.

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

_WS_CHARS = [
    chr(c)
    for c in [0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0x85, 0xA0, 0x1680,
              *range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F, 0x205F,
              0x3000]
]
_SEP_CHARS = ["\x1c", "\x1d", "\x1e", "\x1f"]  # Arrow-vs-Java divergence
_TOKEN_ALPHA = list("abXY9.,") + _SEP_CHARS + ["é", "中"]

_text_strategy = st.lists(
    st.one_of(
        st.sampled_from(_WS_CHARS),
        st.text(alphabet=_TOKEN_ALPHA, min_size=1, max_size=4),
    ),
    max_size=12,
).map("".join)


def _ref_postings(texts):
    """Pure-Python ground truth: the oracle tokenizer (reference
    strings.Fields semantics), TF + sorted positions per (doc, term)."""
    pos = _oracle_positions({i: t or "" for i, t in enumerate(texts)})
    return {(doc, term, len(p), tuple(p)) for (doc, term), p in pos.items()}


if _HAS_HYPOTHESIS:

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.one_of(st.none(), _text_strategy), max_size=8))
    def test_fused_kernel_property_vs_python_reference(texts):
        import pyarrow as pa

        from bm25_pagerank_rpi_spark.plans.index_build import (
            _make_tokenize_tf_arrow_fn,
        )

        n = len(texts)
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(list(range(n)), type=pa.int64()),
                pa.array([0] * n, type=pa.int32()),
                pa.array(texts, type=pa.string()),
            ],
            names=["doc_int", "doc_length", "text"],
        )
        fn = _make_tokenize_tf_arrow_fn(with_positions=True)
        got = set()
        for out in fn(iter([batch])):
            d = out.to_pydict()
            for doc, term, tf, pos in zip(
                d["doc_int"], d["term"], d["tf"], d["positions"]
            ):
                got.add((doc, term, tf, tuple(pos)))
        assert got == _ref_postings(texts)
