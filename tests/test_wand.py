"""WAND-safety property (SURVEY.md §5 item 3): block-max pruned path must be
rank-identical to the exact DataFrame path — same docs, same ranks, scores
within the reference epsilon 1e-12 — including on negative-IDF corpora and
randomized seeded corpora."""

from __future__ import annotations

import random

import pytest

from bm25_pagerank_rpi_spark.operators import query_exact, wand
from bm25_pagerank_rpi_spark.plans.index_build import build_index
from tests.conftest import make_corpus
from tests.test_index_build import transcripts_df


def _compare(exact_rows, wand_rows, k):
    by_q_e, by_q_w = {}, {}
    for r in exact_rows:
        by_q_e.setdefault(r.query_id, []).append(r)
    for r in wand_rows:
        by_q_w.setdefault(r.query_id, []).append(r)
    assert set(by_q_e) == set(by_q_w)
    for qid in by_q_e:
        e = sorted(by_q_e[qid], key=lambda r: r.rank)[:k]
        w = sorted(by_q_w[qid], key=lambda r: r.rank)
        assert len(w) == min(len(e), k), qid
        for re_, rw in zip(e, w):
            assert re_.doc_id == rw.doc_id, (
                f"{qid} rank {re_.rank}: exact={re_.doc_id}({re_.bm25}) "
                f"wand={rw.doc_id}({rw.bm25})"
            )
            assert abs(re_.bm25 - rw.bm25) <= 1e-12


def _build(spark, corpus, tmp_path, **kw):
    kw.setdefault("n_buckets", 8)
    kw.setdefault("block_size", 16)
    kw.setdefault("range_rows", 32)
    return build_index(spark, transcripts_df(spark, corpus), str(tmp_path), **kw)


def test_wand_equals_exact_basic(spark, corpus, tmp_path):
    cat = _build(spark, corpus, tmp_path / "idx")
    toks = sorted({t for text in corpus.values() for t in text.split()})
    queries = [
        ("q1", f"{toks[0]} {toks[3]} {toks[7]}"),
        ("q2", f"{toks[1]} {toks[1]} {toks[4]}"),  # duplicate term
        ("q3", "hello, zzz_absent"),
        ("q4", " ".join(toks[:10])),  # wide query
        ("q5", toks[5]),  # single term
    ]
    q_df = spark.createDataFrame(queries, "query_id string, text string")
    for k in (3, 10, 1000):
        exact = query_exact.rank_from_index(cat, q_df, k=1000).collect()
        pruned = wand.wand_topk(cat, q_df, k=k).collect()
        _compare(exact, pruned, k)


def test_wand_negative_idf(spark, tmp_path):
    # 'common' appears in EVERY doc -> idf = ln(N/(N+1)) < 0
    corpus = {
        f"conv_{i:04d}:0": f"common word{i % 5} extra{i % 3} common"
        for i in range(20)
    }
    cat = _build(spark, corpus, tmp_path / "idx")
    q_df = spark.createDataFrame(
        [("qn", "common word1"), ("qn2", "common common word2 extra1")],
        "query_id string, text string",
    )
    terms = {r.term: r.idf for r in cat.terms().collect()}
    assert terms["common"] < 0  # precondition: negative idf exercised
    exact = query_exact.rank_from_index(cat, q_df, k=1000).collect()
    pruned = wand.wand_topk(cat, q_df, k=5).collect()
    _compare(exact, pruned, 5)


def test_wand_ties(spark, tmp_path):
    # identical docs -> exact ties -> tie-break by doc_id must agree
    corpus = {f"conv_0000:{i}": "alpha beta gamma" for i in range(8)}
    corpus.update({f"conv_0001:{i}": "alpha beta" for i in range(4)})
    cat = _build(spark, corpus, tmp_path / "idx")
    q_df = spark.createDataFrame([("qt", "alpha beta")], "query_id string, text string")
    exact = query_exact.rank_from_index(cat, q_df, k=1000).collect()
    pruned = wand.wand_topk(cat, q_df, k=6).collect()
    _compare(exact, pruned, 6)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_wand_randomized(spark, tmp_path, seed):
    corpus = make_corpus(n_docs=80, vocab_size=25, seed=seed, max_len=40)
    cat = _build(spark, corpus, tmp_path / f"idx{seed}")
    rng = random.Random(seed)
    toks = sorted({t for text in corpus.values() for t in text.split()})
    queries = [
        (f"q{i}", " ".join(rng.choices(toks, k=rng.randint(1, 6))))
        for i in range(6)
    ]
    q_df = spark.createDataFrame(queries, "query_id string, text string")
    exact = query_exact.rank_from_index(cat, q_df, k=1000).collect()
    pruned = wand.wand_topk(cat, q_df, k=7).collect()
    _compare(exact, pruned, 7)


def test_wand_tail_subshard_parity(spark, tmp_path):
    """VERDICT r2 #7: a query touching hundreds of tail terms splits the
    corpus-global tail work across term-hash sub-shards instead of one
    task; partial sums merge to the exact result."""
    corpus = make_corpus(n_docs=60, vocab_size=550, seed=7, max_len=40)
    cat = _build(spark, corpus, tmp_path / "idx")  # tail threshold = block_size 16
    toks = sorted({t for text in corpus.values() for t in text.split()})
    q_df = spark.createDataFrame(
        [("qw", " ".join(toks))], "query_id string, text string"
    )
    # precondition: the wide query really crosses the sub-shard trigger
    plan = wand._plan_spark(spark, q_df, wand._term_stats(cat))
    assert plan.n_tail_terms > wand.TAIL_TERMS_PER_SHARD
    exact = query_exact.rank_from_index(cat, q_df, k=1000).collect()
    pruned = wand.wand_topk(cat, q_df, k=9).collect()
    _compare(exact, pruned, 9)


def test_wand_backcompat_blocks_without_range_id(spark, corpus, tmp_path):
    """A pre-v3 index (no stored range_id shard key) is refused with an
    actionable rebuild error instead of an AnalysisException."""
    cat = _build(spark, corpus, tmp_path / "idx", tail_df_threshold=0)
    toks = sorted({t for text in corpus.values() for t in text.split()})
    q_df = spark.createDataFrame(
        [("q1", f"{toks[0]} {toks[3]} {toks[7]}")], "query_id string, text string"
    )
    # rewrite the blocks table WITHOUT range_id, simulating the old layout
    old = str(tmp_path / "old_blocks")
    cat.blocks().drop("range_id").write.mode("overwrite").parquet(old)
    cat.spark.read.parquet(old).write.mode("overwrite").parquet(cat.path("blocks"))
    assert "range_id" not in cat.blocks().columns
    with pytest.raises(ValueError, match="too old, rebuild"):
        wand.wand_topk(cat, q_df, k=5)


def test_wand_session_parity_and_reuse(spark, corpus, tmp_path):
    """Warm serving mode (VERDICT r1 #5): a WandSession answers repeated
    queries from cached terms/meta/blocks with results identical to the
    one-shot path, and empty/absent queries still behave."""
    cat = _build(spark, corpus, tmp_path / "idx")
    toks = sorted({t for text in corpus.values() for t in text.split()})
    q_df = spark.createDataFrame(
        [("q1", f"{toks[0]} {toks[3]} {toks[7]}")], "query_id string, text string"
    )
    cold = wand.wand_topk(cat, q_df, k=5).collect()
    with wand.WandSession(cat) as sess:
        for _ in range(2):  # repeated calls reuse the cached state
            warm = sess.topk(q_df, k=5).collect()
            _compare(cold, warm, 5)
        one = sess.topk_text("qx", f"{toks[0]} {toks[3]} {toks[7]}", k=5).collect()
        assert [r.doc_id for r in one] == [r.doc_id for r in cold]
        assert sess.topk_text("qe", "zzz_absent_only", k=5).count() == 0


def test_wand_session_driver_vs_spark_planning(spark, corpus, tmp_path):
    """VERDICT r2 #5: driver-side planning (Python tokenize + in-memory
    term stats, zero Spark jobs per plan) is result-identical to the
    Spark-join planning fallback and the one-shot path — including
    duplicate terms, unknown terms, Unicode whitespace, empty text, and
    \x1c-\x1f, which Python's str.split() would split on but
    strings.Fields keeps inside a token."""
    sep = {"zz:0": "fs\x1cgs", "zz:1": "fs gs gs"}
    cat = _build(spark, {**corpus, **sep}, tmp_path / "idx")
    toks = sorted({t for text in corpus.values() for t in text.split()})
    texts = [
        f"  {toks[0]} {toks[3]}\t{toks[0]} ",  # dup + NBSP + padding
        f"{toks[1]} zzz_absent {toks[1]} {toks[2]}",
        "zzz_only_absent",
        "",
        " ".join(toks[:12]),
        "fs\x1cgs",
    ]
    q_df = spark.createDataFrame(
        [(f"q{i}", t) for i, t in enumerate(texts)], "query_id string, text string"
    )

    def as_dict(rows):
        return {(r.query_id, r.rank): (r.doc_id, r.bm25) for r in rows}

    cold = as_dict(wand.wand_topk(cat, q_df, k=5).collect())
    with wand.WandSession(cat) as s_drv:
        assert s_drv._stats is not None  # driver-dict mode engaged
        drv = as_dict(s_drv.topk(q_df, k=5).collect())
        drv_text = as_dict(s_drv.topk_text("q0", texts[0], k=5).collect())
    with wand.WandSession(cat, driver_stats=False) as s_spk:
        spk = as_dict(s_spk.topk(q_df, k=5).collect())
    assert drv == cold
    assert spk == cold
    assert drv_text == {k: v for k, v in cold.items() if k[0] == "q0"}
    assert [v[0] for k, v in sorted(cold.items()) if k[0] == "q5"] == ["zz:0"]


def test_wand_session_auto_planning_mode(spark, corpus, tmp_path):
    """VERDICT r3 #4: the planning mode flips automatically on vocabulary
    size — small vocab collects a driver dict, a vocab above the threshold
    stays distributed (Spark-join planning), with identical results."""
    cat = _build(spark, corpus, tmp_path / "idx")
    vocab = len({t for text in corpus.values() for t in text.split()})
    toks = sorted({t for text in corpus.values() for t in text.split()})
    q_df = spark.createDataFrame(
        [("q1", f"{toks[0]} {toks[3]} {toks[7]}")], "query_id string, text string"
    )

    def as_dict(rows):
        return {(r.query_id, r.rank): (r.doc_id, r.bm25) for r in rows}

    cold = as_dict(wand.wand_topk(cat, q_df, k=5).collect())
    # default: auto mode, small vocab -> driver dict
    with wand.WandSession(cat) as s:
        assert s.planning_mode == "driver"
        assert s._vocab_size() == vocab  # manifest row count, no Spark job
        assert as_dict(s.topk(q_df, k=5).collect()) == cold
    # threshold below the vocab -> automatic Spark-join planning
    with wand.WandSession(cat, driver_stats_max_terms=vocab - 1) as s:
        assert s.planning_mode == "spark"
        assert as_dict(s.topk(q_df, k=5).collect()) == cold
    # explicit override beats the threshold
    with wand.WandSession(cat, driver_stats=True,
                          driver_stats_max_terms=0) as s:
        assert s.planning_mode == "driver"
