"""Codec round-trip + block-metadata invariants (SURVEY.md §5 item 4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bm25_pagerank_rpi_spark.index import codec


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = codec.varint_decode(codec.varint_encode(arr))
    assert out.tolist() == vals


def test_varint_known_bytes():
    # classic LEB128: 300 -> 0xAC 0x02
    assert codec.varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert codec.varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert codec.varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert codec.varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"


@given(
    st.lists(
        st.integers(min_value=0, max_value=10**12), min_size=1, max_size=500, unique=True
    )
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(doc_ints):
    doc_ints = np.array(sorted(doc_ints), dtype=np.int64)
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 1000, size=doc_ints.size).astype(np.int64)
    factors = rng.random(doc_ints.size)
    blk = codec.encode_block(doc_ints, tfs, factors)
    d, t, f = codec.decode_block(blk)
    assert (d == doc_ints).all()
    assert (t == tfs).all()
    assert (f == factors).all()  # bit-exact float64
    assert blk["min_doc"] == doc_ints[0] and blk["max_doc"] == doc_ints[-1]
    assert blk["max_factor"] >= f.max() and blk["min_factor"] <= f.min()


def test_blocks_for_term_split_and_order():
    n = 10_000
    rng = np.random.default_rng(3)
    docs = np.sort(rng.choice(10**9, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, n).astype(np.int64)
    factors = rng.random(n)
    # feed unsorted — blocks_for_term must sort
    perm = rng.permutation(n)
    blocks = codec.blocks_for_term(docs[perm], tfs[perm], factors[perm], block_size=4096)
    assert [b["block_id"] for b in blocks] == [0, 1, 2]
    assert sum(b["count"] for b in blocks) == n
    all_docs, all_tfs, all_f = [], [], []
    prev_max = -1
    for b in blocks:
        d, t, f = codec.decode_block(b)
        assert d[0] > prev_max  # blocks disjoint and ordered
        prev_max = int(d[-1])
        all_docs.append(d)
        all_tfs.append(t)
        all_f.append(f)
    assert (np.concatenate(all_docs) == docs).all()
    assert (np.concatenate(all_tfs) == tfs).all()
    assert (np.concatenate(all_f) == factors).all()


def test_compression_ratio_dense_docs():
    # dense doc ids (gaps ~ small) should compress far below 8 bytes/doc
    docs = np.arange(0, 100_000, 3, dtype=np.int64)
    tfs = np.ones(docs.size, dtype=np.int64)
    factors = np.zeros(docs.size)
    blk = codec.encode_block(docs, tfs, factors)
    assert len(blk["docs_enc"]) < docs.size * 2  # ~1 byte/gap
    assert len(blk["tfs_enc"]) == docs.size  # tf-1=0 -> 1 byte each


def test_encode_block_rejects_duplicates():
    with pytest.raises(AssertionError):
        codec.encode_block(
            np.array([1, 1], dtype=np.int64),
            np.array([1, 1], dtype=np.int64),
            np.array([0.1, 0.2]),
        )


def _sorted_run(rng, n, nterms, max_doc, tail_frac=0.3):
    import pandas as pd

    terms = np.array([f"t{i:05d}" for i in range(nterms)], dtype=object)[
        rng.zipf(1.3, size=n) % nterms
    ]
    docs = rng.integers(0, max_doc, size=n)
    rid = np.where(rng.random(n) < tail_frac, -1, docs // 97)
    pdf = pd.DataFrame(
        {
            "term": terms,
            "range_id": rid.astype(np.int64),
            "doc_int": docs.astype(np.int64),
            "tf": rng.integers(1, 300, size=n).astype(np.int64),
            "factor": rng.random(n),
        }
    )
    pdf = pdf.drop_duplicates(["term", "range_id", "doc_int"])
    return pdf.sort_values(
        ["term", "range_id", "doc_int"], kind="stable"
    ).reset_index(drop=True)


_BLOCK_COLS = [
    "term", "range_id", "block_id", "n_postings", "min_doc", "max_doc",
    "max_factor", "min_factor", "docs_enc", "tfs_enc", "factors_enc",
]


def _reference_blocks(pdf, bs, bpr, base):
    """The reference encoding: ``blocks_for_term`` (one ``encode_block``
    per block_size slice) applied to each (term, range_id) group."""
    import pandas as pd

    terms = pdf["term"].to_numpy()
    rids = pdf["range_id"].to_numpy(dtype=np.int64)
    change = np.empty(len(pdf), dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (rids[1:] != rids[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], len(pdf))
    rows = []
    for s, e in zip(starts, ends):
        for b in codec.blocks_for_term(
            pdf["doc_int"].to_numpy(np.int64)[s:e],
            pdf["tf"].to_numpy(np.int64)[s:e],
            pdf["factor"].to_numpy(np.float64)[s:e],
            block_size=bs,
            first_block_id=base + int(rids[s]) * bpr,
        ):
            b["term"] = terms[s]
            b["range_id"] = int(rids[s])
            b["n_postings"] = b.pop("count")
            rows.append(b)
    return pd.DataFrame(rows)[_BLOCK_COLS], len(starts)


def _encode_arrow(pdf, bs, bpr, base):
    import pyarrow as pa

    return codec.encode_sorted_run_arrow(
        pa.array(list(pdf["term"]), type=pa.string()),
        pdf["range_id"].to_numpy(np.int64),
        pdf["doc_int"].to_numpy(np.int64),
        pdf["tf"].to_numpy(np.int64),
        pdf["factor"].to_numpy(np.float64),
        block_size=bs, blocks_per_range=bpr, block_id_base=base,
    ).to_pandas()


def _assert_same_blocks(want, got):
    key = ["term", "range_id", "block_id"]
    want = want[_BLOCK_COLS].sort_values(key).reset_index(drop=True)
    got = got[_BLOCK_COLS].sort_values(key).reset_index(drop=True)
    assert len(want) == len(got)
    for c in _BLOCK_COLS:
        ov, nv = want[c].to_numpy(), got[c].to_numpy()
        if c in ("term", "docs_enc", "tfs_enc", "factors_enc"):
            assert all(a == b for a, b in zip(ov, nv)), c
        else:
            assert (ov == nv).all(), c


def test_encode_sorted_run_matches_per_group_blocks():
    """The vectorized whole-run encoder (one varint pass + reduceat bounds)
    must be byte-identical to blocks_for_term applied per (term, range_id)
    group — every index writer encodes through it."""
    rng = np.random.default_rng(41)
    pdf = _sorted_run(rng, 30_000, 700, 5_000)
    bs, bpr, base = 16, 7, 2_000  # small blocks: multi-block groups common

    want, n_groups = _reference_blocks(pdf, bs, bpr, base)
    new = _encode_arrow(pdf, bs, bpr, base)
    assert len(new) > n_groups  # multi-block groups hit
    _assert_same_blocks(want, new)
    # decoded round-trip on a sample
    for i in [0, len(new) // 2, len(new) - 1]:
        d, t, f = codec.decode_block(new.iloc[i].to_dict())
        assert d.size == new.iloc[i]["n_postings"]
        assert (np.diff(d) > 0).all() if d.size > 1 else True


def test_encode_sorted_run_empty_and_single():
    import pyarrow as pa

    out = codec.encode_sorted_run_arrow(
        pa.array(["a"], type=pa.string()), np.array([-1]), np.array([42]),
        np.array([3]), np.array([0.5]), block_size=4, blocks_per_range=2,
        block_id_base=10,
    ).to_pydict()
    assert out["block_id"] == [10 - 2] and out["min_doc"] == [42]
    d, t, f = codec.decode_block({k: v[0] for k, v in out.items()})
    assert list(d) == [42] and list(t) == [3] and list(f) == [0.5]


def test_encode_sorted_run_arrow_matches_pandas_run():
    """A second seeded run against the per-group reference, and an Arrow
    SLICE (non-zero offset, as the encoder's batch-boundary buffering
    produces) must encode identically to the equivalent copy."""
    import pyarrow as pa

    rng = np.random.default_rng(43)
    pdf = _sorted_run(rng, 30_000, 700, 5_000)
    bs, bpr, base = 16, 7, 2_000

    want, _ = _reference_blocks(pdf, bs, bpr, base)
    _assert_same_blocks(want, _encode_arrow(pdf, bs, bpr, base))

    terms = pdf["term"].to_numpy()
    rids = pdf["range_id"].to_numpy(dtype=np.int64)
    docs = pdf["doc_int"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    facs = pdf["factor"].to_numpy(dtype=np.float64)
    full = pa.array(list(terms), type=pa.string())
    k = 1000
    sliced = codec.encode_sorted_run_arrow(
        full.slice(k), rids[k:], docs[k:], tfs[k:], facs[k:],
        block_size=bs, blocks_per_range=bpr, block_id_base=base,
    ).to_pandas()
    direct = _encode_arrow(pdf.iloc[k:], bs, bpr, base)
    assert sliced.equals(direct)


def test_encode_sorted_run_arrow_empty():
    import pyarrow as pa

    assert (
        codec.encode_sorted_run_arrow(
            pa.array([], type=pa.string()), np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
        )
        is None
    )


def test_binary_offsets_overflow_guard():
    # pa.binary() offsets are int32; a partition whose varint buffer crosses
    # 2 GiB must fail loudly, never wrap. Fabricated offsets exercise the
    # guard without allocating a real 2 GiB buffer (the check precedes any
    # buffer construction).
    import pyarrow as pa

    data = np.zeros(16, dtype=np.uint8)
    ok = codec._binary_from_offsets(
        data, np.array([0, 8, 16], dtype=np.int64), 2
    )
    assert ok.type == pa.binary() and len(ok) == 2

    bad = np.array([0, 2**31 - 1, 2**31], dtype=np.int64)
    with pytest.raises(ValueError, match="overflows int32"):
        codec._binary_from_offsets(data, bad, 2)
