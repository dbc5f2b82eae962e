"""Posting-block codec: delta-gap + varint doc ids, varint tfs, float64
score factors, per-block max-score metadata.

The reference keeps postings as uncompressed JSON served per term
(/root/reference/internal/ranking/data_getters.go:43-76 — {docID,
frequency, positions}). At 10^12-turn scale that layout is untenable;
this codec gives the standard inverted-index physical format
(docID-sorted, delta-gap + varint — cf. the block-max WAND literature,
PAPERS.md) while remaining a pure data-plane concern behind Arrow UDFs.

All encode/decode paths are vectorized NumPy — no per-value Python loops
(the loops below run over BYTE-WIDTH (<=10) or are bitwise scatter/gather,
i.e. O(max_varint_len) numpy passes, not O(n) Python iterations).

Block layout (one row per block in the `index_blocks` table):
  term        string   — the token
  block_id    int      — ordinal of the block within the term (doc order)
  count       int      — number of postings
  min_doc / max_doc    — int64 doc-int bounds (for skipping)
  max_factor / min_factor — float64 bounds of the BM25 tf/length factor
      factor := (k1+1)*tf / (tf + k1*(1-b+b*dl/avgdl))
      (score contribution of a posting = idf_term * factor; the block's
      score upper bound for WAND = idf*max_factor if idf>=0 else
      idf*min_factor — both stored so sign-aware bounds work)
  docs_enc    binary   — varint(delta-gap(doc_ints))
  tfs_enc     binary   — varint(tf - 1)   (tf >= 1 always in a built index)
  factors_enc binary   — raw little-endian float64 array (exactness required
      for rank-identical parity; quantization would break the 1e-12 bound)
"""

from __future__ import annotations

import numpy as np

DEFAULT_BLOCK_SIZE = 4096


def _varint_encode_raw(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized LEB128 varint encode of a uint64 array. Returns
    (byte array uint8, per-value byte counts int64) so callers can slice
    per-value ranges out of one contiguous buffer."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bitlen/7), min 1 (uint64 -> <= 10)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        idx = starts[mask] + j
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > (j + 1)).astype(np.uint8) << 7
        out[idx] = byte | cont
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style varint encoding of a uint64 array, vectorized."""
    out, _ = _varint_encode_raw(values)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of ``varint_encode`` — fully vectorized boundary discovery."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = (b & 0x80) == 0  # terminal byte of each value
    n_values = int(ends.sum())
    # value id of each byte = number of terminals strictly before it
    value_id = np.concatenate(([0], np.cumsum(ends)[:-1]))
    starts = np.flatnonzero(np.concatenate(([True], ends[:-1])))
    byte_pos = np.arange(b.size, dtype=np.int64) - starts[value_id]
    values = np.zeros(n_values, dtype=np.uint64)
    np.bitwise_or.at(
        values, value_id, (b & np.uint8(0x7F)).astype(np.uint64) << (7 * byte_pos).astype(np.uint64)
    )
    return values


def delta_encode(doc_ints: np.ndarray) -> np.ndarray:
    d = np.ascontiguousarray(doc_ints, dtype=np.int64)
    if d.size == 0:
        return np.empty(0, dtype=np.uint64)
    out = np.empty(d.size, dtype=np.uint64)
    out[0] = np.uint64(d[0])
    out[1:] = np.diff(d).astype(np.uint64)
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    if gaps.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(gaps.astype(np.int64))


def encode_block(doc_ints: np.ndarray, tfs: np.ndarray, factors: np.ndarray) -> dict:
    """Encode one docID-sorted block. Returns the block-row dict (without
    term/block_id, which the caller owns)."""
    d = np.ascontiguousarray(doc_ints, dtype=np.int64)
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    f = np.ascontiguousarray(factors, dtype=np.float64)
    assert d.size == t.size == f.size and d.size > 0
    assert (np.diff(d) > 0).all(), "doc ids must be strictly increasing"
    return {
        "count": int(d.size),
        "min_doc": int(d[0]),
        "max_doc": int(d[-1]),
        "max_factor": float(f.max()),
        "min_factor": float(f.min()),
        "docs_enc": varint_encode(delta_encode(d)),
        "tfs_enc": varint_encode((t - 1).astype(np.uint64)),
        "factors_enc": f.tobytes(),
    }


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ints int64, tfs int64, factors float64) from a block row
    (dict-like or object with attributes)."""
    get = row.get if hasattr(row, "get") else lambda k: getattr(row, k)
    docs = delta_decode(varint_decode(bytes(get("docs_enc"))))
    tfs = varint_decode(bytes(get("tfs_enc"))).astype(np.int64) + 1
    factors = np.frombuffer(bytes(get("factors_enc")), dtype=np.float64)
    return docs, tfs, factors


def _binary_from_offsets(
    data: np.ndarray, offsets64: np.ndarray, nb: int
) -> "pa.Array":
    """Zero-copy pa.binary array over ``data`` sliced at ``offsets64``.

    pa.binary() carries int32 offsets; a partition whose encoded buffer
    exceeds 2 GiB would silently wrap and corrupt the index. The encode
    shuffle's rows-per-task sizing is advisory, so fail loudly instead
    (pinned by test_codec.py::test_binary_offsets_overflow_guard).
    """
    import pyarrow as pa

    if offsets64.size and offsets64[-1] >= 2**31:
        raise ValueError(
            f"encoded block buffer {offsets64[-1]} bytes overflows int32 "
            "binary offsets; lower rows-per-encode-batch for this build"
        )
    offsets = pa.array(offsets64.astype(np.int32), type=pa.int32())
    buf = pa.py_buffer(np.ascontiguousarray(data, dtype=np.uint8))
    return pa.Array.from_buffers(
        pa.binary(), nb, [None, offsets.buffers()[1], buf]
    )


def encode_sorted_run_arrow(
    terms,  # pa.Array[string]
    rids: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    factors: np.ndarray,
    block_size: int = DEFAULT_BLOCK_SIZE,
    blocks_per_range: int = 1,
    block_id_base: int = 0,
):
    """Encode a whole sorted run of postings — MANY (term, range_id) groups
    at once — into block rows, byte-identical to calling
    ``blocks_for_term`` per group with ``first_block_id = block_id_base +
    range_id * blocks_per_range`` (tests/test_codec.py pins this).

    Input arrays must be sorted by (term, range_id, doc_int) with
    (term, range_id, doc_int) unique — exactly what the encode shuffle's
    ``repartition().sortWithinPartitions()`` delivers. All O(n) work is
    vectorized over the full run and the term column never leaves Arrow:

    - group-boundary discovery compares the Arrow string array with its
      own 1-shifted slice via ``pyarrow.compute.not_equal`` (vectorized C
      string compare);
    - per-block output terms come from ``pc.take`` at block starts, so
      only ~#blocks strings are ever touched, not #postings;
    - delta-gap, one varint pass and ``reduceat`` factor bounds cover
      every block of the run at once;
    - the three binary columns are built with ``pa.Array.from_buffers``
      directly over the contiguous varint buffers + offset arrays.

    There is no per-row or per-block Python at all. Returns a
    ``pa.RecordBatch`` in BLOCK_SCHEMA column order, or None for empty
    input.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    n = docs.size
    if n == 0:
        return None
    d = np.ascontiguousarray(docs, dtype=np.int64)
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    f = np.ascontiguousarray(factors, dtype=np.float64)
    r = np.ascontiguousarray(rids, dtype=np.int64)

    gchange = np.empty(n, dtype=bool)
    gchange[0] = True
    if n > 1:
        neq_term = pc.not_equal(
            terms.slice(1, n - 1), terms.slice(0, n - 1)
        ).to_numpy(zero_copy_only=False)
        gchange[1:] = neq_term | (r[1:] != r[:-1])
    gstarts = np.flatnonzero(gchange)
    gsizes = np.diff(np.append(gstarts, n))
    off = np.arange(n, dtype=np.int64) - np.repeat(gstarts, gsizes)
    bmask = gchange | (off % block_size == 0)
    bstarts = np.flatnonzero(bmask)
    bends = np.append(bstarts[1:], n)

    assert (np.diff(d) > 0)[~gchange[1:]].all() if n > 1 else True, (
        "doc ids must be strictly increasing within a (term, range_id) group"
    )

    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = np.uint64(d[0])
    np.subtract(d[1:], d[:-1], out=gaps[1:].view(np.int64), casting="unsafe")
    gaps[bstarts] = d[bstarts].astype(np.uint64)

    docs_buf, docs_nb = _varint_encode_raw(gaps)
    tfs_buf, tfs_nb = _varint_encode_raw((t - 1).astype(np.uint64))
    docs_cum = np.concatenate(([0], np.cumsum(docs_nb)))
    tfs_cum = np.concatenate(([0], np.cumsum(tfs_nb)))

    nb = bstarts.size
    bounds = np.append(bstarts, n)  # block byte-ranges are CONTIGUOUS

    def _binary(data: np.ndarray, offsets64: np.ndarray) -> pa.Array:
        return _binary_from_offsets(data, offsets64, nb)

    block_ids = (
        block_id_base + r[bstarts] * blocks_per_range + off[bstarts] // block_size
    )
    return pa.RecordBatch.from_arrays(
        [
            pc.take(terms, pa.array(bstarts, type=pa.int64())),
            pa.array(r[bstarts]),
            pa.array(block_ids),
            pa.array((bends - bstarts).astype(np.int32)),
            pa.array(d[bstarts]),
            pa.array(d[bends - 1]),
            pa.array(np.maximum.reduceat(f, bstarts)),
            pa.array(np.minimum.reduceat(f, bstarts)),
            _binary(docs_buf, docs_cum[bounds]),
            _binary(tfs_buf, tfs_cum[bounds]),
            _binary(f.view(np.uint8), bounds * 8),
        ],
        names=[
            "term", "range_id", "block_id", "n_postings", "min_doc",
            "max_doc", "max_factor", "min_factor", "docs_enc", "tfs_enc",
            "factors_enc",
        ],
    )


def blocks_for_term(
    doc_ints: np.ndarray,
    tfs: np.ndarray,
    factors: np.ndarray,
    block_size: int = DEFAULT_BLOCK_SIZE,
    first_block_id: int = 0,
) -> list[dict]:
    """Split a term's docID-sorted postings into fixed-size encoded blocks."""
    order = np.argsort(doc_ints, kind="stable")
    d, t, f = doc_ints[order], tfs[order], factors[order]
    out = []
    for i, start in enumerate(range(0, d.size, block_size)):
        sl = slice(start, start + block_size)
        blk = encode_block(d[sl], t[sl], f[sl])
        blk["block_id"] = first_block_id + i
        out.append(blk)
    return out
