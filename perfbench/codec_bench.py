"""Spark-free microbenchmark of the block codec on blocks sampled from a
built index: ``codec.decode_block`` per block and
``codec.encode_sorted_run_arrow`` over the decoded postings re-assembled
into one sorted run."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bm25_pagerank_rpi_spark.index import codec

BLOCK_COLS = ["term", "range_id", "n_postings", "docs_enc", "tfs_enc", "factors_enc"]


def _timed_passes(fn, budget_s: float, min_passes: int = 3) -> list[float]:
    times, spent = [], 0.0
    while len(times) < min_passes or spent < budget_s:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
        spent += times[-1]
    return times


def run(index_dir: str, rng: np.random.Generator, n_blocks: int = 3000,
        budget_s: float = 0.6) -> dict[str, float]:
    """Postings per second for decode and encode (median over passes)."""
    tbl = pq.read_table(os.path.join(index_dir, "blocks"), columns=BLOCK_COLS)
    pick = np.sort(rng.choice(tbl.num_rows, size=min(n_blocks, tbl.num_rows), replace=False))
    rows = tbl.take(pa.array(pick)).to_pylist()
    n_post = sum(r["n_postings"] for r in rows)

    decoded = [codec.decode_block(r) for r in rows]
    dec_times = _timed_passes(lambda: [codec.decode_block(r) for r in rows], budget_s)

    # one sorted run: groups ordered by (term, range_id), docs ascending
    order = sorted(range(len(rows)), key=lambda i: (rows[i]["term"], rows[i]["range_id"], decoded[i][0][0]))
    terms = pa.array([rows[i]["term"] for i in order for _ in range(rows[i]["n_postings"])])
    rids = np.concatenate([np.full(rows[i]["n_postings"], rows[i]["range_id"]) for i in order])
    docs = np.concatenate([decoded[i][0] for i in order])
    tfs = np.concatenate([decoded[i][1] for i in order])
    factors = np.concatenate([decoded[i][2] for i in order])

    def encode():
        codec.encode_sorted_run_arrow(terms, rids, docs, tfs, factors)

    enc_times = _timed_passes(encode, budget_s)
    return {
        "codec.decode_postings_per_s": n_post / statistics.median(dec_times),
        "codec.encode_postings_per_s": n_post / statistics.median(enc_times),
    }
