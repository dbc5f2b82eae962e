"""Segment merge: combine independently built index catalogs into one.

Web-scale builds shard ingest — each shard (a time slice, crawl bucket,
or tenant) builds its own ``IndexCatalog`` in parallel, and a merge
produces the single serving catalog. This is Lucene's segment merge
lifted to catalog granularity. The reference rebuilds its index
monolithically and serves posting fetches through one index service
(/root/reference/internal/ranking/data_getters.go:17-40); a merged
catalog serves exactly that same contract (postings, per-term stats,
corpus stats), with exact-BM25 parity against a from-scratch build of
the union corpus (pinned by ``tests/test_index_merge.py`` and the
``merged_index_topk`` driver pair).

Semantics follow the Lucene merge model:

- **Tombstones are purged**: deleted docs in any input shard do not
  survive the merge (the read-side masks are dropped, df/idf unfreeze).
- **doc_ints are re-based, not re-sorted**: shard *k* keeps its dense
  ordinals shifted by the cumulative max of shards ``0..k-1``. Each
  shard's doc-contiguous block locality is preserved without a global
  ordinal recompute; gaps left by purged docs are harmless (range_id
  density is approximate by design).
- **Corpus-dependent stats are recomputed**: doc_count/avg_doc_length
  come from the merged live corpus, and blocks are RE-ENCODED under the
  merged avgdl so BM25 factors match a from-scratch build bit-for-bit —
  the merge is also the compaction point, exactly as in Lucene.

Scale shape: doc_meta and corpus_stats are metadata-sized; the postings
union is a scan plus the ONE (term, range_id) shuffle every encode
already pays (index_build.encode_blocks). Nothing collects
to the driver. A 1000-executor merge of two 50-TB shards is the same
plan at 10^6 x the rows, and the doc_int re-base means shard k's scan
is embarrassingly parallel with shard j's.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import codec
from ..sources.catalog import IndexCatalog, term_bucket
from .index_build import (
    default_range_rows,
    encode_blocks,
    route_postings,
    terms_from_blocks,
)


def _live_postings(cat: IndexCatalog) -> DataFrame:
    """Postings minus tombstoned docs — the only rows a merge carries."""
    post = cat.postings().select("term", "doc_int", "tf", "doc_length")
    if cat.n_deletes():
        post = post.join(F.broadcast(cat.deletes()), "doc_int", "left_anti")
    return post


def merge_catalogs(
    spark: SparkSession,
    parts: list[IndexCatalog],
    out_dir: str,
    n_buckets: int | None = None,
    check_disjoint: bool = True,
    resume: bool = True,
) -> IndexCatalog:
    """N-way merge of built catalogs into a fresh catalog at ``out_dir``.

    ``check_disjoint`` asserts no doc_id appears in two shards (one
    doc_meta-sized aggregation — cheap next to the block re-encode; a
    duplicated doc would silently double-count every stat downstream).
    ``resume`` skips the merge when ``out_dir`` already holds a completed
    one over the same inputs (same manifest fingerprint).
    """
    if not parts:
        raise ValueError("merge_catalogs needs at least one input catalog")
    out = IndexCatalog(spark, out_dir)
    fingerprint = [p.root for p in parts]
    if resume and out.stage_complete("merge") and (
        out.read_manifest().get("merged_from") == fingerprint
    ):
        return out

    cfg = parts[0].read_manifest().get("config", {})
    block_size = int(cfg.get("block_size") or codec.DEFAULT_BLOCK_SIZE)
    if n_buckets is None:
        n_buckets = int(cfg.get("n_buckets") or 32)
    tail_df_threshold = int(cfg.get("tail_df_threshold", block_size))
    for p in parts[1:]:
        pc = p.read_manifest().get("config", {})
        if int(pc.get("block_size") or codec.DEFAULT_BLOCK_SIZE) != block_size:
            raise ValueError(
                "merge inputs disagree on block_size: "
                f"{p.root} vs {parts[0].root}"
            )

    t0 = time.time()

    # -- doc_meta: re-base each shard's dense ordinals --------------------
    # max(doc_int) per shard is a parquet-footer-cheap agg; the running
    # offsets are a len(parts) driver list (bounded: shard count, not rows).
    metas, offset, offsets = [], 0, []
    for p in parts:
        offsets.append(offset)
        meta = p.live_doc_meta()
        if offset:
            meta = meta.withColumn("doc_int", F.col("doc_int") + F.lit(offset))
        metas.append(meta)
        row = p.doc_meta().agg(F.max("doc_int").alias("m")).collect()[0]
        offset += int(row.m) + 1 if row.m is not None else 0
    merged_meta = metas[0]
    for m in metas[1:]:
        merged_meta = merged_meta.unionByName(m)

    if check_disjoint:
        dup = (
            merged_meta.groupBy("doc_id").count().filter(F.col("count") > 1)
        )
        ex = dup.select("doc_id").limit(3).collect()
        if ex:
            raise ValueError(
                "merge inputs share doc_ids (first few: "
                f"{[r.doc_id for r in ex]}) — a doc may live in one shard only"
            )

    out.write(merged_meta, "doc_meta")

    stats = out.doc_meta().agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.avg("doc_length").alias("avg_doc_length"),
    )
    out.write(stats, "corpus_stats")
    n_docs, avgdl = out.scalar_stats()

    # -- postings: union of live postings, re-based and re-bucketed -------
    posts = []
    for p, off in zip(parts, offsets):
        post = _live_postings(p)
        if off:
            post = post.withColumn("doc_int", F.col("doc_int") + F.lit(off))
        posts.append(post)
    merged_post = posts[0]
    for pdf in posts[1:]:
        merged_post = merged_post.unionByName(pdf)
    merged_post = merged_post.withColumn(
        "bucket", term_bucket("term", n_buckets)
    )
    out.write(merged_post, "postings", partition_by=["bucket"])

    # -- blocks + terms: re-encode under the merged normalizer ------------
    # same default salt width as a from-scratch build of this corpus size
    range_rows = default_range_rows(n_docs, block_size)
    m = out.read_manifest()
    m["config"] = {
        "n_buckets": n_buckets,
        "block_size": block_size,
        "range_rows": range_rows,
        "tail_df_threshold": tail_df_threshold,
    }
    out.write_manifest(m)

    blocks = encode_blocks(
        route_postings(out.postings(), avgdl, range_rows, tail_df_threshold),
        block_size, range_rows, n_buckets,
    ).repartition(n_buckets, "bucket")
    blocks.write.mode("overwrite").partitionBy("bucket").parquet(
        out.path("blocks")
    )
    out.write(terms_from_blocks(out, n_buckets), "terms")

    m = out.read_manifest()
    m["merged_from"] = fingerprint
    m["encode_avgdl"] = avgdl
    m["n_deletes"] = 0
    m["delta_gens"] = 0
    out.write_manifest(m)
    out.record_stage(
        "merge", out.path("blocks"), n_docs, time.time() - t0,
        {"shards": len(parts), "avg_doc_length": avgdl},
    )
    return out
