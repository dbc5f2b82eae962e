"""Static impact-ordered index pruning (Carmel et al., SIGIR 2001).

Keeps only the ``keep_df`` highest-impact postings of every term — impact
= the encoded BM25 term factor ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
with a deterministic ``(factor DESC, doc_int ASC)`` tie-break — and
re-encodes blocks from the survivors. Web-scale serving tiers do exactly
this: a pruned first-tier index answers most queries from a fraction of
the postings, with the full index as the fallback tier.

Scoring semantics (pinned by the ``pruned_index_topk`` driver pair):

- **idf stays frozen at full-corpus df** (the terms table carries the
  source catalog's df/idf, like Lucene docFreq across deletes) — pruning
  drops low-impact postings, it does not pretend the corpus shrank;
- a surviving (term, doc) posting contributes EXACTLY the score it had
  in the full index (same avgdl normalizer, copied corpus_stats);
- factor bounds in the terms table tighten to the survivors' extrema, so
  WAND upper bounds get sharper, not stale.

Scale shape: the per-term top-m selection is the classic two-phase
pattern — a deterministic salt (``doc_int % n_salt``) splits a zipf-head
term's postings into bounded groups, each keeps its local top-m (any
partition of the rows yields a superset of the global top-m), then the
global top-m ranks over at most ``m * n_salt`` rows per term. No term,
however hot, ever ranks its full posting list in one window partition.
The re-encode is the same single (term, range_id) shuffle every encode
pays (index_build.encode_blocks). The reference serves
posting fetches through one index contract
(/root/reference/internal/ranking/data_getters.go:17-40); a pruned
catalog serves that same contract over the surviving postings.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..index import codec
from ..sources.catalog import IndexCatalog, term_bucket
from .index_build import (
    bm25_factor,
    default_range_rows,
    encode_blocks,
    route_postings,
    terms_from_blocks,
)


def prune_index(
    spark: SparkSession,
    cat: IndexCatalog,
    out_dir: str,
    keep_df: int,
    n_salt: int = 64,
    resume: bool = True,
) -> IndexCatalog:
    """Write a pruned copy of ``cat`` at ``out_dir`` keeping at most
    ``keep_df`` postings per term. Tombstones are purged on the way (a
    pruned tier is rebuilt, never patched)."""
    if keep_df < 1:
        raise ValueError("keep_df must be >= 1")
    out = IndexCatalog(spark, out_dir)
    if resume and out.stage_complete("prune") and (
        out.read_manifest().get("pruned_from") == [cat.root, keep_df]
    ):
        return out

    cfg = cat.read_manifest().get("config", {})
    block_size = int(cfg.get("block_size") or codec.DEFAULT_BLOCK_SIZE)
    n_buckets = int(cfg.get("n_buckets") or 32)
    tail_df_threshold = int(cfg.get("tail_df_threshold", block_size))
    t0 = time.time()

    # live corpus metadata is copied verbatim: pruning must not change the
    # normalizer or the doc identity space
    out.write(cat.live_doc_meta(), "doc_meta")
    out.write(cat.corpus_stats(), "corpus_stats")
    n_docs, avgdl = out.scalar_stats()

    post = cat.postings().select("term", "doc_int", "tf", "doc_length")
    if cat.n_deletes():
        post = post.join(F.broadcast(cat.deletes()), "doc_int", "left_anti")

    order = [F.desc("factor"), F.asc("doc_int")]
    # phase 1: local top-m per (term, deterministic salt) — bounded groups
    w1 = Window.partitionBy("term", "salt").orderBy(*order)
    # phase 2: global top-m over the <= m*n_salt survivors per term
    w2 = Window.partitionBy("term").orderBy(*order)
    kept = (
        post.withColumn("factor", bm25_factor(avgdl))
        .withColumn("salt", F.pmod(F.col("doc_int"), F.lit(n_salt)))
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= keep_df)
        .withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= keep_df)
        .select(
            "term", "doc_int", "tf", "doc_length",
            term_bucket("term", n_buckets).alias("bucket"),
        )
    )
    out.write(kept, "postings", partition_by=["bucket"])

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

    # terms: FROZEN df/idf from the source catalog, survivor factor
    # extrema/block counts from the new blocks — an inner join, so terms
    # whose postings were all tombstone-purged drop out with their blocks
    survivors = terms_from_blocks(out, n_buckets)
    terms = (
        survivors.drop("df", "idf")
        .join(cat.terms().select("term", "df", "idf"), "term")
        .select(*survivors.columns)
    )
    out.write(terms, "terms")

    m = out.read_manifest()
    m["pruned_from"] = [cat.root, keep_df]
    m["encode_avgdl"] = avgdl
    m["n_deletes"] = 0
    m["delta_gens"] = 0
    out.write_manifest(m)
    out.record_stage(
        "prune", out.path("blocks"), n_docs, time.time() - t0,
        {"keep_df": keep_df, "avg_doc_length": avgdl},
    )
    return out
