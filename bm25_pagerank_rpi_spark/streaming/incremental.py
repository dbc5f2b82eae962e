"""Incremental index maintenance over an append-only transcript stream.

The reference is strictly request/response + offline batch (SURVEY.md
§2.7); this module is the Spark-native extra that makes the index keep
up with a growing corpus: Structured Streaming over the transcript
directory with ``Trigger.AvailableNow`` + ``foreachBatch``, each batch
appended as a SEGMENT (LSM-style). Cost is O(delta), not O(corpus):

  per batch (touches only the new turns):
    - new docs get doc_ints ABOVE the current maximum via the same
      range-partition + offset ordinal as the batch build (no
      single-partition window), so segment doc ranges are disjoint and
      posting blocks stay doc-ordered per term;
    - doc_meta + postings are APPENDED;
    - corpus_stats are recomputed (cheap single agg over doc lengths).
  per run (after all batches):
    - BM25's length normalizer avg_doc_length shifts as docs arrive.
      Re-encoding every block per append would be O(corpus), so the
      normalizer is FROZEN at the last compaction (``encode_avgdl`` in
      the manifest, Lucene-style): while relative drift stays under
      ``avgdl_epsilon`` only the NEW segments' postings are encoded
      (with the frozen normalizer, so all live blocks agree) and
      appended; per-term stats are re-aggregated from block METADATA
      (no decode, binary columns pruned from the scan). Scores between
      compactions are exact under the frozen normalizer — within an
      O(epsilon) band of true BM25.
    - when drift exceeds epsilon (or on the first run) the index
      COMPACTS: all blocks re-encode from the postings table with the
      current normalizer, restoring exact-BM25 parity with a
      from-scratch build.

Block identity across segments: every block stores its ``range_id``
(doc_int // range_rows), which is what the WAND path shards on — so a
doc interval's blocks land in one shard whether they came from the
batch build or a later segment. Delta-encoded blocks get block_ids in a
per-generation namespace (``gen * GEN_STRIDE``) so ids never collide
with earlier generations that already cover the same (term, range).

Exactly-once: the streaming checkpoint (``checkpointLocation``) dedupes
input files across restarts, so a crashed ingest run resumes without
double-appending — the streaming twin of the batch build's stage
manifests.
"""

from __future__ import annotations

from pyspark.errors.exceptions.base import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ordinal import dense_ordinal
from ..functions.tokenize import tokens_col
from ..index import codec
from ..plans.index_build import (
    encode_blocks,
    route_postings,
    terms_from_blocks,
    tf_postings,
)
from ..sources.catalog import IndexCatalog, term_bucket
from ..sources.transcripts import TRANSCRIPT_SCHEMA, with_doc_identity

DEFAULT_AVGDL_EPSILON = 0.01
GEN_STRIDE = 1 << 40  # block_id namespace per delta generation


def stream_transcripts(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-source stream over an append-only transcript directory."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )


def _next_doc_int(cat: IndexCatalog) -> int:
    """0 for a fresh catalog (doc_meta does not exist yet); any OTHER
    failure re-raises — silently re-basing at 0 on a transient read error
    would mint duplicate doc_ints and corrupt the doc-ordered segment
    invariant the WAND path depends on."""
    try:
        row = cat.doc_meta().agg(F.max("doc_int").alias("m")).collect()[0]
    except AnalysisException:
        return 0
    return int(row.m) + 1 if row.m is not None else 0


def append_segment(cat: IndexCatalog, batch: DataFrame, n_buckets: int = 32) -> int:
    """Append one micro-batch of transcripts as a new segment.
    Returns the number of turns appended."""
    base = _next_doc_int(cat)
    t = with_doc_identity(batch)
    dlen = t.select(
        "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "url",
        F.size(tokens_col("text")).alias("doc_length"),
    )
    # same distributed ordinal as the batch build stage 1 — no
    # single-partition Window even for a large backfill batch
    meta, n, pinned = dense_ordinal(dlen, "doc_id", "doc_int", base=base)
    meta.write.mode("append").parquet(cat.path("doc_meta"))
    pinned.unpersist()
    if n == 0:
        return 0

    # same fused tokenize+TF kernel as the batch build's postings stage
    docs = t.select("doc_id", "text").join(
        cat.doc_meta()
        .filter(F.col("doc_int") >= base)
        .select("doc_id", "doc_int", "doc_length"),
        "doc_id",
    )
    post = tf_postings(docs).withColumn("bucket", term_bucket("term", n_buckets))
    post.write.mode("append").partitionBy("bucket").parquet(cat.path("postings"))

    stats = cat.live_doc_meta().agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.avg("doc_length").alias("avg_doc_length"),
    )
    # write via temp + swap semantics: parquet overwrite is atomic enough
    # for a 1-row table under the single-writer ingest model
    stats.write.mode("overwrite").parquet(cat.path("corpus_stats"))
    m = cat.read_manifest()
    m.setdefault("segments", []).append({"base_doc_int": base, "turns": n})
    cat.write_manifest(m)
    return n


def _config(cat: IndexCatalog) -> tuple[int, int, int, int]:
    cfg = cat.read_manifest().get("config", {})
    n_buckets = int(cfg.get("n_buckets") or 32)
    block_size = int(cfg.get("block_size") or codec.DEFAULT_BLOCK_SIZE)
    range_rows = int(cfg.get("range_rows") or 1 << 20)
    # default matches build_index: threshold = block_size
    tail_df_threshold = int(cfg.get("tail_df_threshold", block_size))
    return n_buckets, block_size, range_rows, tail_df_threshold


def compact(cat: IndexCatalog) -> None:
    """Full re-encode of every block under the CURRENT avg_doc_length —
    restores exact-BM25 parity with a from-scratch build of the LIVE
    corpus. O(corpus); runs only when drift exceeds epsilon (or on the
    first ingest). Purges tombstones first (streaming/deletes.py), so the
    re-encode below reads only live postings and the rebuilt terms table
    unfreezes df/idf to live values — the segment-merge half of the
    Lucene deletion model."""
    from .deletes import purge_deletes

    purge_deletes(cat)
    n_buckets, block_size, range_rows, tail_df_threshold = _config(cat)
    _, avgdl = cat.scalar_stats()
    blocks = encode_blocks(
        route_postings(cat.postings(), avgdl, range_rows, tail_df_threshold),
        block_size, range_rows, n_buckets,
    ).repartition(n_buckets, "bucket")
    blocks.write.mode("overwrite").partitionBy("bucket").parquet(cat.path("blocks"))
    cat.write(terms_from_blocks(cat, n_buckets), "terms")
    m = cat.read_manifest()
    m["encode_avgdl"] = avgdl
    m["delta_gens"] = 0
    m.setdefault("encodes", []).append({"type": "full", "avgdl": avgdl})
    cat.write_manifest(m)


def append_delta_blocks(cat: IndexCatalog, min_doc_int: int) -> None:
    """Encode ONLY postings with doc_int >= min_doc_int (the segments
    appended this run) under the FROZEN normalizer and append them.
    The doc_int predicate pushes down to the postings scan, and because
    segment files hold disjoint doc_int ranges, parquet row-group stats
    prune every pre-existing file — the encode cost is O(delta). Tail
    routing is decided on the delta's own df (most delta terms are
    tail-sized), so a term may hold both ranged and tail blocks across
    generations — the WAND path scores that mix exactly (has_tail +
    partial-sum merge)."""
    n_buckets, block_size, range_rows, tail_df_threshold = _config(cat)
    m = cat.read_manifest()
    avgdl = float(m["encode_avgdl"])
    gen = int(m.get("delta_gens", 0)) + 1
    post = cat.postings().filter(F.col("doc_int") >= min_doc_int)
    blocks = encode_blocks(
        route_postings(post, avgdl, range_rows, tail_df_threshold),
        block_size, range_rows, n_buckets, block_id_base=gen * GEN_STRIDE,
    )
    blocks.write.mode("append").partitionBy("bucket").parquet(cat.path("blocks"))
    cat.write(terms_from_blocks(cat, n_buckets), "terms")
    m = cat.read_manifest()
    m["delta_gens"] = gen
    m.setdefault("encodes", []).append(
        {"type": "delta", "avgdl": avgdl, "min_doc_int": min_doc_int}
    )
    cat.write_manifest(m)


DEFAULT_MINOR_COMPACT_GENS = 8


_DECODED_SCHEMA = "term string, range_id long, doc_int long, tf long, factor double"


def _decode_blocks(batches):
    """``mapInArrow`` decoder: block rows in, one (term, range_id, doc_int,
    tf, factor) row per posting out — the encoder's input shape, with the
    stored factor passed through unchanged."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        if batch.num_rows == 0:
            continue
        decoded = [
            codec.decode_block({"docs_enc": d, "tfs_enc": t, "factors_enc": f})
            for d, t, f in zip(
                batch.column("docs_enc").to_pylist(),
                batch.column("tfs_enc").to_pylist(),
                batch.column("factors_enc").to_pylist(),
            )
        ]
        owner = pa.array(
            np.repeat(np.arange(batch.num_rows), [d.size for d, _, _ in decoded])
        )
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("term").take(owner),
                batch.column("range_id").take(owner),
                pa.array(np.concatenate([d for d, _, _ in decoded])),
                pa.array(np.concatenate([t for _, t, _ in decoded])),
                pa.array(np.concatenate([f for _, _, f in decoded])),
            ],
            names=["term", "range_id", "doc_int", "tf", "factor"],
        )


def minor_compact(cat: IndexCatalog) -> int:
    """Collapse delta-generation block fragments per (term, range_id)
    WITHOUT re-scoring (VERDICT r2 #6): every live block was encoded
    under the same frozen normalizer, so merging is decode + doc-sort +
    re-encode of identical (doc, tf, factor) triples — scores stay
    bit-identical (pinned by test_minor_compaction_*). Only groups whose
    layout actually improves are decoded (more blocks than a dense
    packing needs); untouched blocks pass through as stored rows. Returns
    the number of merged groups. The rewrite goes through a temp
    directory + rename (single-writer ingest model, same as
    corpus_stats)."""
    import os
    import shutil

    n_buckets, block_size, range_rows, _ = _config(cat)
    blk = cat.blocks()
    frag_keys = (
        blk.groupBy("term", "range_id")
        .agg(F.count(F.lit(1)).alias("_nb"), F.sum("n_postings").alias("_np"))
        .filter(F.col("_nb") > F.ceil(F.col("_np") / F.lit(block_size)))
        .select("term", "range_id")
    )
    n_frag = frag_keys.count()
    if n_frag == 0:
        return 0
    frag = blk.join(frag_keys, ["term", "range_id"])
    keep = blk.join(frag_keys, ["term", "range_id"], "left_anti")
    # decode the fragments to posting rows and re-encode them through the
    # build's encoder in the base (gen-0) block_id namespace; generations
    # hold disjoint doc ranges, so (term, range_id, doc_int) stays unique
    rows = frag.select(
        "term", "range_id", "docs_enc", "tfs_enc", "factors_enc"
    ).mapInArrow(_decode_blocks, _DECODED_SCHEMA)
    merged = encode_blocks(rows, block_size, range_rows, n_buckets)
    out = keep.select(*merged.columns).unionByName(merged)
    tmp = cat.path("blocks") + "._compacting"
    out.repartition(n_buckets, "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(tmp)
    final = cat.path("blocks")
    shutil.rmtree(final)
    os.rename(tmp, final)
    cat.write(terms_from_blocks(cat, n_buckets), "terms")
    m = cat.read_manifest()
    m["delta_gens"] = 0
    m.setdefault("encodes", []).append({"type": "minor", "merged_groups": n_frag})
    cat.write_manifest(m)
    return n_frag


def refresh_blocks(
    cat: IndexCatalog,
    min_doc_int: int,
    epsilon: float,
    minor_compact_after: int = DEFAULT_MINOR_COMPACT_GENS,
) -> str:
    """Epsilon-gated encode step after an ingest run: delta-append while
    the frozen normalizer is within ``epsilon`` relative drift of the
    true avg_doc_length, full compaction otherwise; after
    ``minor_compact_after`` accumulated delta generations the fragments
    are merged in place (pure block merge under the frozen normalizer —
    see :func:`minor_compact`). Returns the action taken ("delta",
    "delta+minor", or "full")."""
    m = cat.read_manifest()
    frozen = m.get("encode_avgdl")
    _, avgdl = cat.scalar_stats()
    if frozen is not None and abs(avgdl - float(frozen)) <= epsilon * float(frozen):
        append_delta_blocks(cat, min_doc_int)
        if int(cat.read_manifest().get("delta_gens", 0)) >= minor_compact_after:
            minor_compact(cat)
            return "delta+minor"
        return "delta"
    compact(cat)
    return "full"


def run_incremental_build(
    spark: SparkSession,
    in_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 32,
    avgdl_epsilon: float = DEFAULT_AVGDL_EPSILON,
    minor_compact_after: int = DEFAULT_MINOR_COMPACT_GENS,
) -> IndexCatalog:
    """Ingest all currently-available transcript files (AvailableNow),
    appending segments per micro-batch, then refresh blocks once at the
    end of the run (delta-append under the frozen normalizer, or full
    compaction when avg_doc_length drifted past ``avgdl_epsilon``).
    Re-running after new files appear ingests only the delta
    (checkpointed file source)."""
    cat = IndexCatalog(spark, index_dir)
    m = cat.read_manifest()
    m.setdefault("config", {}).setdefault("n_buckets", n_buckets)
    cat.write_manifest(m)
    run_base = _next_doc_int(cat)
    appended = {"n": 0}

    def handle(batch: DataFrame, batch_id: int) -> None:
        appended["n"] += append_segment(cat, batch, n_buckets=n_buckets)

    q = (
        stream_transcripts(spark, in_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if appended["n"]:
        refresh_blocks(cat, run_base, avgdl_epsilon, minor_compact_after)
    return cat
