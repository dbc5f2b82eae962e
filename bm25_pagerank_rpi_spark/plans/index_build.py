"""Inverted-index build pipeline: staged, salted, checkpoint-resumable.

The reference consumes a prebuilt index over HTTP
(/root/reference/internal/ranking/data_getters.go:43-76); this module is the
native replacement the north_rule requires — posting-list construction,
compression, segment layout, per-partition lineage + metrics.

Stages (each records a manifest entry; a re-run skips completed stages —
SURVEY.md §2.7 / §4 "checkpoint/resume"):

  1. doc_meta     — tokenize, doc_length, URL identity, and a deterministic
                    dense ``doc_int`` (ordinal of doc_id in string order:
                    per-range partitions + per-partition row_number + offset
                    join — no global single-partition sort, no RDDs).
                    Also writes corpus_stats (doc_count, avg_doc_length).
  2. postings     — the fused tokenize+TF ``mapInArrow`` kernel turns
                    (doc_int, doc_length, text) rows straight into
                    aggregated (term, doc_int, tf, doc_length[, positions])
                    postings; written term-bucketed for pruning.
  3. blocks       — delta+varint compressed, docID-sorted posting blocks
                    with block-max score metadata. Head-term skew is defused
                    STRUCTURALLY: grouping key is (term, range_id) where
                    range_id = doc_int // range_rows, so a hot term's
                    postings split into doc-contiguous sub-groups that
                    encode in parallel and remain globally doc-ordered —
                    a salted repartition whose salt preserves order, making
                    a separate segment-merge pass unnecessary.
  4. terms        — per-term df / idf / factor bounds (query-time broadcast).
  5. metrics      — per-bucket postings/bytes/skew-ratio lineage into the
                    manifest (the native replacement for the reference's
                    eval-service POST, internal/utils/evaluation.go:13-127).

Stages 2-4 are built from public pieces that every other index writer
reuses, so one rule has one definition: ``tf_postings`` (incremental
append), ``route_postings`` + ``encode_blocks`` (compaction, delta append,
minor compaction, merge, prune) and ``terms_from_blocks``.

Scale notes: stages shuffle on (doc_id), (bucket, doc stripe),
(term, range_id) respectively — all well-distributed keys; AQE + the range
salt bound the largest single task by range_rows regardless of term skew.
"""

from __future__ import annotations

import math
import time

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import B, K1
from ..functions.ordinal import dense_ordinal
from ..functions.tokenize import split_tokens, tokens_col
from ..index import codec
from ..sources.catalog import IndexCatalog, term_bucket
from ..sources.transcripts import with_doc_identity

BLOCK_SCHEMA = (
    "term string, range_id long, block_id long, n_postings int, "
    "min_doc long, max_doc long, "
    "max_factor double, min_factor double, "
    "docs_enc binary, tfs_enc binary, factors_enc binary"
)


def _make_encode_arrow_fn(
    block_size: int, blocks_per_range: int, block_id_base: int = 0
):
    """Partition encoder for ``mapInArrow``: input hash-distributed by
    (term, range_id) and sorted by (term, range_id, doc_int); a group
    spanning an Arrow batch boundary is buffered into the next batch (a
    group holds at most range_rows postings). The term column never
    converts to pandas object dtype — that conversion plus per-posting
    Python string compares were ~55-60% of the blocks stage in profile.
    All per-batch work is pyarrow.compute / numpy; see
    codec.encode_sorted_run_arrow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def _concat(b1: pa.RecordBatch, b2: pa.RecordBatch) -> pa.RecordBatch:
        tbl = pa.Table.from_batches([b1, b2]).combine_chunks()
        return tbl.to_batches()[0]

    def _encode(batch: pa.RecordBatch):
        return codec.encode_sorted_run_arrow(
            batch.column("term"),
            batch.column("range_id").to_numpy(),
            batch.column("doc_int").to_numpy(),
            batch.column("tf").to_numpy(),
            batch.column("factor").to_numpy(),
            block_size=block_size,
            blocks_per_range=blocks_per_range,
            block_id_base=block_id_base,
        )

    def fn(batches):
        pending: pa.RecordBatch | None = None
        for batch in batches:
            if pending is not None:
                batch = _concat(pending, batch)
                pending = None
            n = batch.num_rows
            if n == 0:
                continue
            # last (term, range_id) group may continue into the next batch
            terms = batch.column("term")
            rids = batch.column("range_id").to_numpy()
            change = np.empty(n, dtype=bool)
            change[0] = True
            if n > 1:
                change[1:] = pc.not_equal(
                    terms.slice(1, n - 1), terms.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False) | (rids[1:] != rids[:-1])
            last_start = int(np.flatnonzero(change)[-1])
            head, pending = batch.slice(0, last_start), batch.slice(last_start)
            if head.num_rows:
                out = _encode(head)
                if out is not None:
                    yield out
        if pending is not None and pending.num_rows:
            out = _encode(pending)
            if out is not None:
                yield out

    return fn


POSTINGS_SCHEMA = "term string, doc_int long, tf int, doc_length int"
POSTINGS_POS_SCHEMA = POSTINGS_SCHEMA + ", positions array<int>"


def _make_tokenize_tf_arrow_fn(with_positions: bool = False):
    """Fused tokenize+TF kernel for ``mapInArrow``: raw doc rows
    (doc_int, doc_length, text) in, AGGREGATED posting rows
    (term, doc_int, tf, doc_length[, positions]) out. Token occurrences
    never materialize as Spark rows, and the corpus-wide (term, doc)
    hash aggregate disappears entirely.

    ``with_positions`` additionally emits the sorted in-document token
    positions per posting (the reference posting contract,
    /root/reference/internal/ranking/types.go:92-96) as an
    ``array<int>``. Positions index into the empties-FILTERED token
    array (identical to ``posexplode(tokens_col(text))``), and arrive
    pre-sorted because the stable argsort preserves in-document token
    order within each (doc, term) group.

    The Arrow transfer is |docs| rows in and |postings| (already
    aggregated) rows out, and the grouping exploits the fact that a
    document's tokens are CONTIGUOUS: per-batch dictionary-encode (a
    C-speed hash over at most the batch's own vocabulary, which stays
    cache-resident) plus one stable argsort over a combined
    ``(row, code)`` int64 key replaces a global hash aggregate over tens
    of millions of near-unique (term, doc) groups, which misses DRAM on
    every probe.

    Tokenizer parity: ``pc.utf8_split_whitespace`` matches the Catalyst
    tokenizer (``tokens_col``) on the whole Unicode White_Space table
    EXCEPT ``\\x1c``-``\\x1f`` (file/group/record/unit separators —
    Arrow-whitespace but NOT White_Space). A batch containing any such
    byte re-splits through ``functions.tokenize.split_tokens`` instead.
    Pinned by tests/test_index_build.py::test_fused_kernel_parity."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            text = pc.fill_null(batch.column("text"), "")
            if pc.any(
                pc.match_substring_regex(text, "[\\x1c-\\x1f]")
            ).as_py():
                toks = pa.array(
                    [split_tokens(s) for s in text.to_pylist()],
                    type=pa.list_(pa.string()),
                )
            else:
                toks = pc.utf8_split_whitespace(text)
            flat = pc.list_flatten(toks)
            parents = pc.list_parent_indices(toks)
            # utf8_split_whitespace emits "" for leading/trailing runs;
            # tokens_col filters empties — do the same at the flat level
            keep = pc.not_equal(flat, "")
            flat = flat.filter(keep)
            parents = parents.filter(keep)
            if len(flat) == 0:
                continue
            denc = flat.dictionary_encode()
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            par = parents.to_numpy(zero_copy_only=False).astype(np.int64)
            k = len(denc.dictionary)
            n = len(codes)
            # one sorted pass over the batch's tokens; rows and codes are
            # both < 2^31 so row*k+code cannot overflow int64. kind=stable
            # keeps each group's elements in token order, which makes the
            # per-posting positions arrive pre-sorted.
            key = par * k + codes
            order = np.argsort(key, kind="stable")
            skey = key[order]
            gchange = np.empty(n, dtype=bool)
            gchange[0] = True
            gchange[1:] = skey[1:] != skey[:-1]
            gstarts = np.flatnonzero(gchange)
            counts = np.diff(np.append(gstarts, n))
            uniq = skey[gstarts]
            row_idx = pa.array(uniq // k, type=pa.int64())
            arrays = [
                denc.dictionary.take(pa.array(uniq % k, type=pa.int64())),
                pc.take(batch.column("doc_int"), row_idx),
                pa.array(counts.astype(np.int32)),
                pc.take(batch.column("doc_length"), row_idx),
            ]
            names = ["term", "doc_int", "tf", "doc_length"]
            if with_positions:
                # in-document position = token ordinal minus its row
                # segment's start; par is non-decreasing so segment
                # starts come from one change-point pass
                rchange = np.empty(n, dtype=bool)
                rchange[0] = True
                rchange[1:] = par[1:] != par[:-1]
                seg_start = np.maximum.accumulate(
                    np.where(rchange, np.arange(n, dtype=np.int64), 0)
                )
                pos = (np.arange(n, dtype=np.int64) - seg_start)[order]
                offsets = np.append(gstarts, n).astype(np.int32)
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(offsets, type=pa.int32()),
                        pa.array(pos.astype(np.int32), type=pa.int32()),
                    )
                )
                names.append("positions")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


def tf_postings(docs: DataFrame, with_positions: bool = False) -> DataFrame:
    """Aggregated postings (term, doc_int, tf, doc_length[, positions])
    from (doc_int, doc_length, text) rows through the fused kernel — the
    one postings plan, shared by build stage 2 and the incremental
    append (streaming/incremental.py)."""
    return docs.select("doc_int", "doc_length", "text").mapInArrow(
        _make_tokenize_tf_arrow_fn(with_positions),
        POSTINGS_POS_SCHEMA if with_positions else POSTINGS_SCHEMA,
    )


def bm25_factor(avgdl: float) -> Column:
    """The per-posting BM25 tf/length factor the blocks store
    (index/codec.py): (k1+1)*tf / (tf + k1*(1-b+b*dl/avgdl))."""
    tfd = F.col("tf").cast("double")
    dl = F.col("doc_length").cast("double")
    return (tfd * F.lit(K1 + 1.0)) / (
        tfd + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * (dl / F.lit(avgdl)))
    )


def default_range_rows(n_docs: int, block_size: int) -> int:
    """Default doc-range salt width: ~corpus/128 docs, so a hot term's
    postings split into ~128 doc-contiguous encode groups (the salt MUST
    engage for the blocks stage to scale with executors), and never
    narrower than two blocks."""
    return max(block_size * 2, math.ceil(max(n_docs, 1) / 128))


def route_postings(
    post: DataFrame,
    avgdl: float,
    range_rows: int,
    tail_df_threshold: int | None,
) -> DataFrame:
    """Score postings under the normalizer ``avgdl`` (``factor``) and
    attach the encode grouping key ``range_id``: order-preserving
    doc-range salt for head terms, corpus-global collapse (range_id = -1)
    for tail terms (df <= tail_df_threshold). Every full or delta encode
    routes through here, so compaction and delta segments apply the same
    layout policy as a from-scratch build — without this, the first
    compaction would silently re-fragment zipf-tail terms into singleton
    blocks."""
    post = post.withColumn("factor", bm25_factor(avgdl))
    if not tail_df_threshold or tail_df_threshold <= 0:
        # tail salt disabled: no df pre-pass, pure doc-range salt
        return post.withColumn(
            "range_id", (F.col("doc_int") / F.lit(range_rows)).cast("long")
        )
    # head-term detection only needs df RELATIVE to the threshold,
    # so at scale it runs on a deterministic 1/16 subset (hash of
    # the row key — independent of partitioning, so the index
    # layout stays build-deterministic) with a conservative x4
    # margin. Misrouting is BIASED toward head (a near-threshold
    # term usually samples above threshold/4), which costs only
    # range fragmentation; the opposite direction (df modestly
    # above threshold sampling below threshold/64 occurrences) has
    # vanishing but nonzero probability, so the tail-shard volume
    # bound is "~threshold per tail term", not a strict ceiling —
    # never a correctness issue either way (the WAND path handles
    # any head/tail mix via has_tail and sub-shards large tail
    # sets). Small thresholds (tests, tiny corpora) keep the
    # exact count. The head set is broadcast (zipf: it is the small
    # minority of the vocabulary); at extreme vocab (~10^7 head terms)
    # this broadcast becomes a bloom filter / runtime filter — a false
    # positive only leaves one tail term range-fragmented.
    sample_mod = 16 if tail_df_threshold >= 256 else 1
    cand = post.select("term", "doc_int")
    cutoff = tail_df_threshold
    if sample_mod > 1:
        cand = cand.filter(
            F.pmod(F.xxhash64("term", "doc_int"), F.lit(sample_mod)) == 0
        )
        cutoff = tail_df_threshold // 4
    head = (
        cand.groupBy("term")
        .agg((F.count(F.lit(1)) * sample_mod).alias("_df"))
        .filter(F.col("_df") > cutoff)
        .select("term", F.lit(True).alias("_head"))
    )
    return (
        post.join(F.broadcast(head), "term", "left")
        .withColumn(
            "range_id",
            F.when(
                F.col("_head").isNotNull(),
                (F.col("doc_int") / F.lit(range_rows)).cast("long"),
            ).otherwise(F.lit(-1).cast("long")),
        )
        .drop("_head")
    )


def encode_blocks(
    rows: DataFrame,
    block_size: int,
    range_rows: int,
    n_buckets: int,
    block_id_base: int = 0,
    n_postings: int = 0,
) -> DataFrame:
    """The block encoder: (term, range_id, doc_int, tf, factor) rows, with
    (term, range_id, doc_int) unique, in; BLOCK_SCHEMA rows plus ``bucket``
    out. Build stage 3, full and delta compaction, minor compaction, merge
    and prune all encode through here, so every index writer produces the
    same block layout for the same rows.

    The encode shuffle is sized by DATA, not cores: ``n_postings`` (when
    the caller knows it) bounds rows per task at ~2M, floored at two waves
    per core for small inputs and capped at 16x parallelism so a
    1000-executor cluster does not shuffle into millions of slivers. (The
    old cores*2 rule gave 8 cores only 16 partitions, so any skew in a
    wave became a straggler tail: 41.7 s vs 35.1 s at 32 partitions on a
    64M-posting input.)"""
    par = rows.sparkSession.sparkContext.defaultParallelism
    npart = min(
        max(math.ceil(max(n_postings, 1) / 2_000_000), par * 2, 8), par * 16
    )
    enc = _make_encode_arrow_fn(
        block_size, range_rows // block_size + 1, block_id_base
    )
    return (
        rows.select("term", "range_id", "doc_int", "tf", "factor")
        .repartition(npart, "term", "range_id")
        .sortWithinPartitions("term", "range_id", "doc_int")
        .mapInArrow(enc, schema=BLOCK_SCHEMA)
        .withColumn("bucket", term_bucket("term", n_buckets))
    )


def terms_from_blocks(cat: IndexCatalog, n_buckets: int) -> DataFrame:
    """Per-term stats from block METADATA (df = sum of block posting
    counts, factor bounds = extrema over blocks, idf from corpus_stats) —
    column pruning keeps the encoded binary columns out of the scan, so
    this is a metadata aggregation, not a decode. Build stage 4 and every
    re-encode write their terms table from this."""
    return (
        cat.blocks()
        .groupBy("term")
        .agg(
            F.sum("n_postings").alias("df"),
            F.max("max_factor").alias("max_factor"),
            F.min("min_factor").alias("min_factor"),
            F.count(F.lit(1)).cast("int").alias("n_blocks"),
            F.max((F.col("range_id") == -1).cast("int")).alias("has_tail"),
        )
        .crossJoin(F.broadcast(cat.corpus_stats()))
        .select(
            "term",
            "df",
            F.log(
                F.col("doc_count").cast("double")
                / (F.col("df") + F.lit(1)).cast("double")
            ).alias("idf"),
            "max_factor",
            "min_factor",
            "n_blocks",
            "has_tail",
            term_bucket("term", n_buckets).alias("bucket"),
        )
    )


_ENCODE_SESSION: SparkSession | None = None


def _encode_session(spark: SparkSession) -> SparkSession:
    """Clone of ``spark`` (shared SparkContext, isolated SQLConf) with
    2^19-row Arrow batches, created once per SparkContext. Larger batches
    amortize the encoder's per-batch boundary scan and pending-group
    concat (the 10k default gives ~75 batches per task), and scoping the
    override to the clone means a concurrent job on the caller's session
    — e.g. a streaming incremental encode in another thread — keeps the
    default Arrow batch size (pinned by
    test_streaming_incremental.py::test_build_batch_size_isolated)."""
    global _ENCODE_SESSION
    iso = _ENCODE_SESSION
    if iso is None or iso.sparkContext is not spark.sparkContext:
        iso = spark.newSession()
        iso.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(1 << 19))
        _ENCODE_SESSION = iso
    return iso


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    block_size: int = codec.DEFAULT_BLOCK_SIZE,
    range_rows: int | None = None,
    resume: bool = True,
    with_positions: bool = False,
    tail_df_threshold: int | None = None,
) -> IndexCatalog:
    """Run (or resume) the full build. Returns the catalog over ``out_dir``.

    ``range_rows`` (the doc-range salt width for stage 3) defaults to
    ``default_range_rows`` (~corpus/128). It is persisted in the manifest
    and reused on resume so a resumed build produces byte-identical block
    layout. Trade-off documented in §4: with a zipf vocabulary, global
    doc-ranges fragment the long tail (a df=10 term may split into 10
    single-posting blocks); ``tail_df_threshold`` (default
    ``block_size``) is the adaptive-salt cutoff: a term with
    df <= threshold skips doc-range salting entirely and encodes its
    postings as ONE corpus-global group (range_id = -1). Head terms keep
    the order-preserving range salt. The WAND path scores tail blocks in
    a dedicated per-query shard and sums partial scores, with tail-aware
    slack keeping ranged-shard pruning rank-safe (operators/wand.py).

    ``with_positions`` adds the per-posting token positions to the
    postings table (same fused kernel, same pass)."""
    # degenerate-input guard: a source read as a handful of partitions
    # (one small file, a broadcast-built frame) would serialize the
    # tokenize map chains onto those few cores
    min_part = spark.sparkContext.defaultParallelism
    if transcripts.rdd.getNumPartitions() < min_part:
        transcripts = transcripts.repartition(min_part * 2)

    cat = IndexCatalog(spark, out_dir)
    manifest = cat.read_manifest()
    prior = manifest.get("config", {})
    if range_rows is None:
        range_rows = prior.get("range_rows")  # resume keeps the layout
    if tail_df_threshold is None:
        tail_df_threshold = prior.get("tail_df_threshold", block_size)
    manifest["config"] = {
        "n_buckets": n_buckets,
        "block_size": block_size,
        "range_rows": range_rows,
        "tail_df_threshold": tail_df_threshold,
    }
    cat.write_manifest(manifest)
    # same write-parallelism rule for postings and blocks: co-locate
    # buckets, but do NOT cap the write at n_buckets tasks — sub-split each
    # bucket by a stripe so the write uses ~cluster parallelism while the
    # file count stays bounded at n_buckets x files_per_bucket
    files_per_bucket = max(
        1, (spark.sparkContext.defaultParallelism * 2) // n_buckets
    )

    def run_stage(name: str, fn):
        if resume and cat.stage_complete(name):
            return
        t0 = time.time()
        output, rows, metrics = fn()
        cat.record_stage(name, output, rows, time.time() - t0, metrics)
        # stage boundary hygiene: drop leaked cache entries and nudge the
        # JVM to collect shuffle/broadcast garbage NOW rather than during
        # the next stage's hot loop. In single-JVM local mode the GC debt
        # of one stage otherwise lands on the next stage's wall clock
        # (observed 2-4x slowdowns); on a real cluster this is a no-op
        # between jobs.
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # ---- stage 1: doc_meta + corpus_stats ----------------------------------
    def stage_doc_meta():
        t = with_doc_identity(transcripts)
        base = t.select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "url",
            F.size(tokens_col("text")).alias("doc_length"),
        )
        # per-partition ordinal + partition offsets = global dense ordinal
        # by doc_id order without a single-partition global sort
        meta, acc, pinned = dense_ordinal(base, "doc_id", "doc_int")
        out = cat.write(meta, "doc_meta")
        pinned.unpersist()
        dlen = cat.doc_meta().select("doc_length")
        stats = dlen.agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.avg("doc_length").alias("avg_doc_length"),
        )
        cat.write(stats, "corpus_stats")
        n = acc  # total from the offset pass; no extra count job
        return out, n, {"doc_count": n}

    run_stage("doc_meta", stage_doc_meta)

    if range_rows is None:
        n_docs = int(cat.read_manifest()["stages"]["doc_meta"]["rows"] or 0)
        range_rows = default_range_rows(n_docs, block_size)
        manifest = cat.read_manifest()
        manifest["config"]["range_rows"] = range_rows
        cat.write_manifest(manifest)

    # ---- stage 2: postings --------------------------------------------------
    def stage_postings():
        # attach (doc_int, doc_length) BEFORE tokenizing: the join moves
        # 1 row per doc instead of 1 per posting, and the write shuffle
        # keys on (bucket, doc_int) rather than the doc_id string. The
        # reference posting contract carries token positions
        # (documentIndex.Positions, types.go:92-96); the ranking math never
        # reads them, so they are opt-in — at 10^12 turns the positions
        # arrays dominate index storage
        meta = cat.doc_meta().select("doc_id", "doc_int", "doc_length")
        docs = with_doc_identity(transcripts).select("doc_id", "text").join(meta, "doc_id")
        post = (
            tf_postings(docs, with_positions)
            .withColumn("bucket", term_bucket("term", n_buckets))
            .repartition(
                n_buckets * files_per_bucket,
                "bucket",
                F.pmod(F.col("doc_int"), F.lit(files_per_bucket)),
            )
        )
        out, n = cat.write_counted(post, "postings", partition_by=["bucket"])
        return out, n, {"postings": n}

    run_stage("postings", stage_postings)

    # ---- stage 3: blocks ----------------------------------------------------
    def stage_blocks():
        _, avgdl = cat.scalar_stats()
        # adaptive salt: head terms (df > threshold) get doc-range groups;
        # tail terms collapse to ONE corpus-global group (range_id = -1),
        # so a df=10 term yields one 10-posting block instead of up to 10
        # singleton blocks (route_postings)
        post = _encode_session(spark).read.parquet(cat.path("postings"))
        n_post = int(cat.read_manifest()["stages"]["postings"]["rows"] or 0)
        blocks = encode_blocks(
            route_postings(post, avgdl, range_rows, tail_df_threshold),
            block_size, range_rows, n_buckets, n_postings=n_post,
        ).repartition(
            n_buckets * files_per_bucket,
            "bucket",
            F.pmod(F.col("block_id"), F.lit(files_per_bucket)),
        )
        out, n = cat.write_counted(blocks, "blocks", partition_by=["bucket"])
        return out, n, {"blocks": n}

    run_stage("blocks", stage_blocks)

    # ---- stage 4: terms -----------------------------------------------------
    def stage_terms():
        out, n = cat.write_counted(terms_from_blocks(cat, n_buckets), "terms")
        return out, n, {"terms": n}

    run_stage("terms", stage_terms)

    # ---- stage 5: per-partition lineage metrics -----------------------------
    def stage_metrics():
        per_bucket = (
            cat.blocks()
            .groupBy("bucket")
            .agg(
                F.sum("n_postings").alias("postings"),
                F.count(F.lit(1)).alias("blocks"),
                F.sum((F.col("n_postings") == 1).cast("long")).alias("singleton_blocks"),
                F.sum((F.col("range_id") == -1).cast("long")).alias("tail_blocks"),
                (
                    F.sum(F.octet_length("docs_enc"))
                    + F.sum(F.octet_length("tfs_enc"))
                    + F.sum(F.octet_length("factors_enc"))
                ).alias("bytes"),
            )
            .collect()
        )
        postings = [r.postings for r in per_bucket]
        total = int(sum(postings))
        metrics = {
            "buckets": len(per_bucket),
            "tail_df_threshold": tail_df_threshold,
            # fragmentation evidence: singleton blocks are the zipf-tail
            # failure mode the adaptive salt removes
            "singleton_blocks": int(sum(r.singleton_blocks for r in per_bucket)),
            "tail_blocks": int(sum(r.tail_blocks for r in per_bucket)),
            "total_blocks": int(sum(r.blocks for r in per_bucket)),
            "postings": total,
            "bytes_compressed": int(sum(r.bytes for r in per_bucket)),
            "bytes_per_posting": round(
                sum(r.bytes for r in per_bucket) / max(total, 1), 3
            ),
            "skew_ratio": round(
                max(postings) / (total / max(len(postings), 1)), 3
            ) if postings else 0.0,
            "per_bucket": [
                {"bucket": int(r.bucket), "postings": int(r.postings),
                 "blocks": int(r.blocks), "bytes": int(r.bytes)}
                for r in sorted(per_bucket, key=lambda r: r.bucket)
            ],
        }
        return None, total, metrics

    run_stage("metrics", stage_metrics)
    return cat


def build_trigram_index(
    cat: IndexCatalog,
    transcripts: DataFrame,
    n_buckets: int = 16,
    resume: bool = True,
) -> IndexCatalog:
    """Optional add-on build stage: the substring-search index
    (operators.retrieval_plus.substring_search_from_index).

    Writes two tables into the catalog:
      trigrams (trigram, doc_int, bucket) partitioned by bucket — distinct
        character 3-grams of the lowercased text; bucket =
        pmod(xxhash64(trigram), n_buckets) so a query's pattern trigrams
        prune the scan to their partitions;
      doc_text (doc_int, text) — the lowercased stored field for exact
        ``instr`` verification of candidates (pg_trgm's heap fetch).

    Scale shape: one tokenless projection + explode (no Python), one
    dynamic-partition write; ~(avg_chars-2) rows per doc before
    array_distinct. Resumable like the core stages via the manifest."""
    if resume and cat.stage_complete("trigrams"):
        return cat
    spark = cat.spark
    t0 = time.time()
    docs = with_doc_identity(transcripts).select("doc_id", "text")
    meta = cat.doc_meta().select("doc_id", "doc_int")
    lowered = docs.join(meta, "doc_id").select(
        "doc_int", F.lower(F.col("text")).alias("text")
    )
    cat.write(lowered, "doc_text")
    tri = F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(text) - 2, 0)),"
            " i -> substring(text, i, 3))"
        )
    )
    files_per_bucket = max(
        1, (spark.sparkContext.defaultParallelism * 2) // n_buckets
    )
    trigrams = (
        cat.read("doc_text")
        .select("doc_int", F.explode(tri).alias("trigram"))
        .withColumn("bucket", term_bucket("trigram", n_buckets))
        .repartition(
            n_buckets * files_per_bucket,
            "bucket",
            F.pmod(F.col("doc_int"), F.lit(files_per_bucket)),
        )
    )
    out, n = cat.write_counted(trigrams, "trigrams", partition_by=["bucket"])
    cat.record_stage(
        "trigrams", out, n, time.time() - t0, {"trigram_buckets": n_buckets}
    )
    return cat


def build_docnorm_index(cat: IndexCatalog, resume: bool = True) -> IndexCatalog:
    """Optional add-on build stage: per-document sparse tf-idf L2 norms
    (operators.retrieval_plus.similar_docs_from_index). Reads ONLY
    already-persisted tables — postings for (doc, term, tf), terms for df,
    corpus_stats for N — so it composes with resume at any point after the
    core stages.

    One postings-shaped scan + one doc_int hash agg; paid once at build
    time instead of once per similarity call (the norms relation is
    corpus-sized, the exact thing a per-query path cannot afford to
    recompute at 100 TB). Same idf convention as A3: ln(N/(df+1))."""
    if resume and cat.stage_complete("docnorms"):
        return cat
    t0 = time.time()
    doc_count, _ = cat.scalar_stats()
    w = (
        cat.postings()
        .select("doc_int", "term", "tf")
        .join(cat.terms().select("term", "df"), "term")
        .select(
            "doc_int",
            (
                F.col("tf").cast("double")
                * F.log(
                    F.lit(float(doc_count))
                    / (F.col("df") + F.lit(1)).cast("double")
                )
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_int").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    out, n = cat.write_counted(norms, "docnorms")
    cat.record_stage("docnorms", out, n, time.time() - t0, {})
    return cat


def build_forward_index(
    cat: IndexCatalog, n_doc_buckets: int = 16, resume: bool = True
) -> IndexCatalog:
    """Optional add-on build stage: the FORWARD index (per-document term
    vectors — Lucene's stored term-vector files, the inverse orientation
    of the postings table). Writes ``term_vectors`` (doc_int, term, tf
    [, positions], doc_bucket) partitioned by doc_bucket =
    pmod(doc_int, n_doc_buckets), so a by-document fetch
    (operators.introspect.term_vectors_from_index) prunes to the
    requested docs' partitions instead of scanning term-ordered
    postings end to end.

    Reads ONLY the persisted postings table — one re-orientation shuffle
    keyed by doc bucket, no corpus rescan, no Python. Inherits the
    positions column automatically when the index was built
    ``with_positions`` (the reference posting contract, types.go:92-96).
    Composes with resume like the other add-on stages."""
    if resume and cat.stage_complete("term_vectors"):
        return cat
    spark = cat.spark
    t0 = time.time()
    post = cat.postings()
    cols = ["doc_int", "term", "tf"]
    if "positions" in post.columns:
        cols.append("positions")
    files_per_bucket = max(
        1, (spark.sparkContext.defaultParallelism * 2) // n_doc_buckets
    )
    fwd = (
        post.select(*cols)
        .withColumn(
            "doc_bucket",
            F.pmod(F.col("doc_int"), F.lit(n_doc_buckets)).cast("int"),
        )
        .repartition(
            n_doc_buckets * files_per_bucket,
            "doc_bucket",
            F.pmod(F.col("doc_int"), F.lit(files_per_bucket)),
        )
    )
    out, n = cat.write_counted(fwd, "term_vectors", partition_by=["doc_bucket"])
    cat.record_stage(
        "term_vectors", out, n, time.time() - t0,
        {"n_doc_buckets": n_doc_buckets, "with_positions": "positions" in post.columns},
    )
    return cat
