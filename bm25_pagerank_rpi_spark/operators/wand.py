"""Block-max pruned top-k scoring over compressed posting blocks — the
scale path (SURVEY.md §4 query-time scoring path (b)).

Rank-safe impact-ordered pruning inside ``applyInPandas``: each query's
candidate blocks are routed to one task (the posting data for a query's
terms is bounded; the per-term work is bounded further by pruning), scored
term-at-a-time in decreasing upper-bound order, with two protections:

1. OR -> CONTINUE switch: once the k-th best candidate's GUARANTEED final
   score (current score + sum of remaining negative potentials) exceeds the
   maximum total a still-unseen doc could reach (sum of remaining positive
   upper bounds), new docs can be ignored — only existing candidates keep
   accumulating (they receive every remaining contribution, so returned
   scores are EXACT).
2. Block skipping in CONTINUE mode: a block whose [min_doc, max_doc] range
   contains no current candidate is never decoded (this is where the
   per-block metadata pays off; with doc-ordered blocks the check is a
   binary search).

Handles negative IDF terms (features_test.go:77-89: idf = ln(N/(df+1)) can
be negative) — their upper bound for unseen docs is 0 (a doc that lacks the
term contributes nothing), and their negative potential is accounted in the
guarantee above.

Upper bounds use the stored per-block factor bounds:
  contribution(doc, term) = weight * factor, weight = multiplicity * idf
  ub(term)  = max(w*max_factor, w*min_factor) over its blocks
  lb(term)  = min(w*min_factor, w*max_factor, 0)

Property-pinned equivalent to the exact scorer (tests/test_wand.py):
identical doc sets and ranks, scores within 1e-12.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import MAX_DOCUMENTS
from ..functions.tokenize import split_tokens
from ..index import codec
from ..sources.catalog import IndexCatalog
from . import scorer

WAND_SCHEMA = "query_id string, doc_int long, bm25 double"
RANKED_SCHEMA = "query_id string, doc_int long, bm25 double, rank int"

# guard for the corpus-global tail shard: a query touching more tail terms
# than this sub-shards them by term hash, so a 1,000-term query's tail work
# fans out across tasks instead of concentrating in one (tail sub-shards
# accumulate exactly and their partial sums merge — each term's postings
# live in exactly one sub-shard, so per-doc contributions stay disjoint)
TAIL_TERMS_PER_SHARD = 32

# WandSession auto planning-mode threshold: vocabularies at or below this
# size collect term stats into a driver dict (zero Spark jobs per query);
# larger vocabularies plan via a Spark join over the cached term-stats
# DataFrame. 1M terms x ~60 bytes of stats ≈ 60 MB of driver heap — safe on
# any driver; a 10^9-term vocabulary would need ~60 GB and must stay
# distributed.
DRIVER_STATS_MAX_TERMS = 1_000_000


def _live_keep_mask(d: np.ndarray, deleted: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask over doc ids ``d`` against a SORTED tombstone
    array, or None when nothing needs masking. O(|d| log |deleted|)."""
    if deleted is None or deleted.size == 0 or d.size == 0:
        return None
    idx = np.minimum(np.searchsorted(deleted, d), deleted.size - 1)
    return deleted[idx] != d


def _score_one_query(
    pdf: pd.DataFrame,
    k: int,
    slack_pos: float = 0.0,
    slack_neg: float = 0.0,
    deleted: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Run impact-ordered pruned scoring for one query's block set.

    pdf columns: term, weight, block rows (count, min_doc, max_doc,
    max_factor, min_factor, docs_enc, tfs_enc, factors_enc, block_id).
    Returns (top_doc_ints, top_scores) sorted by (score desc, doc_int asc).

    ``slack_pos``/``slack_neg`` bound the query's contributions living
    OUTSIDE this shard (the corpus-global tail-term blocks, scored in a
    dedicated shard and summed afterwards): pruning thresholds shift by
    the slack so a doc is only dropped when even its maximum possible
    tail contribution cannot lift it into the global top-k, and the
    emitted candidate set widens from top-k to every doc whose
    score+slack_pos reaches the k-th guaranteed total.
    """
    terms = []
    for term, g in pdf.groupby("term", sort=False):
        w = float(g["weight"].iloc[0])
        g = g.sort_values("block_id")
        ub = max(
            (max(w * r.max_factor, w * r.min_factor) for r in g.itertuples()),
            default=0.0,
        )
        lb = min(
            (min(w * r.max_factor, w * r.min_factor) for r in g.itertuples()),
            default=0.0,
        )
        terms.append({"w": w, "blocks": g, "pos_ub": max(ub, 0.0), "neg_lb": min(lb, 0.0)})
    terms.sort(key=lambda t: -t["pos_ub"])

    n = len(terms)
    suffix_pos = np.zeros(n + 1)
    suffix_neg = np.zeros(n + 1)
    for i in range(n - 1, -1, -1):
        suffix_pos[i] = suffix_pos[i + 1] + terms[i]["pos_ub"]
        suffix_neg[i] = suffix_neg[i + 1] + terms[i]["neg_lb"]

    cand_docs = np.empty(0, dtype=np.int64)  # kept sorted
    cand_scores = np.empty(0, dtype=np.float64)
    or_mode = True

    for i, t in enumerate(terms):
        w = t["w"]
        if or_mode:
            parts_d, parts_s = [], []
            for r in t["blocks"].itertuples():
                d, _tf, f = codec.decode_block(r)
                parts_d.append(d)
                parts_s.append(w * f)
            if parts_d:
                d_all = np.concatenate(parts_d)
                s_all = np.concatenate(parts_s)
                # tombstone masking at ADMISSION time: a deleted doc must
                # never occupy a top-k slot (it would displace a live doc
                # from the shard's candidate set). AND-mode below only adds
                # to already-admitted candidates, so this is the one gate.
                keep = _live_keep_mask(d_all, deleted)
                if keep is not None:
                    d_all, s_all = d_all[keep], s_all[keep]
                # merge into sorted accumulator
                merged_docs = np.concatenate([cand_docs, d_all])
                merged_scores = np.concatenate([cand_scores, s_all])
                uniq, inv = np.unique(merged_docs, return_inverse=True)
                acc = np.zeros(uniq.size)
                np.add.at(acc, inv, merged_scores)
                cand_docs, cand_scores = uniq, acc
            # can we stop admitting new docs? (an unseen doc's potential
            # includes the out-of-shard tail slack)
            if cand_docs.size >= k and suffix_pos[i + 1] + slack_pos < _kth_guarantee(
                cand_scores, suffix_neg[i + 1] + slack_neg, k
            ):
                or_mode = False
        else:
            for r in t["blocks"].itertuples():
                lo = np.searchsorted(cand_docs, r.min_doc, side="left")
                hi = np.searchsorted(cand_docs, r.max_doc, side="right")
                if lo >= hi:
                    continue  # block-max skip: no candidate in range
                d, _tf, f = codec.decode_block(r)
                idx = np.searchsorted(cand_docs, d)
                idx_clipped = np.minimum(idx, cand_docs.size - 1)
                hit = cand_docs[idx_clipped] == d
                np.add.at(cand_scores, idx_clipped[hit], (w * f)[hit])

    if slack_pos == 0.0 and slack_neg == 0.0:
        order = np.lexsort((cand_docs, -cand_scores))[:k]
        return cand_docs[order], cand_scores[order]
    if cand_docs.size == 0:
        return cand_docs, cand_scores
    # emit every doc whose max total (score + slack_pos) reaches the k-th
    # guaranteed total (score + slack_neg) — a superset of the shard top-k
    g = cand_scores + slack_neg
    kth_g = float(g.min()) if g.size <= k else float(np.partition(g, -k)[-k])
    keep = (cand_scores + slack_pos) >= kth_g
    d, s = cand_docs[keep], cand_scores[keep]
    order = np.lexsort((d, -s))
    return d[order], s[order]


def _accumulate_all(
    pdf: pd.DataFrame, deleted: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Exact unpruned accumulation of a block set — used for the
    corpus-global tail shard(s), whose total posting volume is bounded by
    (#tail query terms x max df of tail-routed terms). With exact head
    detection that max df is tail_df_threshold; the sampled detection at
    scale (plans/index_build.py) can route a near-threshold term to tail,
    so the bound is ~threshold, not strictly it. Queries touching many
    tail terms sub-shard by term hash (TAIL_TERMS_PER_SHARD)."""
    parts_d, parts_s = [], []
    for _term, g in pdf.groupby("term", sort=False):
        w = float(g["weight"].iloc[0])
        for r in g.sort_values("block_id").itertuples():
            d, _tf, f = codec.decode_block(r)
            parts_d.append(d)
            parts_s.append(w * f)
    if not parts_d:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    d_all = np.concatenate(parts_d)
    s_all = np.concatenate(parts_s)
    keep = _live_keep_mask(d_all, deleted)
    if keep is not None:
        d_all, s_all = d_all[keep], s_all[keep]
    uniq, inv = np.unique(d_all, return_inverse=True)
    acc = np.zeros(uniq.size)
    np.add.at(acc, inv, s_all)
    return uniq, acc


def _kth_guarantee(scores: np.ndarray, tail_neg: float, k: int) -> float:
    """k-th largest guaranteed-final score among current candidates."""
    guaranteed = scores + tail_neg
    if guaranteed.size <= k:
        return float(guaranteed.min())
    return float(np.partition(guaranteed, -k)[-k])


def _make_wand_fn(
    k: int,
    slack: dict[str, tuple[float, float]],
    deleted: np.ndarray | None = None,
):
    # full type hints: pyspark's group_ops inspects the signature and emits
    # a UserWarning per run when they are missing
    def fn(key: tuple[str, int], pdf: pd.DataFrame) -> pd.DataFrame:
        query_id, range_id = key  # key = (query_id, range_id)
        if int(range_id) < 0:  # tail shard (possibly hash-sub-sharded)
            docs, scores = _accumulate_all(pdf, deleted)
        else:
            sp, sn = slack.get(query_id, (0.0, 0.0))
            docs, scores = _score_one_query(pdf, k, sp, sn, deleted)
        return pd.DataFrame(
            {"query_id": query_id, "doc_int": docs, "bm25": scores}
        )

    return fn


def _make_merge_topk_fn(k: int):
    """Final merge for one query: sum per-doc partials across shards
    (contributions are disjoint by construction), rank by (bm25 desc,
    doc_int asc), keep top-k. One pandas group per query replaces the
    previous sum-aggregate + row_number window — one shuffle instead of
    two, at the same concentration point (the window's
    partitionBy(query_id) already gathered every candidate of a query
    into one task). Input volume is bounded by #probed shards * k +
    tail-shard postings."""

    # full type hints: pyspark's group_ops inspects the signature and
    # emits a UserWarning per run when they are missing
    def fn(key: tuple[str], pdf: pd.DataFrame) -> pd.DataFrame:
        (query_id,) = key
        summed = pdf.groupby("doc_int", as_index=False)["bm25"].sum()
        summed = summed.sort_values(
            ["bm25", "doc_int"], ascending=[False, True], kind="mergesort"
        ).head(k)
        out = pd.DataFrame(
            {
                "query_id": query_id,
                "doc_int": summed["doc_int"].to_numpy(),
                "bm25": summed["bm25"].to_numpy(),
                "rank": np.arange(1, len(summed) + 1, dtype=np.int32),
            }
        )
        return out

    return fn


def wand_topk(
    cat: IndexCatalog,
    queries: DataFrame,
    k: int = MAX_DOCUMENTS,
) -> DataFrame:
    """(query_id, doc_id, doc_int, bm25, rank) — block-max pruned path,
    rank-identical to ``query_exact.rank_from_index``.

    Distribution: work shards on (query_id, doc-range). The index builds
    blocks per (term, range_id) over GLOBAL doc-int ranges, so every
    shard holds the complete postings of its doc interval for every
    query term — per-shard pruned scoring is exact for its docs, and the
    union of per-shard top-k is a superset of the global top-k (merged
    by one window). A query over 10^12 turns therefore fans out across
    executors instead of funneling every posting block into one task;
    per-shard pruning keeps its block-skip power because thresholds only
    strengthen as candidates accumulate within the shard.

    One-shot entry point: reads terms/blocks/meta from the catalog per
    call. A serving process answering many queries should hold a
    :class:`WandSession` instead (terms/meta/blocks cached across calls)."""
    spark = cat.spark
    plan = _plan_spark(spark, queries, _term_stats(cat))
    if plan is None:
        return _empty_result(spark)
    return _execute_plan(
        spark, plan, _blocks(cat),
        cat.doc_meta().select("doc_int", "doc_id"), k,
        deleted=cat.deleted_doc_ints(),
    )


def _require_v3(cat: IndexCatalog, df: DataFrame, column: str) -> DataFrame:
    """Indexes written before the stored WAND shard key (``range_id`` in
    blocks) and the adaptive tail salt (``has_tail`` in terms) cannot be
    served; fail with the fix instead of an AnalysisException."""
    if column not in df.columns:
        raise ValueError(
            f"index at {cat.root} has no {column} column — index format too "
            "old, rebuild with plans.index_build.build_index"
        )
    return df


def _term_stats(cat: IndexCatalog) -> DataFrame:
    """Per-term stats projection for query planning."""
    return _require_v3(cat, cat.terms(), "has_tail").select(
        "term", "idf", "bucket", "max_factor", "min_factor", "has_tail"
    )


def _blocks(cat: IndexCatalog) -> DataFrame:
    """Blocks table with its stored WAND shard key ``range_id``."""
    return _require_v3(cat, cat.blocks(), "range_id")


@dataclass
class _QueryPlan:
    """Driver-side result of query planning: the per-(query, term) weight
    grid plus the pruning keys and rank-safety slack derived from it."""
    qt: list[tuple[str, str, float]]          # (query_id, term, weight)
    buckets: list[int]
    terms: list[str]
    slack: dict[str, tuple[float, float]]     # query_id -> (pos, neg)
    n_tail_terms: int


def _plan_from_rows(rows) -> _QueryPlan | None:
    """Build the plan from (query_id, term, weight, bucket, max_factor,
    min_factor, has_tail) records — the shared kernel of the Spark-join
    planning (one-shot path) and the driver-dict planning (WandSession)."""
    if not rows:
        return None
    # tail slack per query: bounds on the contribution a doc can collect
    # from the corpus-global tail shard(s) — what keeps ranged-shard
    # pruning rank-safe when a query mixes head and tail terms. Using the
    # term's GLOBAL factor bounds slightly overestimates the tail part for
    # terms that also have ranged blocks (delta segments) — conservative.
    slack: dict[str, tuple[float, float]] = {}
    tail_terms: set[str] = set()
    for r in rows:
        if r[6]:
            _qid, _term, w, _b, maxf, minf = r[0], r[1], r[2], r[3], r[4], r[5]
            tail_terms.add(_term)
            ub = max(w * maxf, w * minf, 0.0)
            lb = min(w * maxf, w * minf, 0.0)
            sp, sn = slack.get(_qid, (0.0, 0.0))
            slack[_qid] = (sp + ub, sn + lb)
    return _QueryPlan(
        qt=[(r[0], r[1], float(r[2])) for r in rows],
        buckets=sorted({r[3] for r in rows}),
        terms=sorted({r[1] for r in rows}),
        slack=slack,
        n_tail_terms=len(tail_terms),
    )


def _plan_spark(
    spark: SparkSession, queries: DataFrame, tstats: DataFrame
) -> _QueryPlan | None:
    """Planning via a Spark join against the (possibly parquet-backed)
    term-stats relation — the one-shot path, which never collects the
    vocabulary. Cost: one small job per call."""
    # query terms with multiplicity -> weight = mult * idf (duplicate query
    # terms contribute once per occurrence, features_test.go:498-513)
    qocc = scorer.query_term_occurrences(queries)
    mult = qocc.groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("mult"))
    qt = (
        mult.join(tstats, "term")
        .select(
            "query_id", "term",
            (F.col("mult").cast("double") * F.col("idf")).alias("weight"),
            "bucket", "max_factor", "min_factor", "has_tail",
        )
    )
    return _plan_from_rows([tuple(r) for r in qt.collect()])


def _plan_local(
    query_rows: list[tuple[str, str]],
    stats: dict[str, tuple[float, int, float, float, int]],
) -> _QueryPlan | None:
    """Pure-driver planning against an in-memory term-stats dict: zero
    Spark jobs. Tokenization is ``functions.tokenize.split_tokens``, the
    pinned Python twin of ``tokens_col`` (tests/test_tokenize.py)."""
    rows = []
    for qid, text in query_rows:
        for term, mult in Counter(split_tokens(text)).items():
            st = stats.get(term)
            if st is None:
                continue  # no postings -> term contributes nothing
            idf, bucket, maxf, minf, has_tail = st
            rows.append((qid, term, mult * idf, bucket, maxf, minf, has_tail))
    return _plan_from_rows(rows)


def _execute_plan(
    spark: SparkSession,
    plan: _QueryPlan,
    all_blocks: DataFrame,
    meta: DataFrame,
    k: int,
    deleted: "np.ndarray | None" = None,
) -> DataFrame:
    qt_df = spark.createDataFrame(
        plan.qt, "query_id string, term string, weight double"
    )
    # range_id is STORED per block (all blocks covering a doc interval share
    # it, across batch-built and incrementally-appended segments), so the
    # shard mapping is independent of block_id arithmetic
    blocks = (
        all_blocks
        .filter(F.col("bucket").isin(plan.buckets))  # partition pruning
        .filter(F.col("term").isin(plan.terms))      # row-group pruning
        .join(F.broadcast(qt_df), "term")
    )
    # tail-shard guard: fan a many-tail-term query's corpus-global work
    # out over ceil(#tail terms / TAIL_TERMS_PER_SHARD) hash sub-shards
    n_tail_shards = max(1, math.ceil(plan.n_tail_terms / TAIL_TERMS_PER_SHARD))
    if n_tail_shards > 1:
        blocks = blocks.withColumn(
            "range_id",
            F.when(
                F.col("range_id") < 0,
                F.lit(-1) - F.pmod(F.xxhash64("term"), F.lit(n_tail_shards)),
            ).otherwise(F.col("range_id")),
        )
    partial = blocks.groupBy("query_id", "range_id").applyInPandas(
        _make_wand_fn(k, plan.slack, deleted), WAND_SCHEMA
    )
    # a doc's score may be split between its doc-range shard and the
    # tail shard(s); contributions are disjoint by construction (each
    # term's postings live in exactly one shard), so summing partials
    # reconstructs the exact BM25 before the top-k merge
    ranked = partial.groupBy("query_id").applyInPandas(
        _make_merge_topk_fn(k), RANKED_SCHEMA
    )
    return ranked.join(meta, "doc_int").select(
        "query_id", "doc_id", "doc_int", "bm25", "rank"
    )


class WandSession:
    """Warm serving mode: the per-request state the reference API keeps in
    process memory (/root/reference/cmd/api/main.go:27,86-126 loads ranking
    data once at startup and serves per-request HTTP) becomes cached
    DataFrames reused across ``topk`` calls.

    What is cached and why:
    - term stats: collected ONCE into a driver-side dict (term -> idf /
      bucket / factor bounds / has_tail) — the same vocab-sized table the
      reference API process holds in memory. Per-query planning then runs
      in pure Python with ZERO Spark jobs; previously the plan was a
      Spark join + collect per request, a whole extra job that floored
      warm latency. The mode switches AUTOMATICALLY on vocabulary size
      (``driver_stats=None``, the default): at most
      ``driver_stats_max_terms`` (default 1M) terms are collected; a
      larger vocabulary falls back to Spark-join planning over a cached
      term-stats DataFrame so a 10^9-term index can never OOM the driver.
      Pass ``driver_stats=True``/``False`` to force a mode.
    - ``doc_meta`` projection (doc_int, doc_id): joined after top-k.
    - ``blocks``: optionally preloaded (MEMORY_AND_DISK — an index larger
      than cluster memory spills instead of failing). Per-query bucket +
      term filters still prune on the cached partitions.

    ``close()`` unpersists everything; the session is also a context
    manager."""

    def __init__(
        self,
        cat: IndexCatalog,
        preload_blocks: bool = True,
        driver_stats: bool | None = None,
        low_latency: bool = True,
        driver_stats_max_terms: int = DRIVER_STATS_MAX_TERMS,
    ):
        self.cat = cat
        # serving tunables, restored at close(): the session defaults are
        # build-sized (AQE on, initialPartitionNum = cores*16), so every
        # per-query shuffle plans hundreds of partitions plus an AQE
        # re-plan barrier — pure scheduling latency, since serving
        # shuffles carry only per-shard partial top-k rows. One wave of
        # tasks (shuffle.partitions = total cores) is the latency-optimal
        # width for a dedicated serving cluster.
        self._saved_conf: dict[str, str] = {}
        if low_latency:
            spark = cat.spark
            for key, val in (
                ("spark.sql.adaptive.enabled", "false"),
                (
                    "spark.sql.shuffle.partitions",
                    str(spark.sparkContext.defaultParallelism),
                ),
            ):
                self._saved_conf[key] = spark.conf.get(key)
                spark.conf.set(key, val)
        self.meta = cat.doc_meta().select("doc_int", "doc_id").persist()
        # tombstones snapshot: queries in this session mask the delete set
        # as of session open (the reference API's load-once consistency
        # model); call refresh_deletes() after out-of-band deletions
        self.deleted = cat.deleted_doc_ints()
        self._preloaded = preload_blocks
        if preload_blocks:
            from pyspark import StorageLevel

            self.blocks = _blocks(cat).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        else:
            self.blocks = _blocks(cat)
        # auto mode: collect the vocabulary into the driver only when it is
        # small enough to be safe there; otherwise stay distributed. The
        # vocab size comes from the build manifest (a local JSON read) and
        # falls back to one count() job for indexes without a terms stage
        # entry (e.g. hand-assembled catalogs in tests).
        if driver_stats is None:
            n_terms = self._vocab_size()
            driver_stats = n_terms <= driver_stats_max_terms
        self._stats: dict[str, tuple[float, int, float, float, int]] | None
        if driver_stats:
            self._stats = {
                r.term: (r.idf, r.bucket, r.max_factor, r.min_factor, r.has_tail)
                for r in _term_stats(cat).collect()
            }
            self.terms = None
        else:
            self._stats = None
            self.terms = _term_stats(cat).persist()
            self.terms.count()
        # materialize the caches now (warmup), not inside the first request
        self.meta.count()
        if preload_blocks:
            self.blocks.count()

    def _vocab_size(self) -> int:
        """Distinct-term count of the served index, preferring the build
        manifest's terms-stage row count over a Spark job."""
        st = self.cat.read_manifest().get("stages", {}).get("terms", {})
        rows = st.get("rows")
        if rows is not None:
            return int(rows)
        return self.cat.terms().count()

    @property
    def planning_mode(self) -> str:
        """'driver' (in-process dict planning) or 'spark' (join planning)."""
        return "driver" if self._stats is not None else "spark"

    def topk(self, queries: DataFrame, k: int = MAX_DOCUMENTS) -> DataFrame:
        """Same contract as :func:`wand_topk`, over the cached state. With
        driver-side stats the queries frame is collected for planning
        (queries are tiny by contract — this is the serving path)."""
        spark = self.cat.spark
        if self._stats is not None:
            rows = [
                (r[0], r[1])
                for r in queries.select("query_id", "text").collect()
            ]
            plan = _plan_local(rows, self._stats)
        else:
            plan = _plan_spark(spark, queries, self.terms)
        if plan is None:
            return _empty_result(spark)
        return _execute_plan(
            spark, plan, self.blocks, self.meta, k, deleted=self.deleted
        )

    def topk_text(self, query_id: str, text: str, k: int = MAX_DOCUMENTS) -> DataFrame:
        """Single-query serving entry: with driver-side stats the ONLY
        Spark job launched is the scoring query itself."""
        spark = self.cat.spark
        if self._stats is not None:
            plan = _plan_local([(query_id, text)], self._stats)
            if plan is None:
                return _empty_result(spark)
            return _execute_plan(
                spark, plan, self.blocks, self.meta, k, deleted=self.deleted
            )
        q = spark.createDataFrame(
            [(query_id, text)], "query_id string, text string"
        )
        return self.topk(q, k)

    def refresh_deletes(self) -> None:
        """Re-read the tombstone set (after streaming.deletes.delete_docs
        ran against the catalog this session serves). Cheap: one collect
        of the bounded deletes table; the block/meta caches stay warm —
        deleted docs are masked at decode time, not purged from caches."""
        self.deleted = self.cat.deleted_doc_ints()

    def close(self) -> None:
        if self.terms is not None:
            self.terms.unpersist()
        self.meta.unpersist()
        if self._preloaded:
            self.blocks.unpersist()
        for key, val in self._saved_conf.items():
            self.cat.spark.conf.set(key, val)

    def __enter__(self) -> "WandSession":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _empty_result(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [], "query_id string, doc_id string, doc_int long, bm25 double, rank int"
    )
