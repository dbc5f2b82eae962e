"""One benchmark leg in a fresh process: set-up, a measured window of
``--seconds``, then the correctness checks (untimed). Writes one JSON result
to ``--out``. ``run.py`` starts this; it is not meant to be run by hand.

Workloads:
  serve   base index built and ``WandSession`` opened in set-up; then a
          closed loop (one client) of single warm queries with 64-query
          batches between them. No writes, so block pruning can fire.
  ingest  base index built in set-up; then cycles of append -> delete ->
          refresh -> marker query, the query a one-shot ``wand_topk`` that
          reads the catalog fresh.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time

import numpy as np

import checks
import codec_bench
import inputs
import trace

N_TURNS = 10_000          # base corpus turns (both workloads)
BATCH_QUERIES = 64        # serve: queries per batch call
SINGLES_PER_BATCH = 4     # serve: single queries between two batches (one before the first)
INGEST_TURNS = 500        # ingest: turns appended per cycle
INGEST_DELETES = 50       # ingest: turns tombstoned per cycle
ORACLE_PER_BATCH = 16     # serve: queries per batch compared with the oracle


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Leg:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.seed = args.seed
        self.rng = np.random.default_rng([args.seed, 7])
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.samples: dict[str, list[float]] = {}
        self.layers: dict[str, float] = {}
        self.report: dict[str, tuple[float, str, int]] = {}
        self.t_start = time.perf_counter()
        self.timeline: dict[str, float] = {}

    def mark(self, what: str) -> None:
        """Process wall time at the end of ``what`` (for sizing the run)."""
        self.timeline[what] = round(time.perf_counter() - self.t_start, 2)

    # -- bookkeeping ---------------------------------------------------------
    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, op: str, what: str) -> None:
        """Record a failed operation (one entry per operation)."""
        self.failures.setdefault(op, what)

    def check(self, op: str, err: str | None) -> None:
        if err is not None:
            self.fail(op, err)

    # -- set-up shared by both workloads -------------------------------------
    def start(self) -> None:
        from bm25_pagerank_rpi_spark.session import get_spark

        extra = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp")}
        if self.args.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            extra.update(trace.event_log_conf(os.path.join(self.work, "eventlog")))
        t0 = time.perf_counter()
        cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.spark = get_spark("perfbench", cores=cores, extra_conf=extra)
        self.setup_s = time.perf_counter() - t0
        self.tracer = trace.Tracer(self.spark.sparkContext, bool(self.args.trace))
        self.mark("spark")

    def build_base(self) -> None:
        """Materialize the seeded corpus and build the base index into a
        fresh directory (``resume=False``)."""
        import pyarrow.parquet as pq

        from bm25_pagerank_rpi_spark.plans.index_build import build_index

        self.corpus = inputs.make_turns(self.rng, N_TURNS, "c")
        self.df = inputs.term_df(self.corpus.text)
        t0 = time.perf_counter()
        path = os.path.join(self.work, "corpus.parquet")
        pq.write_table(self.corpus.arrow(), path)
        transcripts = self.spark.read.parquet(path)
        t1 = time.perf_counter()
        self.index_dir = os.path.join(self.work, "index")
        with self.tracer.span("build_index", "build", "base"):
            self.cat = build_index(self.spark, transcripts, self.index_dir, resume=False)
        t2 = time.perf_counter()
        self.setup_s += t2 - t0
        self.build_s = t2 - t1
        self.mark("build")
        self.attempted += 1
        stages = self.cat.read_manifest()["stages"]
        if stages["doc_meta"]["rows"] != N_TURNS:
            self.fail("build", f"doc_meta has {stages['doc_meta']['rows']} rows, corpus {N_TURNS}")
        m = stages["metrics"]["metrics"]
        for st in ("doc_meta", "postings", "blocks", "terms", "metrics"):
            self.layers[f"build.{st}_s"] = stages[st]["seconds"]
        self.layers.update({
            "build.postings": m["postings"],
            "build.blocks": m["total_blocks"],
            "build.terms": stages["terms"]["rows"],
            "build.singleton_blocks": m["singleton_blocks"],
            "build.tail_blocks": m["tail_blocks"],
            "build.skew_ratio": m["skew_ratio"],
            "codec.bytes_per_posting": m["bytes_compressed"] / m["postings"],
        })
        want_postings = sum(self.df.values())
        if m["postings"] != want_postings:
            self.fail("build", f"{m['postings']} postings, corpus has {want_postings}")

    # -- per-layer helpers (traced runs only) ---------------------------------
    def load_terms(self) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(self.cat.path("terms"), columns=["term", "df", "n_blocks"]).to_pydict()
        self.terms = {w: (d, b) for w, d, b in zip(t["term"], t["df"], t["n_blocks"])}
        bs = self.cat.read_manifest()["config"]["block_size"]
        need = sum(-(-d // bs) for d, _ in self.terms.values())
        self.layers["index.block_fragmentation"] = sum(b for _, b in self.terms.values()) / need

    def eligibility(self, text: str) -> None:
        present = [self.terms[w] for w in set(text.split()) if w in self.terms]
        self.sample("wand.eligible_blocks_per_query", sum(b for _, b in present))
        self.sample("wand.eligible_postings_per_query", sum(d for d, _ in present))

    def codec_layer(self) -> None:
        self.layers.update(codec_bench.run(self.index_dir, np.random.default_rng([self.seed, 11])))

    # -- serve -----------------------------------------------------------------
    def serve(self) -> None:
        from bm25_pagerank_rpi_spark.operators import wand

        t0 = time.perf_counter()
        with self.tracer.span("WandSession", "open", "0"):
            self.session = wand.WandSession(self.cat)
        self.layers["wand.session_open_s"] = time.perf_counter() - t0
        gen = inputs.QueryGen(self.rng, self.df)
        singles = gen.stream(400, "s")
        batches = []
        for i in range(100):
            k = inputs.draw_k(self.rng)
            qs = gen.stream(BATCH_QUERIES, f"b{i}_", k)
            checked = [qs[j] for j in sorted(self.rng.choice(BATCH_QUERIES, ORACLE_PER_BATCH, replace=False))]
            batches.append((qs, k, checked))
        # warm-up: the first call compiles the scoring plan
        self.session.topk_text("warm", singles[-1].text, k=1000).collect()
        self.setup_s += time.perf_counter() - t0
        if self.args.trace:
            self.load_terms()

        # (queries, k, rows, tombstones, queries compared with the oracle);
        # the oracle set is fixed by the seed before the window opens
        answers = []
        n_single = n_batch = 0
        batch_q = batch_s = 0.0
        self.mark("setup")
        t_end = time.perf_counter() + self.args.seconds
        op = 0
        while op < 2 or time.perf_counter() < t_end:
            # one single, a batch, then a batch after every SINGLES_PER_BATCH
            # singles: every window, however short, holds a batch
            if op % (SINGLES_PER_BATCH + 1) == 1:
                qs, k, checked = batches[n_batch]
                qdf = self.spark.createDataFrame([(q.query_id, q.text) for q in qs], "query_id string, text string")
                self.attempted += len(qs)
                with self.tracer.span("topk", "batch", str(n_batch)):
                    t0 = time.perf_counter()
                    rows = self.session.topk(qdf, k=k).collect()
                    batch_s += time.perf_counter() - t0
                batch_q += len(qs)
                answers.append((qs, k, rows, frozenset(), checked))
                n_batch += 1
            else:
                q = singles[n_single]
                rows = self.single_query(q, lambda: self.session.topk_text(q.query_id, q.text, k=q.k))
                answers.append(([q], q.k, rows, frozenset(), [q]))
                n_single += 1
            op += 1

        self.mark("measure")
        self.query_p50 = statistics.median(self.samples["query_s"])
        self.rate = batch_q / batch_s
        self.report.update({
            "query_p50_s": (self.query_p50, "s", n_single),
            "batch_qps": (self.rate, "queries/s", n_batch),
        })
        self.index_bytes = du(self.index_dir) / self.corpus.text_bytes()
        self.check_answers(answers, dict(zip(self.corpus.doc_ids, self.corpus.text)))
        self.session.close()

    def single_query(self, q: inputs.Query, plan) -> list:
        """Time one query: ``plan()`` returns the lazy result frame, then its
        rows are collected."""
        self.attempted += 1
        with self.tracer.span("query", "query", q.query_id):
            t0 = time.perf_counter()
            with self.tracer.span("plan", "query", q.query_id):
                df = plan()
            t1 = time.perf_counter()
            with self.tracer.span("collect", "query", q.query_id):
                rows = df.collect()
            t2 = time.perf_counter()
        self.sample("query_s", t2 - t0)
        self.sample("wand.plan_s", t1 - t0)
        self.sample("wand.exec_s", t2 - t1)
        if self.args.trace:
            self.eligibility(q.text)
        return rows

    # -- ingest ----------------------------------------------------------------
    def ingest(self) -> None:
        from bm25_pagerank_rpi_spark.operators import wand
        from bm25_pagerank_rpi_spark.streaming import deletes, incremental

        live = dict(zip(self.corpus.doc_ids, self.corpus.text))
        deleted: set[str] = set()
        actions: dict[str, int] = {}
        answers = []  # (answer as in serve, live corpus for the oracle or None)
        appended = 0
        write_s = 0.0
        self.mark("setup")
        t_end = time.perf_counter() + self.args.seconds
        cycle = 0
        while cycle == 0 or time.perf_counter() < t_end:
            marker = f"mk{self.seed}x{cycle}"
            batch = inputs.make_turns(self.rng, INGEST_TURNS, f"n{cycle:03d}_", marker=marker)
            bdf = self.spark.createDataFrame(batch.arrow(first_gid=N_TURNS + cycle * INGEST_TURNS))
            self.attempted += 1
            with self.tracer.span("append_segment", "append", str(cycle)):
                t0 = time.perf_counter()
                n = incremental.append_segment(self.cat, bdf)
                t1 = time.perf_counter()
            if n != INGEST_TURNS:
                self.fail(f"append{cycle}", f"{n} turns appended, sent {INGEST_TURNS}")
            base = self.cat.read_manifest()["segments"][-1]["base_doc_int"]
            live.update(zip(batch.doc_ids, batch.text))

            pool = sorted(set(live) - set(batch.doc_ids))
            victims = [pool[i] for i in self.rng.choice(len(pool), INGEST_DELETES, replace=False)]
            self.attempted += 1
            with self.tracer.span("delete_docs", "delete", str(cycle)):
                t2 = time.perf_counter()
                nd = deletes.delete_docs(self.cat, victims)
                t3 = time.perf_counter()
            self.sample("delete_s", t3 - t2)
            if nd != INGEST_DELETES:
                self.fail(f"delete{cycle}", f"{nd} tombstones, sent {INGEST_DELETES}")
            deleted.update(victims)
            for v in victims:
                del live[v]

            # the first refresh after a batch build is a full compaction
            # (purges tombstones, re-encodes under the live normalizer);
            # later ones take the epsilon-gated delta path
            with self.tracer.span("refresh_blocks", "refresh", str(cycle)):
                t4 = time.perf_counter()
                action = incremental.refresh_blocks(self.cat, base, incremental.DEFAULT_AVGDL_EPSILON)
                t5 = time.perf_counter()
            appended += n
            write_s += (t1 - t0) + (t5 - t4)
            self.sample("ingest.append_s", t1 - t0)
            self.sample("ingest.refresh_s", t5 - t4)
            actions[action] = actions.get(action, 0) + 1
            if self.args.trace:
                self.load_terms()

            # after a full compaction the index equals a fresh build of the
            # live corpus, so answers must match the oracle exactly; between
            # compactions df/idf stay frozen (the documented epsilon band)
            exact = dict(live) if action == "full" else None
            q = inputs.Query(f"m{cycle}", marker, 1000)
            rows = self.single_query(q, lambda: wand.wand_topk(
                self.cat, self.spark.createDataFrame([(q.query_id, q.text)], "query_id string, text string"), k=q.k))
            answers.append((([q], q.k, rows, frozenset(deleted), [q] if exact else []), exact))
            if sorted(r["doc_id"] for r in rows) != sorted(batch.doc_ids):
                self.fail(q.query_id, f"marker {marker}: {len(rows)} docs, batch has {INGEST_TURNS}")
            cycle += 1

        self.mark("measure")
        self.query_p50 = statistics.median(self.samples["query_s"])
        self.rate = appended / write_s
        delete_p50 = statistics.median(self.samples["delete_s"])
        self.report.update({
            "ingest_turns_per_s": (self.rate, "turns/s", cycle),
            "delete_p50_s": (delete_p50, "s", cycle),
            "fresh_query_p50_s": (self.query_p50, "s", len(self.samples["query_s"])),
        })
        self.layers.update({
            "ingest.delta_refreshes": actions.get("delta", 0) + actions.get("delta+minor", 0),
            "ingest.minor_compactions": actions.get("delta+minor", 0),
            "ingest.full_compactions": actions.get("full", 0),
            "ingest.delete_s": delete_p50,
        })
        self.index_bytes = du(self.index_dir) / sum(len(t.encode("utf-8")) for t in live.values())
        for answer, texts in answers:
            self.check_answers([answer], texts)

    # -- checks ----------------------------------------------------------------
    def check_answers(self, answers, texts: dict[str, str] | None) -> None:
        """Structural checks on every answer against the tombstones live when
        it was issued; each answer's ``checked`` queries are also compared
        with the oracle over ``texts``, the live corpus."""
        oracle = None
        for qs, k, rows, dead, checked in answers:
            got = checks.by_query(rows)
            for q in qs:
                self.check(q.query_id, checks.structural(got.get(q.query_id, []), k, dead))
            for q in checked:
                oracle = oracle or checks.Oracle(texts)
                self.check(q.query_id, oracle.compare(q.text, k, got.get(q.query_id, [])))

    # -- result ----------------------------------------------------------------
    def result(self, rss_mb: float) -> dict:
        e2e = {
            "setup_s": self.setup_s,
            "build_turns_per_s": N_TURNS / self.build_s,
            "index_bytes_per_text_byte": self.index_bytes,
            "query_p50_s": self.query_p50,
            "throughput_per_s": self.rate,
        }
        self.layers["peak_rss_mb"] = rss_mb
        for name in ("wand.plan_s", "wand.exec_s", "wand.eligible_blocks_per_query",
                     "wand.eligible_postings_per_query", "ingest.append_s", "ingest.refresh_s"):
            if name in self.samples:
                self.layers[name] = statistics.median(self.samples[name])
        self.report.update({
            "setup_s": (self.setup_s, "s", 1),
            "build_turns_per_s": (e2e["build_turns_per_s"], "turns/s", 1),
            "index_bytes_per_text_byte": (self.index_bytes, "ratio", 1),
            "peak_rss_mb": (rss_mb, "MiB", 1),
        })
        return {
            "workload": self.args.workload,
            "seed": self.seed,
            "trace": self.args.trace,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failures": dict(list(self.failures.items())[:20]),
            "e2e": e2e,
            "report": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in self.report.items()},
            "layers": self.layers,
            "timeline": self.timeline,
        }

    def spark_layers(self) -> None:
        """After ``spark.stop()``: event log -> per-phase Spark metrics."""
        groups = trace.parse_event_log(os.path.join(self.work, "eventlog"))
        spans = self.tracer.spans
        bulk = ("batch",) if self.args.workload == "serve" else ("append", "refresh", "delete")
        common = {"build": ("build",), "query": ("query",), "bulk": bulk}
        phases = trace.phase_metrics(groups, spans, common)
        for phase, vals in phases.items():
            for k, v in vals.items():
                self.layers[f"spark.{phase}.{k}"] = v
        n_queries = sum(1 for sp in spans if sp.phase == "query" and sp.parent is None)
        for k in ("jobs", "stages", "tasks"):
            self.layers[f"wand.{k}_per_query"] = phases["query"][k] / n_queries
        own = ({"serve.single": ("query",), "serve.batch": ("batch",)}
               if self.args.workload == "serve" else
               {"ingest.append": ("append",), "ingest.refresh": ("refresh",),
                "ingest.delete": ("delete",), "ingest.query": ("query",)})
        self.report_phases = trace.phase_metrics(groups, spans, own)
        self.tracer.dump(os.path.join(self.work, "spans.jsonl"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("serve", "ingest"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    leg = Leg(args)
    with trace.RssSampler() as rss:
        leg.start()
        try:
            leg.build_base()
            getattr(leg, args.workload)()
            leg.mark("checks")
            if args.trace:
                leg.codec_layer()
        finally:
            leg.spark.stop()
            leg.mark("stop")
    out = leg.result(rss.peak_mb)
    if args.trace:
        leg.spark_layers()
        out["report_phases"] = leg.report_phases
        out["layers"] = leg.layers
    shutil.rmtree(os.path.join(leg.work, "index"), ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
