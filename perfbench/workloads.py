"""One workload run in this process, against the engine's public API.

Started by ``run.py`` in a fresh process (so a fresh JVM) with the
environment already sized for the host; writes its result as JSON to
``--out`` and prints a one-line human report of every metric it
measured. A single closed-loop client issues every operation: the next
one starts when the previous one has returned.

Workloads (see BENCHMARK.json for why each exists):

  search_dist  Zipf corpus prepared with ``collect_doclen_max=0`` so
               every query runs the per-shard scorer job; needle queries.
  code_lsm     code corpus: bulk base build, then cycles of ingest ->
               delete -> reload -> cold identifier queries -> compaction.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time

import numpy as np

from pyspark.sql import functions as F

from alertsage_spark.index.compress import decode_posting_list
from alertsage_spark.index.merge import maybe_compact
from alertsage_spark.index.segments import (
    TOMBSTONE_TERM,
    build_segments,
    delete_docs,
    load_index,
)
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.wand import SERVING_COUNTERS, wand_topk
from alertsage_spark.session import get_spark, local_df
from alertsage_spark.sources.code_corpus import prepare_code_corpus
from alertsage_spark.streaming.ingest import ingest_batch
from alertsage_spark.synth import code_corpus, zipf_corpus
from alertsage_spark.tokenizer import code_query_terms, tokenize_py

from perfbench import corpora
from perfbench.trace import Tracer

K = 10
N_SHARDS = 16
SCORE_TOL = 1e-6
# queries of the untimed warm-up set-up: without them, distributed
# serving keeps getting faster (JIT) through its first ~20 s in a fresh JVM
WARM_QUERIES = 12

# corpus sizes and per-run sample counts; "tiny" is the self-test scale
SIZES = {
    "full": {
        "setup_reps": 2,
        "warm_docs": 500,
        "dist_docs": 16_000,
        "dist_checks": 4,
        "code_base": 600,
        "code_batch": 60,
        "code_deletes": 6,
        "code_burst": 64,
        "code_checks": 3,
        "code_min_cycles": 1,
    },
    "tiny": {
        "setup_reps": 2,
        "warm_docs": 100,
        "dist_docs": 1_000,
        "dist_checks": 2,
        "code_base": 200,
        "code_batch": 30,
        "code_deletes": 5,
        "code_burst": 3,
        "code_checks": 1,
        "code_min_cycles": 1,
    },
}

LAYERS = (
    "session", "tokenizer", "index.segments", "index.compress",
    "index.merge", "streaming.ingest", "query.wand",
)


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else float("nan")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return statistics.mean(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def same_topk(got: list[tuple], want: list[tuple]) -> str | None:
    """None when ``got`` is rank-identical to ``want`` (doc ids and ranks
    equal, scores within SCORE_TOL); else what differs."""
    if [(d, r) for d, _s, r in got] != [(d, r) for d, _s, r in want]:
        return f"doc ids/ranks differ: got {got[:3]}... want {want[:3]}..."
    for (d, s, _r), (_d, w, _w) in zip(got, want):
        if abs(s - w) > SCORE_TOL:
            return f"score of doc {d} differs: {s} vs {w}"
    return None


def topk_rows(rows) -> list[tuple]:
    """Collected top-k rows as [(doc_id, score, rank)] in rank order."""
    return sorted(
        ((int(r["doc_id"]), float(r["score"]), int(r["rank"])) for r in rows),
        key=lambda h: h[2],
    )


def oracle_topk(oracle: BM25Oracle, text: str, deleted: set) -> list[tuple]:
    """Oracle top-k with tombstoned docs removed. Corpus statistics keep
    counting them until the next compaction, as the engine's do."""
    hits = oracle.topk(text, k=K + len(deleted))
    live = [(d, s) for d, s, _r in hits if d not in deleted][:K]
    return [(d, s, i + 1) for i, (d, s) in enumerate(live)]


class Run:
    """State and measurements of one workload run."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.corrupt = args.corrupt
        self.size = SIZES[args.scale]
        self.tmp = args.tmp
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.n_queries = 0
        self.q_ms: list[float] = []  # untraced query latencies
        self.q_traced_ms: list[float] = []
        self.q_wait_s = 0.0  # client time spent in untraced query calls
        self.q_fast = 0
        self.q_dist = 0
        self.q_probe_ns = 0
        self.cache_miss: list[float] = []
        self.setup_s: list[float] = []
        self.build_s: list[float] = []
        self.build_docs = 0
        self.index_bytes_ratio = float("nan")
        self.extra: dict = {}  # report-line only values
        self.session_start_s = 0.0

    # ------------------------------------------------------------ helpers
    def path(self, name: str) -> str:
        return os.path.join(self.tmp, "idx", name)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def start_session(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("session", "get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                    ),
                },
            )
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark.sparkContext)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        gw.close()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return float("nan")
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def setup(self, once, n_docs: int):
        """Set the index up ``setup_reps`` times, each from scratch into a
        fresh directory, after one untimed, untraced warm-up set-up on a
        small corpus (JIT, Python workers); keep the last one.
        ``once(rep, n_docs)`` returns ``(index, index_dir, docs_df)``."""
        prev, self.tracer.enabled = self.tracer.enabled, False
        t0 = time.perf_counter()
        out = once("warm", self.size["warm_docs"])
        self.extra["warm_s"] = time.perf_counter() - t0
        self.tracer.enabled = prev
        self.build_s.clear()
        for rep in range(self.size["setup_reps"]):
            out[0].segments.unpersist()
            shutil.rmtree(out[1], ignore_errors=True)
            t0 = time.perf_counter()
            with self.tracer.span("bench", f"setup{rep}"):
                out = once(rep, n_docs)
            self.setup_s.append(time.perf_counter() - t0)
        self.build_docs = n_docs
        return out

    def build(self, docs, index_dir: str, mode: str, n_groups: int = 1, fidelity=None):
        t0 = time.perf_counter()
        with self.tracer.span("index.segments", "build_segments"):
            build_segments(
                self.spark, docs, index_dir, n_shards=N_SHARDS, n_groups=n_groups,
                mode=mode, fidelity_hashes=fidelity,
            )
        self.build_s.append(time.perf_counter() - t0)

    def load(self, index_dir: str, **prepare_kw):
        with self.tracer.span("index.segments", "load_index"):
            idx = load_index(self.spark, index_dir)
        with self.tracer.span("index.segments", "prepare_for_queries"):
            idx.prepare_for_queries(**prepare_kw)
        return idx

    def query_terms(self, idx, text: str) -> list[str]:
        if idx.stats.get("mode") == "code" and idx.df_map is not None:
            return sorted(set(code_query_terms(text, idx.df_map.__contains__)))
        return sorted(set(tokenize_py(text)))

    def serve(self, idx, qid: str, text: str) -> list[tuple] | None:
        """One top-k query through ``wand_topk`` + ``collect``; returns
        [(doc_id, score, rank)] or None when the call raised. In a traced
        run every other query is traced, so the untraced half measures
        the tracing overhead."""
        tr = self.tracer
        traced = self.trace and self.n_queries % 2 == 0
        self.n_queries += 1
        self.attempted += 1
        prev, tr.enabled = tr.enabled, traced
        try:
            with tr.span("bench", "query"):
                if traced:
                    with tr.span("tokenizer", "query_terms"):
                        terms = self.query_terms(idx, text)
                    cache = idx.term_rows_cache or {}
                    if terms:
                        self.cache_miss.append(
                            sum(t not in cache for t in terms) / len(terms)
                        )
                before = dict(SERVING_COUNTERS)
                t0 = time.perf_counter()
                with tr.span("query.wand", "wand_topk"):
                    df = wand_topk(self.spark, idx, [(qid, text)], k=K, algo="auto")
                with tr.span("query.wand", "collect"):
                    rows = df.collect()
                dt = time.perf_counter() - t0
                self.q_fast += SERVING_COUNTERS["fast_path"] - before["fast_path"]
                self.q_dist += SERVING_COUNTERS["distributed"] - before["distributed"]
                self.q_probe_ns += SERVING_COUNTERS["probe_ns"] - before["probe_ns"]
                if traced:
                    self.q_traced_ms.append(dt * 1e3)
                    self._decode(idx, terms)
                else:
                    self.q_ms.append(dt * 1e3)
                    self.q_wait_s += dt
        except Exception as e:  # one failed query must not end the run
            self.fail(f"query {qid} {text!r}: {type(e).__name__}: {e}")
            return None
        finally:
            tr.enabled = prev
        return topk_rows(rows)

    def _decode(self, idx, terms: list[str]) -> None:
        """Traced runs only: decode the query's posting lists with the
        codec's public decoder, as its own span."""
        cache = idx.term_rows_cache or {}
        if all(t in cache for t in terms):
            rows = [r for t in terms for r in cache[t]]
        else:  # distributed serving keeps no term rows on the driver
            rows = (
                idx.segments.filter(F.col("term").isin(terms))
                .select("doc_bytes", "tf_bytes", "block_doc_offsets", "block_tf_offsets")
                .collect()
            )
        with self.tracer.span("index.compress", "decode_posting_list"):
            for r in rows:
                decode_posting_list(r)

    def check(self, what: str, got: list[tuple] | None, want: list[tuple]) -> None:
        if got is None:
            return  # already counted as failed
        if self.corrupt and got:
            d, s, r = got[0]
            got = [(d, s + 1e-3, r)] + got[1:]
            self.corrupt = False
        diff = same_topk(got, want)
        if diff is not None:
            self.fail(f"{what}: {diff}")

    def text_bytes(self, docs) -> int:
        return int(docs.agg(F.sum(F.octet_length("text"))).collect()[0][0])


# -------------------------------------------------------------- workloads
def closed_loop(run: Run, idx, stream) -> list[tuple]:
    """Issue ``stream`` queries back to back for ``run.seconds``."""
    out = []
    deadline = time.perf_counter() + run.seconds
    for qid, text in stream:
        if time.perf_counter() >= deadline:
            break
        out.append((qid, text, run.serve(idx, qid, text)))
    return out


def search_dist(run: Run) -> tuple:
    parts = 2 * run.cpus
    warm = list(itertools.islice(corpora.zipf_needle_stream(run.seed + 99), WARM_QUERIES))

    def once(rep, n):
        d = run.path(f"dist{rep}")
        docs = zipf_corpus(run.spark, n, seed=run.seed, n_partitions=parts)
        run.build(docs, d, "text")
        idx = run.load(d, collect_doclen_max=0)
        for qid, text in warm if rep == "warm" else warm[:1]:
            wand_topk(run.spark, idx, [(qid, text)], k=K, algo="auto").collect()
        return idx, d, docs

    idx, d, docs = run.setup(once, run.size["dist_docs"])
    run.index_bytes_ratio = dir_bytes(d) / run.text_bytes(docs)
    results = closed_loop(run, idx, corpora.zipf_needle_stream(run.seed))
    if run.q_fast:
        run.fail(f"search_dist: {run.q_fast} queries bypassed the per-shard scorer job")

    # reference: the same index served through the default driver fast path
    ref = load_index(run.spark, d).prepare_for_queries()
    rng = random.Random(run.seed + 1)
    for qid, text, got in rng.sample(results, min(run.size["dist_checks"], len(results))):
        before = SERVING_COUNTERS["fast_path"]
        rows = wand_topk(run.spark, ref, [(qid, text)], k=K, algo="auto").collect()
        if SERVING_COUNTERS["fast_path"] == before:
            run.fail(f"search_dist {qid}: reference query did not take the fast path")
        run.check(f"search_dist {qid} vs fast path", got, topk_rows(rows))
    ref.segments.unpersist()
    return idx, d


def _with_path_prefix(raw, prefix: str):
    """Give every generated file its own path, so its doc id is new."""
    return raw.withColumn("path", F.concat(F.lit(prefix), F.col("path")))


def code_lsm(run: Run) -> tuple:
    size = run.size
    parts = 2 * run.cpus
    rng = random.Random(run.seed)
    warm = corpora.identifier_queries(random.Random(run.seed + 99), WARM_QUERIES)

    def once(rep, n):
        d = run.path(f"lsm{rep}-0")
        raw = _with_path_prefix(
            code_corpus(run.spark, n, seed=run.seed, n_partitions=parts), "base/"
        )
        docs, fidelity = prepare_code_corpus(raw)
        # two groups: the default compaction policy (4 groups) then fires
        # in every other cycle, starting with the first
        run.build(docs, d, "code", n_groups=2, fidelity=fidelity)
        idx = run.load(d)
        for i, text in enumerate(warm if rep == "warm" else warm[:1]):
            wand_topk(run.spark, idx, [(f"w{i}", text)], k=K, algo="auto").collect()
        return idx, d, docs

    idx, cur, docs = run.setup(once, size["code_base"])
    indexed = {int(r[0]): r[1] for r in docs.collect()}  # docs on disk
    deleted: set[int] = set()  # tombstoned since the last compaction
    gone: set[int] = set()  # every doc ever deleted
    run.index_bytes_ratio = dir_bytes(cur) / sum(len(t.encode()) for t in indexed.values())
    lat = {"ingest": [], "delete": [], "reload": [], "fresh": [], "merge": []}
    merged_docs = 0
    clock = 0.0  # time spent in timed operations
    cycle = 0
    generation = 0
    while clock < run.seconds or cycle < size["code_min_cycles"]:
        # ---- untimed: this cycle's inputs
        marker = f"zqmark{run.seed}n{cycle}"
        raw = _with_path_prefix(
            code_corpus(run.spark, size["code_batch"], seed=run.seed * 7919 + cycle + 1,
                        n_partitions=parts),
            f"batch{cycle}/",
        ).unionByName(local_df(
            run.spark,
            [("perfbench/marker", f"marker/{cycle}.py", f"{cycle:040x}", "python",
              f"def {marker}(): return spark")],
            "repo string, path string, commit string, lang string, content string",
        ))
        batch, _fid = prepare_code_corpus(raw)
        batch_local = {int(r[0]): r[1] for r in batch.collect()}
        marker_id = next(d for d, t in batch_local.items() if marker in t)
        live = sorted(set(indexed) - deleted)
        victims = rng.sample(live, min(size["code_deletes"], len(live)))

        # ---- timed: ingest -> delete -> reload -> fresh marker query
        t_cycle = time.perf_counter()
        run.attempted += 3
        try:
            t0 = time.perf_counter()
            with run.tracer.span("streaming.ingest", "ingest_batch"):
                ingest_batch(run.spark, batch, cycle, cur, n_shards=N_SHARDS, mode="code")
            lat["ingest"].append(time.perf_counter() - t0)
            indexed.update(batch_local)
            t0 = time.perf_counter()
            with run.tracer.span("index.segments", "delete_docs"):
                delete_docs(run.spark, cur, victims)
            lat["delete"].append(time.perf_counter() - t0)
            deleted.update(victims)
            gone.update(victims)
            idx.segments.unpersist()
            t0 = time.perf_counter()
            idx = run.load(cur)
            lat["reload"].append(time.perf_counter() - t0)
        except Exception as e:
            run.fail(f"code_lsm cycle {cycle} mutation: {type(e).__name__}: {e}")
            break
        run.attempted += 1
        try:
            hit = wand_topk(run.spark, idx, [("m", marker)], k=K, algo="auto").collect()
            fresh = time.perf_counter() - t_cycle
        except Exception as e:
            run.fail(f"code_lsm marker query {marker}: {type(e).__name__}: {e}")
            hit, fresh = [], None
        if fresh is not None:
            lat["fresh"].append(fresh)
        if not any(int(r["rank"]) == 1 and int(r["doc_id"]) == marker_id for r in hit):
            run.fail(f"code_lsm marker {marker} not at rank 1: {hit[:2]}")
        clock += time.perf_counter() - t_cycle

        # ---- timed: a burst of cold identifier queries
        burst = corpora.identifier_queries(rng, size["code_burst"])
        answers = []
        for i, text in enumerate(burst):
            t0 = time.perf_counter()
            answers.append((f"c{cycle}q{i}", text, run.serve(idx, f"c{cycle}q{i}", text)))
            clock += time.perf_counter() - t0

        # ---- untimed: correctness of this cycle's answers
        for qid, text, got in answers:
            back = [d for d, _s, _r in (got or []) if d in gone]
            if back:
                run.fail(f"code_lsm {qid}: deleted docs returned {back}")
        oracle = BM25Oracle(list(indexed.items()), mode="code")
        for qid, text, got in rng.sample(answers, min(size["code_checks"], len(answers))):
            run.check(f"code_lsm {qid} vs oracle", got, oracle_topk(oracle, text, deleted))

        # ---- timed: compaction at the default policy
        nxt = run.path(f"lsm-{generation + 1}")
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.tracer.span("index.merge", "maybe_compact"):
                merged = maybe_compact(run.spark, cur, nxt)
        except Exception as e:
            run.fail(f"code_lsm compaction: {type(e).__name__}: {e}")
            break
        dt = time.perf_counter() - t0
        clock += dt
        if merged is not None:
            lat["merge"].append(dt)
            merged_docs += len(indexed)
            if run.tracer.enabled:
                run.tracer.spans[-1].extra["bytes_rewritten"] = dir_bytes(nxt)
            shutil.rmtree(cur, ignore_errors=True)
            cur, generation = nxt, generation + 1
            indexed = {d: t for d, t in indexed.items() if d not in deleted}
            deleted = set()
            run.index_bytes_ratio = dir_bytes(cur) / sum(
                len(t.encode()) for t in indexed.values()
            )
        cycle += 1

    run.extra.update({
        "cycles": cycle,
        "ingest_p50_ms": 1e3 * median(lat["ingest"]),
        "delete_p50_ms": 1e3 * median(lat["delete"]),
        "reload_p50_ms": 1e3 * median(lat["reload"]),
        "fresh_p50_ms": 1e3 * median(lat["fresh"]),
        "merge_s": median(lat["merge"]),
        "ingest_docs": cycle * (size["code_batch"] + 1),
        "deleted_ids": cycle * size["code_deletes"],
        "merged_docs": merged_docs,
    })
    return idx, cur


WORKLOADS = {"search_dist": search_dist, "code_lsm": code_lsm}


# ---------------------------------------------------------------- metrics
def end_to_end(run: Run) -> dict:
    """The gated metrics. A run has 20-30 query samples, too few for a
    steady tail percentile, and with one closed-loop client throughput
    is 1 / mean latency; both go to the report line only."""
    run.extra["query_p90_ms"] = pct(run.q_ms, 90)
    run.extra["queries_per_s"] = len(run.q_ms) / run.q_wait_s if run.q_wait_s else 0.0
    rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {
        "setup_s": (run.session_start_s + median(run.setup_s), "s"),
        "query_p50_ms": (pct(run.q_ms, 50), "ms"),
        "build_docs_per_s": (run.build_docs / median(run.build_s), "docs/s"),
        "index_bytes_per_doc_byte": (run.index_bytes_ratio, "ratio"),
        "driver_peak_rss_mb": (rss_kb / 1024.0, "MB"),
    }


def per_layer(run: Run, idx, index_dir: str, jvm_rss_mb: float) -> dict:
    tr = run.tracer
    tr.resolve()
    wand = tr.of("query.wand")
    calls = tr.of("query.wand", "wand_topk")
    collects = tr.of("query.wand", "collect")
    builds = tr.of("index.segments", "build_segments")
    loads = tr.of("index.segments", "load_index")
    prepares = tr.of("index.segments", "prepare_for_queries")
    deletes = tr.of("index.segments", "delete_docs")
    ingests = tr.of("streaming.ingest")
    merges = [s for s in tr.of("index.merge") if "bytes_rewritten" in s.extra]
    decodes = tr.of("index.compress")
    toks = tr.of("tokenizer")
    n_q = max(len(run.q_traced_ms), 1)
    n_served = max(run.q_fast + run.q_dist, 1)

    seg = idx.segments.filter(F.col("term").isNotNull() & (F.col("term") != TOMBSTONE_TERM))
    agg = seg.agg(
        F.sum(F.length("doc_bytes") + F.length("tf_bytes")).alias("b"),
        F.sum("n_postings").alias("p"),
    ).collect()[0]
    bytes_compressed = int(agg["b"] or 0)
    postings = int(agg["p"] or 0)

    self_s = tr.self_seconds()
    traced_total = sum(self_s.values()) or 1.0
    ex = run.extra
    out = {
        "session.start_s": (run.session_start_s, "s"),
        "session.jvm_peak_rss_mb": (jvm_rss_mb, "MB"),
        "tokenizer.query_ms": (1e3 * mean(s.dur for s in toks), "ms"),
        "query.wand.call_ms": (1e3 * mean(s.dur for s in calls), "ms"),
        "query.wand.collect_ms": (1e3 * mean(s.dur for s in collects), "ms"),
        "query.wand.jobs_per_query": (sum(s.jobs for s in wand) / n_q, "count"),
        "query.wand.stages_per_query": (sum(s.stages for s in wand) / n_q, "count"),
        "query.wand.tasks_per_query": (sum(s.tasks for s in wand) / n_q, "count"),
        "query.wand.fast_path_frac": (run.q_fast / n_served, "frac"),
        "query.wand.term_cache_miss_frac": (mean(run.cache_miss), "frac"),
        "query.wand.staleness_probe_ms": (run.q_probe_ns / 1e6 / n_served, "ms"),
        "index.compress.decode_ms_per_query": (1e3 * sum(s.dur for s in decodes) / n_q, "ms"),
        "index.segments.build_s": (median(s.dur for s in builds), "s"),
        "index.segments.build_tasks": (median(s.tasks for s in builds), "count"),
        "index.segments.load_ms": (1e3 * median(s.dur for s in loads), "ms"),
        "index.segments.prepare_ms": (1e3 * median(s.dur for s in prepares), "ms"),
        "index.segments.delete_ids_per_s": (
            ex.get("deleted_ids", 0) / sum(s.dur for s in deletes) if deletes else 0.0, "1/s"),
        "index.segments.delete_tasks": (mean(s.tasks for s in deletes), "count"),
        "index.segments.groups_live": (
            len(os.listdir(os.path.join(index_dir, "segments"))), "count"),
        "index.segments.bytes_compressed": (bytes_compressed, "bytes"),
        "index.segments.bytes_per_posting": (
            bytes_compressed / postings if postings else 0.0, "bytes"),
        "streaming.ingest.docs_per_s": (
            ex.get("ingest_docs", 0) / sum(s.dur for s in ingests) if ingests else 0.0,
            "docs/s"),
        "streaming.ingest.jobs_per_batch": (mean(s.jobs for s in ingests), "count"),
        "streaming.ingest.tasks_per_batch": (mean(s.tasks for s in ingests), "count"),
        "index.merge.docs_per_s": (
            ex.get("merged_docs", 0) / sum(s.dur for s in merges) if merges else 0.0,
            "docs/s"),
        "index.merge.tasks": (mean(s.tasks for s in merges), "count"),
        "index.merge.bytes_rewritten": (
            mean(s.extra["bytes_rewritten"] for s in merges), "bytes"),
        "trace.overhead_frac": (
            pct(run.q_traced_ms, 50) / pct(run.q_ms, 50) - 1.0
            if run.q_ms and run.q_traced_ms else 0.0, "frac"),
    }
    for layer in ("query.wand", "index.segments", "streaming.ingest", "index.merge"):
        out[f"{layer}.tasks_failed"] = (sum(s.tasks_failed for s in tr.of(layer)), "count")
    for layer in LAYERS:
        out[f"{layer}.self_frac"] = (self_s.get(layer, 0.0) / traced_total, "frac")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    run = Run(args)
    run.start_session()
    try:
        idx, index_dir = WORKLOADS[args.workload](run)
        run.extra["setup_reps_s"] = "/".join(f"{x:.2f}" for x in run.setup_s)
        run.extra["build_reps_s"] = "/".join(f"{x:.2f}" for x in run.build_s)
        e2e = end_to_end(run)
        layers = per_layer(run, idx, index_dir, run.jvm_peak_rss_mb()) if run.trace else {}
    finally:
        run.stop_session()

    shown = {**e2e, **layers}
    report = " ".join(f"{k}={v:.6g}{u and ' ' + u}" for k, (v, u) in shown.items())
    extra = " ".join(
        f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}" for k, v in run.extra.items()
    )
    print(f"perfbench {args.workload} seed={args.seed} queries={run.n_queries} "
          f"attempted={run.attempted} failed={run.failed} "
          f"failed_frac={run.failed / max(run.attempted, 1):.4g} {report} {extra}",
          flush=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": u}
            for k, (v, u) in (layers if run.trace else e2e).items()
        },
    }
    with open(args.out, "w") as f:
        json.dump(result, f, allow_nan=False)  # NaN is not JSON: fail loudly
    return 0


if __name__ == "__main__":
    sys.exit(main())
