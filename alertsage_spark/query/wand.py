"""Top-k BM25 over compressed segments: block-max WAND + vectorized TAAT.

Two serving paths, one scoring loop:

  * distributed (one Spark job per query batch):

        segments.filter(term IN query_terms OR term IS NULL
                        OR term = tombstone)   <- parquet pushdown: only
                                                  query-term rows + the
                                                  per-shard doclen and
                                                  tombstone rows
          groupBy(shard_id) -> applyInArrow(scorer)

  * driver fast path (serving mode, few matched postings): the matched
    rows come from the index's TermRowStore (index/segments.py) — one
    term-sorted Arrow snapshot of every segment row, searched per term,
    when the index fits its byte budget, else term-sorted Arrow fills per
    miss evicted by bytes — and the doc lengths and tombstones from the
    maps prepare_for_queries built; a prepared query over a snapshot
    runs no Spark job.

Rows stay Arrow until the kernels: both paths decode their matched
term rows in one compress.decode_rows pass (``_decoded_runs``: a
scorer task its shard's rows, the fast path every shard's), hand each
shard's decoded runs, doc lengths and tombstones to ``_score_shard``
(every query of the batch against that shard), and both rank the
per-shard top-k in ``_ranked_topk`` (round(score,6)
desc, doc_id asc). The distributed path uses that driver merge when
n_shards * k * |Q| <= DRIVER_MERGE_MAX_ROWS; above that budget a
global window rank <= k runs instead.

Document-sharding makes this embarrassingly parallel: no shuffle of
postings at query time, and at most n_shards * k candidates per query
leave the scorer tasks.

Two shard kernels, both exact (rank-identical to the join+agg path and
the Python oracle — property-tested), sharing one core: the per-posting
score (``_exact_scores``), the per-doc sum with the tombstone mask
(``_sum_live``) and the final selection (``_select_topk``):

  * ``taat``: vectorized term-at-a-time — score every matched posting,
    one np.add.at group-sum, exact top-k with rounded-tie margin. Zero
    per-row Python; optimal for few/selective terms or small shards.
  * ``wand``: vectorized Block-Max evaluation (the block-skipping idea
    of Broder et al. WAND + Ding & Suel block-max bounds, restructured
    for SIMD instead of doc-at-a-time cursors): the doc-id space is cut
    into windows at the union of all terms' block boundaries, so each
    window is covered by exactly one block per term; a window's upper
    bound sums, over the terms with a posting in it, the covering
    block's bound idf * norm(block_max_tf, block_min_dl) — valid because
    the BM25 tf-norm is monotone in tf and anti-monotone in dl.
    Windows are processed in DESCENDING upper-bound order with
    whole-window numpy scoring (every doc in a processed window gets
    its full exact score; a window's postings are found by searchsorted
    on the decoded docs); processing stops as soon as the best remaining
    window bound cannot beat the running kth-best exact score minus the
    rounding margin, so skipped windows' postings are never scored.
    Per-window work is numpy slices — no per-document Python.
    Exactness is protected by the 1e-6 margin under the rounded
    tie-break comparator (property-tested vs the oracle and vs TAAT).
"""

from __future__ import annotations

from typing import Iterable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alertsage_spark.index.compress import B, BLOCK_SIZE, K1, bm25_norm, decode_rows
from alertsage_spark.index.segments import (
    TOMBSTONE_TERM,
    SegmentIndex,
    _row_kinds,
    merged_doclen,
    tombstoned_docs,
)
from alertsage_spark.session import local_df
from alertsage_spark.tokenizer import code_query_terms, tokenize_py


def _in_sorted(a: np.ndarray, sorted_vals: np.ndarray) -> np.ndarray:
    """Boolean membership of ``a`` in a SORTED int array (searchsorted —
    no hash set materialization)."""
    if not len(sorted_vals):
        return np.zeros(len(a), dtype=bool)
    idx = np.searchsorted(sorted_vals, a)
    idx[idx == len(sorted_vals)] = 0  # out-of-range: compare vs [0], always False
    return sorted_vals[idx] == a

# prune/candidate margin: must stay strictly tighter than the
# round(score, 6) tie-break so a pruned window/candidate can never hold
# a doc that rounds into the top-k boundary
THETA_EPS = 1e-6
# idf at/above which a term counts as "selective" for the auto scorer
# choice (roughly df <= n_docs/100)
IDF_SELECTIVE = 4.6


def _idf(df: int, n_docs: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _check_dl_coverage(dl_docs: np.ndarray, dl_idx: np.ndarray, docs: np.ndarray):
    if dl_idx.max(initial=-1) >= len(dl_docs) or not np.array_equal(
        dl_docs[dl_idx], docs
    ):
        raise ValueError(
            "posting doc_id absent from the shard's doclen rows — a group "
            "built with a different n_shards/layout was appended"
        )


class _Run(NamedTuple):
    """One decoded term row: its postings (docs ascending, tfs) and its
    blocks' metadata (last doc, max tf, min dl), BLOCK_SIZE postings
    per block."""

    docs: np.ndarray
    tfs: np.ndarray
    block_last: np.ndarray
    block_max_tf: np.ndarray
    block_min_dl: np.ndarray


def _decoded_runs(rows: pa.Table) -> Iterator[tuple[int, str, _Run]]:
    """(shard_id, term, run) of every term row of ``rows``: the postings
    of all rows decoded in one decode_rows pass, each run a view into
    that one decode."""
    counts, docs, tfs = decode_rows(rows.column("doc_bytes"), rows.column("tf_bytes"))
    p_off = np.concatenate(([0], np.cumsum(counts)))
    n_blocks = pc.list_value_length(rows.column("block_last_docs"))
    b_off = np.concatenate(([0], np.cumsum(n_blocks.to_numpy(zero_copy_only=False))))
    last, max_tf, min_dl = (
        pc.list_flatten(rows.column(c)).to_numpy(zero_copy_only=False)
        for c in ("block_last_docs", "block_max_tfs", "block_min_dls")
    )
    shards = rows.column("shard_id").to_numpy()
    terms = rows.column("term").to_numpy(zero_copy_only=False)
    for i in range(rows.num_rows):
        p, q, b, c = p_off[i], p_off[i + 1], b_off[i], b_off[i + 1]
        run = _Run(docs[p:q], tfs[p:q], last[b:c], max_tf[b:c], min_dl[b:c])
        yield int(shards[i]), terms[i], run


def _exact_scores(
    idf: float,
    docs: np.ndarray,
    tfs: np.ndarray,
    dl_docs: np.ndarray,
    dl_vals: np.ndarray,
    avgdl: float,
) -> np.ndarray:
    """Exact BM25 of each posting (docs, tfs) of one term. The evaluation
    order is fixed (not compress.bm25_norm's): rankings tie-break on
    round(score, 6), so every path must produce bit-identical scores."""
    dl_idx = np.searchsorted(dl_docs, docs)
    _check_dl_coverage(dl_docs, dl_idx, docs)
    tf = tfs.astype(np.float64)
    dl = dl_vals[dl_idx].astype(np.float64)
    return idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _sum_live(
    docs_parts: list[np.ndarray],
    score_parts: list[np.ndarray],
    deleted: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc score sums over posting slices (one part is already
    doc-unique), tombstoned docs dropped."""
    if len(docs_parts) == 1:
        docs, sums = docs_parts[0], score_parts[0]
    else:
        docs, inv = np.unique(np.concatenate(docs_parts), return_inverse=True)
        sums = np.zeros(len(docs))
        np.add.at(sums, inv, np.concatenate(score_parts))
    if deleted is not None and len(deleted):
        keep = ~_in_sorted(docs, deleted)
        docs, sums = docs[keep], sums[keep]
    return docs, sums


def _select_topk(
    docs: np.ndarray, sums: np.ndarray, k: int
) -> list[tuple[int, float]]:
    """Exact top-k by (round(score, 6) desc, doc_id asc): keep every doc
    within the rounding margin of the kth-largest exact score, so
    rounded ties at the boundary break by doc_id."""
    if len(docs) > k:
        s_k = np.partition(sums, len(sums) - k)[len(sums) - k]
        cand = np.flatnonzero(sums >= s_k - THETA_EPS)
    else:
        cand = np.arange(len(docs))
    sel = cand[np.lexsort((docs[cand], -np.round(sums[cand], 6)))][:k]
    return [(int(docs[i]), float(sums[i])) for i in sel]


def wand_topk_shard(
    runs: list[tuple[_Run, float]],
    dl_docs: np.ndarray,
    dl_vals: np.ndarray,
    k: int,
    avgdl: float,
    deleted: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Vectorized Block-Max evaluation over one shard (exact top-k).

    ``deleted``: sorted doc ids masked per window BEFORE entering the
    running top-k buffer, so the pruning threshold never rests on a
    tombstoned doc's score.

    The doc-id space is partitioned into windows at the union of all
    terms' block-boundary doc ids; each window lies inside one block
    per term, so scoring a window yields FULL exact scores for every doc
    in it. A term's block bound is charged only to the windows holding
    one of its postings (elsewhere it contributes nothing): a selective
    term's few blocks span wide doc ranges and would otherwise raise
    every window's bound. Windows run in descending upper-bound order;
    the loop stops when the best remaining bound cannot beat the running
    kth-best exact score minus the rounding margin, and skipped windows'
    postings are never scored.
    """
    if not runs:
        return []
    boundary = np.unique(np.concatenate([r.block_last for r, _ in runs]))
    ub = np.zeros(len(boundary))  # window w is (boundary[w-1], boundary[w]]
    cuts = []  # per run: its postings in window w are [cut[w], cut[w+1])
    for r, idf in runs:
        cut = np.concatenate(([0], np.searchsorted(r.docs, boundary, side="right")))
        held = cut[1:] > cut[:-1]
        bound = idf * bm25_norm(r.block_max_tf, r.block_min_dl, avgdl)
        ub[held] += bound[cut[:-1][held] // BLOCK_SIZE]
        cuts.append(cut)
    order = np.argsort(-ub, kind="stable")
    out_docs: list[np.ndarray] = []
    out_scores: list[np.ndarray] = []
    topbuf = np.empty(0)  # running top-k exact scores across windows
    for w in order.tolist():
        if len(topbuf) >= k and ub[w] <= topbuf.min() - THETA_EPS:
            break  # no remaining window can reach the top-k margin
        docs_parts, score_parts = [], []
        for (r, idf), cut in zip(runs, cuts):
            s, e = cut[w], cut[w + 1]
            if s == e:
                continue
            docs_parts.append(r.docs[s:e])
            score_parts.append(
                _exact_scores(idf, r.docs[s:e], r.tfs[s:e], dl_docs, dl_vals, avgdl)
            )
        u, sums = _sum_live(docs_parts, score_parts, deleted)
        if not len(u):
            continue
        out_docs.append(u)
        out_scores.append(sums)
        cand = np.concatenate((topbuf, sums))
        if len(cand) > k:
            cand = cand[np.argpartition(cand, len(cand) - k)[len(cand) - k :]]
        topbuf = cand
    if not out_docs:
        return []
    return _select_topk(np.concatenate(out_docs), np.concatenate(out_scores), k)


def taat_topk_shard(
    runs: list[tuple[_Run, float]],
    dl_docs: np.ndarray,
    dl_vals: np.ndarray,
    k: int,
    avgdl: float,
    deleted: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Vectorized exact TAAT: score every posting, one group-sum.
    ``deleted``: sorted doc ids dropped before the top-k selection."""
    if not runs:
        return []
    docs_parts = [r.docs for r, _ in runs]
    score_parts = [
        _exact_scores(idf, r.docs, r.tfs, dl_docs, dl_vals, avgdl) for r, idf in runs
    ]
    return _select_topk(*_sum_live(docs_parts, score_parts, deleted), k)


def _resolve_algo(algo: str, runs: list[tuple[_Run, float]]) -> str:
    """'auto' -> 'wand'/'taat' per (query, shard). WAND pays off when a
    selective (high-idf) term can push the top-k threshold above the
    combined bound of the flat terms, letting whole flat-term blocks be
    skipped; otherwise TAAT's single score-everything pass wins.
    Measured on local[32], sf0.1 x16 (BENCH/wand_auto.md): zipf needle
    wand 0.96-3.3s vs taat 2.6-7.5s; flat reference queries taat ~1.0s
    vs wand ~1.4s."""
    if algo != "auto":
        return algo
    sel = [idf for _r, idf in runs if idf >= IDF_SELECTIVE]
    n_post = sum(len(r.docs) for r, _ in runs)
    # any selective term + enough postings to be worth skipping -> WAND.
    # Measured: WAND wins even when the flat terms' summed bound exceeds
    # the selective idf (code query parseConfig17: wand 1.22s vs taat
    # 1.82s) because per-block bounds are far tighter than idf*2.2; a
    # flat-only query stays TAAT (reference-18: taat ~1.0s vs wand ~1.4s).
    return "wand" if sel and n_post > 5_000 else "taat"


def _score_shard(
    query_terms: dict[str, list[str]],
    by_term: dict[str, list[_Run]],
    idf_map: dict[str, float],
    doclen: tuple[np.ndarray, np.ndarray],
    deleted: np.ndarray,
    k: int,
    algo: str,
    avgdl: float,
) -> Iterator[tuple[str, int, float]]:
    """One shard, every query: (query_id, doc_id, score) of the shard's
    exact top-k per query. ``by_term`` holds the shard's decoded runs per
    term: one run per (term, committed group), since an un-compacted
    index has several runs per term and all of them are scored (disjoint
    doc appends are exact; re-ingests of the SAME doc require
    merge_segments). ``algo == "auto"`` resolves per (query, shard)."""
    dl_docs, dl_vals = doclen
    for qid, terms in query_terms.items():
        runs = [(run, idf_map[t]) for t in terms for run in by_term.get(t, ())]
        if not runs:
            continue
        kernel = (
            wand_topk_shard if _resolve_algo(algo, runs) == "wand" else taat_topk_shard
        )
        for doc, score in kernel(runs, dl_docs, dl_vals, k, avgdl, deleted=deleted):
            yield qid, doc, score


def _ranked_topk(
    spark: SparkSession,
    query_ids: Iterable[str],
    hits: Iterable[tuple[str, int, float]],
    k: int,
) -> DataFrame:
    """Driver-side final merge of per-shard (query_id, doc_id, score)
    hits: rank <= k per query by (round(score, 6) desc, doc_id asc), rows
    in ``query_ids`` order, as one Arrow local batch (session.local_df):
    a LocalTableScan that runs no job to collect, with the same nullable
    schema whether or not anything matched."""
    by_q: dict[str, list] = {qid: [] for qid in query_ids}
    for qid, doc, score in hits:
        by_q[qid].append((doc, score))
    out = []
    for qid, q_hits in by_q.items():
        q_hits.sort(key=lambda h: (-round(h[1], 6), h[0]))
        for rank, (doc, score) in enumerate(q_hits[:k], start=1):
            out.append((qid, int(doc), round(score, 6), rank))
    return local_df(spark, out, "query_id string, doc_id long, score double, rank int")


def _local_topk(
    spark: SparkSession,
    index: SegmentIndex,
    query_terms: dict[str, list[str]],
    idf_map: dict[str, float],
    k: int,
    algo: str,
    avgdl: float,
) -> DataFrame:
    """Driver-local fast path for selective queries in serving mode.

    When the matched-postings volume is tiny relative to the corpus, a
    full Spark job (one task per shard through Python workers) is pure
    scheduling overhead: instead, take ONLY the matched segment rows from
    the index's TermRowStore (one Arrow table), decode them in one pass,
    run _score_shard per shard in the driver against the doc-length and
    tombstone maps of prepare_for_queries, and rank through the same
    final merge as the distributed path. Decoded postings live for this
    call only."""
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    by_shard: dict[int, dict[str, list[_Run]]] = {}
    for sid, t, run in _decoded_runs(index.term_rows(all_terms)):
        by_shard.setdefault(sid, {}).setdefault(t, []).append(run)
    no_deletes = np.empty(0, dtype=np.int64)
    hits = (
        hit
        for sid, by_term in by_shard.items()
        for hit in _score_shard(
            query_terms, by_term, idf_map, index.dl_map[sid],
            index.deleted_map.get(sid, no_deletes), k, algo, avgdl,
        )
    )
    return _ranked_topk(spark, query_terms, hits, k)


# matched-postings ceiling for the driver-local fast path (collecting
# more than this many postings to the driver would cost more than the
# distributed job it avoids)
FAST_PATH_MAX_POSTINGS = 2_000_000

# ceiling on n_shards * k * |Q| for the distributed path's driver-side
# final merge (~40 B/row); above it the global window rank runs instead
DRIVER_MERGE_MAX_ROWS = 200_000

# which path served each wand_topk call — bench reads this so a latency
# regression is diagnosable (fast-path miss vs slow fast-path).
# probe_ns accumulates the staleness-guard cost (a per-query group-dir
# listing, assert_serving_fresh) so the bench can show whether the
# freshness check is latency-relevant (r3 verdict task 8).
SERVING_COUNTERS = {"fast_path": 0, "distributed": 0, "probe_ns": 0}


def reset_serving_counters() -> dict:
    prev = dict(SERVING_COUNTERS)
    SERVING_COUNTERS["fast_path"] = 0
    SERVING_COUNTERS["distributed"] = 0
    SERVING_COUNTERS["probe_ns"] = 0
    return prev


def _make_scorer(query_terms: dict[str, list[str]], idf_map: dict[str, float],
                 avgdl: float, k: int, algo: str):
    """applyInArrow group fn: one shard's matched term rows, doclen rows
    and tombstone rows in, that shard's per-query top-k (_score_shard)
    out. The rows stay Arrow: the term rows decode in one decode_rows
    pass, the doclen and tombstone rows in one more each, and the Arrow
    grouped map skips the pandas conversions in both directions."""
    out_schema = pa.schema(
        [("query_id", pa.string()), ("doc_id", pa.int64()), ("score", pa.float64())]
    )

    def scorer(_key, tbl):
        dl_rows, tomb_rows, term_rows = _row_kinds(tbl)
        if not dl_rows.num_rows or not term_rows.num_rows:
            return out_schema.empty_table()
        by_term: dict[str, list[_Run]] = {}
        for _sid, t, run in _decoded_runs(term_rows):
            by_term.setdefault(t, []).append(run)
        hits = list(_score_shard(
            query_terms, by_term, idf_map, merged_doclen(dl_rows),
            tombstoned_docs(tomb_rows), k, algo, avgdl,
        ))
        q, d, s = zip(*hits) if hits else ((), (), ())
        return pa.table({"query_id": q, "doc_id": d, "score": s}, schema=out_schema)

    return scorer


def _term_dfs(index: SegmentIndex, terms: list[str]) -> dict[str, int]:
    """term -> df for the ``terms`` present in the index: from df_map in
    serving mode (prepare_for_queries; zero jobs), else one termstats
    probe."""
    if index.df_map is not None:
        return {t: index.df_map[t] for t in terms if t in index.df_map}
    rows = index.termstats.filter(F.col("term").isin(terms)).select("term", "df")
    return {r["term"]: int(r["df"]) for r in rows.collect()}


def wand_topk(
    spark: SparkSession,
    index: SegmentIndex,
    queries: Iterable[tuple[str, str]],
    k: int = 10,
    algo: str = "wand",
) -> DataFrame:
    """Batch top-k over a compressed SegmentIndex.

    queries: iterable of (query_id, query_text). Tokenization uses the
    shared spec (driver-side tokenize_py on the tiny query set — parity
    with the index-side tokenizer is covered by tests). ``k < 1`` returns
    no rows. ``algo``: "wand", "taat" or "auto" (_resolve_algo); any
    other value raises ValueError.
    """
    if algo not in ("wand", "taat", "auto"):
        raise ValueError(f"unknown algo {algo!r}: expected 'wand', 'taat' or 'auto'")
    # unconditional: load_index pins the parquet group list, so even an
    # unprepared index silently misses groups appended after load —
    # raise instead of serving stale results
    import time as _time

    _t0 = _time.perf_counter_ns()
    index.assert_serving_fresh()
    SERVING_COUNTERS["probe_ns"] += _time.perf_counter_ns() - _t0
    if k < 1:
        return _ranked_topk(spark, (), (), k)
    mode = index.stats.get("mode", "text")
    queries = list(queries)
    if mode == "code":
        # exact-identifier short-circuit: expand to trigram terms only
        # for base tokens absent from the vocabulary (tokenizer.
        # code_query_terms)
        base = sorted(
            {t for _qid, text in queries for t in tokenize_py(text, mode="text")}
        )
        has_term = _term_dfs(index, base).__contains__
        query_terms = {
            qid: sorted(set(code_query_terms(text, has_term)))
            for qid, text in queries
        }
    else:
        query_terms = {
            qid: sorted(set(tokenize_py(text, mode=mode))) for qid, text in queries
        }
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    if not all_terms:
        return _ranked_topk(spark, (), (), k)
    dfs = _term_dfs(index, all_terms)
    n_docs = index.stats["n_docs"]
    idf_map = {t: _idf(df, n_docs) for t, df in dfs.items()}
    avgdl = float(index.stats["avgdl"])
    if index.dl_map is not None and index.df_map is not None:
        if sum(dfs.values()) <= FAST_PATH_MAX_POSTINGS:
            SERVING_COUNTERS["fast_path"] += 1
            return _local_topk(spark, index, query_terms, idf_map, k, algo, avgdl)
    SERVING_COUNTERS["distributed"] += 1
    seg = index.segments.filter(
        F.col("term").isin(all_terms)
        | F.col("term").isNull()
        | (F.col("term") == TOMBSTONE_TERM)
    )
    scorer = _make_scorer(query_terms, idf_map, avgdl, k, algo)
    candidates = seg.groupBy("shard_id").applyInArrow(
        scorer, schema="query_id string, doc_id long, score double"
    )
    # Final k-way merge: the per-shard scorers emit at most
    # n_shards x k rows per query, so when that bound is driver-small
    # the global rank is the driver merge (one job, no extra
    # exchange+window stage — r6). At web scale (millions of shards) the
    # bound blows the budget and the distributed window runs instead,
    # with the same tie-break.
    n_shards = int(index.stats.get("n_shards", 0))
    if 0 < n_shards * k * len(query_terms) <= DRIVER_MERGE_MAX_ROWS:
        return _ranked_topk(spark, query_terms, candidates.collect(), k)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("doc_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.round("score", 6).alias("score"), "rank")
    )
