"""Rank-identity of the compressed-index scorers (block-max WAND and
vectorized TAAT) vs the Python oracle AND the exact join+agg path —
the north rule's brute-force == WAND property."""

from __future__ import annotations

import pytest

from alertsage_spark.index.segments import build_segments, load_index
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.refqueries import REFERENCE_QUERIES
from alertsage_spark.query.wand import wand_topk

K = 10


@pytest.fixture(scope="module")
def seg_index(spark, documents_df, tmp_path_factory):
    d = tmp_path_factory.mktemp("wandidx") / "idx"
    build_segments(
        spark, documents_df.select("doc_id", "text"), str(d), n_shards=8, n_groups=2
    )
    return load_index(spark, str(d))


@pytest.fixture(scope="module")
def doc_oracle(documents_df):
    rows = documents_df.select("doc_id", "text").collect()
    return BM25Oracle([(r["doc_id"], r["text"]) for r in rows])


def _collect(df):
    out: dict[str, list] = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"], r["rank"]))
    return out


QUERIES = [(cid, text) for cid, _l, text in REFERENCE_QUERIES] + [
    ("VOCAB_1", "data stream merge join window"),
    ("VOCAB_2", "spark query filter"),
    ("VOCAB_3", "the the the"),
    ("EMPTY", "zzz qqq notindocs"),
]


@pytest.mark.parametrize("algo", ["wand", "taat", "auto"])
def test_rank_identity_vs_oracle(spark, seg_index, doc_oracle, algo):
    got = _collect(wand_topk(spark, seg_index, QUERIES, k=K, algo=algo))
    for qid, text in QUERIES:
        expected = doc_oracle.topk(text, k=K)
        hits = got.get(qid, [])
        assert [h[0] for h in hits] == [e[0] for e in expected], (algo, qid)
        for h, e in zip(hits, expected):
            assert abs(h[1] - e[1]) <= 1e-6, (algo, qid, h, e)


@pytest.fixture(scope="module")
def code_index(spark, corpus_rows, tmp_path_factory):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(corpus_rows)
    docs = df.select(
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2**62)).alias("doc_id"),
        F.col("content").alias("text"),
    )
    d = tmp_path_factory.mktemp("codeidx") / "idx"
    build_segments(spark, docs, str(d), n_shards=4, n_groups=2, mode="code")
    return str(d), [(r["doc_id"], r["text"]) for r in docs.collect()]


def test_code_mode_rank_identity(spark, code_index):
    """Code-mode (identifier + trigram terms) compressed index must be
    rank-identical to the Python oracle in code mode."""
    d, docs = code_index
    idx = load_index(spark, d)
    oracle = BM25Oracle(docs, mode="code")
    queries = [
        ("Q1", "parseConfig"), ("Q2", "spark flushQueue"),
        ("Q3", "blockMax"),  # trigram-only partial identifier match
        ("Q4", "read_buffer deltaEncode"),
    ]
    for algo in ("wand", "taat"):
        got = _collect(wand_topk(spark, idx, queries, k=8, algo=algo))
        for qid, text in queries:
            expected = oracle.topk(text, k=8)
            hits = got.get(qid, [])
            assert [h[0] for h in hits] == [e[0] for e in expected], (algo, qid)
            for h, e in zip(hits, expected):
                assert abs(h[1] - e[1]) <= 1e-6, (algo, qid)


def test_wand_equals_taat_on_random_queries(spark, seg_index, doc_oracle):
    import random

    rng = random.Random(7)
    vocab = list(doc_oracle.df.keys())
    queries = [
        (f"R{i}", " ".join(rng.sample(vocab, rng.randint(1, 6)))) for i in range(20)
    ]
    a = _collect(wand_topk(spark, seg_index, queries, k=5, algo="wand"))
    b = _collect(wand_topk(spark, seg_index, queries, k=5, algo="taat"))
    assert a == b


def test_fast_path_identical_to_distributed(spark, seg_index, doc_oracle):
    """Serving-mode driver-local fast path must be result-identical to
    the distributed scorer (same kernels by construction — verified)."""
    from alertsage_spark.index.segments import load_index

    prepared = load_index(spark, str(seg_index.paths.root)).prepare_for_queries()
    assert prepared.df_map is not None and prepared.dl_map is not None
    dist = _collect(wand_topk(spark, seg_index, QUERIES, k=K, algo="auto"))
    fast = _collect(wand_topk(spark, prepared, QUERIES, k=K, algo="auto"))
    assert fast == dist
    # and still rank-identical to the oracle
    for qid, text in QUERIES:
        expected = doc_oracle.topk(text, k=K)
        hits = fast.get(qid, [])
        assert [h[0] for h in hits] == [e[0] for e in expected], qid


class _Poison:
    """Stands in for ``SegmentIndex.segments``: any use raises."""

    def __getattr__(self, name):
        raise AssertionError(f"fast-path query touched the segments DataFrame ({name})")


def test_fast_path_repeat_query_serves_from_term_cache(spark, seg_index):
    """A prepared index that fits the store's byte budget is snapshotted
    whole at prepare: even the FIRST query reads no segment rows from
    the JVM, so it works with the segments DataFrame unusable."""
    prepared = load_index(spark, str(seg_index.paths.root)).prepare_for_queries()
    assert prepared.term_rows_cache.complete
    q = [("R1", "data stream merge join window")]
    want = _collect(wand_topk(spark, seg_index, q, k=K, algo="auto"))
    real_segments = prepared.segments
    prepared.segments = _Poison()
    try:
        first = _collect(wand_topk(spark, prepared, q, k=K, algo="auto"))
        second = _collect(wand_topk(spark, prepared, q, k=K, algo="auto"))
    finally:
        prepared.segments = real_segments
    assert first and first == second == want


def test_term_store_fills_and_evicts_by_byte_budget(spark, seg_index, doc_oracle, monkeypatch):
    """Under a byte budget too small for the snapshot, prepare does not
    prefill; every query still takes the fast path, filling the store
    with the rows of its missing terms, stays rank-identical to the
    distributed scorer, and the bytes held never exceed the budget."""
    import random

    import alertsage_spark.index.segments as S
    import alertsage_spark.query.wand as W

    budget = 40_000
    monkeypatch.setattr(S, "TERM_CACHE_MAX_BYTES", budget)
    prepared = load_index(spark, str(seg_index.paths.root)).prepare_for_queries()
    store = prepared.term_rows_cache
    assert not store.complete and len(store) == 0 and store.bytes_held == 0
    rng = random.Random(11)
    vocab = sorted(doc_oracle.df)
    queries = [(f"B{i}", " ".join(rng.sample(vocab, 3))) for i in range(24)]
    queries += queries[:4]  # repeats: served from what is still held
    want = _collect(wand_topk(spark, seg_index, queries, k=K, algo="auto"))
    asked: set[str] = set()
    held_ever = 0
    W.reset_serving_counters()
    for qid, text in queries:
        got = _collect(wand_topk(spark, prepared, [(qid, text)], k=K, algo="auto"))
        assert got.get(qid, []) == want.get(qid, []), qid
        assert store.bytes_held <= budget, (qid, store.bytes_held)
        asked.update(text.split())
        held_ever = max(held_ever, len(store))
    assert W.SERVING_COUNTERS["fast_path"] == len(queries)
    assert W.SERVING_COUNTERS["distributed"] == 0
    assert held_ever > 0  # fills were held ...
    assert len(store) < len(asked)  # ... and evicted by bytes


def test_term_store_mapping_contract(spark, seg_index):
    """perfbench's traced helpers read ``term_rows_cache`` as a Mapping:
    truthy after prepare, ``t in cache`` for every indexed term and
    ``cache[t]`` rows that compress.decode_posting_list decodes."""
    from alertsage_spark.index.compress import decode_posting_list

    prepared = load_index(spark, str(seg_index.paths.root)).prepare_for_queries()
    cache = prepared.term_rows_cache or {}
    assert cache and cache is prepared.term_rows_cache
    terms = sorted(prepared.df_map)
    assert terms and all(t in cache for t in terms)
    assert sorted(cache) == terms and len(cache) == len(terms)
    for t in terms[:: max(1, len(terms) // 50)]:
        rows = cache[t]
        assert sum(r["df_local"] for r in rows) == prepared.df_map[t]
        for r in rows:
            docs, tfs = decode_posting_list(r)
            assert len(docs) == len(tfs) == r["n_postings"] > 0
    assert cache["zzzznotaterm"] == []


def test_prepared_code_query_runs_no_spark_job(spark, code_index, tmp_path):
    """A prepared 2-group code index with tombstones answers a cold query
    without one Spark job, with the rows of the distributed path
    (collect_doclen_max=0) and of the oracle (stats still count the
    deleted docs until a merge; they only leave the results)."""
    import shutil

    from alertsage_spark.index.segments import delete_docs

    src, docs = code_index
    d = str(tmp_path / "idx")
    shutil.copytree(src, d)
    queries = [("Q1", "parseConfig spark"), ("Q2", "flushQueu blockMax"),
               ("Q3", "read_buffer deltaEncode")]
    oracle = BM25Oracle(docs, mode="code")
    victims = {oracle.topk(text, k=2)[0][0] for _q, text in queries}
    delete_docs(spark, d, sorted(victims))
    fast = load_index(spark, d).prepare_for_queries()
    dist = load_index(spark, d).prepare_for_queries(collect_doclen_max=0)
    assert fast.term_rows_cache.complete and any(len(v) for v in fast.deleted_map.values())
    sc = spark.sparkContext
    sc.setJobGroup("cold_fast_query", "cold fast-path query")
    try:
        df = wand_topk(spark, fast, queries, k=8, algo="auto")
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("cold_fast_query") == []
    got = _collect(df)
    assert got == _collect(wand_topk(spark, dist, queries, k=8, algo="auto"))
    for qid, text in queries:
        expected = [h for h in oracle.topk(text, k=8 + len(victims)) if h[0] not in victims][:8]
        hits = got.get(qid, [])
        assert [h[0] for h in hits] == [e[0] for e in expected], qid
        for h, e in zip(hits, expected):
            assert abs(h[1] - e[1]) <= 1e-6, qid


SERVING_MODES = ["fast", "distributed", "unprepared"]
# one matching query per corpus mode
MATCHING = {"text": "data stream merge", "code": "parseConfig flushQueu"}
TOPK_SCHEMA = [
    ("query_id", "string"), ("doc_id", "bigint"), ("score", "double"), ("rank", "int")
]


@pytest.fixture(scope="module")
def served(spark, seg_index, code_index):
    """(corpus, serving mode) -> index: the driver fast path, the
    distributed scorer (no driver doc lengths) and an unprepared load."""
    out = {}
    for corpus, root in (("text", str(seg_index.paths.root)), ("code", code_index[0])):
        for mode in SERVING_MODES:
            idx = load_index(spark, root)
            if mode == "fast":
                idx.prepare_for_queries()
            elif mode == "distributed":
                idx.prepare_for_queries(collect_doclen_max=0)
            out[corpus, mode] = idx
    return out


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


@pytest.mark.parametrize("corpus", ["text", "code"])
@pytest.mark.parametrize("mode", SERVING_MODES)
def test_nonpositive_k_returns_no_rows(spark, served, corpus, mode):
    idx = served[corpus, mode]
    for k in (0, -1):
        for algo in ("wand", "taat", "auto"):
            df = wand_topk(spark, idx, [("M", MATCHING[corpus])], k=k, algo=algo)
            assert df.collect() == [] and _schema(df) == TOPK_SCHEMA, (k, algo)


@pytest.mark.parametrize("corpus", ["text", "code"])
@pytest.mark.parametrize("mode", SERVING_MODES)
def test_degenerate_queries_return_no_rows(spark, served, corpus, mode):
    """An empty or no-token query yields no rows with the top-k schema,
    and leaves a matching query in the same batch unchanged."""
    import alertsage_spark.query.wand as W

    idx = served[corpus, mode]
    match = ("M", MATCHING[corpus])
    W.reset_serving_counters()
    solo = sorted(wand_topk(spark, idx, [match], k=K).collect())
    assert solo
    for text in ("", "a ! ?"):
        df = wand_topk(spark, idx, [("D", text)], k=K)
        assert df.collect() == [] and _schema(df) == TOPK_SCHEMA, text
        mixed = wand_topk(spark, idx, [("D", text), match], k=K).collect()
        assert sorted(mixed) == solo, text
    path = "fast_path" if mode == "fast" else "distributed"
    assert W.SERVING_COUNTERS[path] == 3


@pytest.mark.parametrize("mode", SERVING_MODES)
def test_unknown_algo_raises(spark, served, mode):
    idx = served["text", mode]
    for algo in ("WAND", "Taat", "maxscore", ""):
        with pytest.raises(ValueError, match="unknown algo"):
            wand_topk(spark, idx, [("M", MATCHING["text"])], k=K, algo=algo)


@pytest.mark.parametrize("mode", SERVING_MODES)
def test_empty_and_matching_results_share_one_schema(spark, served, mode):
    """Nullability included: the result schema does not depend on
    whether anything matched."""
    idx = served["text", mode]
    match = wand_topk(spark, idx, [("M", MATCHING["text"])], k=K)
    assert match.collect()
    for df in (
        wand_topk(spark, idx, [("D", "zzz qqq notindocs")], k=K),
        wand_topk(spark, idx, [("D", "")], k=K),
        wand_topk(spark, idx, [("M", MATCHING["text"])], k=0),
    ):
        assert df.collect() == [] and df.schema == match.schema


def test_wand_prunes_flat_term_blocks_and_keeps_exact_topk(monkeypatch):
    """One shard: a selective term (30 postings, high idf) and a flat term
    in every doc (157 blocks, low idf). WAND charges the selective term's
    bound only to the windows holding its postings, so once the top-k is
    filled from those windows every other window is skipped: it returns
    TAAT's exact top-k (bit-identical scores) while scoring far fewer
    postings, counted through the shared kernel core ``_exact_scores``."""
    import numpy as np

    import alertsage_spark.query.wand as W
    from alertsage_spark.index.segments import _encode_shard

    rng = np.random.RandomState(5)
    n_docs = 20_000
    all_docs = np.arange(n_docs, dtype=np.int64)
    dls = rng.randint(20, 200, size=n_docs).astype(np.int64)
    sel_docs = np.sort(rng.choice(n_docs, size=30, replace=False)).astype(np.int64)
    p_docs = np.concatenate([all_docs, sel_docs])  # term 0 "flat", term 1 "sel"
    p_tf = np.concatenate([rng.randint(1, 4, size=n_docs), rng.randint(3, 9, size=30)])
    parts = {
        "p_docs": p_docs, "p_tf": p_tf.astype(np.int64), "p_dls": dls[p_docs],
        "term_starts": np.array([0, n_docs, n_docs + 30]),
        "terms": np.array(["flat", "sel"], dtype=object),
    }
    rows = _encode_shard(0, all_docs, dls, parts).slice(1)  # the term rows
    runs = {t: run for _sid, t, run in W._decoded_runs(rows)}
    assert len(runs["flat"].block_last) == 157 and len(runs["sel"].block_last) == 1
    query = [(runs["flat"], 0.05), (runs["sel"], 8.0)]
    avgdl = float(dls.mean())
    deleted = sel_docs[:2]  # tombstoned docs never fill the top-k

    scored = []
    core = W._exact_scores

    def counting(idf, docs, *rest):
        scored.append(len(docs))
        return core(idf, docs, *rest)

    monkeypatch.setattr(W, "_exact_scores", counting)
    out = {}
    for name, kernel in (("wand", W.wand_topk_shard), ("taat", W.taat_topk_shard)):
        scored.clear()
        out[name] = (kernel(query, all_docs, dls, 10, avgdl, deleted=deleted), sum(scored))
    (wand_hits, wand_scored), (taat_hits, taat_scored) = out["wand"], out["taat"]
    assert wand_hits == taat_hits and len(wand_hits) == 10
    assert {d for d, _s in wand_hits} <= set(sel_docs[2:].tolist())
    assert taat_scored == n_docs + 30
    assert wand_scored < taat_scored / 4, (wand_scored, taat_scored)
