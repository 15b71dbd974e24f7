"""The distributed per-shard scorer (``applyInArrow``) on an un-compacted
2-group index with tombstones: every shard carries two doclen rows and
two runs per term, and deleted docs are masked shard-locally.

The distributed path (``collect_doclen_max=0``, the serving mode of
perfbench's search_dist) must match the driver fast path and the Python
oracle minus the deleted docs, plan one Arrow grouped map, and warn
nothing.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from alertsage_spark.index.segments import (
    append_group,
    build_segments,
    delete_docs,
    load_index,
)
from alertsage_spark.query import wand
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.synth import zipf_corpus

QUERIES = [
    ("Q1", "t1 t2"),
    ("Q2", "t200 t3"),
    ("Q3", "t2500 t1"),
    ("Q4", "t57 t1900 t1 t2"),
]
K = 10


@pytest.fixture(scope="module")
def two_groups(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("arrow_scorer")
    a = zipf_corpus(spark, 1_200, seed=31)
    b = zipf_corpus(spark, 400, seed=32).select(
        (F.col("doc_id") + 1_200).alias("doc_id"), "text"
    )
    da, db = str(root / "a"), str(root / "b")
    build_segments(spark, a, da, n_shards=4, n_groups=1, build_id="A")
    build_segments(spark, b, db, n_shards=4, n_groups=1, build_id="B")
    append_group(spark, da, db)
    docs = [(r["doc_id"], r["text"]) for r in a.union(b).collect()]
    oracle = BM25Oracle(docs)
    # delete the current top-2 of every query, from both groups
    victims = sorted(
        {doc for _q, text in QUERIES for doc, _s, _r in oracle.topk(text, k=2)}
    )
    assert any(v < 1_200 for v in victims) and any(v >= 1_200 for v in victims)
    delete_docs(spark, da, victims)
    return da, oracle, set(victims)


def _ranked(df) -> dict[str, list[tuple[int, int, float]]]:
    out: dict[str, list] = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: sorted(v) for q, v in out.items()}


def _distributed(spark, d, algo="auto"):
    idx = load_index(spark, d).prepare_for_queries(collect_doclen_max=0)
    assert idx.dl_map is None
    wand.reset_serving_counters()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = wand.wand_topk(spark, idx, QUERIES, k=K, algo=algo)
    assert wand.SERVING_COUNTERS["distributed"] == 1
    assert wand.SERVING_COUNTERS["fast_path"] == 0
    return df, [w for w in caught if issubclass(w.category, UserWarning)]


@pytest.mark.parametrize("algo", ["wand", "taat", "auto"])
def test_distributed_matches_fast_path_and_oracle(spark, two_groups, algo):
    d, oracle, victims = two_groups
    dist_df, user_warnings = _distributed(spark, d, algo)
    assert not user_warnings, [str(w.message) for w in user_warnings]
    dist = _ranked(dist_df)

    fast_idx = load_index(spark, d).prepare_for_queries()
    assert fast_idx.dl_map is not None
    fast = _ranked(wand.wand_topk(spark, fast_idx, QUERIES, k=K, algo=algo))

    assert set(dist) == set(fast) == {q for q, _t in QUERIES}
    for qid, text in QUERIES:
        got, ref = dist[qid], fast[qid]
        assert [(r, doc) for r, doc, _s in got] == [(r, doc) for r, doc, _s in ref]
        assert all(abs(g[2] - f[2]) <= 1e-6 for g, f in zip(got, ref))
        # stats stay those of the pre-delete corpus until merge, so the
        # truth is the oracle's ranking with the deleted docs removed
        expected = [(doc, s) for doc, s, _r in oracle.topk(text, k=K + len(victims))
                    if doc not in victims][:K]
        assert [doc for _r, doc, _s in got] == [doc for doc, _s in expected], qid
        assert all(abs(g[2] - e[1]) <= 1e-6 for g, e in zip(got, expected)), qid


def test_distributed_plan_is_one_arrow_grouped_map(spark, two_groups, monkeypatch):
    d, _oracle, _victims = two_groups
    merged = _ranked(_distributed(spark, d)[0])
    # a zero driver-merge budget returns the distributed plan itself
    # (window rank over the scorer output) instead of a local relation
    monkeypatch.setattr(wand, "DRIVER_MERGE_MAX_ROWS", 0)
    df, user_warnings = _distributed(spark, d)
    assert not user_warnings
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert _ranked(df) == merged
