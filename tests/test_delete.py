"""LSM delete lifecycle (delete_docs tombstones):

  build -> delete -> queries exclude the docs IMMEDIATELY (both scorer
  kernels, both dispatch paths), with the exact semantics "pre-delete
  ranking minus deleted docs" (per-doc BM25 scores don't depend on other
  candidates, so surviving relative order is unchanged while global
  stats stay stale) -> merge_segments physically drops postings/doclens/
  tombstones and recomputes stats -> post-merge results are
  rank-identical to a fresh oracle over the live corpus only.
"""

from __future__ import annotations

import os
import warnings

import pytest
from pyspark.sql import functions as F

from alertsage_spark.index.merge import merge_segments
from alertsage_spark.index.segments import (
    TOMBSTONE_TERM,
    build_segments,
    delete_docs,
    load_index,
)
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.wand import wand_topk
from alertsage_spark.synth import zipf_corpus

QUERIES = [("Q1", "t1 t2"), ("Q2", "t200 t3"), ("Q3", "t2500 t1")]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("del")
    corpus = zipf_corpus(spark, 3_000, seed=7).cache()
    d = str(root / "idx")
    build_segments(spark, corpus, d, n_shards=4, n_groups=1, build_id="D")
    return d, corpus


def _topk(spark, idx, k=10, algo="auto"):
    got = {}
    for r in wand_topk(spark, idx, QUERIES, k=k, algo=algo).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    return {q: [x[1] for x in sorted(v)] for q, v in got.items()}


def test_delete_excludes_docs_immediately(spark, built, tmp_path):
    d, corpus = built
    idx = load_index(spark, d)
    # deep pre-delete ranking (k=50) = the truth for the stale-stats phase
    before = _topk(spark, idx, k=50)
    victims = sorted({docs[0] for docs in before.values() if docs}
                     | {docs[1] for docs in before.values() if len(docs) > 1})
    g = delete_docs(spark, d, victims + [999_999_999])  # + a nonexistent id
    assert g >= 1

    idx2 = load_index(spark, d)
    vict = set(victims)
    for algo in ("wand", "taat", "auto"):
        after = _topk(spark, idx2, k=10, algo=algo)
        for q, docs in after.items():
            assert not (set(docs) & vict), (algo, q)
            expected = [x for x in before[q] if x not in vict][:10]
            assert docs == expected, (algo, q)

    # serving fast path takes the same mask
    idx3 = load_index(spark, d).prepare_for_queries()
    after_fast = _topk(spark, idx3, k=10)
    for q in after_fast:
        assert after_fast[q] == [x for x in before[q] if x not in vict][:10]


def test_empty_delete_commits_nothing(spark, tmp_path):
    """An empty delete (no ids, as a list or as a DataFrame) returns -1
    and leaves no group and no staging dir: a prepared snapshot stays
    fresh."""
    d = str(tmp_path / "e")
    build_segments(spark, zipf_corpus(spark, 100, seed=3), d, n_shards=2, n_groups=1)
    idx = load_index(spark, d).prepare_for_queries()
    assert delete_docs(spark, d, []) == -1
    assert delete_docs(spark, d, spark.range(0).selectExpr("id AS doc_id")) == -1
    idx.assert_serving_fresh()
    assert os.listdir(os.path.join(d, "segments")) == ["group=0"]


def test_delete_after_prepare_is_detected_stale(spark, built):
    d, _corpus = built
    idx = load_index(spark, d).prepare_for_queries()
    delete_docs(spark, d, [1, 2])
    with pytest.raises(RuntimeError, match="stale"):
        wand_topk(spark, idx, QUERIES, k=5)


def test_delete_after_plain_load_is_detected_stale(spark, built):
    # load_index (WITHOUT prepare_for_queries) pins the parquet group
    # list too — a later mutation must raise, not serve stale results.
    d, _corpus = built
    idx = load_index(spark, d)
    delete_docs(spark, d, [3])
    with pytest.raises(RuntimeError, match="stale"):
        wand_topk(spark, idx, QUERIES, k=5)


def test_merge_drops_tombstones_and_refreshes_stats(spark, built, tmp_path):
    d, corpus = built
    n_before = load_index(spark, d).stats["n_docs"]
    # everything deleted so far across the module's tests
    tomb_rows = (
        load_index(spark, d).segments
        .filter(F.col("term") == TOMBSTONE_TERM).count()
    )
    assert tomb_rows > 0
    merged_dir = str(tmp_path / "merged")
    merge_segments(spark, d, merged_dir)
    midx = load_index(spark, merged_dir)
    assert midx.segments.filter(F.col("term") == TOMBSTONE_TERM).count() == 0

    # live corpus = original minus every deleted id
    deleted_ids = set()
    for r in (
        load_index(spark, d).segments
        .filter(F.col("term") == TOMBSTONE_TERM).collect()
    ):
        from posting_oracle import decode_doclen_row

        deleted_ids |= set(decode_doclen_row(r)[0].tolist())
    live = [(r["doc_id"], r["text"]) for r in corpus.collect()
            if r["doc_id"] not in deleted_ids]
    assert midx.stats["n_docs"] == len(live) < n_before

    # post-merge: rank-identical (ids AND scores) to a FRESH oracle on
    # the live corpus — stats fully corrected
    oracle = BM25Oracle(live)
    for qid, text in QUERIES:
        got = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in wand_topk(spark, midx, [(qid, text)], k=10, algo="auto").collect()
        )
        expected = oracle.topk(text, k=10)
        assert [g[1] for g in got] == [e[0] for e in expected], qid
        assert [g[2] for g in got] == [e[1] for e in expected], qid


def test_delete_everything_then_merge_empty(spark, tmp_path):
    """Deleting the whole corpus: queries return empty (no crash) both
    pre- and post-merge; merged stats show zero docs."""
    corpus = zipf_corpus(spark, 60, seed=3)
    d = str(tmp_path / "all")
    build_segments(spark, corpus, d, n_shards=2, n_groups=1, build_id="A")
    delete_docs(spark, d, [r["doc_id"] for r in corpus.collect()])
    idx = load_index(spark, d)
    assert wand_topk(spark, idx, QUERIES, k=5).count() == 0
    m = str(tmp_path / "all_m")
    merge_segments(spark, d, m)
    midx = load_index(spark, m)
    assert midx.stats["n_docs"] == 0
    assert wand_topk(spark, midx, QUERIES, k=5).count() == 0


def test_delete_append_merge_interplay(spark, tmp_path):
    """delete(A-subset) -> append(B) -> merge: the live corpus is
    (A - deleted) + B, rank- and score-identical to a fresh oracle."""
    from alertsage_spark.index.segments import append_group

    a = zipf_corpus(spark, 1_000, seed=21).cache()
    b = (zipf_corpus(spark, 300, seed=22)
         .select((F.col("doc_id") + 1_000).alias("doc_id"), "text").cache())
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_segments(spark, a, da, n_shards=2, n_groups=1, build_id="A")
    build_segments(spark, b, db, n_shards=2, n_groups=1, build_id="B")
    victims = list(range(0, 1_000, 7))
    delete_docs(spark, da, victims)
    append_group(spark, da, db)
    m = str(tmp_path / "m")
    merge_segments(spark, da, m)
    midx = load_index(spark, m)
    vict = set(victims)
    live = [(r["doc_id"], r["text"]) for r in a.collect() if r["doc_id"] not in vict]
    live += [(r["doc_id"], r["text"]) for r in b.collect()]
    assert midx.stats["n_docs"] == len(live)
    oracle = BM25Oracle(live)
    for qid, text in QUERIES:
        got = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in wand_topk(spark, midx, [(qid, text)], k=10, algo="auto").collect()
        )
        expected = oracle.topk(text, k=10)
        assert [g[1] for g in got] == [e[0] for e in expected], qid
        assert [g[2] for g in got] == [e[1] for e in expected], qid


def test_merge_and_delete_plans_are_arrow_grouped_maps(spark, tmp_path, monkeypatch):
    """delete_docs and merge_segments each write through exactly one
    Arrow grouped map (FlatMapGroupsInArrow, no FlatMapGroupsInPandas)
    and warn nothing."""
    from pyspark.sql.readwriter import DataFrameWriter

    d = str(tmp_path / "p")
    build_segments(spark, zipf_corpus(spark, 200, seed=5), d, n_shards=4, n_groups=2)
    plans: list[str] = []
    write_parquet = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return write_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        delete_docs(spark, d, [0, 7, 14])
        delete_plans, plans[:] = plans[:], []
        merge_segments(spark, d, str(tmp_path / "pm"))
    user_warnings = [str(w.message) for w in caught if issubclass(w.category, UserWarning)]
    assert not user_warnings, user_warnings
    for what, ps in (("delete", delete_plans), ("merge", plans)):
        assert sum(p.count("FlatMapGroupsInArrow") for p in ps) == 1, (what, ps)
        assert not any("FlatMapGroupsInPandas" in p for p in ps), (what, ps)
