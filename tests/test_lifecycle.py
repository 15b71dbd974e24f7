"""End-to-end LSM lifecycle soak (marked slow): build with injected
crash -> resume -> validated append -> policy compaction -> queries
rank-identical to the oracle at every stage."""

from __future__ import annotations

import pytest
from conftest import crash_after_groups
from pyspark.sql import functions as F

from alertsage_spark.index.merge import maybe_compact
from alertsage_spark.index.segments import (
    append_group,
    build_segments,
    load_index,
)
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.wand import wand_topk
from alertsage_spark.synth import zipf_corpus


@pytest.mark.slow
def test_full_lifecycle_crash_resume_append_compact(spark, tmp_path):
    corpus_a = zipf_corpus(spark, 30_000, seed=5).cache()
    corpus_b = (
        zipf_corpus(spark, 10_000, seed=9)
        .select((F.col("doc_id") + 30_000).alias("doc_id"), "text")
        .cache()
    )
    d = str(tmp_path / "life")

    # 1) build A with an injected crash after 2 of 4 groups
    with pytest.raises(RuntimeError, match="injected failure"), crash_after_groups(2):
        build_segments(spark, corpus_a, d, n_shards=8, n_groups=4, build_id="A")
    # 2) resume completes idempotently
    out = build_segments(spark, corpus_a, d, n_shards=8, n_groups=4,
                         build_id="A", resume=True)
    assert out["stats"]["n_docs"] == 30_000

    queries = [("Q1", "t25000 t1"), ("Q2", "t13000 t2 t3"), ("Q3", "t1 t2")]

    def check(index, docs, label):
        oracle = BM25Oracle([(r["doc_id"], r["text"]) for r in docs.collect()])
        got = {}
        for r in wand_topk(spark, index, queries, k=10, algo="auto").collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        for qid, text in queries:
            expected = oracle.topk(text, k=10)
            hits = sorted(got.get(qid, []))
            assert [h[1] for h in hits] == [e[0] for e in expected], (label, qid)

    check(load_index(spark, d), corpus_a, "post-resume")

    # 3) validated append of build B (disjoint docs, same layout)
    b_dir = str(tmp_path / "life_b")
    build_segments(spark, corpus_b, b_dir, n_shards=8, n_groups=1, build_id="B")
    assert append_group(spark, d, b_dir) == 1

    union = corpus_a.unionByName(corpus_b)
    check(load_index(spark, d), union, "post-append")

    # 4) policy compaction (5 groups >= threshold 4) -> single group,
    #    still rank-identical, stats recomputed
    merged_dir = maybe_compact(spark, d, str(tmp_path / "life_m"), max_groups=4)
    assert merged_dir is not None
    merged = load_index(spark, merged_dir)
    assert merged.stats["n_docs"] == 40_000
    assert merged.segments.groupBy("shard_id", "term").count().filter("count > 1").count() == 0
    check(merged, union, "post-compact")
