"""SegmentIndex.postings_df / doclen_df / as_inverted_index — the
relational (decoded) view of the compressed LSM segments must equal the
directly-built relational index, respect tombstones, and collapse
multi-group duplicates by the merge rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alertsage_spark.index.build import build_index
from alertsage_spark.index.segments import (
    build_segments,
    delete_docs,
    load_index,
)

DOCS = [
    (1, "alpha beta beta gamma"),
    (2, "alpha delta"),
    (3, "beta gamma gamma gamma"),
    (4, "delta epsilon alpha"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _postings_set(df):
    return {(r.term, r.doc_id, r.tf) for r in df.collect()}


def test_relview_equals_relational_build(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    build_segments(spark, docs, d, n_shards=2, n_groups=1)
    seg = load_index(spark, d)
    rel = build_index(docs)
    assert _postings_set(seg.postings_df()) == _postings_set(rel.postings)
    assert {(r.doc_id, r.dl) for r in seg.doclen_df().collect()} == {
        (r.doc_id, r.dl) for r in rel.doclen.collect()
    }
    idx = seg.as_inverted_index()
    assert idx.n_docs == rel.n_docs
    assert abs(idx.avgdl - rel.avgdl) < 1e-9


def test_relview_slicing_decodes_only_requested_terms(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    build_segments(spark, docs, d, n_shards=2, n_groups=1)
    seg = load_index(spark, d)
    out = seg.postings_df(terms=["alpha"])
    assert {r.term for r in out.collect()} == {"alpha"}
    assert {r.doc_id for r in out.collect()} == {1, 2, 4}


def test_relview_masks_tombstoned_docs(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    build_segments(spark, docs, d, n_shards=2, n_groups=1)
    delete_docs(spark, d, [2, 3])
    seg = load_index(spark, d)
    assert {r.doc_id for r in seg.postings_df().collect()} == {1, 4}
    assert {r.doc_id for r in seg.doclen_df().collect()} == {1, 4}


def test_relview_dedups_reingested_group_by_merge_rule(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    b = str(tmp_path / "batch")
    build_segments(spark, docs, d, n_shards=2, n_groups=1)
    # byte-identical re-ingest of doc 1 as an appended group
    from alertsage_spark.index.segments import append_group

    build_segments(
        spark, docs.filter(F.col("doc_id") == 1), b, n_shards=2, n_groups=1
    )
    append_group(spark, d, b)
    seg = load_index(spark, d)
    rel = build_index(docs)
    # duplicates collapse by max-tf / max-dl -> identical to single ingest
    assert _postings_set(seg.postings_df()) == _postings_set(rel.postings)
    assert {(r.doc_id, r.dl) for r in seg.doclen_df().collect()} == {
        (r.doc_id, r.dl) for r in rel.doclen.collect()
    }


def test_relview_decodes_across_block_boundaries(spark, tmp_path):
    """A posting list longer than BLOCK_SIZE restarts its delta stream
    (absolute doc_id) at each block — the decode must walk block
    offsets, not cumsum the whole stream (regression: doc_ids > max
    real id appeared past posting 128)."""
    from alertsage_spark.index.compress import BLOCK_SIZE

    n = BLOCK_SIZE * 2 + 40  # 3 blocks
    docs = spark.createDataFrame(
        [(i, "alpha beta" if i % 2 else "alpha") for i in range(n)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "idx")
    build_segments(spark, docs, d, n_shards=1, n_groups=1)
    seg = load_index(spark, d)
    out = seg.postings_df(terms=["alpha"]).collect()
    assert {r.doc_id for r in out} == set(range(n))
    assert all(r.tf == 1 for r in out)
    rel = build_index(docs)
    assert _postings_set(seg.postings_df()) == _postings_set(rel.postings)


def test_relview_refuses_a_stale_snapshot(spark, docs, tmp_path):
    """A delete after load_index must make the relational view raise,
    exactly like wand_topk, instead of serving the deleted doc."""
    from alertsage_spark.query.wand import wand_topk

    d = str(tmp_path / "idx")
    build_segments(spark, docs, d, n_shards=2, n_groups=1)
    seg = load_index(spark, d)
    delete_docs(spark, d, [2])
    with pytest.raises(RuntimeError, match="stale"):
        wand_topk(spark, seg, [("q", "alpha")], k=10)
    for view in (
        lambda: seg.postings_df(terms=["alpha"]),
        seg.doclen_df,
        seg.as_inverted_index,
    ):
        with pytest.raises(RuntimeError, match="stale"):
            view()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_relview_decoders_are_arrow_maps(spark, docs, tmp_path):
    d = str(tmp_path / "idx")
    build_segments(spark, docs, d, n_shards=2, n_groups=1)
    delete_docs(spark, d, [3])
    seg = load_index(spark, d)
    for df in (seg.postings_df(), seg.doclen_df(), seg._tombstone_docs_df()):
        plan = _plan(df)
        assert "MapInArrow" in plan, plan
        assert "MapInPandas" not in plan, plan


def _cols(df) -> list:
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def test_relview_empty_inputs_keep_the_declared_schema(spark, docs, tmp_path):
    postings_cols = [("term", "string"), ("doc_id", "bigint"), ("tf", "bigint")]
    doclen_cols = [("doc_id", "bigint"), ("dl", "bigint")]
    d = str(tmp_path / "idx")
    build_segments(spark, docs, d, n_shards=2, n_groups=1)
    seg = load_index(spark, d)
    for out in (seg.postings_df(terms=[]), seg.postings_df(terms=["absent"])):
        assert out.collect() == []
        assert _cols(out) == postings_cols

    delete_docs(spark, d, [1, 2, 3, 4])
    idx = load_index(spark, d).as_inverted_index()
    assert idx.postings.collect() == []
    assert _cols(idx.postings) == postings_cols + [("dl", "bigint")]
    assert idx.doclen.collect() == [] and _cols(idx.doclen) == doclen_cols
