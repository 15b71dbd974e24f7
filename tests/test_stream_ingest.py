"""Streaming index ingestion (streaming/ingest.py): micro-batches
append LSM groups exactly-once; restart with a shared checkpoint picks
up only new files; streamed index is rank-identical to the oracle over
everything ingested so far."""

from __future__ import annotations

import glob
import os

import pytest

from alertsage_spark.index.segments import load_index, stream_committed_batch_ids
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.wand import wand_topk
from alertsage_spark.streaming.ingest import ingest_batch, stream_ingest
from alertsage_spark.synth import zipf_corpus

QUERIES = [("Q1", "t1 t2"), ("Q2", "t200 t5")]


def _check_rank_identity(spark, index_dir, docs_rows):
    idx = load_index(spark, index_dir)
    oracle = BM25Oracle(docs_rows)
    for qid, text in QUERIES:
        got = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in wand_topk(spark, idx, [(qid, text)], k=10, algo="auto").collect()
        )
        expected = oracle.topk(text, k=10)
        assert [g[1] for g in got] == [e[0] for e in expected], qid
        assert [g[2] for g in got] == [e[1] for e in expected], qid


def _drop_files(df, src_dir: str, tag: str, tmp_root: str) -> None:
    """Write df as FLAT parquet part-files into src_dir (the file
    source lists files at the top level)."""
    import shutil

    staging = os.path.join(tmp_root, f"stage_{tag}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    i = 0
    for p in sorted(glob.glob(os.path.join(staging, "part-*.parquet"))):
        shutil.move(p, os.path.join(src_dir, f"{tag}_{i}.parquet"))
        i += 1
    shutil.rmtree(staging, ignore_errors=True)


def _run_stream(spark, src_dir, index_dir, ckpt):
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = stream_ingest(stream, index_dir, ckpt, n_shards=4)
    q.awaitTermination()


def _file_shard_sets(group_dir):
    """The sorted shard_id set of each parquet file of a group."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(group_dir, "*.parquet"))
    return sorted(
        tuple(sorted(set(pq.read_table(f, columns=["shard_id"]).column(0).to_pylist())))
        for f in files
    )


def test_stream_group_has_the_direct_ingest_layout(spark, tmp_path):
    """A micro-batch is planned in the stream's own session; its group
    still has the layout of ingest_batch over the same rows (the same
    shard sets per file), since that layout lives in the batch's plan."""
    src, streamed, direct = (str(tmp_path / n) for n in ("src", "streamed", "direct"))
    os.makedirs(src)
    docs = zipf_corpus(spark, 400, seed=34).cache()
    _drop_files(docs, src, "p", str(tmp_path))
    _run_stream(spark, src, streamed, str(tmp_path / "ckpt"))
    assert ingest_batch(spark, docs, 0, direct, n_shards=4)
    groups = glob.glob(os.path.join(streamed, "segments", "group=*"))
    assert len(groups) == 1
    want = _file_shard_sets(os.path.join(direct, "segments", "group=0"))
    assert _file_shard_sets(groups[0]) == want
    assert len(want) > 1
    docs.unpersist()


def test_stream_ingest_and_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    idx_dir = str(tmp_path / "sidx")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    part1 = zipf_corpus(spark, 800, seed=31).cache()
    _drop_files(part1, src, "p1", str(tmp_path))
    _run_stream(spark, src, idx_dir, ckpt)
    rows1 = [(r["doc_id"], r["text"]) for r in part1.collect()]
    _check_rank_identity(spark, idx_dir, rows1)
    n_groups_1 = len(glob.glob(os.path.join(idx_dir, "segments", "group=*")))
    assert n_groups_1 >= 1
    batches_1 = stream_committed_batch_ids(idx_dir)
    assert batches_1

    # restart with NEW files against the same checkpoint: only the new
    # data is appended, and the index now answers over everything
    from pyspark.sql import functions as F

    part2 = (
        zipf_corpus(spark, 300, seed=32)
        .select((F.col("doc_id") + 800).alias("doc_id"), "text")
        .cache()
    )
    _drop_files(part2, src, "p2", str(tmp_path))
    _run_stream(spark, src, idx_dir, ckpt)
    rows2 = rows1 + [(r["doc_id"], r["text"]) for r in part2.collect()]
    _check_rank_identity(spark, idx_dir, rows2)
    n_groups_2 = len(glob.glob(os.path.join(idx_dir, "segments", "group=*")))
    assert n_groups_2 > n_groups_1
    assert load_index(spark, idx_dir).stats["n_docs"] == 1_100


def test_redelivered_batch_is_skipped(spark, tmp_path):
    idx_dir = str(tmp_path / "ridx")
    docs = zipf_corpus(spark, 200, seed=33)
    assert ingest_batch(spark, docs, 0, idx_dir, n_shards=4) is True
    groups_before = sorted(glob.glob(os.path.join(idx_dir, "segments", "group=*")))
    # crash-then-redeliver: same batch id arrives again
    assert ingest_batch(spark, docs, 0, idx_dir, n_shards=4) is False
    assert sorted(glob.glob(os.path.join(idx_dir, "segments", "group=*"))) == groups_before
    # an empty batch is a no-op too
    assert ingest_batch(spark, docs.limit(0), 1, idx_dir, n_shards=4) is False
    # config drift is rejected, not silently mixed
    with pytest.raises(ValueError, match="config mismatch"):
        ingest_batch(spark, docs, 2, idx_dir, n_shards=8)


def test_redelivery_skip_survives_compaction(spark, tmp_path):
    """merge_segments replaces the ingested groups; their batch ids must
    carry into the merged group's lineage file so a batch re-delivered
    across a stop -> compact -> restart window is still skipped (the
    ADVICE r3 double-count scenario)."""
    import json

    from alertsage_spark.index.merge import merge_segments
    from alertsage_spark.index.segments import GROUP_LINEAGE, IndexPaths

    idx_dir = str(tmp_path / "cidx")
    merged = str(tmp_path / "cmerged")
    b1 = zipf_corpus(spark, 200, seed=61)
    b2 = zipf_corpus(spark, 100, seed=62).selectExpr(
        "doc_id + 1000 AS doc_id", "text"
    )
    assert ingest_batch(spark, b1, 0, idx_dir, n_shards=2)
    assert ingest_batch(spark, b2, 1, idx_dir, n_shards=2)
    assert stream_committed_batch_ids(idx_dir) == {0, 1}

    merge_segments(spark, idx_dir, merged)
    # merged dir has ONE group, whose lineage file carries both batch ids
    with open(os.path.join(IndexPaths(merged).group_dir(0), GROUP_LINEAGE)) as f:
        assert set(json.load(f)["batch_ids"]) == {0, 1}
    assert stream_committed_batch_ids(merged) == {0, 1}

    # re-delivered batch 1 against the compacted index: skipped, docs
    # not double-counted
    assert ingest_batch(spark, b2, 1, merged, n_shards=2) is False
    assert load_index(spark, merged).stats["n_docs"] == 300

    # a second compaction keeps carrying the union (the merged group's
    # ids + the new group's)
    assert ingest_batch(spark, b2.selectExpr("doc_id + 9000 AS doc_id", "text"),
                        2, merged, n_shards=2) is True
    merged2 = str(tmp_path / "cmerged2")
    merge_segments(spark, merged, merged2)
    assert stream_committed_batch_ids(merged2) == {0, 1, 2}


def test_ingested_stats_equal_fresh_build(spark, tmp_path):
    """Two ingests and a delete: the loaded stats and termstats equal a
    fresh build over both batches, and the delete leaves n_docs as it
    was (tombstoned docs count until merge)."""
    from pyspark.sql import functions as F

    from alertsage_spark.index.segments import build_segments, delete_docs

    def stats_and_terms(d):
        idx = load_index(spark, d)
        terms = sorted((r["term"], r["df"], r["cf"]) for r in idx.termstats.collect())
        keys = ("n_docs", "sum_dl", "avgdl", "n_shards", "mode")
        return {k: idx.stats[k] for k in keys}, terms

    idx_dir, fresh = str(tmp_path / "inc"), str(tmp_path / "fresh")
    b1 = zipf_corpus(spark, 400, seed=41)
    b2 = (zipf_corpus(spark, 250, seed=42)
          .select((F.col("doc_id") + 400).alias("doc_id"), "text"))
    assert ingest_batch(spark, b1, 0, idx_dir, n_shards=4)
    assert ingest_batch(spark, b2, 1, idx_dir, n_shards=4)
    build_segments(spark, b1.unionByName(b2), fresh, n_shards=4, n_groups=1)
    want = stats_and_terms(fresh)
    assert stats_and_terms(idx_dir) == want
    assert want[0]["n_docs"] == 650
    delete_docs(spark, idx_dir, [1, 2, 401])
    assert stats_and_terms(idx_dir) == want


def test_adopt_into_precreated_empty_dir(spark, tmp_path):
    """The README pattern: user mkdir -p's the index dir first. The
    first-batch adopt must land the index AT that path, never nested
    inside it (shutil.move semantics when dst exists)."""
    idx_dir = str(tmp_path / "pre")
    os.makedirs(idx_dir)
    docs = zipf_corpus(spark, 200, seed=7)
    assert ingest_batch(spark, docs, 0, idx_dir, n_shards=2)
    assert os.path.exists(os.path.join(idx_dir, "build_config.json"))
    idx = load_index(spark, idx_dir)
    assert int(idx.stats["n_docs"]) == 200


def test_adopt_refuses_nonempty_non_index_dir(spark, tmp_path):
    idx_dir = str(tmp_path / "occupied")
    os.makedirs(idx_dir)
    with open(os.path.join(idx_dir, "somefile.txt"), "w") as f:
        f.write("x")
    docs = zipf_corpus(spark, 50, seed=8)
    with pytest.raises(ValueError, match="refusing to adopt"):
        ingest_batch(spark, docs, 0, idx_dir, n_shards=2)


def test_merge_into_reused_dir_clears_stale_sidecar(spark, tmp_path):
    """A merge destination that previously hosted a streamed index must
    not inherit its committed-batch claims: stale claims would make a
    later streaming sink silently DROP re-used batch ids."""
    from alertsage_spark.index.merge import merge_segments
    from alertsage_spark.index.segments import build_segments

    dst = str(tmp_path / "reused")
    # first life: streamed index at dst
    assert ingest_batch(spark, zipf_corpus(spark, 120, seed=71), 0, dst, n_shards=2)
    assert stream_committed_batch_ids(dst) == {0}
    import shutil

    shutil.rmtree(dst)

    # second life: dst becomes the merge target of a PLAIN batch index
    os.makedirs(dst)
    src = str(tmp_path / "plain")
    build_segments(spark, zipf_corpus(spark, 150, seed=72), src,
                   n_shards=2, n_groups=1)
    merge_segments(spark, src, dst)
    assert stream_committed_batch_ids(dst) == set()
    # batch 0 against the merged index must INGEST, not be skipped
    assert ingest_batch(spark, zipf_corpus(spark, 50, seed=73).selectExpr(
        "doc_id + 5000 AS doc_id", "text"), 0, dst, n_shards=2) is True
