"""Stream ingest writes its group and nothing else: ingest_batch routes
the batch to its shards and writes it through the build's one group
writer (segments._write_group), so an ingested group is row-identical
to a one-group build of the same batch, an ingest runs only that
write's Spark jobs, and an empty batch commits nothing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from alertsage_spark.index.segments import (
    GROUP_LINEAGE,
    IndexPaths,
    _segment_rows,
    _write_group,
    build_segments,
)
from alertsage_spark.streaming.ingest import ingest_batch
from alertsage_spark.synth import zipf_corpus


def _jobs_and_tasks(sc, group: str) -> tuple[int, int]:
    """Jobs of a job group, and the tasks its stages ran (a stage shared
    by two jobs counts once)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in st.getJobInfo(j).stageIds}
    return len(jobs), sum(st.getStageInfo(s).numCompletedTasks for s in stages)


def _in_group(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setJobGroup("", "")


def test_ingest_runs_only_its_group_write(spark, tmp_path):
    """An ingest into an existing index launches exactly the jobs and
    tasks of writing its group alone: no emptiness probe, no staging
    build's manifest, finalize or stats jobs."""
    d = str(tmp_path / "idx")
    assert ingest_batch(spark, zipf_corpus(spark, 200, seed=81), 0, d, n_shards=4)
    batch = zipf_corpus(spark, 60, seed=82).selectExpr("doc_id + 1000 AS doc_id", "text")
    batch = batch.cache()
    batch.count()
    sc = spark.sparkContext

    def write_alone():
        _write_group(_segment_rows(batch, 4, "text"), str(tmp_path / "alone"))

    _in_group(sc, "group_write_alone", write_alone)
    assert _in_group(sc, "one_ingest", lambda: ingest_batch(spark, batch, 1, d, n_shards=4))
    batch.unpersist()
    alone = _jobs_and_tasks(sc, "group_write_alone")
    assert alone[0] >= 1
    assert _jobs_and_tasks(sc, "one_ingest") == alone


def _group_rows(spark, group_dir: str):
    rows = spark.read.parquet(group_dir).collect()
    return sorted(rows, key=lambda r: (r["shard_id"], r["term"] is not None, r["term"] or ""))


@pytest.mark.parametrize("mode", ["text", "code"])
def test_ingested_group_equals_one_group_build(spark, documents_df, tmp_path, mode):
    """The first batch's group (a new index) and a later batch's group
    (an existing one) each hold exactly the rows build_segments writes
    for that batch with n_groups=1; a stream-born index has no
    manifest."""
    docs = documents_df.select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 2 == p) for p in (0, 1)]
    d = str(tmp_path / "stream")
    for i, b in enumerate(batches):
        assert ingest_batch(spark, b, i, d, n_shards=4, mode=mode)
    paths = IndexPaths(d)
    assert not os.path.exists(paths.manifest)
    for i, b in enumerate(batches):
        fresh = str(tmp_path / f"fresh{i}")
        build_segments(spark, b, fresh, n_shards=4, n_groups=1, mode=mode)
        assert os.path.exists(os.path.join(paths.group_dir(i), GROUP_LINEAGE))
        assert _group_rows(spark, paths.group_dir(i)) == _group_rows(
            spark, IndexPaths(fresh).group_dir(0)
        ), i


def test_empty_first_batch_creates_no_index(spark, tmp_path):
    d = str(tmp_path / "new" / "idx")
    empty = zipf_corpus(spark, 10, seed=83).limit(0)
    assert ingest_batch(spark, empty, 0, d, n_shards=2) is False
    assert not os.path.exists(d)
    assert os.listdir(tmp_path / "new") == []  # no staging dir left
