"""Serving-snapshot staleness guard + append_group crash-staging
(ADVICE r02: an append after prepare_for_queries was silently invisible
to the serving maps; a crash mid-append left a partial group dir the
segment glob would read)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from alertsage_spark.index.segments import append_group, build_segments, load_index
from alertsage_spark.query import wand
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.wand import wand_topk
from alertsage_spark.synth import zipf_corpus


@pytest.fixture(scope="module")
def two_builds(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fresh")
    a = zipf_corpus(spark, 2_000, seed=11).cache()
    b = (
        zipf_corpus(spark, 500, seed=12)
        .select((F.col("doc_id") + 2_000).alias("doc_id"), "text")
        .cache()
    )
    da, db = str(root / "a"), str(root / "b")
    build_segments(spark, a, da, n_shards=4, n_groups=1, build_id="A")
    build_segments(spark, b, db, n_shards=4, n_groups=1, build_id="B")
    return da, db


def test_append_after_prepare_raises(spark, two_builds):
    da, db = two_builds
    idx = load_index(spark, da).prepare_for_queries()
    # sanity: serving works before the append
    assert wand_topk(spark, idx, [("q", "t1 t2")], k=5).count() > 0
    n = append_group(spark, da, db)
    assert n == 1
    with pytest.raises(RuntimeError, match="stale"):
        wand_topk(spark, idx, [("q", "t1 t2")], k=5)
    # re-load + re-prepare serves the appended corpus
    idx2 = load_index(spark, da).prepare_for_queries()
    assert idx2.stats is not None
    assert wand_topk(spark, idx2, [("q", "t1 t2")], k=5).count() > 0


def test_mutation_between_load_and_prepare_raises(spark, tmp_path):
    """ADVICE r04: prepare_for_queries must verify the LOAD-time group
    snapshot, not re-list the directory — a group appended in the
    load->prepare gap pins stale parquet paths in self.segments while a
    re-snapshot would make assert_serving_fresh pass."""
    a = zipf_corpus(spark, 1_000, seed=21).cache()
    b = (
        zipf_corpus(spark, 300, seed=22)
        .select((F.col("doc_id") + 1_000).alias("doc_id"), "text")
        .cache()
    )
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_segments(spark, a, da, n_shards=2, n_groups=1, build_id="A")
    build_segments(spark, b, db, n_shards=2, n_groups=1, build_id="B")
    idx = load_index(spark, da)
    append_group(spark, da, db)  # mutate AFTER load, BEFORE prepare
    with pytest.raises(RuntimeError, match="stale"):
        idx.prepare_for_queries()
    # a fresh load sees the appended group and prepares fine
    idx2 = load_index(spark, da).prepare_for_queries()
    assert wand_topk(spark, idx2, [("q", "t1 t2")], k=5).count() > 0


def test_append_staging_invisible_to_glob(spark, two_builds, tmp_path):
    da, db = two_builds
    # a leftover staging dir (simulated crash mid-append) must not be
    # read by load_index's segment glob and must not break a re-append
    seg_dir = os.path.join(da, "segments")
    groups_before = sorted(
        d for d in os.listdir(seg_dir) if d.startswith("group=")
    )
    stale = os.path.join(seg_dir, "_staging_group_99")
    os.makedirs(os.path.join(stale, "junk"), exist_ok=True)
    idx = load_index(spark, da)
    assert idx.segments.count() > 0  # glob ignored the staging dir
    assert sorted(
        d for d in os.listdir(seg_dir) if d.startswith("group=")
    ) == groups_before


_WORDS = ["alpha", "beta", "gamma", "parseConfig", "read_buffer", "segmentMerge"]


def _doc(i: int, extra: str = "") -> tuple[int, str]:
    words = [_WORDS[(i * j) % len(_WORDS)] for j in range(1, 3 + i % 5)]
    return i, " ".join(words + [extra] * (i % 3))


@pytest.fixture(scope="module", params=["text", "code"])
def appended_only(request, spark, tmp_path_factory):
    """A 50-doc index plus a 20-doc group added by append_group and no
    other call; ``newterm`` occurs only in the appended group."""
    mode = request.param
    root = tmp_path_factory.mktemp(f"append_only_{mode}")
    base = [_doc(i) for i in range(50)]
    added = [_doc(i, "newterm") for i in range(1_000, 1_020)]
    da, db = str(root / "a"), str(root / "b")
    for d, rows in ((da, base), (db, added)):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        build_segments(spark, df, d, n_shards=4, n_groups=1, mode=mode)
    assert append_group(spark, da, db) == 1
    return da, mode, BM25Oracle(base + added, mode=mode)


@pytest.mark.parametrize("path", ["fast", "distributed", "unprepared"])
def test_append_group_alone_serves_the_union(spark, appended_only, path):
    """Stats derive from the pinned groups, so an appended group counts
    at the next load with no refresh step: n_docs is the union's, and a
    term held only by the appended group ranks as the oracle over the
    union ranks it, on every serving path."""
    d, mode, oracle = appended_only
    idx = load_index(spark, d)
    if path == "fast":
        idx.prepare_for_queries()
    elif path == "distributed":
        idx.prepare_for_queries(collect_doclen_max=0)
    wand.reset_serving_counters()
    got = sorted(
        (r["rank"], r["doc_id"], r["score"])
        for r in wand_topk(spark, idx, [("q", "newterm alpha")], k=10).collect()
    )
    want = [(rank, doc, score) for doc, score, rank in oracle.topk("newterm alpha", k=10)]
    assert got == want
    assert idx.stats["n_docs"] == oracle.n_docs == 70
    assert idx.stats["avgdl"] == oracle.avgdl
    assert wand.SERVING_COUNTERS["fast_path"] == (path == "fast")
