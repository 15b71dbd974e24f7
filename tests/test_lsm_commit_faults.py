"""Fault injection on the LSM commit path.

Every later segment group (delete_docs, append_group, streaming ingest)
lands through segments._land_group: the fill writes a staging dir and
its rename is the commit point. merge_segments builds its whole output
in a staging sibling of out_dir and renames it into place. A writer
that fails before its rename must leave the committed index, and every
snapshot loaded before the failure, unchanged; a retry commits what the
failed call would have."""

from __future__ import annotations

import glob
import os

import pytest

from alertsage_spark.index import merge as merge_mod
from alertsage_spark.index import segments
from alertsage_spark.index.merge import merge_segments
from alertsage_spark.index.segments import (
    append_group,
    build_segments,
    delete_docs,
    load_index,
)
from alertsage_spark.query.wand import wand_topk
from alertsage_spark.streaming import ingest as ingest_mod
from alertsage_spark.streaming.ingest import ingest_batch
from alertsage_spark.synth import zipf_corpus

QUERIES = [("Q1", "t1 t2"), ("Q2", "t200 t3")]


def _topk(spark, idx):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand_topk(spark, idx, QUERIES, k=10).collect()
    )


def _committed(d):
    return sorted(g for g in os.listdir(os.path.join(d, "segments")) if g.startswith("group="))


def _staging(d):
    return glob.glob(os.path.join(d, "segments", "_staging_group_*"))


def _new_docs(spark, n, seed):
    return zipf_corpus(spark, n, seed=seed).selectExpr("doc_id + 5000 AS doc_id", "text")


def _delete(spark, d, tmp_path):
    return lambda: delete_docs(spark, d, [1, 2, 3])


def _append(spark, d, tmp_path):
    b = str(tmp_path / "b")
    build_segments(spark, _new_docs(spark, 100, 32), b, n_shards=2, n_groups=1)
    return lambda: append_group(spark, d, b)


def _ingest(spark, d, tmp_path):
    batch = _new_docs(spark, 100, 33)
    return lambda: ingest_batch(spark, batch, 1, d, n_shards=2)


WRITERS = {"delete_docs": _delete, "append_group": _append, "ingest_batch": _ingest}


def _crash_before_rename(land):
    """_land_group whose fill dies after writing part of the staging dir."""

    def crashing(paths, fill):
        def partial_fill(stage):
            fill(stage)
            os.remove(os.path.join(stage, sorted(os.listdir(stage))[0]))
            raise RuntimeError("injected crash before the commit rename")

        return land(paths, partial_fill)

    return crashing


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_landing_fault_leaves_index_unchanged(spark, tmp_path, monkeypatch, writer):
    d = str(tmp_path / "idx")
    assert ingest_batch(spark, zipf_corpus(spark, 300, seed=31), 0, d, n_shards=2)
    call = WRITERS[writer](spark, d, tmp_path)
    snap = load_index(spark, d)
    before = _topk(spark, snap)
    committed = _committed(d)

    crashing = _crash_before_rename(segments._land_group)
    monkeypatch.setattr(segments, "_land_group", crashing)
    monkeypatch.setattr(ingest_mod, "_land_group", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        call()
    assert _committed(d) == committed
    assert _staging(d)  # the crash leftover, invisible to readers
    snap.assert_serving_fresh()
    assert _topk(spark, snap) == before

    monkeypatch.undo()
    call()
    assert _committed(d) == committed + [f"group={len(committed)}"]
    assert not _staging(d)


def test_merge_fault_leaves_out_dir_serving_old_index(spark, tmp_path, monkeypatch):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    build_segments(spark, zipf_corpus(spark, 300, seed=41), out, n_shards=2, n_groups=2)
    build_segments(spark, _new_docs(spark, 200, 42), src, n_shards=2, n_groups=2)
    before = _topk(spark, load_index(spark, out))
    entries = sorted(os.listdir(tmp_path))

    finalize = merge_mod._finalize_stats

    def crashing_finalize(*a, **kw):
        finalize(*a, **kw)
        raise RuntimeError("injected crash in the merge finalizer")

    monkeypatch.setattr(merge_mod, "_finalize_stats", crashing_finalize)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_segments(spark, src, out)
    assert sorted(os.listdir(tmp_path)) == entries  # no staging sibling left
    idx = load_index(spark, out)
    assert idx.stats["n_docs"] == 300
    assert _committed(out) == ["group=0", "group=1"]
    assert _topk(spark, idx) == before
