"""Fault injection on the LSM commit path.

Every later segment group (delete_docs, append_group, streaming ingest)
lands through segments._land_group: the fill writes a staging dir and
its rename is the commit point. merge_segments builds its whole output
in a staging sibling of out_dir and renames it into place. A writer
that fails before its rename must leave the committed index, and every
snapshot loaded before the failure, unchanged; a retry commits what the
failed call would have. No index-wide stats are stored, so a crash
after a commit rename leaves nothing to repair: load_index derives the
stats from the committed groups, and they equal a fresh build's."""

from __future__ import annotations

import glob
import os

import pytest
from conftest import crash_after_groups
from pyspark.sql import functions as F

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

STAT_KEYS = ("n_docs", "sum_dl", "avgdl", "n_shards", "mode")
QUERIES = [("Q1", "t1 t2"), ("Q2", "t200 t3")]


def _topk(spark, idx):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in wand_topk(spark, idx, QUERIES, k=10).collect()
    )


def _stats_and_terms(spark, d):
    """The derived stats that do not depend on the group layout, and the
    sorted termstats rows, of the index at ``d`` (which stores neither)."""
    assert not {"stats.json", "termstats"} & set(os.listdir(d))
    idx = load_index(spark, d)
    terms = sorted((r["term"], r["df"], r["cf"]) for r in idx.termstats.collect())
    return {k: idx.stats[k] for k in STAT_KEYS}, terms


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

    def crashing_rename(stage, final):
        raise RuntimeError("injected crash before the merge commit rename")

    monkeypatch.setattr(merge_mod, "_rename_into_place", crashing_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_segments(spark, src, out)
    assert sorted(os.listdir(tmp_path)) == entries  # no staging sibling left
    idx = load_index(spark, out)
    assert idx.stats["n_docs"] == 300
    assert _committed(out) == ["group=0", "group=1"]
    assert _topk(spark, idx) == before


def test_ingest_crash_after_landing_needs_no_repair(spark, tmp_path, monkeypatch):
    """A crash right after ingest_batch's group rename: the next load
    already counts the batch (stats, termstats and top-k equal a fresh
    build of base + batch), and a re-delivered batch id is skipped."""
    d, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    base, batch = zipf_corpus(spark, 300, seed=31), _new_docs(spark, 100, 33)
    assert ingest_batch(spark, base, 0, d, n_shards=2)
    land = ingest_mod._land_group

    def crash_after_commit(paths, fill):
        land(paths, fill)
        raise RuntimeError("injected crash after the commit rename")

    monkeypatch.setattr(ingest_mod, "_land_group", crash_after_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest_batch(spark, batch, 1, d, n_shards=2)
    monkeypatch.undo()
    build_segments(spark, base.unionByName(batch), fresh, n_shards=2, n_groups=1)
    assert _stats_and_terms(spark, d) == _stats_and_terms(spark, fresh)
    assert load_index(spark, d).stats["n_docs"] == 400
    assert _topk(spark, load_index(spark, d)) == _topk(spark, load_index(spark, fresh))
    assert ingest_batch(spark, batch, 1, d, n_shards=2) is False
    assert _committed(d) == ["group=0", "group=1"]


def test_crashed_build_is_unloadable_until_resumed(spark, tmp_path):
    """A build that dies after 2 of 4 groups has no build_config.json, so
    load_index refuses it; resume checks the pending config and its stats
    equal an uninterrupted build's."""
    docs = zipf_corpus(spark, 300, seed=51)
    d, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    with pytest.raises(RuntimeError, match="injected failure"), crash_after_groups(2):
        build_segments(spark, docs, d, n_shards=4, n_groups=4)
    assert len(_committed(d)) == 2
    with pytest.raises(FileNotFoundError):
        load_index(spark, d)
    with pytest.raises(ValueError, match="different build config"):
        build_segments(spark, docs, d, n_shards=2, n_groups=4)
    out = build_segments(spark, docs, d, n_shards=4, n_groups=4)
    want = build_segments(spark, docs, ref, n_shards=4, n_groups=4)
    assert out["stats"] == want["stats"]
    assert load_index(spark, d).stats == want["stats"]
    assert _stats_and_terms(spark, d) == _stats_and_terms(spark, ref)


@pytest.mark.parametrize("mode", ["text", "code"])
def test_derived_stats_equal_fresh_build(spark, tmp_path, mode):
    """After every LSM step the loaded stats and termstats equal a fresh
    build over the same docs: build + crash + resume, append_group,
    delete (tombstoned docs still count until merge), merge (they no
    longer do) and two stream ingests."""
    a = zipf_corpus(spark, 150, seed=61)
    b = _new_docs(spark, 60, 62)
    n = [0]

    def fresh(docs):
        n[0] += 1
        f = str(tmp_path / f"fresh{n[0]}")
        build_segments(spark, docs, f, n_shards=2, n_groups=1, mode=mode)
        return _stats_and_terms(spark, f)

    d = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="injected failure"), crash_after_groups(1):
        build_segments(spark, a, d, n_shards=2, n_groups=2, mode=mode)
    build_segments(spark, a, d, n_shards=2, n_groups=2, mode=mode)
    assert _stats_and_terms(spark, d) == fresh(a)

    bd = str(tmp_path / "b")
    build_segments(spark, b, bd, n_shards=2, n_groups=1, mode=mode)
    append_group(spark, d, bd)
    union = fresh(a.unionByName(b))
    assert _stats_and_terms(spark, d) == union

    victims = [1, 2, 3, 5000, 5001]
    delete_docs(spark, d, victims)
    assert _stats_and_terms(spark, d) == union

    m = str(tmp_path / "merged")
    merge_segments(spark, d, m)
    survivors = a.unionByName(b).filter(~F.col("doc_id").isin(victims))
    assert _stats_and_terms(spark, m) == fresh(survivors)

    s = str(tmp_path / "stream")
    assert ingest_batch(spark, a, 0, s, n_shards=2, mode=mode)
    assert ingest_batch(spark, b, 1, s, n_shards=2, mode=mode)
    assert _stats_and_terms(spark, s) == union
