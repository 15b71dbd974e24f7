"""Segment build, group checkpoint/resume, and compressed-index
integrity (north-rule gates: resume from the last committed segment
group, each group committed by the rename of its staged dir with its
lineage row inside; sum(tf) per doc == doc length; postings sorted &
delta-decodable)."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import crash_after_groups
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from alertsage_spark.index.build import build_index
from alertsage_spark.index.compress import decode_posting_list
from alertsage_spark.index.segments import MANIFEST_SCHEMA, build_segments, load_index

N_SHARDS = 8
N_GROUPS = 4


@pytest.fixture()
def docs(documents_df):
    return documents_df.select("doc_id", "text")


def _build(spark, docs, d, **kw):
    return build_segments(
        spark, docs, str(d), n_shards=N_SHARDS, n_groups=N_GROUPS, **kw
    )


def _index_fingerprint(spark, d):
    """Order-insensitive content hash over all segment rows."""
    idx = load_index(spark, str(d))
    rows = idx.segments.select(
        "shard_id", "term", "n_postings",
        F.md5(F.base64("doc_bytes")).alias("dh"),
        F.md5(F.base64("tf_bytes")).alias("th"),
        F.col("block_last_docs").cast("string").alias("bl"),
    ).collect()
    return sorted(
        (r["shard_id"], r["term"] or "", r["n_postings"], r["dh"], r["th"], r["bl"])
        for r in rows
    )


def test_build_and_integrity(spark, docs, tmp_path):
    d = tmp_path / "idx"
    out = _build(spark, docs, d)
    assert len(out["metrics"]) == N_GROUPS
    idx = load_index(spark, str(d))
    term_rows = idx.segments.filter(F.col("term").isNotNull())

    # postings count == uncompressed relational index
    rel = build_index(docs, "doc_id", "text")
    n_seg_postings = term_rows.agg(F.sum("n_postings")).collect()[0][0]
    n_rel_postings = rel.postings.count()
    assert n_seg_postings == n_rel_postings

    # avgdl / n_docs match the relational build
    assert idx.stats["n_docs"] == rel.n_docs
    assert abs(idx.stats["avgdl"] - rel.avgdl) < 1e-9

    # per-term df: sum of shard-local df == global termstats df
    seg_df = term_rows.groupBy("term").agg(F.sum("df_local").alias("df_seg"))
    joined = seg_df.join(idx.termstats, "term")
    assert joined.filter(F.col("df_seg") != F.col("df")).count() == 0

    # decode every posting list: sorted doc_ids; sum(tf) per doc == dl
    from posting_oracle import decode_doclen_row

    tf_by_doc: dict[int, int] = {}
    for r in term_rows.collect():
        doc_ids, tfs = decode_posting_list(r.asDict())
        assert (np.diff(doc_ids) > 0).all()  # strictly ascending
        assert len(doc_ids) == r["n_postings"]
        for did, tf in zip(doc_ids.tolist(), tfs.tolist()):
            tf_by_doc[did] = tf_by_doc.get(did, 0) + tf
    dls: dict[int, int] = {}
    for r in idx.doclen_rows.collect():
        dd, ll = decode_doclen_row(r)
        dls.update(zip(dd.tolist(), ll.tolist()))
    assert len(dls) == docs.count()
    for did, total in tf_by_doc.items():
        assert total == dls[did], did
    # docs with dl>0 all appear
    assert set(tf_by_doc) == {d_ for d_, l in dls.items() if l > 0}


def test_resume_after_failure_is_identical(spark, docs, tmp_path):
    full = tmp_path / "full"
    _build(spark, docs, full)

    crashed = tmp_path / "crashed"
    with pytest.raises(RuntimeError, match="injected failure"), crash_after_groups(2):
        _build(spark, docs, crashed)
    # resume completes only the missing groups
    out = _build(spark, docs, crashed, resume=True)
    assert len(out["metrics"]) == N_GROUPS - 2

    assert _index_fingerprint(spark, crashed) == _index_fingerprint(spark, full)


def test_crash_before_group_rename_resumes_identical(spark, docs, tmp_path, monkeypatch):
    """A build that dies after its first group's staged write, before the
    rename, has committed no group and no manifest; resume equals an
    uninterrupted build and writes one manifest row per group."""
    from alertsage_spark.index import segments

    full, crashed = tmp_path / "full", tmp_path / "crashed"
    _build(spark, docs, full)
    land = segments._land_group

    def crash_before_rename(paths, fill, g=None):
        def fill_then_crash(stage):
            fill(stage)
            raise RuntimeError("injected crash before the commit rename")

        return land(paths, fill_then_crash, g)

    monkeypatch.setattr(segments, "_land_group", crash_before_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        _build(spark, docs, crashed)
    monkeypatch.undo()
    seg_dir = crashed / "segments"
    assert not list(seg_dir.glob("group=*"))
    assert [p.name for p in seg_dir.iterdir()] == ["_staging_group_0"]
    assert not (crashed / "manifest").exists()

    out = _build(spark, docs, crashed)
    assert len(out["metrics"]) == N_GROUPS
    assert not list(seg_dir.glob("_staging_group_*"))
    assert _index_fingerprint(spark, crashed) == _index_fingerprint(spark, full)
    man = spark.read.parquet(str(crashed / "manifest")).collect()
    assert sorted(r["group_id"] for r in man) == list(range(N_GROUPS))


@pytest.mark.parametrize("n_groups", [2, N_GROUPS])
def test_rebuild_without_resume_replaces_the_old_index(spark, docs, tmp_path, n_groups):
    """resume=False over a dir holding an index removes that index's
    segments, manifest and configs first: the rebuild (other docs, same
    or fewer groups) equals a fresh build's rows and stats, and a file
    that is not the index's stays."""
    d, fresh = tmp_path / "reused", tmp_path / "fresh"
    _build(spark, docs, d)
    (d / "notes.txt").write_text("not the index's")
    other = docs.filter(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id + 100000 AS doc_id", "text"
    )
    kw = dict(n_shards=N_SHARDS, n_groups=n_groups, resume=False)
    out = build_segments(spark, other, str(d), **kw)
    want = build_segments(spark, other, str(fresh), **kw)
    assert out["stats"] == want["stats"]
    assert load_index(spark, str(d)).stats == want["stats"]
    assert _index_fingerprint(spark, d) == _index_fingerprint(spark, fresh)
    assert spark.read.parquet(str(d / "manifest")).count() == n_groups
    assert (d / "notes.txt").read_text() == "not the index's"


def test_corpus_fidelity_gate(spark, docs, tmp_path):
    """North-rule per-row invariant: sha2(content,256) equality vs the
    reference hashes; a single tampered row aborts the build."""
    from pyspark.sql import functions as F2

    from alertsage_spark.index.segments import verify_corpus_fidelity

    good = docs.select("doc_id", F2.sha2("text", 256).alias("content_sha256"))
    verify_corpus_fidelity(docs, good)  # passes

    tampered = docs.withColumn(
        "text",
        F2.when(F2.col("doc_id") == 3, F2.concat(F2.col("text"), F2.lit("x"))).otherwise(
            F2.col("text")
        ),
    )
    with pytest.raises(ValueError, match="fidelity"):
        verify_corpus_fidelity(tampered, good)
    # and the gate wires into the build entrypoint
    with pytest.raises(ValueError, match="fidelity"):
        build_segments(
            spark, tampered, str(tmp_path / "f"), n_shards=2, n_groups=1,
            fidelity_hashes=good,
        )


def test_manifest_metrics(spark, docs, tmp_path):
    d = tmp_path / "m"
    _build(spark, docs, d)
    man = spark.read.parquet(str(d / "manifest"))
    assert man.schema == StructType.fromDDL(MANIFEST_SCHEMA)
    rows = man.collect()
    assert len(rows) == N_GROUPS
    for r in rows:
        assert r["n_docs"] > 0 and r["n_postings"] > 0
        assert r["docs_per_sec"] > 0
        assert r["doc_bytes"] > 0 and r["tf_bytes"] > 0
    # lineage covers the whole corpus exactly once
    assert sum(r["n_docs"] for r in rows) == docs.count()


def test_empty_corpus_builds_an_empty_index(spark, tmp_path):
    """No docs: the build commits, stats say zero docs, and the index
    loads and answers with no rows."""
    from alertsage_spark.query.wand import wand_topk

    d = str(tmp_path / "empty")
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = build_segments(spark, empty, d, n_shards=2, n_groups=2)
    assert out["stats"]["n_docs"] == 0
    idx = load_index(spark, d)
    assert idx.stats["n_docs"] == 0
    assert wand_topk(spark, idx, [("q", "alpha beta")], k=5).count() == 0


def test_suggest_n_shards_sizing_rule():
    from alertsage_spark.index.segments import suggest_n_shards

    assert suggest_n_shards(80_000, 60.0) == 1
    assert suggest_n_shards(1_000_000_000, 200.0) == 10_000
    assert suggest_n_shards(10**12, 200.0) == 10_000_000
    assert suggest_n_shards(0) == 1


def test_arrow_builder_matches_per_term_oracle(spark, docs):
    """build_segments' applyInArrow builder (zero-copy buffer views +
    vectorized block metadata) writes the doclen row plus one term row
    per term, each byte-identical to the per-term oracle encode of the
    same _shard_postings output, both modes."""
    import pyarrow as pa

    from alertsage_spark.index.segments import (
        _SEG_COLS,
        _segment_builder_arrow,
        _shard_postings,
    )
    from posting_oracle import assert_rows_match, decode_doclen_row, encoded_term_rows

    pdf = docs.toPandas()
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    for mode in ("text", "code"):
        rows = _segment_builder_arrow(mode)((5,), tbl).to_pylist()
        assert all(list(r) == _SEG_COLS and r["shard_id"] == 5 for r in rows)
        lens, parts = _shard_postings(doc_ids, tbl.column("text"), mode)
        dl_row, term_rows = rows[0], rows[1:]
        assert dl_row["term"] is None
        dd, ll = decode_doclen_row(dl_row)
        order = np.argsort(doc_ids)
        assert np.array_equal(dd, doc_ids[order]) and np.array_equal(ll, lens[order])
        assert (dl_row["df_local"], dl_row["cf_local"]) == (len(doc_ids), int(lens.sum()))
        want = encoded_term_rows(
            parts["terms"], parts["p_docs"], parts["p_tf"], parts["p_dls"],
            parts["term_starts"],
        )
        assert len(term_rows) == len(want) > 0
        for got, w in zip(term_rows, want):
            assert_rows_match(got, w, (mode, w["term"]))
