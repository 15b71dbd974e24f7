"""LSM segment merge + hot-term skew (SURVEY phase 3).

Skew fixture: Zipfian corpus where one term ('spark') hits ~30% of docs
(tests/conftest.py synth_corpus) — the merge and the build must spread it
across shards, and queries on the hot term must stay rank-identical."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alertsage_spark.index.segments import build_segments, load_index
from alertsage_spark.index.merge import merge_segments
from alertsage_spark.query.oracle import BM25Oracle
from alertsage_spark.query.wand import wand_topk


@pytest.fixture(scope="module")
def code_docs(spark, corpus_rows):
    df = spark.createDataFrame(corpus_rows)
    return df.select(
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2**62)).alias("doc_id"),
        F.col("content").alias("text"),
    ).cache()


def test_merge_preserves_rank_identity(spark, code_docs, tmp_path):
    src = tmp_path / "src"
    build_segments(spark, code_docs, str(src), n_shards=8, n_groups=4)
    merged = load_index(spark, merge_segments(spark, str(src), str(tmp_path / "merged")))

    # merged index has exactly one row per (shard, term)
    dup = merged.segments.groupBy("shard_id", "term").count().filter("count > 1")
    assert dup.count() == 0

    oracle = BM25Oracle([(r["doc_id"], r["text"]) for r in code_docs.collect()])
    queries = [("HOT", "spark"), ("MIX", "spark deltaEncode"), ("COLD", "blockMaxWand")]
    got = {}
    for r in wand_topk(spark, merged, queries, k=10, algo="wand").collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, text in queries:
        expected = oracle.topk(text, k=10)
        hits = sorted(got.get(qid, []))
        assert [h[1] for h in hits] == [e[0] for e in expected], qid
        for h, e in zip(hits, expected):
            assert abs(h[2] - e[1]) <= 1e-6


def test_incremental_append_then_merge(spark, code_docs, tmp_path):
    """LSM lifecycle: build A over half the corpus, append build B's
    groups for the other half (disjoint docs), merge — queries over the
    merged index are rank-identical to an oracle over the UNION corpus."""
    half_a = code_docs.filter(F.col("doc_id") % 2 == 0)
    half_b = code_docs.filter(F.col("doc_id") % 2 == 1)
    d = tmp_path / "incr"
    build_segments(spark, half_a, str(d), n_shards=4, n_groups=1, build_id="A")
    # second ingest: same layout, committed as a second segment group
    b_dir = tmp_path / "b"
    build_segments(spark, half_b, str(b_dir), n_shards=4, n_groups=1, build_id="B")
    from alertsage_spark.index.segments import append_group
    assert append_group(spark, str(d), str(b_dir)) == 1
    merged_dir = tmp_path / "merged"

    oracle = BM25Oracle([(r["doc_id"], r["text"]) for r in code_docs.collect()])
    queries = [("Q1", "spark postingList"), ("Q2", "read_buffer segmentMerge")]

    def check(index, label):
        got = {}
        for r in wand_topk(spark, index, queries, k=10, algo="wand").collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        for qid, text in queries:
            expected = oracle.topk(text, k=10)
            hits = sorted(got.get(qid, []))
            assert [h[1] for h in hits] == [e[0] for e in expected], (label, qid)
            for h, e in zip(hits, expected):
                assert abs(h[2] - e[1]) <= 1e-6

    # un-compacted multi-run index is already exact for disjoint appends
    from alertsage_spark.index.segments import load_index as _load

    check(_load(spark, str(d)), "pre-merge")

    merged = load_index(spark, merge_segments(spark, str(d), str(merged_dir)))
    assert merged.segments.groupBy("shard_id", "term").count().filter("count > 1").count() == 0
    check(merged, "post-merge")


def test_hot_term_spread_across_shards(spark, code_docs, tmp_path):
    """Doc-sharding must spread a term that hits ~30% of docs over all
    shards — no shard holds more than ~3x its fair share."""
    d = tmp_path / "skew"
    build_segments(spark, code_docs, str(d), n_shards=8, n_groups=2)
    idx = load_index(spark, str(d))
    rows = idx.segments.filter(F.col("term") == "spark").select(
        "shard_id", "n_postings"
    ).collect()
    assert len(rows) == 8  # present in every shard
    counts = [r["n_postings"] for r in rows]
    fair = sum(counts) / len(counts)
    assert max(counts) <= 3 * fair


def test_reingest_merge_recomputes_stats(spark, code_docs, tmp_path):
    """ADVICE r01: re-ingesting the SAME docs must not double-count
    df/cf/n_docs/avgdl after merge — stats are recomputed from the merged
    segments, and queries over the merged index are exact vs an oracle
    over the DEDUPED corpus."""
    import json

    from alertsage_spark.index.segments import IndexPaths

    d = tmp_path / "reingest"
    sub = code_docs.limit(60).cache()
    build_segments(spark, sub, str(d), n_shards=4, n_groups=1, build_id="A")
    # re-ingest HALF the same docs as a second group (identical content)
    import shutil

    half = sub.filter(F.col("doc_id") % 2 == 0)
    b_dir = tmp_path / "reingest_b"
    build_segments(spark, half, str(b_dir), n_shards=4, n_groups=1, build_id="B")
    from alertsage_spark.index.segments import append_group
    assert append_group(spark, str(d), str(b_dir)) == 1

    merged = load_index(spark, merge_segments(spark, str(d), str(tmp_path / "reingest_merged")))

    # one row per (shard, term); stats reflect the DEDUPED corpus
    assert merged.segments.groupBy("shard_id", "term").count().filter("count > 1").count() == 0
    n_unique = sub.count()
    assert merged.stats["n_docs"] == n_unique
    # termstats: df for any term may not exceed n_docs (double count would)
    over = merged.termstats.filter(F.col("df") > n_unique).count()
    assert over == 0
    # avgdl equals the deduped corpus's avgdl (compare vs fresh build)
    fresh_dir = tmp_path / "reingest_fresh"
    build_segments(spark, sub, str(fresh_dir), n_shards=4, n_groups=1, build_id="F")
    fresh = load_index(spark, str(fresh_dir))
    assert abs(merged.stats["avgdl"] - fresh.stats["avgdl"]) < 1e-9
    # termstats identical to the fresh single-ingest build
    diff = (
        merged.termstats.alias("m")
        .join(fresh.termstats.alias("f"), "term", "full")
        .filter("m.df IS DISTINCT FROM f.df OR m.cf IS DISTINCT FROM f.cf")
        .count()
    )
    assert diff == 0

    # rank identity vs oracle over the deduped corpus
    oracle = BM25Oracle([(r["doc_id"], r["text"]) for r in sub.collect()])
    for algo in ("wand", "taat"):
        got = {}
        for r in wand_topk(spark, merged, [("Q", "spark index")], k=10, algo=algo).collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        expected = oracle.topk("spark index", k=10)
        hits = sorted(got.get("Q", []))
        assert [h[1] for h in hits] == [e[0] for e in expected], algo
        for h, e in zip(hits, expected):
            assert abs(h[2] - e[1]) <= 1e-6


def test_append_group_rejects_incompatible_layout(spark, code_docs, tmp_path):
    """Appending a group built with different n_shards or mode must be
    refused (a foreign doc->shard layout scores with wrong doc lengths
    and defeats re-ingest dedup)."""
    from alertsage_spark.index.segments import append_group

    a = tmp_path / "lay_a"
    build_segments(spark, code_docs.limit(20), str(a), n_shards=4, n_groups=1)
    b8 = tmp_path / "lay_b8"
    build_segments(spark, code_docs.limit(20), str(b8), n_shards=8, n_groups=1)
    with pytest.raises(ValueError, match="n_shards"):
        append_group(spark, str(a), str(b8))
    bc = tmp_path / "lay_bc"
    build_segments(spark, code_docs.limit(20), str(bc), n_shards=4, n_groups=1, mode="code")
    with pytest.raises(ValueError, match="mode"):
        append_group(spark, str(a), str(bc))


def test_maybe_compact_policy(spark, code_docs, tmp_path):
    from alertsage_spark.index.merge import maybe_compact
    from alertsage_spark.index.segments import append_group

    d = tmp_path / "pol"
    sub = code_docs.limit(30)
    build_segments(spark, sub, str(d), n_shards=4, n_groups=2)
    assert maybe_compact(spark, str(d), str(tmp_path / "pol_m"), max_groups=4) is None
    b = tmp_path / "pol_b"
    build_segments(spark, code_docs.limit(60).filter(F.col("doc_id") % 2 == 1),
                   str(b), n_shards=4, n_groups=2)
    append_group(spark, str(d), str(b))
    merged_dir = maybe_compact(spark, str(d), str(tmp_path / "pol_m"), max_groups=4)
    assert merged_dir is not None
    merged = load_index(spark, merged_dir)
    assert merged.segments.groupBy("shard_id", "term").count().filter("count > 1").count() == 0


def _rows_by_key(spark, d):
    """Every segment row of an index keyed by (shard_id, term), all
    columns as plain values."""
    from alertsage_spark.index.segments import _SEG_COLS

    out = {}
    for r in load_index(spark, d).segments.select(*_SEG_COLS).collect():
        key = (r["shard_id"], r["term"])
        assert key not in out, key
        out[key] = tuple(
            bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r
        )
    return out


@pytest.mark.parametrize("mode", ["text", "code"])
def test_merge_equals_fresh_build_of_survivors(spark, tmp_path, mode):
    """Build 4 groups over 8 shards, delete every 7th doc plus every doc
    of one shard, merge: the merged index equals a fresh build of the
    surviving docs row for row (every column of every (shard_id, term)
    row) and in n_docs/sum_dl. The emptied shard emits no rows, as the
    builder does for a shard without docs."""
    from conftest import synth_corpus

    from alertsage_spark.index.segments import delete_docs, shard_col

    docs = spark.createDataFrame(synth_corpus(400, seed=11)).select(
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(2**62)).alias("doc_id"),
        F.col("content").alias("text"),
    ).withColumn("shard_id", shard_col(F.col("doc_id"), 8)).cache()
    src, fresh = str(tmp_path / "src"), str(tmp_path / "fresh")
    build_segments(spark, docs.drop("shard_id"), src, n_shards=8, n_groups=4, mode=mode)
    ids = sorted((r["doc_id"], r["shard_id"]) for r in docs.collect())
    emptied = 3
    victims = {d for d, _s in ids[::7]} | {d for d, s in ids if s == emptied}
    delete_docs(spark, src, sorted(victims))
    merged = load_index(spark, merge_segments(spark, src, str(tmp_path / "merged")))

    survivors = docs.filter(~F.col("doc_id").isin(sorted(victims))).drop("shard_id")
    build_segments(spark, survivors, fresh, n_shards=8, n_groups=1, mode=mode)
    got, want = _rows_by_key(spark, merged.paths.root), _rows_by_key(spark, fresh)
    assert not [k for k in got if k[0] == emptied]
    assert got.keys() == want.keys()
    for key in want:
        assert got[key] == want[key], key
    fresh_stats = load_index(spark, fresh).stats
    assert merged.stats["n_docs"] == fresh_stats["n_docs"] == len(ids) - len(victims)
    assert merged.stats["sum_dl"] == fresh_stats["sum_dl"]


def test_merge_into_reused_dir_replaces_old_index(spark, tmp_path):
    """A merge into an out_dir that held another index keeps none of it:
    not its groups, not its docs in the stats, not its terms."""
    import os

    dst, src = str(tmp_path / "dst"), str(tmp_path / "src")
    schema = "doc_id long, text string"
    old = spark.createDataFrame([(i, f"old doc alpha {i}") for i in range(30)], schema)
    new = spark.createDataFrame([(100 + i, f"new doc beta {i}") for i in range(5)], schema)
    build_segments(spark, old, dst, n_shards=4, n_groups=3)
    build_segments(spark, new, src, n_shards=4, n_groups=1)
    merged = load_index(spark, merge_segments(spark, src, dst))
    assert sorted(os.listdir(os.path.join(dst, "segments"))) == ["group=0"]
    assert merged.stats["n_docs"] == 5
    assert merged.stats["n_groups"] == 1
    assert wand_topk(spark, merged, [("q", "alpha")], k=10).count() == 0
    assert wand_topk(spark, merged, [("q", "beta")], k=10).count() == 5
