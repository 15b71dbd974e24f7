"""The session's IndexRegistry: held indexes survive transient builds,
close() releases every held value and its temp root, and each corpus
and mode is tokenized and built once."""

from __future__ import annotations

import os

from pyspark import StorageLevel

from alertsage_spark import catalog
from alertsage_spark.index import build, segments
from alertsage_spark.index.build import build_fielded_index, build_index
from alertsage_spark.session import session_registry

SF_DIR = "/root/testdata/sf0.001"


def _in_storage(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_transient_builds_never_evict_a_held_index(spark):
    rel = catalog._rel_index_for(spark, SF_DIR)
    fielded = catalog._fielded_index_for(spark, SF_DIR)
    docs = catalog.tbl(spark, SF_DIR, "documents").limit(20)
    for _ in range(5):
        build_index(docs)
        build_fielded_index(docs, [("text", 1.0)])
    assert _in_storage(rel.postings)
    assert _in_storage(fielded.postings)


def _rows(spark, name):
    return sorted(map(tuple, catalog.queries()[name](spark, SF_DIR).collect()))


def test_close_releases_everything_and_next_lookup_rebuilds(spark):
    reg = session_registry(spark)
    before = {n: _rows(spark, n) for n in ("ft_wand_topk_refqueries",
                                           "ft_hybrid_rrf")}
    seg = catalog._segment_index_for(spark, SF_DIR)
    rel = catalog._rel_index_for(spark, SF_DIR)
    enc = catalog._enc_docs_for(spark, SF_DIR)
    root = reg.root
    assert os.path.isdir(root) and seg.paths.root.startswith(root)

    reg.close()

    for df in (seg.segments, rel.doclen, rel.postings, rel.termstats, enc):
        assert df.storageLevel == StorageLevel.NONE
    assert seg.term_rows_cache is None and seg.dl_map is None
    assert not os.path.exists(root)
    assert reg.held(SF_DIR, "segments") is None
    assert {n: _rows(spark, n) for n in before} == before
    assert catalog._segment_index_for(spark, SF_DIR) is not seg
    assert os.path.isdir(reg.root) and reg.root != root


# Every entry that reads the relational index (ft_threshold_gate through
# ft_bm25_topk_refqueries).
RELATIONAL_ENTRIES = [
    "ft_bm25_topk_refqueries", "ft_hybrid_rrf", "ft_hybrid_rrf_ann",
    "ft_term_df_top20", "ft_doclen", "ft_corpus_stats",
    "ft_threshold_sweep", "ft_threshold_gate", "ft_boolean_search",
    "ft_fuzzy_suggest", "ft_snippet_topdocs", "ft_substring_search",
    "ft_prefix_search", "ft_search_facets", "ft_term_autocomplete",
    "ft_query_language",
]


def test_one_build_per_corpus_and_mode(spark, monkeypatch):
    """Relational, WAND and code entries all read the registry's one
    segment index per mode: two builds (text, code), no build_index."""
    session_registry(spark).close()
    seg_builds, rel_builds = [], []
    real_build_segments = segments.build_segments

    def counting_build_segments(*args, **kwargs):
        seg_builds.append(kwargs.get("mode", "text"))
        return real_build_segments(*args, **kwargs)

    def refused_build_index(*args, **kwargs):
        rel_builds.append(args)
        raise AssertionError("build_index called while serving the catalog")

    monkeypatch.setattr(segments, "build_segments", counting_build_segments)
    for module in (build, catalog):
        monkeypatch.setattr(module, "build_index", refused_build_index, raising=False)
    q = catalog.queries()
    for name in RELATIONAL_ENTRIES + ["ft_wand_topk_refqueries", "ft_bm25_code_topk"]:
        q[name](spark, SF_DIR).collect()
    assert sorted(seg_builds) == ["code", "text"]
    assert rel_builds == []
