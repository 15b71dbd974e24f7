"""The session's IndexRegistry: held indexes survive transient builds,
and close() releases every held value and its temp root."""

from __future__ import annotations

import os

from pyspark import StorageLevel

from alertsage_spark import catalog
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
