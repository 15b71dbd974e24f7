"""LSM-style segment merge (SURVEY §4.2-4).

Incremental builds append new segment groups (new docs -> new shards'
rows or additional rows for existing (shard, term) pairs). The merge
compacts every (shard_id, term) to ONE row with a single sorted,
delta+varbyte re-encoded posting list and fresh block metadata, and
every shard's doclen rows to one row.

Plan: segments grouped by shard_id in n_shards hash partitions
(segments._by_shard, the build's layout) -> applyInArrow(shard merger).
Each call first merges ITS shard's doclen rows (partition-local — no
driver-side corpus map, no broadcast), then decodes all of its term
rows, still Arrow, in one compress.decode_rows pass, keeps max-tf per
(term, doc) with one lexsort over the whole shard, and re-encodes
through the build's shard encoder (segments._encode_shard) and writes
through the build's group writer (segments._write_group), so merged
rows are byte-identical to a fresh build of the surviving docs.
Document-sharding keeps this balanced: a hot term contributes at most one run per
(group, shard), and a call's memory is corpus/n_shards — the same memory
shape as the build's shard stage, with n_shards as the scaling knob
(at 10^12 docs you raise n_shards, exactly as for the build).

Determinism on re-ingested docs (same doc_id in several runs): the
posting merge keeps max-tf per (term, doc) and the doclen merge keeps
max-dl per doc — both run-order-independent, so repeated merges of the
same groups are byte-identical. For BYTE-IDENTICAL re-ingests this
reproduces the document exactly. For a re-ingest with CHANGED content
the result is a deterministic per-term/per-doc upper envelope, not
either single version: tf can come from one version and dl from the
other, and terms present only in the old version persist. Replacing a
document's content therefore goes through the tombstone path:
``delete_docs`` (segments.py) -> ``merge_segments`` (this merge drops
tombstoned doclens/postings, so stats stop counting them) -> append the
new version. Plain append + merge assumes appends carry new doc_ids or
identical bytes — the invariant build_segments' fidelity gate enforces
upstream.

Global stats are never copied from the source index (its df/cf/n_docs/
avgdl double-count re-ingested docs): load_index derives them from the
merged group, where every doc and posting appears once.

Commit: the whole output (the merged group with its lineage file,
build_config.json, a copy of the manifest) is built in a staging
sibling of out_dir and renamed into place (segments._rename_into_place).
A crash leaves out_dir as it was; a reused out_dir keeps nothing of its
old index. The merge reads the source's groups and config as they are
on disk: it derives no stats of its input, and its only Spark work is
the merged group's write. It returns out_dir; a caller that serves
the result loads it (load_index).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
from pyspark.sql import SparkSession

from alertsage_spark.index.compress import decode_rows
from alertsage_spark.index.segments import (
    GROUP_LINEAGE,
    SEGMENT_SCHEMA,
    IndexPaths,
    _batch_ids,
    _by_shard,
    _encode_shard,
    _read_segments,
    _rename_into_place,
    _row_kinds,
    _shard_key,
    _staged_sibling,
    _write_group,
    _write_json,
    merged_doclen,
    tombstoned_docs,
)


def _merge_shard(key, tbl):
    """applyInArrow group fn: all of one shard's rows (every group's
    doclen, tombstone and term rows) -> the shard's merged rows."""
    shard_id = _shard_key(key)
    dl_rows, tomb_rows, term_rows = _row_kinds(tbl.select(["term", "doc_bytes", "tf_bytes"]))
    # 0) the shard's tombstone rows (delete_docs): these doc ids are
    #    physically dropped from doclens and postings below, and the
    #    tombstone rows themselves are not re-emitted — after the merge
    #    the deletion is durable and derived stats no longer count them
    deleted = tombstoned_docs(tomb_rows)
    # 1) merge the shard's doclen rows; re-ingested docs keep MAX dl (the
    #    same deterministic rule as the max-tf posting merge)
    docs, dls = merged_doclen(dl_rows)
    uniq_docs = np.unique(docs)
    dl_merged = np.zeros(len(uniq_docs), dtype=np.int64)
    np.maximum.at(dl_merged, np.searchsorted(uniq_docs, docs), dls)
    live = np.isin(uniq_docs, deleted, invert=True)
    uniq_docs, dl_merged = uniq_docs[live], dl_merged[live]
    if not len(uniq_docs):
        # no live docs (all deleted, or only tombstones of ids that never
        # lived here): like the builder, the shard emits no rows
        return _encode_shard(shard_id, uniq_docs, dl_merged, None)
    # 2) every term row's postings as (term code, doc, tf) in one
    #    decode, tombstoned docs dropped, then ONE lexsort and max-tf
    #    per (term, doc) — the same doc in several runs was re-ingested
    counts, d, t = decode_rows(term_rows.column("doc_bytes"), term_rows.column("tf_bytes"))
    names, codes = np.unique(
        term_rows.column("term").to_numpy(zero_copy_only=False), return_inverse=True
    )
    c = np.repeat(codes, counts).astype(np.int64)
    keep = np.isin(d, deleted, invert=True)
    c, d, t = c[keep], d[keep], t[keep]
    if not len(d):
        return _encode_shard(shard_id, uniq_docs, dl_merged, None)
    order = np.lexsort((-t, d, c))
    c, d, t = c[order], d[order], t[order]
    first = np.ones(len(d), dtype=bool)
    first[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
    c, d, t = c[first], d[first], t[first]
    idx = np.minimum(np.searchsorted(uniq_docs, d), len(uniq_docs) - 1)
    absent = uniq_docs[idx] != d
    if absent.any():
        raise ValueError(
            f"shard {shard_id} term {names[c[absent.argmax()]]!r}: posting "
            "doc_id absent from the shard's doclen rows — groups built with "
            "a different n_shards/layout were appended to this index"
        )
    starts = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
    parts = {
        "p_docs": d,
        "p_tf": t,
        "p_dls": dl_merged[idx],
        "term_starts": np.append(starts, len(d)),
        "terms": names[c[starts]],
    }
    return _encode_shard(shard_id, uniq_docs, dl_merged, parts)


def merge_segments(spark: SparkSession, index_dir: str, out_dir: str) -> str:
    """Compact all groups of ``index_dir`` into one merged segment set at
    ``out_dir`` and return ``out_dir``; load_index derives its stats
    from the merged rows (re-ingested docs counted once). The manifest
    (build lineage) carries over, and the merged group's lineage file
    lists the union of the source groups' stream batch ids, so a
    micro-batch re-delivered after a stop -> compact -> restart window
    is still recognized as committed and skipped (streaming/ingest.py).
    The output is staged beside ``out_dir`` and renamed into place,
    replacing whatever ``out_dir`` held."""
    src = IndexPaths(index_dir)
    with open(src.config_json) as f:
        cfg = json.load(f)
    config = {"n_shards": int(cfg["n_shards"]), "n_groups": 1, "mode": cfg.get("mode", "text")}
    groups = src.group_dirs()
    with _staged_sibling(out_dir) as stage:
        paths = IndexPaths(stage)
        rows = _read_segments(spark, src, groups)
        merged = _by_shard(rows, config["n_shards"]).applyInArrow(
            _merge_shard, schema=SEGMENT_SCHEMA
        )
        _write_group(merged, paths.group_dir(0))
        _write_json(
            os.path.join(paths.group_dir(0), GROUP_LINEAGE),
            {"batch_ids": sorted(_batch_ids(groups))},
        )
        _write_json(paths.config_json, config)
        if os.path.exists(src.manifest):
            shutil.copytree(src.manifest, paths.manifest)
        _rename_into_place(stage, out_dir)
    return out_dir


def maybe_compact(
    spark: SparkSession, index_dir: str, out_dir: str, max_groups: int = 4
):
    """LSM compaction policy: compact once the index accumulates
    ``max_groups`` segment groups. Group count bounds query-time read
    amplification (a query touches up to one row per (term, group,
    shard)) and re-ingest memory in the scorers, so the policy keeps it
    constant while appends stream in — the same trigger shape as the
    reference generator's chunk-compaction checkpoint
    (/root/reference/generator/generate_cyber_incidents.py:2779-3047).
    Returns out_dir once merged, or None when below the threshold."""
    if len(IndexPaths(index_dir).group_dirs()) < max_groups:
        return None
    return merge_segments(spark, index_dir, out_dir)
