"""Structured-Streaming index ingestion: micro-batches append LSM
segment groups (SURVEY §2.10 meets §4.2 — the streaming twin of the
reference's chunked checkpointed generator loop,
/root/reference/generator/generate_cyber_incidents.py:2779-3047).

Shape:

    readStream(docs) -> writeStream.foreachBatch(ingest_batch)

Each micro-batch is written as ONE segment group by the build's group
writer (segments._write_group). That write is the batch's only Spark
work; the doc count it observes tells an empty batch (nothing
committed) from a real one. Later batches land their group through
segments._land_group (a staging dir renamed to group={g}), the one
group commit of build_segments, delete_docs and append_group too; the
first batch puts build_config.json beside its group in a staging
sibling of the index dir and renames that into place
(segments._rename_into_place, merge's commit). No stats and no
manifest are written: load_index derives the stats from the groups it
pins, so a committed group counts from its rename on. EXACTLY-ONCE per
batch: Structured Streaming re-delivers a batch after a crash between
the sink's side effect and the checkpoint commit, so every group's
lineage file (segments.GROUP_LINEAGE, written in the stage before the
rename) lists its batch id — a re-delivered batch whose id is already
committed is skipped before any work. A crash mid-write leaves only an
invisible staging dir (underscore-prefixed, ignored by the segment
glob and parquet discovery). Compaction (merge_segments) writes the
union of its source groups' batch ids into the merged group's lineage
file, so the skip survives a stop -> compact -> restart window
(segments.stream_committed_batch_ids reads every group's file).

At scale each micro-batch is one bounded write: the batch's docs
shuffle once into n_shards hash partitions of shard_id. That layout is
in the batch's plan (segments._by_shard), so it is the same whether
the stream's own session or a direct ingest_batch call plans it, and
no session setting is touched. Group count grows with stream time, so
run ``merge_segments`` / ``maybe_compact`` out-of-band to bound
query-time read amplification — the standard LSM
background-compaction split. Queries against the
serving snapshot raise the staleness error after an append
(SegmentIndex.assert_serving_fresh), forcing an explicit re-load — no
silent drift.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from alertsage_spark.index.segments import (
    GROUP_LINEAGE,
    IndexPaths,
    _land_group,
    _rename_into_place,
    _segment_rows,
    _staged_sibling,
    _write_group,
    _write_json,
    stream_committed_batch_ids,
)


def ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    n_shards: int = 8,
    mode: str = "text",
) -> bool:
    """Append one micro-batch as a new segment group. Returns True if a
    group was committed, False if the batch was empty or already
    committed (re-delivery). Safe to call directly (batch twin)."""
    paths = IndexPaths(index_dir)
    adopting = not os.path.exists(paths.config_json)
    if adopting and os.path.isdir(index_dir) and os.listdir(index_dir):
        # checked BEFORE the batch's write: the refusal is permanent, so
        # discovering it after writing the whole group would re-waste
        # the write on every streaming retry
        raise ValueError(
            f"{index_dir} exists, is non-empty, and is not an "
            "index (no build_config.json) — refusing to adopt"
        )
    if batch_id in stream_committed_batch_ids(index_dir):
        return False
    # the batch's group uses the index's n_shards/mode, so the doc->shard
    # layout matches (append_group's compatibility rule)
    if not adopting:
        with open(paths.config_json) as f:
            cfg = json.load(f)
        if (cfg["n_shards"], cfg.get("mode", "text")) != (n_shards, mode):
            raise ValueError(
                "stream_ingest config mismatch with existing index: "
                f"{cfg} vs n_shards={n_shards} mode={mode}"
            )

    def write(group: str) -> bool:
        seg = _segment_rows(batch_df.select("doc_id", "text"), n_shards, mode)
        if not _write_group(seg, group)["n_docs"]:
            return False  # an empty batch commits nothing
        _write_json(os.path.join(group, GROUP_LINEAGE), {"batch_ids": [int(batch_id)]})
        return True

    if not adopting:
        return _land_group(paths, write) >= 0
    # first batch: the staged group becomes the index, staged on the SAME
    # filesystem as index_dir so the commit is an atomic rename; the
    # entry guard proved any existing index_dir empty
    with _staged_sibling(index_dir) as stage_root:
        stage = IndexPaths(stage_root)
        if not write(stage.group_dir(0)):
            return False
        _write_json(stage.config_json, {"n_shards": n_shards, "n_groups": 1, "mode": mode})
        _rename_into_place(stage_root, index_dir)
        return True


def stream_ingest(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    n_shards: int = 8,
    mode: str = "text",
    available_now: bool = True,
):
    """Start the ingestion query. ``stream_docs``: a STREAMING DataFrame
    with (doc_id, text). ``available_now=True`` drains the current
    backlog and stops (the batch-test trigger); pass False for a
    continuous micro-batch query."""
    spark = stream_docs.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(spark, batch_df, batch_id, index_dir, n_shards, mode)

    writer = stream_docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
