"""Structured-Streaming index ingestion: micro-batches append LSM
segment groups (SURVEY §2.10 meets §4.2 — the streaming twin of the
reference's chunked checkpointed generator loop,
/root/reference/generator/generate_cyber_incidents.py:2779-3047).

Shape:

    readStream(docs) -> writeStream.foreachBatch(ingest_batch)

Each micro-batch builds its own one-group index in a staging sibling of
the index dir. The first batch renames that whole index into place
(segments._rename_into_place, merge's commit); later batches land its
group through segments._land_group, the one group commit that
delete_docs and append_group use too. No stats are written: load_index
derives them from the groups it pins, so a committed group is counted
from its rename on. EXACTLY-ONCE per batch:
Structured Streaming re-delivers a batch after a crash between the
sink's side effect and the checkpoint commit, so every group directory
carries a ``_stream_batch.json`` marker with its batch id — a
re-delivered batch whose id is already committed is skipped before any
work. The rename IS the commit point; a crash mid-build leaves only an
invisible staging dir (underscore-prefixed, ignored by the segment
glob and parquet discovery). Compaction (merge_segments) drops the
marker-carrying groups but carries their batch ids into a root
``_stream_batches.json`` sidecar, so the skip survives a
stop -> compact -> restart window (segments.stream_committed_batch_ids
reads markers UNION sidecar).

At scale each micro-batch is one bounded build (the batch's docs
shuffle once on shard_id into n_shards single-shard tasks); group count
grows with stream time, so run ``merge_segments`` /
``maybe_compact`` out-of-band to bound query-time read amplification —
the standard LSM background-compaction split. Queries against the
serving snapshot raise the staleness error after an append
(SegmentIndex.assert_serving_fresh), forcing an explicit re-load — no
silent drift.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from alertsage_spark.index.segments import (
    STREAM_MARKER,
    IndexPaths,
    _land_group,
    _rename_into_place,
    _staged_sibling,
    _write_json,
    build_segments,
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
        # checked BEFORE the batch build: the refusal is permanent, so
        # discovering it after building the whole group would re-waste
        # the build on every streaming retry
        raise ValueError(
            f"{index_dir} exists, is non-empty, and is not an "
            "index (no build_config.json) — refusing to adopt"
        )
    if batch_id in stream_committed_batch_ids(index_dir):
        return False
    rows = batch_df.limit(1).count()
    if rows == 0:
        return False
    # build the batch's group in its own staging index, then adopt the
    # group dir. The staging build uses the SAME n_shards/mode so the
    # doc->shard layout matches (append_group's compatibility rule).
    if not adopting:
        with open(paths.config_json) as f:
            cfg = json.load(f)
        if (cfg["n_shards"], cfg.get("mode", "text")) != (n_shards, mode):
            raise ValueError(
                "stream_ingest config mismatch with existing index: "
                f"{cfg} vs n_shards={n_shards} mode={mode}"
            )
    # staged on the SAME filesystem as index_dir, so both commits below
    # are atomic renames, never a crashable cross-device copy
    with _staged_sibling(index_dir) as stage_root:
        build_segments(
            spark,
            batch_df,
            stage_root,
            n_shards=n_shards,
            n_groups=1,
            mode=mode,
            resume=False,
            build_id=f"stream-batch-{batch_id}",
        )
        src_group = IndexPaths(stage_root).group_dir(0)
        _write_json(os.path.join(src_group, STREAM_MARKER), {"batch_id": int(batch_id)})
        if adopting:
            # first batch: adopt the staging index wholesale; the entry
            # guard proved any existing index_dir empty
            _rename_into_place(stage_root, index_dir)
        else:
            _land_group(paths, lambda d: shutil.move(src_group, d))
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
