"""Doc-sharded compressed index segments + group checkpoint/resume.

Physical design (for 10^12-file corpora; tested at fixture scale):

  * **document-sharded**: shard_id = pmod(xxhash64(doc_id), n_shards).
    Each shard holds the full term->postings map for ITS docs. This
    defuses hot-term build skew structurally — a stop-word's postings
    spread across all shards instead of landing on one term-partition —
    and lets the query side run block-max WAND per shard with only a
    final top-k merge (queries broadcast; no doc-side shuffle at query
    time).
  * **single-pass build**: ONE tokenize of the corpus. Block metadata
    stores (block_max_tf, block_min_dl) instead of avgdl-baked norms, so
    no global-stats barrier is needed before encoding — the query-time
    bound idf * norm(max_tf, min_dl) is valid because the BM25 tf-norm
    is increasing in tf and decreasing in dl (property-tested).
  * **self-contained segments**: one parquet row per (shard_id, term):
    delta+varbyte doc_ids, varbyte tfs, per-block metadata — see
    compress.py. Each shard additionally stores ONE doclen row
    (term=NULL) carrying its doc_id->dl arrays in the same varbyte
    format; the scorer reads postings and doc lengths from the same
    partition-local rows (no separate table, no cogroup). Files are
    sorted by term so parquet row-group min/max stats prune term lookups.
  * **derived global stats**: nothing index-wide is stored but the
    build config. load_index derives n_docs/avgdl (one aggregation over
    the pinned doclen rows) and the term->df table (a lazy salted
    two-stage agg on term — at most n_shards rows per term enter it, so
    hot terms cannot skew a reducer) from exactly the groups it pins,
    so stats can never disagree with the segments they describe.
  * **one commit rule, group checkpoint/resume** (the Spark-native
    analog of the reference generator's chunked checkpoint, JSON
    {last_completed_event, chunks_written} + append resume): a new group
    (build, delete_docs, streaming ingest: written by _write_group;
    append_group: copied) is filled into a '_'-prefixed staging dir with
    its GROUP_LINEAGE file, and _land_group's rename to ``group={g}``
    commits it; a whole new index (a merge's output, a stream's first
    batch) is built in a _staged_sibling and committed by
    _rename_into_place. A build processes shards in groups and resume
    skips the committed group dirs, so the final index is byte-identical
    to an uninterrupted build (tests/test_segments.py). Once every group
    is committed, finalize checks the lineage doc count against the
    segments', writes manifest/ from the lineage rows (n_docs,
    n_postings, bytes, wall_ms, docs/sec) and renames _build_config.json
    to build_config.json: only then does the index load. Every JSON file
    is written by _write_json (temp + rename).
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import tempfile
import time
from collections import OrderedDict
from collections.abc import Mapping
from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from alertsage_spark.index.compress import (
    decode_rows,
    delta_encode,
    encode_posting_lists_columnar,
    varbyte_encode,
)
from alertsage_spark.session import local_df
from alertsage_spark.tokenizer import tokenize_arrow_base, vocab_trigram_mapping

SEGMENT_SCHEMA = (
    "shard_id int, term string, df_local int, cf_local long, n_postings long, "
    "doc_bytes binary, tf_bytes binary, "
    "block_last_docs array<long>, block_max_tfs array<long>, "
    "block_min_dls array<long>, "
    "block_doc_offsets array<int>, block_tf_offsets array<int>"
)
_SEG_COLS = [
    "shard_id", "term", "df_local", "cf_local", "n_postings",
    "doc_bytes", "tf_bytes", "block_last_docs", "block_max_tfs",
    "block_min_dls", "block_doc_offsets", "block_tf_offsets",
]

# Reserved term marking a tombstone row (deleted doc ids ride in
# doc_bytes using the doclen-row encoding). Can never collide with real
# tokens: the tokenizer emits only [a-z][a-z0-9]+ and '#'-prefixed
# trigrams. LSM delete semantics: a tombstone excludes its doc ids from
# ALL query results immediately (kernels mask candidates shard-locally);
# global stats (n_docs/avgdl/df) still count the deleted docs, whose
# doclen and term rows stay, until merge_segments physically drops
# deleted postings, doclens, and the tombstones — the standard
# Lucene-style lifecycle. Re-ingesting a deleted doc_id requires a merge
# first (deletion is not sequenced against later appends).
TOMBSTONE_TERM = "!deleted!"

# Each group's lineage, a JSON object inside the group dir, written in
# its staging dir before the commit rename: a build group's is its
# manifest row (MANIFEST_SCHEMA's fields, in order); a stream-ingested
# group's lists its micro-batch id (batch_ids), and merge_segments writes
# the union of its source groups' batch ids into the merged group's, so
# a batch re-delivered across a stop -> compact -> restart window is
# still skipped. '_'-prefixed: parquet discovery ignores it.
GROUP_LINEAGE = "_lineage.json"


def _write_json(path: str, obj) -> None:
    """The index's one JSON writer (the build config and the group
    lineage files): a temp file renamed over ``path``, so a reader never
    sees a half-written file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _group_lineage(group_dir: str) -> dict:
    """A group's GROUP_LINEAGE object; {} for a group without one (a
    delete_docs tombstone group)."""
    try:
        with open(os.path.join(group_dir, GROUP_LINEAGE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _batch_ids(group_dirs) -> set[int]:
    return {int(b) for g in group_dirs for b in _group_lineage(g).get("batch_ids", ())}


def stream_committed_batch_ids(index_dir: str) -> set[int]:
    """Micro-batch ids durably ingested: the union of the committed
    groups' lineage batch ids (a merged group carries its sources')."""
    return _batch_ids(IndexPaths(index_dir).group_dirs())


MANIFEST_SCHEMA = (
    "build_id string, group_id int, n_shards int, n_groups int, "
    "n_docs long, n_terms long, n_postings long, "
    "doc_bytes long, tf_bytes long, wall_ms double, "
    "docs_per_sec double, postings_per_sec double, committed_at string"
)


def shard_col(doc_id_col, n_shards: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_shards)).cast("int")


def suggest_n_shards(
    n_docs: int,
    avg_doc_tokens: float = 200.0,
    target_postings_per_shard: int = 20_000_000,
) -> int:
    """Sizing rule for ``build_segments(n_shards=...)``.

    A build/merge task materializes ONE shard (its postings decode to
    ~16 B each plus the token strings), so per-task memory is
    total_postings / n_shards * ~50 B. The rule keeps a shard at
    ``target_postings_per_shard`` (20M -> ~1 GB peak per task):

        n_shards = ceil(n_docs * avg_doc_tokens / target)

    Examples: 80k docs x 60 tok -> 1 shard (floor to parallelism needs);
    10^9 docs x 200 tok -> 10,000 shards; 10^12 docs -> 10M shards.
    n_shards only changes layout, never results (append_group guards
    against mixing layouts); pick the next power of two above this for
    stable repartitioning if preferred."""
    import math

    return max(1, math.ceil(n_docs * avg_doc_tokens / target_postings_per_shard))


@dataclass
class IndexPaths:
    root: str

    @property
    def config_json(self) -> str:
        return os.path.join(self.root, "build_config.json")

    @property
    def pending_config_json(self) -> str:
        """A build's config until its finalize renames it to
        config_json: an index without build_config.json never loads."""
        return os.path.join(self.root, "_build_config.json")

    def group_dir(self, g: int) -> str:
        return os.path.join(self.root, "segments", f"group={g}")

    @property
    def segments_glob(self) -> str:
        return os.path.join(self.root, "segments", "group=*")

    def group_dirs(self) -> list[str]:
        """Concrete committed group directories. Readers pass these to
        spark.read.parquet instead of segments_glob: a glob path makes
        Spark's FileStreamSink probe log a full FileNotFoundException
        stack trace (benign but noisy) on every read."""
        import glob as _glob

        return sorted(_glob.glob(self.segments_glob))

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")


def _land_group(paths: IndexPaths, fill, g: int | None = None) -> int:
    """The one commit of a segment group; build_segments, delete_docs,
    append_group and streaming ingest create group dirs only through
    here. ``fill(dir)`` writes the group (parquet files and any
    GROUP_LINEAGE file) into a '_'-prefixed staging dir under segments/
    named for g (the build passes its own group id; the others take the
    next free one); its rename to ``group={g}`` is the commit point.
    Readers list group=* dirs and parquet discovery skips '_' names, so
    a crash before the rename leaves the committed groups and every
    serving snapshot unchanged; the retry clears the leftover. A fill
    that returns False (it wrote nothing worth a group) commits nothing
    and gets -1. Returns g."""
    if g is None:
        g = 1 + max((int(p.rsplit("=", 1)[1]) for p in paths.group_dirs()), default=-1)
    stage = os.path.join(paths.root, "segments", f"_staging_group_{g}")
    shutil.rmtree(stage, ignore_errors=True)
    if fill(stage) is False:
        shutil.rmtree(stage, ignore_errors=True)
        return -1
    os.rename(stage, paths.group_dir(g))
    return g


@contextmanager
def _staged_sibling(final: str):
    """A fresh '_'-prefixed sibling dir of ``final`` (same filesystem, so
    renaming it into place is atomic), removed on exit unless
    _rename_into_place moved it."""
    parent = os.path.dirname(os.path.abspath(final.rstrip("/")))
    os.makedirs(parent, exist_ok=True)
    stage = tempfile.mkdtemp(prefix="_staging_", dir=parent)
    try:
        yield stage
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _rename_into_place(stage: str, final: str) -> None:
    """Commit a whole staged index (a merge's output, a stream's first
    batch) at ``final``. Whatever ``final`` held moves aside first and is
    removed after the rename, so no file of a previous index survives."""
    final = os.path.abspath(final.rstrip("/"))
    old = stage + ".old"
    if os.path.exists(final):
        os.rename(final, old)
    os.rename(stage, final)
    shutil.rmtree(old, ignore_errors=True)


# salts of the term -> (df, cf) aggregation's partial stage
TERMSTATS_SALTS = 8


def salted_termstats_from_segments(segments: DataFrame) -> DataFrame:
    """Global term -> (df, cf) from the per-shard segment rows, via the
    EXPLICIT two-stage salted aggregation on term (north rule §4.2-3):
    partial agg on (term, salt), final combine on term.

    Because the index is document-sharded, the input has AT MOST n_shards
    rows per term — hot-term skew is defused structurally before this agg
    even runs (a stop-word contributes n_shards partial rows, not one row
    per posting). The salt keeps the reduce side spread even when vocab
    is tiny relative to shards."""
    return (
        segments.filter(
            F.col("term").isNotNull() & (F.col("term") != TOMBSTONE_TERM)
        )
        .groupBy("term", F.pmod(F.col("shard_id"), F.lit(TERMSTATS_SALTS)).alias("salt"))
        .agg(F.sum("df_local").alias("df_p"), F.sum("cf_local").alias("cf_p"))
        .groupBy("term")
        .agg(F.sum("df_p").alias("df"), F.sum("cf_p").alias("cf"))
    )


def _read_segments(spark: SparkSession, paths: IndexPaths, groups: list[str]) -> DataFrame:
    """The rows of ``groups`` plus their ``group`` partition column. The
    schema is given, not inferred: inference costs a footer-reading job
    on every read."""
    return (
        spark.read.schema(f"{SEGMENT_SCHEMA}, group int")
        .option("basePath", os.path.join(paths.root, "segments"))
        .parquet(*groups)
    )


def _derive_stats(segments: DataFrame, config: dict, n_groups: int) -> dict:
    """The index statistics of the groups ``segments`` reads: n_docs and
    sum_dl from ONE aggregation over the doclen rows (term IS NULL; the
    scan reads only term, df_local and cf_local). Tombstone rows are not
    doclen rows, so deleted docs still count until merge_segments drops
    them (the LSM contract at TOMBSTONE_TERM). ``config`` (the build
    config) supplies n_shards and mode."""
    row = (
        segments.filter(F.col("term").isNull())
        .agg(F.sum("df_local").alias("n"), F.sum("cf_local").alias("s"))
        .collect()[0]
    )
    n, sum_dl = int(row["n"] or 0), int(row["s"] or 0)
    return {
        "n_docs": n,
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n) if n else 0.0,
        "n_shards": int(config["n_shards"]),
        "n_groups": n_groups,
        "mode": config.get("mode", "text"),
    }


def _doclen_row(shard_id: int, doc_ids: np.ndarray, dls: np.ndarray, term=None):
    """One doclen-format row as a one-row Arrow table: doc ids sorted and
    delta+varbyte in doc_bytes (one delta stream, no block restarts),
    lengths varbyte in tf_bytes in the same order. term=NULL is the
    shard's doclen row; delete_docs writes the same row with zero lengths
    and term=TOMBSTONE_TERM."""
    order = np.argsort(doc_ids, kind="stable")
    d = doc_ids[order].astype(np.uint64)
    db = varbyte_encode(delta_encode(d))
    tb = varbyte_encode(dls[order].astype(np.uint64))
    row = {
        "shard_id": shard_id,
        "term": term,
        "df_local": int(len(d)),  # n docs in shard
        "cf_local": int(dls.sum()),  # sum of doc lengths
        "n_postings": int(len(d)),
        "doc_bytes": db,
        "tf_bytes": tb,
        "block_last_docs": [int(d[-1])] if len(d) else [],
        "block_max_tfs": [],
        "block_min_dls": [],
        "block_doc_offsets": [0, len(db)],
        "block_tf_offsets": [0, len(tb)],
    }
    return pa.table({c: [row[c]] for c in _SEG_COLS}, schema=_arrow_segment_schema())


def _shard_postings(doc_ids: np.ndarray, texts, mode: str):
    """Numpy core of the segment builder: one shard's texts -> per-doc
    lengths + term-sorted aggregated postings.

    Tokenizes INSIDE the Python worker (Arrow/RE2 tokenize_arrow_base).
    Aggregation uses factorize + integer composite keys instead of an
    object-dtype pandas groupby: one C-speed hash pass over the token
    strings, then pure int64 numpy — far lighter on memory bandwidth,
    which is what actually limits per-core throughput at high
    parallelism.

    Returns (lens int64[n_docs], parts) where parts is None when the
    shard has no postings, else the _encode_shard input: p_docs/p_tf/
    p_dls (postings sorted by (term, doc_id)), term_starts (per-term
    ranges, len n_terms+1) and terms (one string per term)."""
    n_docs = len(doc_ids)
    codes, doc_idx, vocab = tokenize_arrow_base(texts)
    lens = np.bincount(doc_idx, minlength=n_docs).astype(np.int64)
    comp = codes * n_docs + doc_idx
    uk, tf = np.unique(comp, return_counts=True)  # sorted by (term, docidx)
    term_code = uk // n_docs
    docidx = (uk % n_docs).astype(np.int64)
    tf = tf.astype(np.int64)
    if mode == "code" and len(vocab):
        # vocab-level trigram expansion over the aggregated postings:
        # tf('#xyz', doc) = sum over terms t of tf(t, doc) * mult(xyz in t)
        tri_vocab, tri_codes, tri_mults, tri_off = vocab_trigram_mapping(vocab)
        n_tris = tri_off[1:] - tri_off[:-1]
        rep = n_tris[term_code]
        rows = np.repeat(np.arange(len(uk), dtype=np.int64), rep)
        # slot index into tri_codes for each expanded row
        slot = (
            np.arange(int(rep.sum()), dtype=np.int64)
            - np.repeat(np.cumsum(rep) - rep, rep)
            + np.repeat(tri_off[term_code], rep)
        )
        tri_term = tri_codes[slot] + len(vocab)
        tri_doc = docidx[rows]
        tri_tf = tf[rows] * tri_mults[slot]
        # doc lengths include trigram occurrences (oracle parity)
        lens = lens + np.bincount(
            tri_doc, weights=tri_tf.astype(np.float64), minlength=n_docs
        ).astype(np.int64)
        # aggregate trigram collisions across different source terms
        comp2 = tri_term * n_docs + tri_doc
        order2 = np.argsort(comp2, kind="stable")
        comp2 = comp2[order2]
        tri_tf = tri_tf[order2]
        uk2, idx2 = np.unique(comp2, return_index=True)
        tf2 = np.add.reduceat(tri_tf, idx2) if len(uk2) else tri_tf[:0]
        term_code = np.concatenate((term_code, uk2 // n_docs))
        docidx = np.concatenate((docidx, (uk2 % n_docs).astype(np.int64)))
        tf = np.concatenate((tf, tf2))
        vocab = np.concatenate((vocab, tri_vocab))
        order3 = np.lexsort((docidx, term_code))
        term_code, docidx, tf = term_code[order3], docidx[order3], tf[order3]
    if len(uk) == 0:
        return lens, None
    p_docs = doc_ids[docidx]
    p_dls = lens[docidx]
    # one global (term, doc_id) sort, then a single batch encode of
    # every posting list (two vectorized varbyte passes for the whole
    # shard — per-term encode calls were 77% of code-mode build time)
    order = np.lexsort((p_docs, term_code))
    term_sorted = term_code[order]
    bounds = np.flatnonzero(np.diff(term_sorted)) + 1
    starts = np.concatenate(([0], bounds))
    return lens, {
        "p_docs": p_docs[order],
        "p_tf": tf[order],
        "p_dls": p_dls[order],
        "term_starts": np.concatenate((starts, [len(term_sorted)])),
        "terms": vocab[term_sorted[starts]],
    }


def _arrow_segment_schema():
    return pa.schema(
        [
            ("shard_id", pa.int32()),
            ("term", pa.string()),
            ("df_local", pa.int32()),
            ("cf_local", pa.int64()),
            ("n_postings", pa.int64()),
            ("doc_bytes", pa.binary()),
            ("tf_bytes", pa.binary()),
            ("block_last_docs", pa.list_(pa.int64())),
            ("block_max_tfs", pa.list_(pa.int64())),
            ("block_min_dls", pa.list_(pa.int64())),
            ("block_doc_offsets", pa.list_(pa.int32())),
            ("block_tf_offsets", pa.list_(pa.int32())),
        ]
    )


def _shard_key(key) -> int:
    """The shard id from an applyInArrow group key."""
    k = key[0]
    return int(k.as_py() if hasattr(k, "as_py") else k)


def _encode_shard(shard_id: int, doc_ids: np.ndarray, lens: np.ndarray, parts):
    """The one writer of the segment row format: one shard's doc lengths
    and term-sorted postings (``parts`` as _shard_postings returns it, or
    None) -> its segment rows as a pyarrow Table. The build and the merge
    both emit through here.

    The table is assembled ZERO-COPY from encode_posting_lists_columnar:
    the binary columns are offset views over the shard's two encoded
    byte buffers and the block-metadata list columns are ListArrays over
    the vectorized per-block arrays — no per-term Python objects.

    A shard with no docs emits no rows; a shard with docs but no
    postings emits only its doclen row."""
    schema = _arrow_segment_schema()
    if not len(doc_ids):
        return schema.empty_table()
    dl_tbl = _doclen_row(shard_id, doc_ids, lens)
    if parts is None:
        return dl_tbl
    c = encode_posting_lists_columnar(
        parts["p_docs"], parts["p_tf"], parts["p_dls"], parts["term_starts"]
    )
    ts = c["term_starts"]
    n_terms = len(ts) - 1
    doc_cum, tf_cum = c["doc_cum"], c["tf_cum"]
    if max(int(doc_cum[-1]), int(tf_cum[-1])) > np.iinfo(np.int32).max:
        raise ValueError(
            "shard encoded size exceeds Arrow binary offset range; "
            "rebuild with a larger n_shards"
        )
    bstart, term_blk = c["bstart"], c["term_blk"]
    cf = np.add.reduceat(parts["p_tf"], ts[:-1])
    npost = np.diff(ts)

    def bin_col(all_bytes, cum):
        offs = np.ascontiguousarray(cum[ts], dtype=np.int32)
        return pa.Array.from_buffers(
            pa.binary(), n_terms,
            [None, pa.py_buffer(offs), pa.py_buffer(all_bytes)],
        )

    blk_offs = pa.array(term_blk.astype(np.int32), type=pa.int32())

    def blk_col(values):
        return pa.ListArray.from_arrays(
            blk_offs, pa.array(values.astype(np.int64), type=pa.int64())
        )

    # per-term byte-offset lists: each term's list is its blocks' start
    # offsets plus one trailing end offset — built vectorized
    nblk = np.diff(term_blk)
    list_off = term_blk + np.arange(n_terms + 1, dtype=np.int64)
    total = int(list_off[-1])
    end_mask = np.zeros(total, dtype=bool)
    end_mask[list_off[1:] - 1] = True
    off_arr = pa.array(list_off.astype(np.int32), type=pa.int32())

    def off_col(cum):
        vals = np.empty(total, dtype=np.int64)
        vals[~end_mask] = cum[bstart] - np.repeat(cum[ts[:-1]], nblk)
        vals[end_mask] = cum[ts[1:]] - cum[ts[:-1]]
        return pa.ListArray.from_arrays(
            off_arr, pa.array(vals.astype(np.int32), type=pa.int32())
        )

    terms_tbl = pa.table(
        {
            "shard_id": pa.array(
                np.full(n_terms, shard_id, dtype=np.int32), type=pa.int32()
            ),
            "term": pa.array(parts["terms"], type=pa.string()),
            "df_local": pa.array(npost.astype(np.int32), type=pa.int32()),
            "cf_local": pa.array(cf.astype(np.int64), type=pa.int64()),
            "n_postings": pa.array(npost.astype(np.int64), type=pa.int64()),
            "doc_bytes": bin_col(c["doc_all"], doc_cum),
            "tf_bytes": bin_col(c["tf_all"], tf_cum),
            "block_last_docs": blk_col(c["blk_last"]),
            "block_max_tfs": blk_col(c["blk_max_tf"]),
            "block_min_dls": blk_col(c["blk_min_dl"]),
            "block_doc_offsets": off_col(doc_cum),
            "block_tf_offsets": off_col(tf_cum),
        },
        schema=schema,
    )
    return pa.concat_tables([dl_tbl, terms_tbl])


def _segment_builder_arrow(mode: str = "text"):
    """applyInArrow group fn — the build hot path: one shard's
    (doc_id, text) -> _shard_postings -> _encode_shard."""

    def fn(key, tbl):
        doc_ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        lens, parts = _shard_postings(doc_ids, tbl.column("text"), mode)
        return _encode_shard(_shard_key(key), doc_ids, lens, parts)

    return fn


def _by_shard(rows: DataFrame, n_shards: int):
    """``rows`` grouped by shard_id for a group write (the build's,
    ingest's and merge's shard stage). The layout is part of the plan:
    one Exchange hashpartitioning(shard_id, n_shards) that the group-by
    reuses and AQE never coalesces (a repartition to a fixed number), so
    it holds whatever session plans it and whatever the session's
    shuffle settings are."""
    return rows.repartition(n_shards, "shard_id").groupBy("shard_id")


def _segment_rows(docs: DataFrame, n_shards: int, mode: str) -> DataFrame:
    """The segment rows of (doc_id, text) docs: each doc routed to its
    shard and each shard encoded by one applyInArrow call, in n_shards
    hash partitions of shard_id (_by_shard)."""
    return _by_shard(
        docs.withColumn("shard_id", shard_col(F.col("doc_id"), n_shards)), n_shards
    ).applyInArrow(_segment_builder_arrow(mode), schema=SEGMENT_SCHEMA)


def _row_kinds(rows: pa.Table) -> tuple[pa.Table, pa.Table, pa.Table]:
    """Segment rows -> (doclen rows, tombstone rows, term rows)."""
    term = rows.column("term")
    is_tomb = pc.fill_null(pc.equal(term, TOMBSTONE_TERM), False)
    is_term = pc.invert(pc.or_(pc.is_null(term), is_tomb))
    return rows.filter(pc.is_null(term)), rows.filter(is_tomb), rows.filter(is_term)


def merged_doclen(rows: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """One shard's doclen rows (one per committed group; an un-compacted
    index has several), decoded in one pass -> (doc_ids, dls) sorted by
    doc_id."""
    _, docs, dls = decode_rows(rows.column("doc_bytes"), rows.column("tf_bytes"), None)
    order = np.argsort(docs, kind="stable")
    return docs[order], dls[order]


def tombstoned_docs(rows: pa.Table) -> np.ndarray:
    """Sorted doc ids deleted by one shard's tombstone rows."""
    _, docs, _ = decode_rows(rows.column("doc_bytes"), rows.column("tf_bytes"), None)
    return np.unique(docs)


def _group_metric_exprs():
    """Aggregates for one group's manifest row, observed during the
    group's write job (_write_group)."""
    return [
        F.count(F.when(F.col("term").isNotNull(), 1)).alias("n_terms"),
        F.sum(F.when(F.col("term").isNotNull(), F.col("n_postings"))).alias("n_postings"),
        F.sum(F.when(F.col("term").isNull(), F.col("df_local"))).alias("n_docs"),
        F.sum(F.length("doc_bytes")).alias("doc_bytes"),
        F.sum(F.length("tf_bytes")).alias("tf_bytes"),
    ]


def _write_group(rows: DataFrame, group_dir: str) -> dict:
    """The one writer of a segment group's parquet files (build, merge,
    stream ingest and delete): ``rows`` (segment rows, hash-partitioned
    by shard_id: one file per non-empty partition, which may hold
    several shards) sorted by term within each file, so parquet row-group
    min/max stats prune query-term lookups. Returns the group's
    _group_metric_exprs, observed in the write job itself (a read-back
    would re-read the whole group); sums over no rows are None."""
    obs = Observation()
    out = rows.observe(obs, *_group_metric_exprs()).sortWithinPartitions("term")
    out.write.mode("overwrite").parquet(group_dir)
    return obs.get


def _build_lineage(
    build_id: str, g: int, n_shards: int, n_groups: int, wall_ms: float, m: dict
) -> dict:
    """A build group's lineage and manifest row, in MANIFEST_SCHEMA order
    (local_df matches by position). ``m``: the metrics _write_group
    observed; ``wall_ms``: the group's write time."""
    n_docs, n_postings = int(m["n_docs"] or 0), int(m["n_postings"] or 0)
    secs = wall_ms / 1000.0
    return {
        "build_id": build_id,
        "group_id": g,
        "n_shards": n_shards,
        "n_groups": n_groups,
        "n_docs": n_docs,
        "n_terms": int(m["n_terms"] or 0),
        "n_postings": n_postings,
        "doc_bytes": int(m["doc_bytes"] or 0),
        "tf_bytes": int(m["tf_bytes"] or 0),
        "wall_ms": wall_ms,
        "docs_per_sec": n_docs / secs if secs else 0.0,
        "postings_per_sec": n_postings / secs if secs else 0.0,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def _clear_index(paths: IndexPaths) -> None:
    """Remove what an index leaves at its root (the configs first, so an
    interrupted clear never loads) and nothing else."""
    for p in (paths.config_json, paths.pending_config_json):
        if os.path.exists(p):
            os.remove(p)
    for d in (os.path.join(paths.root, "segments"), paths.manifest):
        shutil.rmtree(d, ignore_errors=True)


def verify_corpus_fidelity(
    docs: DataFrame,
    reference_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_col: str = "content_sha256",
) -> None:
    """North-rule per-row invariant: sha2(content, 256) of every indexed
    row must equal the reference's recorded hash. ONE full-outer-join
    job counts both directions at once (r6: the former anti-join pair
    hashed the corpus twice per build); any mismatching or missing row
    raises before the build proceeds."""
    actual = docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("h"),
        F.lit(1).alias("_a"),
    )
    ref = reference_hashes.select(
        F.col(id_col).alias("doc_id"),
        F.col(hash_col).alias("h"),
        F.lit(1).alias("_r"),
    )
    row = (
        actual.join(ref, ["doc_id", "h"], "full_outer")
        .agg(
            F.count(F.when(F.col("_r").isNull(), 1)).alias("bad"),
            F.count(F.when(F.col("_a").isNull(), 1)).alias("missing"),
        )
        .collect()[0]
    )
    bad, missing = int(row["bad"]), int(row["missing"])
    if bad or missing:
        raise ValueError(
            f"corpus fidelity check failed: {bad} rows hash-mismatched, "
            f"{missing} reference rows missing"
        )


def build_segments(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_shards: int = 32,
    n_groups: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "text",
    resume: bool = True,
    build_id: str = "build-0",
    fidelity_hashes: DataFrame | None = None,
) -> dict:
    """Full checkpointed single-pass build. Returns stats + metrics list
    (the lineage rows of the groups this call committed).

    ``resume`` continues a build of the same config at ``index_dir``,
    skipping its committed groups; otherwise (or when there is none) the
    build first removes what an index leaves there (_clear_index).
    ``fidelity_hashes`` (doc_id, content_sha256) enables the north-rule
    per-row corpus fidelity gate before indexing.
    """
    paths = IndexPaths(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    if fidelity_hashes is not None:
        verify_corpus_fidelity(docs, fidelity_hashes, id_col, text_col)
    config = {"n_shards": n_shards, "n_groups": n_groups, "mode": mode}
    found = [
        p for p in (paths.config_json, paths.pending_config_json) if os.path.exists(p)
    ]
    if resume and found:
        with open(found[0]) as f:
            prev = json.load(f)
        if prev != config:
            raise ValueError("resume with different build config; wipe index_dir first")
    else:
        _clear_index(paths)
        _write_json(paths.pending_config_json, config)

    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    metrics = []

    def fill(g: int, part: DataFrame, stage: str) -> None:
        t0 = time.monotonic()
        m = _write_group(_segment_rows(part, n_shards, mode), stage)
        wall_ms = (time.monotonic() - t0) * 1000.0
        row = _build_lineage(build_id, g, n_shards, n_groups, wall_ms, m)
        _write_json(os.path.join(stage, GROUP_LINEAGE), row)
        metrics.append(row)

    for g in range(n_groups):
        if os.path.isdir(paths.group_dir(g)):
            continue  # committed before a crash
        part = docs.filter(
            F.pmod(shard_col(F.col("doc_id"), n_shards), F.lit(n_groups)) == g
        )
        _land_group(paths, partial(fill, g, part), g)

    # finalize, once every group is committed: the lineage doc count must
    # equal the segments' (the aggregation load_index derives n_docs
    # with); then the manifest is written from the lineage rows and the
    # config rename makes the index loadable. Re-runs after a crash
    # before the rename.
    stats: dict = {}
    if all(os.path.isdir(paths.group_dir(g)) for g in range(n_groups)):
        lineage = [_group_lineage(paths.group_dir(g)) for g in range(n_groups)]
        groups = paths.group_dirs()
        stats = _derive_stats(_read_segments(spark, paths, groups), config, len(groups))
        if sum(r.get("n_docs", 0) for r in lineage) != stats["n_docs"]:
            raise RuntimeError("lineage/segment doc-count mismatch")
        if os.path.exists(paths.pending_config_json):
            manifest = local_df(spark, [tuple(r.values()) for r in lineage], MANIFEST_SCHEMA)
            manifest.write.mode("overwrite").parquet(paths.manifest)
            os.replace(paths.pending_config_json, paths.config_json)
    return {"stats": stats, "metrics": metrics}


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """LSM delete: append ONE tombstone group marking ``doc_ids`` as
    deleted (see TOMBSTONE_TERM for the semantics/lifecycle contract).

    ``doc_ids``: a DataFrame with a ``doc_id`` column, or a Python
    iterable of ids. Ids are routed to their shard with the build's
    shard_col rule and encoded per shard exactly like a doclen row
    (sorted delta+varbyte ids, zero lengths), so every decoder already
    understands the row. The group is written by _write_group into its
    staging dir and lands through _land_group (crash-safe); returns the
    new group id, or -1 for an empty ``doc_ids`` (no-op: no group is
    committed, serving snapshots stay valid). Scales: one narrow
    shuffle on shard_id, one tombstone row per touched shard, no
    driver-side id list."""
    paths = IndexPaths(index_dir)
    with open(paths.config_json) as f:
        cfg = json.load(f)
    n_shards = int(cfg["n_shards"])
    if not isinstance(doc_ids, DataFrame):
        doc_ids = local_df(spark, [(int(i),) for i in doc_ids], "doc_id long")
    ids = doc_ids.select(F.col("doc_id").cast("long")).distinct()

    def tomb_row(key, tbl):
        d = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
        return _doclen_row(
            _shard_key(key), d, np.zeros(len(d), dtype=np.int64), TOMBSTONE_TERM
        )

    tomb = (
        ids.withColumn("shard_id", shard_col(F.col("doc_id"), n_shards))
        .groupBy("shard_id")
        .applyInArrow(tomb_row, schema=SEGMENT_SCHEMA)
    )
    # an empty delete commits nothing: an empty tombstone group would
    # invalidate every serving snapshot (assert_serving_fresh) for
    # nothing. The write observes the tombstone count (n_postings).
    return _land_group(paths, lambda d: bool(_write_group(tomb, d)["n_postings"]))


def append_group(spark: SparkSession, dst_dir: str, src_dir: str) -> int:
    """The SUPPORTED way to append another build's segment group(s) to an
    existing index (LSM ingest). Validates build-config compatibility
    first: a group built with a different n_shards or tokenizer mode has
    a different doc->shard layout and would silently produce wrong doc
    lengths / non-deduplicable re-ingests (ADVICE r01). Copies every
    source group under the next free group id (each lands through
    _land_group, crash-safe) and returns how many groups were appended.
    The next load_index counts the appended docs and terms."""
    dst, src = IndexPaths(dst_dir), IndexPaths(src_dir)
    with open(dst.config_json) as f:
        dcfg = json.load(f)
    with open(src.config_json) as f:
        scfg = json.load(f)
    for k in ("n_shards", "mode"):
        if dcfg.get(k) != scfg.get(k):
            raise ValueError(
                f"append_group: incompatible build config ({k}: "
                f"{dcfg.get(k)!r} != {scfg.get(k)!r}); groups from a "
                "different doc->shard layout cannot be appended"
            )
    groups = src.group_dirs()
    for p in groups:
        _land_group(dst, partial(shutil.copytree, p))
    return len(groups)


# serving-mode ceiling on the term->df table prepare_for_queries
# collects to the driver (~30 B/term)
COLLECT_TERMSTATS_MAX = 2_000_000

# driver byte budget of the fast path's term-row store (TermRowStore):
# Arrow bytes of the serving columns held. An index whose serving
# columns fit is snapshotted whole at prepare_for_queries; a larger one
# fills the store per miss and evicts by bytes.
TERM_CACHE_MAX_BYTES = 12 * 2**20

# the columns the fast path reads (cf_local and the group column stay on
# the executors)
_SERVING_COLS = [
    "shard_id", "term", "df_local", "n_postings", "doc_bytes", "tf_bytes",
    "block_last_docs", "block_max_tfs", "block_min_dls",
    "block_doc_offsets", "block_tf_offsets",
]


def _serving_row_bytes():
    """Arrow bytes of one row's serving columns: 50 B of fixed-width
    values, offsets and validity bits, plus the variable-width data (an
    upper bound of what toArrow() holds for the row)."""
    return (
        F.lit(50)
        + F.coalesce(F.length("term"), F.lit(0))
        + F.length("doc_bytes")
        + F.length("tf_bytes")
        + 8 * (F.size("block_last_docs") + F.size("block_max_tfs") + F.size("block_min_dls"))
        + 4 * (F.size("block_doc_offsets") + F.size("block_tf_offsets"))
    )


def _term_sorted_arrow(rows: DataFrame) -> pa.Table:
    """``rows``' serving columns as one Arrow table sorted by term, nulls
    (the doclen rows) first, then the tombstone rows (TOMBSTONE_TERM sorts
    below every token). The sort runs in the JVM, in the collect's own
    job, so the driver never holds a second, re-ordered copy."""
    return (
        rows.select(_SERVING_COLS)
        .coalesce(1)
        .sortWithinPartitions(F.col("term").asc_nulls_first())
        .toArrow()
    )


def _collect_df_map(seg: DataFrame) -> dict[str, int] | None:
    """term -> df as one per-term sum of df_local, collected as Arrow;
    None when the vocabulary is over COLLECT_TERMSTATS_MAX."""
    tbl = (
        seg.filter(F.col("term").isNotNull() & (F.col("term") != TOMBSTONE_TERM))
        .groupBy("term")
        .agg(F.sum("df_local").alias("df"))
        .limit(COLLECT_TERMSTATS_MAX + 1)
        .toArrow()
    )
    if tbl.num_rows > COLLECT_TERMSTATS_MAX:
        return None
    return dict(zip(tbl.column("term").to_pylist(), tbl.column("df").to_pylist()))


def _split_meta(tbl: pa.Table) -> tuple[pa.Table, pa.Table]:
    """A term-sorted table -> (its doclen and tombstone rows, its term
    rows), both zero-copy slices."""
    term = tbl.column("term")
    n_meta = term.null_count + int(pc.sum(pc.equal(term, TOMBSTONE_TERM)).as_py() or 0)
    return tbl.slice(0, n_meta), tbl.slice(n_meta)


def _shard_doclen_maps(meta: pa.Table) -> tuple[dict, dict]:
    """Doclen and tombstone rows -> (shard_id -> (sorted doc_ids, dls),
    shard_id -> sorted tombstoned doc ids)."""
    dl_rows, tomb_rows, _ = _row_kinds(meta)

    def per_shard(rows: pa.Table, decode) -> dict:
        sid = rows.column("shard_id").to_numpy()
        return {int(s): decode(rows.take(np.flatnonzero(sid == s))) for s in np.unique(sid)}

    return per_shard(dl_rows, merged_doclen), per_shard(tomb_rows, tombstoned_docs)


class _TermRuns:
    """Term rows sorted by term, found per term by binary search over the
    distinct terms: only those are converted to Python, a term's rows
    are a zero-copy slice."""

    def __init__(self, tbl: pa.Table):
        self.table = tbl
        n = tbl.num_rows
        term = tbl.column("term")
        starts = np.zeros(0, dtype=np.int64)
        if n:
            change = pc.not_equal(term.slice(1), term.slice(0, n - 1))
            starts = np.flatnonzero(
                np.concatenate([[True], change.to_numpy(zero_copy_only=False)])
            )
        self.terms = term.take(starts).to_numpy(zero_copy_only=False)
        self.bounds = np.append(starts, n)
        self.nbytes = tbl.get_total_buffer_size()

    def rows(self, t: str) -> pa.Table:
        i = bisect.bisect_left(self.terms, t)
        if i == len(self.terms) or self.terms[i] != t:
            return self.table.slice(0, 0)
        s, e = int(self.bounds[i]), int(self.bounds[i + 1])
        return self.table.slice(s, e - s)

    def df_map(self) -> dict[str, int]:
        """term -> df: df_local summed over each term's run."""
        if not len(self.terms):
            return {}
        dfs = np.add.reduceat(
            self.table.column("df_local").to_numpy().astype(np.int64), self.bounds[:-1]
        )
        return dict(zip(self.terms, dfs.tolist()))


class TermRowStore(Mapping):
    """The fast path's driver store of segment rows, held as term-sorted
    Arrow tables, at most ``budget`` bytes of them. ``rows()`` serves the
    fast path one Arrow table of the asked terms' rows (one row per shard
    and group holding a term); the Mapping view, term -> that term's rows
    as dicts, is for readers outside the serving path.

    A complete snapshot (prepare_for_queries, when the index's serving
    columns fit the budget) holds every term's rows, so every term is
    ``in`` it, an absent one with no rows. Otherwise ``rows()`` adds one
    table per call with the rows of the terms not yet held (an absent
    term held with none), and evicts whole tables, least recently used
    first, until the bytes held fit the budget again."""

    def __init__(self, budget: int):
        self.budget = budget
        self.bytes_held = 0
        self._snapshot: _TermRuns | None = None
        # fill -> the terms it was fetched for, least recently used first
        self._fills: OrderedDict[_TermRuns, list[str]] = OrderedDict()
        self._where: dict[str, _TermRuns] = {}  # held term -> its fill

    @property
    def complete(self) -> bool:
        return self._snapshot is not None

    def hold_snapshot(self, runs: _TermRuns) -> None:
        self._snapshot = runs
        self.bytes_held = runs.nbytes

    def __contains__(self, t) -> bool:
        return self.complete or t in self._where

    def __getitem__(self, t: str) -> list[dict]:
        return self._rows(t).to_pylist()

    def _rows(self, t: str) -> pa.Table:
        if self.complete:
            return self._snapshot.rows(t)
        runs = self._where[t]
        self._fills.move_to_end(runs)
        return runs.rows(t)

    def __iter__(self):
        return iter(self._snapshot.terms if self.complete else list(self._where))

    def __len__(self) -> int:
        return len(self._snapshot.terms) if self.complete else len(self._where)

    def rows(self, terms: list[str], fetch) -> pa.Table:
        """The rows of ``terms`` (sorted) as one term-sorted Arrow table of
        zero-copy slices; ``fetch(missing)`` returns the term rows of the
        terms not held as one term-sorted Arrow table."""
        missing = [t for t in terms if t not in self]
        if missing:
            runs = _TermRuns(fetch(missing))
            self._fills[runs] = missing
            self._where.update(dict.fromkeys(missing, runs))
            self.bytes_held += runs.nbytes
        out = pa.concat_tables([self._rows(t) for t in terms])
        while self.bytes_held > self.budget and self._fills:
            runs, held = self._fills.popitem(last=False)
            for t in held:
                del self._where[t]
            self.bytes_held -= runs.nbytes
        return out


@dataclass
class SegmentIndex:
    segments: DataFrame  # term rows AND term=NULL doclen rows
    termstats: DataFrame  # term, df, cf: a lazy agg over ``segments``
    stats: dict  # derived from ``segments`` at load_index
    paths: IndexPaths
    # set by prepare_for_queries (serving mode):
    df_map: dict | None = None  # term -> df
    dl_map: dict | None = None  # shard_id -> (sorted doc_ids, dls)
    deleted_map: dict | None = None  # shard_id -> sorted tombstoned doc ids
    serving_groups: tuple | None = None  # on-disk group snapshot at load/prepare time
    # the fast path's TermRowStore: the whole snapshot's term rows when
    # they fit TERM_CACHE_MAX_BYTES, else filled per miss and evicted by
    # bytes. Invalidated with the whole snapshot by assert_serving_fresh
    # (mutations force a re-load -> a fresh store).
    term_rows_cache: TermRowStore | None = None

    def _group_dirs(self) -> tuple:
        return tuple(self.paths.group_dirs())

    def assert_serving_fresh(self) -> None:
        """The segments DataFrame pins the concrete group-dir list at
        load_index time (and df_map/dl_map at prepare_for_queries time);
        a delete_docs/append_group after EITHER point would otherwise be
        silently invisible to queries. load_index snapshots the listing,
        so this fires for unprepared loads too — raise loudly instead of
        answering from a stale snapshot."""
        if self.serving_groups is None:
            return
        cur = self._group_dirs()
        if cur != self.serving_groups:
            raise RuntimeError(
                "SegmentIndex snapshot is stale: segment groups changed "
                "on disk after this index was loaded "
                f"({len(self.serving_groups)} -> {len(cur)} groups). "
                "Re-run load_index(...) (plus prepare_for_queries() for "
                "serving mode)."
            )

    @property
    def doclen_rows(self) -> DataFrame:
        return self.segments.filter(F.col("term").isNull())

    def prepare_for_queries(
        self, collect_doclen_max: int = 10_000_000
    ) -> "SegmentIndex":
        """Serving-mode warm-up: pin the segment rows in executor memory
        and, when the index has at most ``collect_doclen_max`` docs, hold
        on the driver what the driver-local fast path (query/wand.py)
        reads: the per-shard doc-length arrays (16 B/doc), the tombstoned
        doc ids and the TermRowStore.

        When the serving columns also fit TERM_CACHE_MAX_BYTES (summed
        in the job that materializes the cache), ONE more job pulls every
        row as a term-sorted Arrow table: the doclen and tombstone maps,
        the term->df table and a complete store all come from it, and a
        prepared query runs no Spark job. Otherwise the term->df table
        (<= COLLECT_TERMSTATS_MAX terms, ~30 B/term) is one per-term sum
        collected as Arrow, the doclen and tombstone rows one more
        collect, and the store fills per miss. At web scale (10^8+ term
        vocabularies, 10^12 docs) the driver collects skip automatically
        and queries use the distributed path; segment caching remains
        valid at any scale because Spark caches per-partition and evicts
        LRU."""
        # ADVICE r04: never RE-snapshot here. The parquet path list was
        # pinned at load_index time; re-listing the directory would
        # silently adopt a group appended/deleted between load_index()
        # and prepare_for_queries() — assert_serving_fresh would then
        # pass while self.segments still reads the load-time paths,
        # serving stale results. Verify against the load-time snapshot
        # instead (raises loudly on mutation); only direct constructions
        # that never went through load_index snapshot now.
        if self.serving_groups is None:
            self.serving_groups = self._group_dirs()
        else:
            self.assert_serving_fresh()
        self.term_rows_cache = store = TermRowStore(TERM_CACHE_MAX_BYTES)
        seg = self.segments.cache()
        if int(self.stats.get("n_docs", 0)) > collect_doclen_max:
            self.df_map = _collect_df_map(seg)  # its scan fills the cache
            return self
        serving_bytes = seg.agg(F.sum(_serving_row_bytes())).collect()[0][0] or 0
        if serving_bytes <= store.budget:
            meta, term_rows = _split_meta(_term_sorted_arrow(seg))
            runs = _TermRuns(term_rows)
            store.hold_snapshot(runs)
            self.df_map = runs.df_map()
        else:
            self.df_map = _collect_df_map(seg)
            meta = _term_sorted_arrow(
                seg.filter(F.col("term").isNull() | (F.col("term") == TOMBSTONE_TERM))
            )
        self.dl_map, self.deleted_map = _shard_doclen_maps(meta)
        return self

    def term_rows(self, terms: list[str]) -> pa.Table:
        """The segment rows of ``terms`` (sorted) from the TermRowStore as
        one term-sorted Arrow table; terms it does not hold are fetched
        from the cached segment rows in one job."""
        return self.term_rows_cache.rows(
            terms,
            lambda missing: _term_sorted_arrow(
                self.segments.filter(F.col("term").isin(missing))
            ),
        )

    def unpersist(self) -> None:
        """Release what prepare_for_queries() pinned: the cached segment
        rows and the driver-side maps and term-row store."""
        self.segments.unpersist()
        self.df_map = self.dl_map = self.deleted_map = None
        self.term_rows_cache = None

    def postings_df(self, terms: list[str] | None = None) -> DataFrame:
        """Decoded (term, doc_id, tf) postings — the RELATIONAL view of
        the compressed LSM index, so every relational query surface
        (boolean retrieval, substring candidates, fuzzy df ranking, the
        exact join+agg scorer) runs against the production segments with
        no second index build.

        ``terms`` slices the decode to a term set (an IN filter pushed
        into the parquet scan — at scale this is the whole point: only
        the queried posting lists are ever decoded). Tombstoned docs are
        anti-joined out; duplicate (term, doc) rows from multi-group
        appends collapse by max-tf — byte-for-byte the merge rule
        (merge.py), so the view equals the post-merge index.
        """
        self.assert_serving_fresh()
        return _drop_tombstoned(self._max_tf_postings(terms), self._tombstone_docs_df())

    def _max_tf_postings(self, terms: list[str] | None) -> DataFrame:
        seg = self.segments.filter(
            F.col("term").isNotNull() & (F.col("term") != TOMBSTONE_TERM)
        )
        if terms is not None:
            seg = seg.filter(F.col("term").isin(list(terms)))
        raw = seg.select("term", "doc_bytes", "tf_bytes").mapInArrow(
            _decode_term_batches, "term string, doc_id long, tf long"
        )
        return raw.groupBy("term", "doc_id").agg(F.max("tf").alias("tf"))

    def doclen_df(self) -> DataFrame:
        """Decoded (doc_id, dl) — max-dl dedup across groups (the merge
        rule), tombstoned docs removed."""
        self.assert_serving_fresh()
        out = _decoded_doclen(self.doclen_rows)
        out = out.groupBy("doc_id").agg(F.max("dl").alias("dl"))
        return _drop_tombstoned(out, self._tombstone_docs_df())

    def _tombstone_docs_df(self) -> DataFrame | None:
        tombs = self.segments.filter(F.col("term") == TOMBSTONE_TERM)
        # cheap local probe: no tombstone rows -> skip the anti-join
        if not tombs.take(1):
            return None
        return _decoded_doclen(tombs).select("doc_id").distinct()

    def as_inverted_index(self, terms: list[str] | None = None):
        """The compressed index exposed through the InvertedIndex
        protocol (build.py), making bm25_topk / boolean_topk /
        pattern_search / suggest run on the LSM segments directly.
        ``terms`` slices the decode to the query's vocabulary — the
        scale path: only the consulted posting lists are ever decoded.
        n_docs/avgdl come from the load-time stats and (like the kernels)
        count deleted docs between a delete and the purging merge — the
        Lucene lifecycle contract documented at TOMBSTONE_TERM."""
        from alertsage_spark.index.build import InvertedIndex

        self.assert_serving_fresh()
        doclen = self.doclen_df()
        # dl rides on the posting row, as in build_index; the inner join
        # also drops tombstoned docs, which doclen_df already removed
        postings = self._max_tf_postings(terms).join(doclen, "doc_id")
        return InvertedIndex(
            doclen=doclen,
            postings=postings.select("term", "doc_id", "tf", "dl"),
            termstats=self.termstats,
            n_docs=int(self.stats["n_docs"]),
            avgdl=float(self.stats["avgdl"]),
            mode=self.stats.get("mode", "text"),
        )


def _decode_term_batches(batches):
    """mapInArrow body: every term row of a batch in one decode_rows
    pass -> (term, doc_id, tf)."""
    for b in batches:
        counts, docs, tfs = decode_rows(b.column("doc_bytes"), b.column("tf_bytes"))
        terms = b.column("term").take(np.repeat(np.arange(b.num_rows), counts))
        yield pa.RecordBatch.from_arrays(
            [terms, pa.array(docs), pa.array(tfs)], names=["term", "doc_id", "tf"]
        )


def _decode_doclen_batches(batches):
    """mapInArrow body: doclen-format rows (doclen or tombstone) of a
    batch in one decode_rows pass -> (doc_id, dl)."""
    for b in batches:
        _, docs, dls = decode_rows(
            b.column("doc_bytes"), b.column("tf_bytes"), block_size=None
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(docs), pa.array(dls)], names=["doc_id", "dl"]
        )


def _decoded_doclen(rows: DataFrame) -> DataFrame:
    return rows.select("doc_bytes", "tf_bytes").mapInArrow(
        _decode_doclen_batches, "doc_id long, dl long"
    )


def _drop_tombstoned(out: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Anti-join tombstoned doc ids out, keeping ``out``'s columns in order."""
    if tomb is None:
        return out
    return out.join(tomb, "doc_id", "left_anti").select(out.columns)


def load_index(spark: SparkSession, index_dir: str) -> SegmentIndex:
    """Pin the committed groups and derive the index statistics from
    exactly those groups: ``stats`` (one doclen aggregation job) and the
    lazy ``termstats`` over the pinned segment rows. Raises on a build
    that has not finalized (no build_config.json)."""
    paths = IndexPaths(index_dir)
    with open(paths.config_json) as f:
        config = json.load(f)
    # The parquet path list is pinned NOW; the snapshot makes any later
    # on-disk mutation raise at query time rather than serve stale
    # results (prepare_for_queries KEEPS this snapshot and re-verifies
    # it — it must not re-list, or a mutation in the load->prepare gap
    # would be silently adopted).
    groups = paths.group_dirs()
    segments = _read_segments(spark, paths, groups)
    return SegmentIndex(
        segments=segments,
        termstats=salted_termstats_from_segments(segments),
        stats=_derive_stats(segments, config, len(groups)),
        paths=paths,
        serving_groups=tuple(groups),
    )
