"""Posting-list compression: docID-delta + varbyte, block-max metadata.

The reference's sparse representation is a scipy CSR TF-IDF matrix
(>99% zeros, /root/reference/notebooks/02 cell 16;
/root/reference/src/triage/cli.py:1234-1246). The engine's analog is the
classic IR posting-list format (public literature: varbyte a la Scholer
et al., block-max metadata a la Ding & Suel's Block-Max WAND):

  * doc_ids sorted ascending, delta-encoded (first value absolute),
    then varbyte: little-endian 7-bit groups, high bit = continuation.
  * term frequencies varbyte'd alongside.
  * fixed-size blocks (BLOCK_SIZE postings); per block we keep
    (last_doc_id, max_norm, byte offsets) where
    max_norm = max over block of (k1+1)*tf / (tf + k1*(1-b+b*dl/avgdl))
    — the idf-free part of the BM25 term score, so the query-time upper
    bound for a term's block is idf(term) * max_norm (idf is per-term,
    applied at query time; avgdl is a build-time global scalar).

All encode/decode paths are numpy-vectorized (no per-value Python loops)
because they run inside Arrow-batched UDFs on the executors. Rows stay
Arrow until they are decoded: decode_rows reads a whole batch of term,
doclen or tombstone rows in one pass for the scorer, the driver fast
path, the merge and the relational view alike.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128
K1 = 1.2
B = 0.75


# ------------------------------------------------------------- varbyte
def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a non-negative int64/uint64 array."""
    return varbyte_encode_with_lengths(values)[0]


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte bytes of ``values`` plus the per-value byte counts (for
    slicing one buffer into per-term and per-block ranges)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    if (v < 128).all():
        # single-group fast path (tf streams and most delta streams):
        # every byte is the value itself, no continuation bits — one
        # astype instead of the group-sizing/packing passes (r6)
        return v.astype(np.uint8).tobytes(), np.ones(v.size, dtype=np.int64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(7)
    ngroups = np.maximum(nbits, 1)
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(ngroups)
    starts = ends - ngroups
    for g in range(int(ngroups.max())):
        mask = ngroups > g
        pos = starts[mask] + g
        vals = (v[mask] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = (ngroups[mask] - 1 > g).astype(np.uint8) << 7
        out[pos] = vals.astype(np.uint8) | cont
    return out.tobytes(), ngroups


def encode_posting_lists_columnar(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    term_starts: np.ndarray,
) -> dict:
    """Encode MANY terms' posting lists in TWO vectorized varbyte passes,
    returning COLUMNAR arrays (no per-term Python objects):

      doc_all/tf_all   one bytes buffer each for the whole shard
      doc_cum/tf_cum   per-posting byte-offset prefix sums (len n+1)
      bstart           global posting index of every block start
      blk_last/blk_max_tf/blk_min_dl  per-block metadata
      term_blk         per-term slice bounds into the block arrays
                       (len n_terms+1)
      term_starts      echoed back (int64)

    ``doc_ids/tfs/dls`` are the concatenation of every term's postings
    (sorted by doc_id within each term); ``term_starts`` (len n_terms+1)
    delimits the ranges. The encoded bytes are identical to encoding
    each term block by block (tests/posting_oracle.py keeps that
    per-term encoder as the test oracle).
    Per-value work — delta computation, varbyte group sizing, byte
    packing, per-BLOCK metadata — runs once over the whole shard
    (r6: the former per-term loop made 2 reduceat + 1 np.append call per
    term, tens of thousands of numpy dispatches per shard). Slices never
    cross a term because every term start IS a block start."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = len(doc_ids)
    if n and doc_ids.min() < 0:
        raise ValueError("doc_ids must be non-negative")
    term_starts = np.asarray(term_starts, dtype=np.int64)
    # block starts: every B-th posting WITHIN its term (term starts are
    # block starts by construction)
    within = np.arange(n) - np.repeat(term_starts[:-1], np.diff(term_starts))
    is_bstart = (within % BLOCK_SIZE) == 0
    delta = doc_ids.astype(np.uint64).copy()
    if n > 1:
        delta[1:] = delta[1:] - doc_ids[:-1].astype(np.uint64)
    delta[is_bstart] = doc_ids[is_bstart].astype(np.uint64)
    doc_all, doc_nbytes = varbyte_encode_with_lengths(delta)
    tf_all, tf_nbytes = varbyte_encode_with_lengths(tfs.astype(np.uint64))
    doc_cum = np.concatenate(([0], np.cumsum(doc_nbytes)))
    tf_cum = np.concatenate(([0], np.cumsum(tf_nbytes)))
    bstart = np.flatnonzero(is_bstart)  # sorted global block starts
    blk_end = np.empty(len(bstart), dtype=np.int64)
    if len(bstart):
        blk_end[:-1] = bstart[1:]  # next block start == this block's end
        blk_end[-1] = n  # (term-contiguous, so also correct at term ends)
        blk_last = doc_ids[blk_end - 1]
        blk_max_tf = np.maximum.reduceat(tfs, bstart)
        blk_min_dl = np.minimum.reduceat(dls, bstart)
    else:
        blk_last = blk_max_tf = blk_min_dl = np.empty(0, dtype=np.int64)
    return {
        "doc_all": doc_all,
        "tf_all": tf_all,
        "doc_cum": doc_cum,
        "tf_cum": tf_cum,
        "bstart": bstart,
        "blk_last": blk_last,
        "blk_max_tf": blk_max_tf,
        "blk_min_dl": blk_min_dl,
        "term_blk": np.searchsorted(bstart, term_starts, side="left"),
        "term_starts": term_starts,
    }


def varbyte_decode(buf) -> np.ndarray:
    """Vectorized varbyte decode of bytes (or a uint8 array) -> uint64
    array."""
    if len(buf) == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    # group index of each byte: 0,1,2.. within its value
    # starts: first byte of each value = byte after a last-byte (or index 0)
    starts = np.empty(b.shape, dtype=bool)
    starts[0] = True
    starts[1:] = is_last[:-1]
    start_idx = np.flatnonzero(starts)
    grp_pos = np.arange(b.size) - np.repeat(start_idx, np.diff(np.append(start_idx, b.size)))
    vals = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * grp_pos.astype(np.uint64))
    return np.add.reduceat(vals, start_idx)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    d = np.asarray(sorted_ids, dtype=np.uint64).copy()
    d[1:] = d[1:] - d[:-1]
    return d


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(deltas, dtype=np.uint64), dtype=np.uint64)


# -------------------------------------------------------------- blocks
def bm25_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """(k1+1)*tf / (tf + k1*(1-b+b*dl/avgdl)) — float64."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _reset_cumsum(deltas: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Doc ids from a delta stream whose value at each index in
    ``starts`` (sorted, first 0) is ABSOLUTE: one cumsum, then subtract
    per run the sum carried in from earlier runs."""
    c = np.cumsum(deltas, dtype=np.uint64)
    offs = c[starts] - deltas[starts]
    counts = np.diff(np.append(starts, len(deltas)))
    return (c - np.repeat(offs, counts)).astype(np.int64)


def _binary_values(arr) -> tuple[np.ndarray, np.ndarray]:
    """(bytes as uint8, per-row byte offsets from 0) of a null-free
    binary Arrow array, read from its buffers without a copy (a chunked
    column of several chunks is combined first, one copy of its rows'
    bytes)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    if len(arr) == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    otype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _validity, offsets, data = arr.buffers()
    off = np.frombuffer(offsets, dtype=otype)[arr.offset : arr.offset + len(arr) + 1]
    off = off.astype(np.int64)
    buf = np.frombuffer(data, dtype=np.uint8) if data is not None else np.empty(0, np.uint8)
    return buf[off[0] : off[-1]], off - off[0]


def decode_rows(
    doc_bytes, tf_bytes, block_size: int | None = BLOCK_SIZE
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The one decoder of the segment row format: EVERY row of an Arrow
    batch (``doc_bytes``/``tf_bytes`` binary arrays or table columns) in
    one pass -> (values per row, doc_ids int64, tfs int64), rows
    concatenated.

    The rows' varbyte streams are one contiguous buffer, so each stream
    is one varbyte call for the whole batch; the delta stream restarts
    at every row start and, within a row, every ``block_size`` values
    (term rows) — ``None`` for doclen-format rows, whose one delta
    stream never restarts. A row's value count is the number of
    terminal bytes (high bit clear) in its byte range."""
    dbuf, doff = _binary_values(doc_bytes)
    deltas = varbyte_decode(dbuf)
    counts = np.diff(np.searchsorted(np.flatnonzero(dbuf < 0x80), doff))
    within = np.arange(len(deltas)) - np.repeat(np.cumsum(counts) - counts, counts)
    restart = within == 0 if block_size is None else within % block_size == 0
    docs = _reset_cumsum(deltas, np.flatnonzero(restart))
    tfs = varbyte_decode(_binary_values(tf_bytes)[0]).astype(np.int64)
    return counts, docs, tfs


def decode_posting_list(row) -> tuple[np.ndarray, np.ndarray]:
    """One term row -> (doc_ids int64, tfs int64): decode_rows over a
    one-row batch. ``row``: any mapping with ``doc_bytes``/``tf_bytes``
    (a dict, a pyspark Row)."""
    _, docs, tfs = decode_rows(
        pa.array([bytes(row["doc_bytes"])], pa.binary()),
        pa.array([bytes(row["tf_bytes"])], pa.binary()),
    )
    return docs, tfs
