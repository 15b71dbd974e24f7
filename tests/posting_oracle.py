"""Per-term posting-list encoder and per-row decoders: the test oracles
for the engine's one columnar shard encoder
(compress.encode_posting_lists_columnar through segments._encode_shard)
and its one batch decoder (compress.decode_rows).

They encode one term, and decode one block or one doclen-format row,
with the scalar codec pieces, so a match against the engine checks the
row format from an independent, obviously-correct construction."""

from __future__ import annotations

import numpy as np

from alertsage_spark.index.compress import (
    BLOCK_SIZE,
    delta_decode,
    delta_encode,
    varbyte_decode,
    varbyte_encode,
)


def encode_posting_list(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> dict:
    """Encode one term's postings into compressed blocks + block-max
    metadata, in the segment row's field layout: doc_bytes, tf_bytes,
    block_last_docs, block_max_tfs, block_min_dls, block_doc_offsets,
    block_tf_offsets (byte offset of each block start plus the end),
    n_postings. Unsorted input is sorted by doc_id first."""
    order = np.argsort(doc_ids, kind="stable")
    doc_ids = np.asarray(doc_ids, dtype=np.int64)[order]
    if doc_ids.size and doc_ids[0] < 0:
        raise ValueError("doc_ids must be non-negative")
    tfs = np.asarray(tfs, dtype=np.int64)[order]
    dls = np.asarray(dls, dtype=np.int64)[order]
    n = doc_ids.size
    doc_chunks: list[bytes] = []
    tf_chunks: list[bytes] = []
    last_docs: list[int] = []
    max_tfs: list[int] = []
    min_dls: list[int] = []
    doc_offsets: list[int] = [0]
    tf_offsets: list[int] = [0]
    for s in range(0, n, BLOCK_SIZE):
        e = min(s + BLOCK_SIZE, n)
        blk_docs = doc_ids[s:e]
        doc_chunks.append(varbyte_encode(delta_encode(blk_docs.astype(np.uint64))))
        tf_chunks.append(varbyte_encode(tfs[s:e].astype(np.uint64)))
        last_docs.append(int(blk_docs[-1]))
        max_tfs.append(int(tfs[s:e].max()))
        min_dls.append(int(dls[s:e].min()))
        doc_offsets.append(doc_offsets[-1] + len(doc_chunks[-1]))
        tf_offsets.append(tf_offsets[-1] + len(tf_chunks[-1]))
    return {
        "doc_bytes": b"".join(doc_chunks),
        "tf_bytes": b"".join(tf_chunks),
        "block_last_docs": last_docs,
        "block_max_tfs": max_tfs,
        "block_min_dls": min_dls,
        "block_doc_offsets": doc_offsets,
        "block_tf_offsets": tf_offsets,
        "n_postings": int(n),
    }


def encoded_term_rows(terms, doc_ids, tfs, dls, term_starts) -> list[dict]:
    """Oracle term rows for a term-sorted shard: every term's
    encode_posting_list fields plus term, df_local and cf_local."""
    rows = []
    for i, term in enumerate(terms):
        s, e = int(term_starts[i]), int(term_starts[i + 1])
        enc = encode_posting_list(doc_ids[s:e], tfs[s:e], dls[s:e])
        rows.append(
            {"term": term, "df_local": e - s, "cf_local": int(tfs[s:e].sum()), **enc}
        )
    return rows


def assert_rows_match(got: dict, want: dict, ctx=()) -> None:
    """Field-by-field equality of one segment row against an oracle row
    (bytes compared as bytes, lists as lists)."""
    for k, w in want.items():
        g = got[k]
        if isinstance(w, (bytes, bytearray)):
            assert bytes(g) == bytes(w), (*ctx, k)
        elif isinstance(w, list):
            assert list(g) == w, (*ctx, k)
        else:
            assert g == w, (*ctx, k)


def decode_block(row, block_idx: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, tfs) of one block of a term row, decoded from the
    block's own byte ranges (block_doc_offsets / block_tf_offsets)."""
    do, to = row["block_doc_offsets"], row["block_tf_offsets"]
    deltas = varbyte_decode(bytes(row["doc_bytes"])[do[block_idx] : do[block_idx + 1]])
    tfs = varbyte_decode(bytes(row["tf_bytes"])[to[block_idx] : to[block_idx + 1]])
    return delta_decode(deltas).astype(np.int64), tfs.astype(np.int64)


def decode_doclen_row(row) -> tuple[np.ndarray, np.ndarray]:
    """(sorted doc_ids, dls) of one doclen-format row (a shard's
    term=NULL doclen row or a tombstone row): one delta stream, the
    lengths in the same order."""
    docs = delta_decode(varbyte_decode(bytes(row["doc_bytes"]))).astype(np.int64)
    dls = varbyte_decode(bytes(row["tf_bytes"])).astype(np.int64)
    return docs, dls
