"""Property tests for the varbyte/delta/block codec (hypothesis) —
SURVEY §5: 'random docs -> index -> decode == re-derived postings',
including the empty / max-delta edge cases."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from alertsage_spark.index.compress import (
    BLOCK_SIZE,
    bm25_norm,
    decode_posting_list,
    decode_rows,
    delta_decode,
    delta_encode,
    varbyte_decode,
    varbyte_encode,
)
from alertsage_spark.index.segments import _encode_shard
from posting_oracle import (
    assert_rows_match,
    decode_block,
    decode_doclen_row,
    encode_posting_list,
    encoded_term_rows,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=400))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varbyte_decode(varbyte_encode(arr)).tolist() == vals


def test_varbyte_edges():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_decode(varbyte_encode(np.array([2**63 - 1], dtype=np.uint64)))[0] == 2**63 - 1
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(ids):
    s = np.array(sorted(ids), dtype=np.uint64)
    assert delta_decode(delta_encode(s)).tolist() == sorted(ids)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),  # doc_id
            st.integers(min_value=1, max_value=500),  # tf
            st.integers(min_value=1, max_value=2000),  # dl
        ),
        min_size=1,
        max_size=500,
    )
)
@settings(max_examples=100, deadline=None)
def test_posting_list_roundtrip(postings):
    # dedup doc ids (posting lists have unique docs)
    seen = {}
    for d, tf, dl in postings:
        seen[d] = (tf, dl)
    docs = np.array(sorted(seen), dtype=np.int64)
    tfs = np.array([seen[d][0] for d in sorted(seen)], dtype=np.int64)
    dls = np.array([seen[d][1] for d in sorted(seen)], dtype=np.int64)
    avgdl = float(dls.mean())
    enc = encode_posting_list(docs, tfs, dls)
    out_docs, out_tfs = decode_posting_list(enc)
    assert out_docs.tolist() == docs.tolist()
    assert out_tfs.tolist() == tfs.tolist()
    # block-max invariant (north-rule risk 6): bound >= true max, never <
    norms = bm25_norm(tfs, dls, avgdl)
    n_blocks = len(enc["block_last_docs"])
    assert n_blocks == (len(docs) + BLOCK_SIZE - 1) // BLOCK_SIZE
    bounds = bm25_norm(
        np.array(enc["block_max_tfs"]), np.array(enc["block_min_dls"]), avgdl
    )
    for bi in range(n_blocks):
        bdocs, btfs = decode_block(enc, bi)
        s, e = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, len(docs))
        assert bdocs.tolist() == docs[s:e].tolist()
        assert btfs.tolist() == tfs[s:e].tolist()
        assert enc["block_last_docs"][bi] == int(docs[e - 1])
        assert bounds[bi] >= norms[s:e].max() - 1e-12


def test_unsorted_input_is_sorted():
    docs = np.array([30, 10, 20], dtype=np.int64)
    tfs = np.array([3, 1, 2], dtype=np.int64)
    dls = np.array([5, 5, 5], dtype=np.int64)
    enc = encode_posting_list(docs, tfs, dls)
    out_docs, out_tfs = decode_posting_list(enc)
    assert out_docs.tolist() == [10, 20, 30]
    assert out_tfs.tolist() == [1, 2, 3]


def _shard_term_rows(lists):
    """Term rows the shard encoder writes for ``lists`` of (docs, tfs,
    dls), one term each, plus the per-term oracle rows for the same
    input."""
    starts = np.cumsum([0] + [len(d) for d, _t, _l in lists])
    cat = lambda i: np.concatenate([x[i] for x in lists])
    parts = {
        "p_docs": cat(0), "p_tf": cat(1), "p_dls": cat(2),
        "term_starts": starts,
        "terms": np.array([f"t{i:03d}" for i in range(len(lists))], dtype=object),
    }
    all_docs = np.unique(parts["p_docs"])
    rows = _encode_shard(3, all_docs, np.ones(len(all_docs), dtype=np.int64), parts).to_pylist()
    assert rows[0]["term"] is None and rows[0]["df_local"] == len(all_docs)
    want = encoded_term_rows(
        parts["terms"], parts["p_docs"], parts["p_tf"], parts["p_dls"], starts
    )
    return rows[1:], want


def test_batch_encode_byte_identical_to_single():
    """The columnar batch encoder, through the shard encoder, writes
    rows byte-identical to the per-term oracle (same format, decodable
    by the same readers)."""
    rng = np.random.RandomState(3)
    lists = []
    for n in [1, 2, 127, 128, 129, 400, 1000]:
        d = np.sort(np.unique(rng.randint(0, 10**9, size=n * 2)))[:n].astype(np.int64)
        t = rng.randint(1, 50, size=n).astype(np.int64)
        l = rng.randint(5, 500, size=n).astype(np.int64)
        lists.append((d, t, l))
    got, want = _shard_term_rows(lists)
    assert len(got) == len(want)
    for i, ((d, t, _l), g, w) in enumerate(zip(lists, got, want)):
        assert g["shard_id"] == 3
        assert_rows_match(g, w, (i,))
        dd, tt = decode_posting_list(g)
        assert np.array_equal(dd, d) and np.array_equal(tt, t)


@given(
    st.lists(
        st.lists(
            st.tuples(st.integers(0, 2**40), st.integers(1, 1000), st.integers(1, 10**6)),
            min_size=1, max_size=300,
        ),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_batch_encode_property(terms):
    """Shard encoder == per-term oracle for arbitrary posting lists
    (random doc ids incl. duplicates-across-terms, random tf/dl, any
    term count and block alignment)."""
    lists = []
    for plist in terms:
        uniq = {}
        for doc, tf, dl in plist:
            uniq[doc] = (tf, dl)
        d = np.array(sorted(uniq), dtype=np.int64)
        t = np.array([uniq[x][0] for x in sorted(uniq)], dtype=np.int64)
        l = np.array([uniq[x][1] for x in sorted(uniq)], dtype=np.int64)
        lists.append((d, t, l))
    got, want = _shard_term_rows(lists)
    assert len(got) == len(want)
    for i, (g, w) in enumerate(zip(got, want)):
        assert_rows_match(g, w, (i,))


@pytest.mark.parametrize("n", [1, 127, 128, 129, 1000])
def test_decode_posting_list_equals_block_decodes(n):
    """decode_posting_list (a one-row call of decode_rows) on a dict and
    on a pyspark Row equals decode_rows on a sliced Arrow batch holding
    the row, and the oracle's per-block decodes concatenated."""
    import pyarrow as pa
    from pyspark.sql import Row

    rng = np.random.RandomState(n)
    d = np.cumsum(rng.randint(1, 2**20, size=n)).astype(np.int64)
    t = rng.randint(1, 300, size=n).astype(np.int64)
    (row,), _want = _shard_term_rows([(d, t, np.full(n, 9, dtype=np.int64))])
    blocks = [decode_block(row, b) for b in range(len(row["block_last_docs"]))]
    assert len(blocks) == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert np.array_equal(d, np.concatenate([b[0] for b in blocks]))
    assert np.array_equal(t, np.concatenate([b[1] for b in blocks]))
    other = {"doc_bytes": b"\x05\x01", "tf_bytes": b"\x02\x03"}  # docs 5, 6
    batch = pa.table({c: [other[c], row[c], other[c]] for c in ("doc_bytes", "tf_bytes")})
    batch = batch.slice(1, 1)  # the row at a non-zero array offset
    counts, bdocs, btfs = decode_rows(batch["doc_bytes"], batch["tf_bytes"])
    assert counts.tolist() == [n]
    assert np.array_equal(bdocs, d) and np.array_equal(btfs, t)
    spark_row = Row(doc_bytes=bytearray(row["doc_bytes"]), tf_bytes=bytearray(row["tf_bytes"]))
    for r in (row, spark_row):
        docs, tfs = decode_posting_list(r)
        assert docs.dtype == tfs.dtype == np.int64
        assert np.array_equal(docs, d) and np.array_equal(tfs, t)


def test_decode_rows_equals_per_row_decodes():
    """The batch decoder (one varbyte pass over a whole Arrow batch)
    equals decode_posting_list row by row for term rows, and the doclen
    decode (one delta stream per row) for doclen-format rows, on a
    sliced batch whose lists cross block boundaries."""
    import pyarrow as pa

    from alertsage_spark.index.segments import _doclen_row

    rng = np.random.RandomState(7)
    lists = []
    for n in (1, 127, 128, 129, 1000, 3):
        d = np.cumsum(rng.randint(1, 2**20, size=n)).astype(np.int64)
        lists.append((d, rng.randint(1, 300, size=n).astype(np.int64),
                      np.full(n, 9, dtype=np.int64)))
    rows, _want = _shard_term_rows(lists)
    batch = pa.table({c: [r[c] for r in rows] for c in ("doc_bytes", "tf_bytes")})
    batch = batch.combine_chunks().slice(1)  # a non-zero array offset
    counts, docs, tfs = decode_rows(batch["doc_bytes"].chunk(0), batch["tf_bytes"].chunk(0))
    want = [decode_posting_list(r) for r in rows[1:]]
    assert counts.tolist() == [len(w[0]) for w in want]
    assert np.array_equal(docs, np.concatenate([w[0] for w in want]))
    assert np.array_equal(tfs, np.concatenate([w[1] for w in want]))

    dl_rows = [_doclen_row(0, d, t).to_pylist()[0] for d, t, _l in lists]
    dl_batch = pa.table({c: [r[c] for r in dl_rows] for c in ("doc_bytes", "tf_bytes")})
    counts, docs, dls = decode_rows(
        dl_batch["doc_bytes"].chunk(0), dl_batch["tf_bytes"].chunk(0), block_size=None
    )
    want = [decode_doclen_row(r) for r in dl_rows]
    assert np.array_equal(docs, np.concatenate([w[0] for w in want]))
    assert np.array_equal(dls, np.concatenate([w[1] for w in want]))

    empty = pa.array([], pa.binary())
    counts, docs, tfs = decode_rows(empty, empty)
    assert counts.size == docs.size == tfs.size == 0
