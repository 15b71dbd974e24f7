"""Code-aware tokenizer — ONE spec, four parity-tested implementations.

Spec (applied in order):
  1. camelCase boundary:  insert a space between ``[a-z0-9]`` and ``[A-Z]``
  2. acronym boundary:    insert a space between ``[A-Z]+`` and ``[A-Z][a-z]``
  3. lowercase
  4. snake_case split:    ``_`` -> space
  5. token extraction:    all matches of ``[a-z][a-z0-9]+``  (>=2 chars,
     starts with a letter — generalizes the reference's sklearn
     ``token_pattern=r"(?u)\\b[a-z][a-z0-9]+\\b"``, see
     /root/reference/notebooks/02_prepare_text_and_features.ipynb cell 9,
     and its shared scalar normalizer
     /root/reference/src/triage/preprocess.py:4-47)
  6. optional ``code`` mode: additionally emit character trigrams of each
     token of length >= 4, prefixed ``#`` (so term namespaces can't
     collide), per the north rule's "identifier + trigram terms".

Implementations:
  * :func:`tokenize_col`  — pure Spark SQL Column expression (JVM-side,
    whole-stage-codegen friendly; ZERO Python on the hot path).
  * :func:`tokenize_arrow_base` — Arrow-native factorized token stream
    (pyarrow.compute / RE2) used inside the segment builder.
  * :func:`tokenize_py`   — pure-Python reference implementation used by
    the independent BM25 oracle and unit tests.
  * :func:`duckdb_tokens_sql` — a DuckDB SQL fragment producing the same
    token list, used by the driver's DuckDB correctness oracle.

All four MUST stay in lockstep; tests/test_tokenizer.py asserts parity
(with a pandas-UDF form in tests/tokenizer_oracle.py as a fifth check).
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# one escape level per consumer; keep raw patterns here
CAMEL1 = ("([a-z0-9])([A-Z])", " ")  # fooBar -> foo Bar
CAMEL2 = ("([A-Z]+)([A-Z][a-z])", " ")  # HTTPServer -> HTTP Server
TOKEN_RE = "[a-z][a-z0-9]+"
TRIGRAM_MIN_LEN = 4
TRIGRAM_PREFIX = "#"


# ---------------------------------------------------------------- Spark SQL
def _normalize_col(col: Column) -> Column:
    c = F.regexp_replace(col, CAMEL1[0], r"$1 $2")
    c = F.regexp_replace(c, CAMEL2[0], r"$1 $2")
    c = F.lower(c)
    c = F.replace(c, F.lit("_"), F.lit(" "))
    return c


def token_trigrams_col(t: Column) -> Column:
    """'#'-prefixed character trigrams of ONE token/string — the single
    Spark-SQL definition of the trigram rule, shared by the code-mode
    tokenizer below and the substring-search pattern expansion
    (query/substring.py), so the two sides cannot drift apart."""
    return F.transform(
        F.sequence(F.lit(1), F.length(t) - 2),
        lambda i: F.concat(F.lit(TRIGRAM_PREFIX), t.substr(i, F.lit(3))),
    )


def tokenize_col(col: Column, mode: str = "text") -> Column:
    """Token array as a pure Spark SQL expression (ArrayType(StringType)).

    ``mode='code'`` additionally emits '#'-prefixed character trigrams of
    every token with length >= 4, via higher-order functions (still fully
    JVM-side).
    """
    toks = F.regexp_extract_all(_normalize_col(col), F.lit(TOKEN_RE), F.lit(0))
    if mode == "text":
        return toks
    if mode != "code":
        raise ValueError(f"unknown tokenizer mode: {mode}")
    trigrams = F.flatten(
        F.transform(
            F.filter(toks, lambda t: F.length(t) >= TRIGRAM_MIN_LEN),
            token_trigrams_col,
        )
    )
    return F.concat(toks, trigrams)


# ------------------------------------------------------------- Python
_CAMEL1_C = re.compile(CAMEL1[0])
_CAMEL2_C = re.compile(CAMEL2[0])
_TOKEN_C = re.compile(TOKEN_RE)


def tokenize_py(text: str, mode: str = "text") -> list[str]:
    """Pure-Python reference implementation (oracle + unit tests)."""
    if text is None:
        return []
    s = _CAMEL1_C.sub(r"\1 \2", text)
    s = _CAMEL2_C.sub(r"\1 \2", s)
    s = s.lower().replace("_", " ")
    toks = _TOKEN_C.findall(s)
    if mode == "code":
        tris = [
            TRIGRAM_PREFIX + t[i : i + 3]
            for t in toks
            if len(t) >= TRIGRAM_MIN_LEN
            for i in range(len(t) - 2)
        ]
        return toks + tris
    return toks


def token_trigrams(tok: str) -> list[str]:
    """'#'-prefixed character trigrams of one (already normalized)
    token; empty below TRIGRAM_MIN_LEN. Same spec as the index side."""
    if len(tok) < TRIGRAM_MIN_LEN:
        return []
    return [TRIGRAM_PREFIX + tok[i : i + 3] for i in range(len(tok) - 2)]


def code_query_terms(query_text: str, has_term) -> list[str]:
    """QUERY-side code-mode term expansion with the exact-identifier
    short-circuit (r02 verdict: every >=4-char query term fanned out to
    its trigrams unconditionally, so an exact identifier hit still paid
    the trigram-postings union — the dominant code-query cost).

    A base token that EXISTS in the index vocabulary (``has_term``)
    contributes only its exact postings; trigram terms are added only
    for unknown tokens (partial / misspelled identifiers), where fuzzy
    matching is the point. Deterministic given the index vocabulary;
    the Python oracle applies the same rule (query/oracle.py), so
    rank-identity is testable on both the exact-hit and fallback paths.
    """
    out: list[str] = []
    for tok in tokenize_py(query_text, mode="text"):
        out.append(tok)
        if not has_term(tok):
            out.extend(token_trigrams(tok))
    return out


# ------------------------------------------------------- Arrow-native
def tokenize_arrow_base(texts) -> tuple:
    """Factorized token stream via pyarrow.compute — the zero-Python-
    object fast path used inside the segment builder.

    Returns (codes int64, doc_idx int64, vocab object-array): one entry
    per token occurrence (text-mode tokens, same multiset per doc as
    tokenize_py — parity-tested), already dictionary-encoded. All string
    work happens in Arrow C++ (RE2), so no per-token Python str objects
    are allocated — the dominant memory-bandwidth cost of the pandas
    path at high parallelism.

    Spec equivalence: findall('[a-z][a-z0-9]+') over the normalized text
    == split on '[^a-z0-9]+', strip leading digits from each run, keep
    runs of length >= 2 (a maximal alnum run contributes exactly its
    digit-stripped suffix iff that suffix starts with a letter and has
    >= 2 chars — and after stripping leading digits every non-empty run
    starts with a letter).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if isinstance(texts, pa.Array):  # arrow-native callers: zero convert
        s = texts if texts.type == pa.string() else texts.cast(pa.string())
    else:
        s = pa.array(texts, type=pa.string(), from_pandas=True)
    s = pc.fill_null(s, "")
    s = pc.replace_substring_regex(s, pattern=CAMEL1[0], replacement=r"\1 \2")
    s = pc.replace_substring_regex(s, pattern=CAMEL2[0], replacement=r"\1 \2")
    s = pc.utf8_lower(s)
    s = pc.replace_substring(s, pattern="_", replacement=" ")
    runs = pc.split_pattern_regex(s, pattern="[^a-z0-9]+")
    flat = pc.list_flatten(runs)
    stripped = pc.replace_substring_regex(flat, pattern="^[0-9]+", replacement="")
    run_counts = pc.list_value_length(runs).to_numpy(zero_copy_only=False).astype(np.int64)
    doc_idx = np.repeat(np.arange(len(run_counts), dtype=np.int64), run_counts)
    keep = pc.greater_equal(pc.utf8_length(stripped), 2).to_numpy(zero_copy_only=False)
    keep = np.asarray(keep, dtype=bool)
    kept = pc.array_filter(stripped, pa.array(keep))
    enc = pc.dictionary_encode(kept)
    if isinstance(enc, pa.ChunkedArray):
        enc = enc.combine_chunks()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab = np.asarray(enc.dictionary.to_pylist(), dtype=object)
    return codes, doc_idx[keep], vocab


def vocab_trigram_mapping(vocab) -> tuple:
    """Vocab-level trigram tables for code mode: computed once per
    DISTINCT term, then expanded over postings (never per occurrence).

    Returns (tri_vocab object-array of '#xyz' strings,
             tri_codes int64  — concatenated trigram code lists,
             tri_mults int64  — multiplicity of each trigram in its term,
             offsets int64    — per-vocab-code slice into tri_codes).

    Vectorized (r6): one byte buffer over the whole vocabulary, trigram
    windows packed into int24 keys, distinct-with-multiplicity per term
    via one np.unique over (term, trigram) composite keys — the former
    per-term Python dict loop was ~14% of the code-mode shard kernel.
    Code NUMBERING is by trigram byte value (was first-appearance
    order); downstream only consumes the code->string mapping and
    per-term (trigram, multiplicity) sets, both order-insensitive, and
    segment files sort by term string so on-disk layout is unchanged
    (pandas/arrow builder byte-identity test covers this). Tokens are
    ASCII by the tokenizer spec ([a-z][a-z0-9]+); asserted."""
    n = len(vocab)
    lens = np.fromiter((len(t) for t in vocab), dtype=np.int64, count=n)
    buf = np.frombuffer("".join(vocab).encode("utf-8"), dtype=np.uint8)
    assert len(buf) == int(lens.sum()), "non-ascii term in code vocab"
    ends = np.cumsum(lens)
    starts = ends - lens
    elig = lens >= TRIGRAM_MIN_LEN
    counts = np.where(elig, lens - 2, 0)
    c_el = counts[elig]
    total = int(c_el.sum())
    wstarts = np.repeat(starts[elig], c_el) + (
        np.arange(total, dtype=np.int64)
        - np.repeat(np.cumsum(c_el) - c_el, c_el)
    )
    wterm = np.repeat(np.flatnonzero(elig), c_el)
    tri_int = (
        (buf[wstarts].astype(np.int64) << 16)
        | (buf[wstarts + 1].astype(np.int64) << 8)
        | buf[wstarts + 2].astype(np.int64)
    )
    uk, mult = np.unique(wterm * (1 << 24) + tri_int, return_counts=True)
    u_term = uk >> 24
    u_tri = uk & ((1 << 24) - 1)
    tri_sorted, tri_codes = np.unique(u_tri, return_inverse=True)
    tri_vocab = np.empty(len(tri_sorted), dtype=object)
    for i, v in enumerate(tri_sorted.tolist()):
        tri_vocab[i] = (
            TRIGRAM_PREFIX + chr(v >> 16) + chr((v >> 8) & 0xFF) + chr(v & 0xFF)
        )
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.add.at(offsets, u_term + 1, 1)
    return (
        tri_vocab,
        tri_codes.astype(np.int64),
        mult.astype(np.int64),
        np.cumsum(offsets),
    )


# ----------------------------------------------------------------- DuckDB
def duckdb_tokens_sql(col_expr: str) -> str:
    """DuckDB SQL fragment: same token list (text mode) for the driver's
    correctness oracle. DuckDB regexp_replace needs the 'g' flag and
    backslash backrefs (RE2)."""
    return (
        "regexp_extract_all("
        "replace(lower("
        f"regexp_replace(regexp_replace({col_expr}, "
        f"'{CAMEL1[0]}', '\\1 \\2', 'g'), "
        f"'{CAMEL2[0]}', '\\1 \\2', 'g')"
        "), '_', ' '), "
        f"'{TOKEN_RE}')"
    )
