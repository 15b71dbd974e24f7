"""Tokenizer spec parity: Spark SQL expr == pandas UDF == pure Python ==
DuckDB SQL, plus the reference's normalizer properties
(/root/reference/tests/test_preprocess.py: lowercase 8-17, empties 28-37,
idempotence 40-44) re-targeted at the tokenizer."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from alertsage_spark.tokenizer import (
    duckdb_tokens_sql,
    tokenize_col,
    tokenize_py,
)
from tokenizer_oracle import tokenize_pandas_udf

CASES = [
    "User received an email claiming to be from IT asking them to verify",
    "parseConfig HTTPServerFactory read_buffer max_retry_count2",
    "camelCaseWord snake_case_word UPPERCASE lowercase MixedUPPERLower",
    "x y z a1 2abc _leading __dunder__ trailing_ a_b",
    "",
    "   ",
    "1234 5678 !!! ###",
    "URLs like https://example.com/path?q=1 and IPs 10.0.0.1",
    "ends with single letter a",
    "HTTPSConnectionPool XMLHttpRequest IOError",
]


def test_python_basic():
    assert tokenize_py("fooBar baz_qux") == ["foo", "bar", "baz", "qux"]
    assert tokenize_py("HTTPServer") == ["http", "server"]
    assert tokenize_py("") == []
    assert tokenize_py(None) == []
    assert tokenize_py("a") == []  # single chars dropped
    assert tokenize_py("1abc") == ["abc"]  # must start with a letter


def test_code_mode_trigrams():
    toks = tokenize_py("parseConfig", mode="code")
    assert "parse" in toks and "config" in toks
    assert "#par" in toks and "#ars" in toks and "#rse" in toks
    assert "#con" in toks and "#fig" in toks
    # tokens shorter than 4 chars get no trigrams
    assert all(not t.startswith("#") for t in tokenize_py("ab cde", mode="code"))


def test_idempotence_on_rejoined_tokens():
    # reference property: clean(clean(x)) == clean(x)
    for s in CASES:
        once = tokenize_py(s)
        again = tokenize_py(" ".join(once))
        assert once == again


@pytest.mark.parametrize("mode", ["text", "code"])
def test_spark_sql_expr_matches_python(spark, mode):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(CASES)], "id int, s string")
    got = {
        r["id"]: r["toks"]
        for r in df.select("id", tokenize_col(F.col("s"), mode=mode).alias("toks")).collect()
    }
    for i, s in enumerate(CASES):
        assert got[i] == tokenize_py(s, mode=mode), f"case {i}: {s!r}"


@pytest.mark.parametrize("mode", ["text", "code"])
def test_pandas_udf_matches_python(spark, mode):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(CASES)], "id int, s string")
    tok = tokenize_pandas_udf(mode=mode)
    got = {r["id"]: r["toks"] for r in df.select("id", tok("s").alias("toks")).collect()}
    for i, s in enumerate(CASES):
        assert got[i] == tokenize_py(s, mode=mode), f"case {i}: {s!r}"


def test_arrow_base_matches_python():
    """The Arrow-native factorized tokenizer must produce the same token
    MULTISET per document as tokenize_py (order may differ)."""
    from collections import Counter

    from alertsage_spark.tokenizer import tokenize_arrow_base

    codes, doc_idx, vocab = tokenize_arrow_base(CASES)
    got: dict[int, Counter] = {i: Counter() for i in range(len(CASES))}
    for c, d in zip(codes.tolist(), doc_idx.tolist()):
        got[d][vocab[c]] += 1
    for i, s in enumerate(CASES):
        assert got[i] == Counter(tokenize_py(s)), f"case {i}: {s!r}"


def test_vocab_trigram_mapping_matches_python():
    from collections import Counter

    import numpy as np

    from alertsage_spark.tokenizer import vocab_trigram_mapping

    vocab = np.asarray(["parse", "abc", "aaaa", "configuration"], dtype=object)
    tri_vocab, tri_codes, tri_mults, off = vocab_trigram_mapping(vocab)
    for i, term in enumerate(vocab):
        expected = Counter(
            "#" + term[j : j + 3] for j in range(len(term) - 2)
        ) if len(term) >= 4 else Counter()
        got = Counter()
        for s in range(off[i], off[i + 1]):
            got[tri_vocab[tri_codes[s]]] += int(tri_mults[s])
        assert got == expected, term


def test_duckdb_sql_matches_python():
    con = duckdb.connect()
    frag = duckdb_tokens_sql("s")
    for s in CASES:
        got = con.execute(f"SELECT {frag} FROM (SELECT ? AS s)", [s]).fetchone()[0]
        assert got == tokenize_py(s), f"{s!r}"


def test_spark_plan_has_no_python_udf_for_sql_expr(spark):
    df = spark.createDataFrame([("fooBar",)], "s string")
    plan = df.select(tokenize_col(F.col("s")).alias("t"))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # fully JVM-side


def test_pandas_udf_is_arrow_not_batch(spark):
    tok = tokenize_pandas_udf()
    df = spark.createDataFrame([("fooBar",)], "s string")
    plan = df.select(tok("s").alias("t"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


# ---- property-based cross-engine parity (hypothesis) ----

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(text=st.text(max_size=100))
def test_tokenize_py_matches_duckdb_property(text):
    """tokenize_py == the DuckDB oracle fragment over ARBITRARY unicode:
    unicode lower() divergences (Turkish I, final sigma) are filtered by
    the ASCII token charset, so parity holds by construction — this
    pins that property against future tokenizer edits."""
    import duckdb

    from alertsage_spark.tokenizer import duckdb_tokens_sql, tokenize_py

    con = duckdb.connect()
    con.execute("CREATE TABLE d (text VARCHAR)")
    con.execute("INSERT INTO d VALUES (?)", [text])
    got = con.execute(f"SELECT {duckdb_tokens_sql('text')} FROM d").fetchone()[0]
    assert list(got) == tokenize_py(text)
