"""Pandas-UDF form of the tokenizer spec: the test oracle that
tests/test_tokenizer.py checks the engine's tokenizers against.

It applies the spec with pandas vectorized str ops and one compiled-regex
findall per cell — an independent construction from the Spark SQL
expression, the Arrow fast path and the pure-Python tokenizer."""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alertsage_spark.tokenizer import CAMEL1, CAMEL2, TOKEN_RE, TRIGRAM_MIN_LEN, TRIGRAM_PREFIX


def tokenize_pandas_udf(mode: str = "text"):
    """Series[str] -> Series[list[str]], Arrow-batched (ArrowEvalPython in
    the plan, never BatchEvalPython). Everything the UDF body uses is a
    closure value, so workers need not import this test module."""
    camel1, camel2, token = re.compile(CAMEL1[0]), re.compile(CAMEL2[0]), re.compile(TOKEN_RE)

    def findall_with_trigrams(s: str) -> list[str]:
        toks = token.findall(s)
        tris = [
            TRIGRAM_PREFIX + t[i : i + 3]
            for t in toks
            if len(t) >= TRIGRAM_MIN_LEN
            for i in range(len(t) - 2)
        ]
        return toks + tris

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(s: pd.Series) -> pd.Series:
        s = s.fillna("")
        s = s.str.replace(camel1, r"\1 \2", regex=True)
        s = s.str.replace(camel2, r"\1 \2", regex=True)
        s = s.str.lower().str.replace("_", " ", regex=False)
        return s.map(findall_with_trigrams if mode == "code" else token.findall)

    return _tok
