"""session.local_df: a driver literal relation as one Arrow local batch
with the DDL schema's names and types."""

from __future__ import annotations

import math

from alertsage_spark.session import local_df

SCHEMA = "s string, n long, x double, i int, v array<double>"


def test_none_is_null_and_nan_stays_nan(spark):
    df = local_df(
        spark,
        [("a", None, float("nan"), 1, [1.0, None]), (None, 7, None, None, None)],
        SCHEMA,
    )
    assert df.schema.simpleString() == (
        "struct<s:string,n:bigint,x:double,i:int,v:array<double>>"
    )
    a, b = df.collect()
    assert a["n"] is None and math.isnan(a["x"]) and a["v"] == [1.0, None]
    assert (a["s"], a["i"]) == ("a", 1)
    assert tuple(b) == (None, 7, None, None, None)
    assert df.filter("x IS NULL").count() == 1  # the NaN is not NULL


def test_empty_input_collects_no_rows_and_runs_no_job(spark):
    sc = spark.sparkContext
    df = local_df(spark, [], SCHEMA)
    sc.setJobGroup("empty_local_df", "empty local_df")
    try:
        rows = df.collect()
    finally:
        sc.setJobGroup("", "")
    assert rows == []
    assert sc.statusTracker().getJobIdsForGroup("empty_local_df") == []
    assert [f.name for f in df.schema] == ["s", "n", "x", "i", "v"]
