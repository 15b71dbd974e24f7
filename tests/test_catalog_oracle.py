"""Local replica of the driver's correctness harness: run every catalog
query on Spark AND its DuckDB oracle SQL at sf0.001, compare row count,
column names, and an order-insensitive value hash."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from alertsage_spark import catalog
from alertsage_spark.session import session_registry

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _rowset(cols, rows):
    return sorted("|".join(_norm(v) for v in row) for row in rows)


SQL_CASES = sorted(catalog.oracle_sql().keys())


@pytest.mark.parametrize("name", SQL_CASES)
def test_catalog_query_matches_duckdb(spark, con, name):
    fn = catalog.queries()[name]
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = con.execute(catalog.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert [c.lower() for c in scols] == [c.lower() for c in dcols], (
        f"{name}: column mismatch {scols} vs {dcols}"
    )
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"
    sset, dset = _rowset(scols, srows), _rowset(dcols, drows)
    mism = [(a, b) for a, b in zip(sset, dset) if a != b][:5]
    assert sset == dset, f"{name}: value mismatch, first diffs: {mism}"


ROWS_ONLY = sorted(set(catalog.queries()) - set(catalog.oracle_sql()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    fn = catalog.queries()[name]
    sdf = fn(spark, SF_DIR)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


def test_approx_distinct_accuracy(spark, con):
    """The HLL sketch entry must land within 5% of the exact counts."""
    got = catalog.queries()["rel_agg_approx_distinct"](spark, SF_DIR).collect()[0]
    exact = con.execute(
        "SELECT count(DISTINCT l_partkey), count(DISTINCT l_orderkey) FROM lineitem"
    ).fetchone()
    assert abs(got["approx_parts"] - exact[0]) / exact[0] < 0.05
    assert abs(got["approx_orders"] - exact[1]) / exact[1] < 0.05


def test_tbl_plan_cache_lives_on_the_session_keyed_by_abspath(spark):
    """tbl() plans and index handles live in the session's registry
    (they die with it), keyed by the absolute sf_dir: a relative and an
    absolute path to the same fixture share one plan and one index."""
    reg = session_registry(spark)
    rel = os.path.relpath(SF_DIR)
    plan = catalog.tbl(spark, SF_DIR, "documents")
    assert catalog.tbl(spark, rel, "documents") is plan
    assert reg.held(SF_DIR, "tbl:documents") is plan
    index = catalog._rel_index_for(spark, rel)
    assert catalog._rel_index_for(spark, SF_DIR) is index
    assert reg.held(os.path.abspath(SF_DIR), "rel") is index
