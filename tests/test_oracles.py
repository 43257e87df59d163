"""Oracle parity in the test suite: the ``__spark_entry__`` registry
queries that reach the drift layer (engine/drift.py), plus the boundary
and conversation-duplicate checks, must match their DuckDB
``oracle_sql()`` twins exactly (scripts/check_oracles.py runs the whole
registry)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

import __spark_entry__ as e
from scripts.check_oracles import compare, oracle_db

SF = e.DEFAULT_SF_DIR

#: every registry query whose code path reaches engine/drift.py
DRIFT_QUERIES = (
    "drift_frequencies",
    "length_histogram",
    "ks_drift",
    "chi2_drift",
    "wasserstein_drift",
    "js_drift",
    "vocab_drift",
    "quantile_shift",
    "snapshot_diff",
    "psi_by_group",
)

needs_data = pytest.mark.skipif(
    not os.path.isdir(SF), reason=f"{SF} not present"
)


@pytest.fixture(scope="module")
def duck():
    con = oracle_db(SF)
    yield con
    con.close()


@needs_data
@pytest.mark.parametrize(
    "name",
    DRIFT_QUERIES + ("boundary_census", "boundary_violations", "conv_dups"),
)
def test_query_matches_oracle(spark, duck, name):
    sdf = e.queries()[name](spark, SF).toPandas()
    odf = duck.sql(e.oracle_sql()[name]).df()
    assert compare(sdf, odf) == []


def test_boundary_oracles_null_first_and_last_values(spark):
    """A NULL first or last boundary value reads '__null__' in both the
    engine (pre-coalesced before min_by/max_by) and the DuckDB oracle
    (coalesced inside arg_min/arg_max, which skip NULL values)."""
    import duckdb

    from filters_spark.engine import boundary_census, boundary_violations

    rows = [
        (1, 10, None), (1, 11, "O"), (1, 12, "F"),  # NULL first
        (2, 20, "F"), (2, 21, "O"), (2, 22, None),  # NULL last
        (3, 30, "O"), (3, 31, "F"),
        (4, 40, None),                              # NULL only
    ]
    cols = ["o_custkey", "o_orderkey", "o_orderstatus"]
    orders = pd.DataFrame(rows, columns=cols)
    con = duckdb.connect()
    con.register("orders", orders)
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderkey long, o_orderstatus string"
    )
    kw = dict(conv="o_custkey", idx="o_orderkey", col="o_orderstatus")
    census = boundary_census(df, **kw).toPandas()
    assert compare(census, con.sql(e.SQL_BOUNDARY_CENSUS).df()) == []
    viol = boundary_violations(
        df, expected_first=("F", "O"), expected_last=("F",), **kw
    ).toPandas()
    assert compare(viol, con.sql(e.SQL_BOUNDARY_VIOLATIONS).df()) == []
    assert {("__null__", "F"), ("F", "__null__")} <= set(
        zip(census["first"], census["last"])
    )
    con.close()
