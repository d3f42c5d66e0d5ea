"""Pytest-level oracle parity for the DEFERRED_NEXT_ROUND entries and
the DRAINED_THIS_ROUND ones.

The driver's 50-slot correctness window could not fit the deferred
entries this round, and the drained ones have not had their driver run
yet (suite/__init__.py documents the drain schedule), so until their
driver rows exist, this module pins each one with the SAME comparison
the driver performs — Spark result vs DuckDB oracle at sf0.01, row
count + column names + order-insensitive canonicalized values with
columns sorted by name (``suite.parity``).  Independent, reproducible
evidence instead of a builder's say-so; drops to a no-op once both lists
are empty.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from duckdb_dbt_finance_warehouse_spark.sources.tables import TESTDATA_TABLES
from duckdb_dbt_finance_warehouse_spark.suite import (
    DEFERRED_NEXT_ROUND,
    DRAINED_THIS_ROUND,
    REGISTRY,
)
from duckdb_dbt_finance_warehouse_spark.suite.parity import compare

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", DRAINED_THIS_ROUND + DEFERRED_NEXT_ROUND)
def test_deferred_entry_matches_oracle(name, spark, duck):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_DIR)
    srows = sdf.collect()
    if not spec.has_oracle:
        # rows-only entry: the driver can't value-check it either, but
        # the run must still produce a real, named result shape — an
        # empty schema or empty output here means the entry does
        # nothing, not that it's merely non-SQL-expressible
        assert sdf.columns, f"{name}: rows-only entry with no columns"
        assert srows, f"{name}: rows-only entry returned no rows at sf0.01"
        return
    res = duck.execute(spec.resolved_oracle(SF_DIR))
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    problems = compare(srows, sdf.columns, drows, dcols)
    assert not problems, f"{name}: {'; '.join(problems)}"
