"""Every registered query is oracle-verified on every pytest run.

The driver's correctness gate samples ~50 of the registered queries per
round; this test closes the gap by running the full registry through the
same Spark-vs-DuckDB comparison (tools/check.py's ``check_one``, an
order-insensitive multiset compare — stricter than a value hash) at
sf0.001 so the whole sweep stays cheap. Set ``SPARK_GRAFT_ORACLE_SF`` to
point at a bigger scale factor (e.g. /root/testdata/sf0.01) for the
slower, driver-equivalent run.

One parametrized test per query name: a regression in any single query
shows up as that query's own test failure, not a blob.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check import check_one, register_views

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    register_views(con, SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_oracle_parity(spark, duck, name):
    _status, problems = check_one(
        spark, duck, SF_DIR, _QUERIES[name], _ORACLES.get(name)
    )
    assert not problems, f"{name}: " + " | ".join(problems)


def test_every_query_has_oracle():
    """Every registered query ships oracle SQL today; a new rows-only
    registration must consciously edit this assertion, not slip past the
    driver's weaker rows-only check unnoticed."""
    missing = sorted(set(_QUERIES) - set(_ORACLES))
    assert missing == [], f"queries without oracle_sql: {missing}"


def test_j7_range_join_in_first_50_registered():
    """The per-round correctness sample takes the first 50 registered
    names; the range join must stay inside it (the core-bound
    ann_cosine_allpairs is registered after it for that reason)."""
    assert "j7_range_join" in list(_QUERIES)[:50]
