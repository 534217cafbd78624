"""The correctness gate, locally: every queries()/oracle_sql() pair
must match on sf0.001 (the driver runs the same comparison at sf0.01).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from gnip_trend_detection_spark import queries as q
from tests.parity import compare, duck_connection

SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duck_connection(SF)
    yield c
    c.close()


def test_every_query_has_oracle_or_is_declared():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"
    undeclared = set(q.ALL) - set(ORACLES) - set(q.NO_ORACLE)
    assert not undeclared, f"queries with neither oracle nor NO_ORACLE reason: {undeclared}"
    stale = (set(q.NO_ORACLE) & set(ORACLES)) | (set(q.NO_ORACLE) - set(q.ALL))
    assert not stale, f"NO_ORACLE names with an oracle or not in ALL: {stale}"
    unknown = set(q.NOT_BENCHED) - set(q.ALL)
    assert not unknown, f"NOT_BENCHED names not in ALL: {unknown}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(name, spark, con):
    df = QUERIES[name](spark, SF)
    compare(df, con, ORACLES[name], name=name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"counter", "interval_start", "count", "eta"}
