"""The main correctness gate, locally: every oracle-backed face, registered
or staged (``registry.all_faces()``), must match DuckDB exactly;
oracle-less faces must at least run and return a stable schema."""

from __future__ import annotations

import pytest

from npm_mirror_spark.queries import ORACLES, QUERIES
from npm_mirror_spark.registry import all_faces
from tests.oracle_harness import compare, duckdb_con

FACES = {name: (q, sql) for name, q, sql in all_faces()}
ORACLE_BACKED = sorted(n for n, (_, sql) in FACES.items() if sql)
ROWS_ONLY = sorted(n for n, (_, sql) in FACES.items() if not sql)

#: Oracle-backed faces with an empty result at the default test scale,
#: sf0.001: the TPC-H Q7 shape finds no trade between its two nations
#: there (14 rows at sf0.01, where the driver checks it).
EMPTY_AT_SF0001 = {"q_nation_volume"}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("qname", ORACLE_BACKED)
def test_oracle_parity(spark, sf_dir, con, qname):
    q, sql = FACES[qname]
    problems = compare(q(spark, sf_dir), con, sql)
    assert not problems, f"{qname}: " + "; ".join(problems)
    if qname not in EMPTY_AT_SF0001:
        # a face must not match its oracle on an empty result
        assert con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0] > 0, qname


@pytest.mark.parametrize("qname", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, qname):
    df = FACES[qname][0](spark, sf_dir)
    # stable schema + non-negative row count (the driver's weaker check)
    assert df.columns
    assert df.count() >= 0


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert "package_name" in df.columns
