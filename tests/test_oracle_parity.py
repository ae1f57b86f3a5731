"""The main correctness gate, locally: every oracle-backed face, registered
or staged (``registry.all_faces()``), must match DuckDB exactly;
oracle-less faces must at least run and return a stable schema."""

from __future__ import annotations

import os

import pytest

from npm_mirror_spark.queries import ORACLES, QUERIES
from npm_mirror_spark.registry import all_faces
from tests.oracle_harness import compare, duckdb_con

FACES = {name: (q, sql) for name, q, sql in all_faces()}
ORACLE_BACKED = sorted(n for n, (_, sql) in FACES.items() if sql)
ROWS_ONLY = sorted(n for n, (_, sql) in FACES.items() if not sql)

#: Oracle-backed faces checked at a sibling scale of the test scale,
#: because their result is empty at the default one, sf0.001: the TPC-H
#: Q7 shape finds no trade between its two nations there (14 rows at
#: sf0.01, where the driver checks it).
FACE_SCALE = {"q_nation_volume": "sf0.01"}


@pytest.fixture(scope="module")
def con_at():
    """One DuckDB connection per scale directory, opened on first use."""
    cons = {}

    def con(sf_dir):
        if sf_dir not in cons:
            cons[sf_dir] = duckdb_con(sf_dir)
        return cons[sf_dir]

    yield con
    for c in cons.values():
        c.close()


@pytest.mark.parametrize("qname", ORACLE_BACKED)
def test_oracle_parity(spark, sf_dir, con_at, qname):
    q, sql = FACES[qname]
    if qname in FACE_SCALE:
        sf_dir = os.path.join(os.path.dirname(sf_dir), FACE_SCALE[qname])
    con = con_at(sf_dir)
    problems = compare(q(spark, sf_dir), con, sql)
    assert not problems, f"{qname}: " + "; ".join(problems)
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
