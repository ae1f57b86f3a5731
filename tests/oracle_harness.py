"""Local replica of the driver's DuckDB-oracle comparison: row count +
column names + order-insensitive value comparison.

The oracle side is fetched through DuckDB's arrow path — NOT
``fetchall()`` — because that is how the driver materializes results, and
the two paths coerce types differently: e.g. a windowed ``SUM(INTEGER)``
returns HUGEINT, which arrow exports as decimal128 (and pandas as float64)
while ``fetchall()`` hands back Python ints. The r1 ``q_sessionize`` hash
failure was exactly this class of bug, invisible to a fetchall-based
harness: ``_canon`` renders Decimal/float as ``1.0`` vs BIGINT ``1``, so
the type leak now fails locally too. Arrow (unlike the pandas fetch) keeps
DATE columns as ``datetime.date``, matching what Spark's collect returns
for DateType, so date-returning queries stay comparable."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rows_canonical(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Returns a list of mismatch descriptions; empty == match."""
    problems: list[str] = []
    # The driver's pandas canonicalizer sort_values()-crashes on unhashable
    # cells (lists/dicts), so array/map-typed output columns can never go
    # driver-green — reject them here so the leak fails locally first.
    from pyspark.sql.types import ArrayType, DecimalType, MapType

    bad = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    if bad:
        return [
            f"array/map-typed output columns {bad} are not driver-comparable; "
            "string-render them (array_join / to_json) in both engines"
        ]
    # DecimalType output columns can never go driver-green either (r9:
    # q_rank_sum/q_ks_stat/q_cusum failed the driver hash with values
    # bit-identical in both engines — the driver's pandas path renders a
    # Spark Decimal cell differently from DuckDB's HUGEINT).  _canon
    # below folds Decimal -> float repr on both sides, so without this
    # rejection the harness MASKS the class instead of catching it.
    bad_dec = [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, DecimalType)
    ]
    if bad_dec:
        return [
            f"DecimalType output columns {bad_dec} are not driver-comparable; "
            "cast the face to double (Spark .cast('double') — correctly "
            "rounded — paired with the oracle's VARCHAR route "
            "CAST(CAST(x AS VARCHAR) AS DOUBLE)) or render as strings "
            "on both sides; keep decimal accumulation internal"
        ]
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.execute(sql)
    d_cols = [d[0] for d in rel.description]
    # arrow fetch path — replicates the driver's type coercions
    # (fetchall() would hide e.g. HUGEINT->Decimal); see module docstring.
    d_tab = rel.arrow()
    d_rows = [tuple(row[c] for c in d_cols) for row in d_tab.to_pylist()]

    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duckdb={len(d_rows)}")
    sc = _rows_canonical(s_cols, s_rows)
    dc = _rows_canonical(d_cols, d_rows)
    if sc != dc:
        diff_s = [r for r in sc if r not in set(dc)]
        diff_d = [r for r in dc if r not in set(sc)]
        problems.append(
            f"values differ: {len(diff_s)} spark-only rows, {len(diff_d)} duckdb-only; "
            f"spark sample={diff_s[:3]} duckdb sample={diff_d[:3]}"
        )
    return problems


# ------------------------------------------ per-batch family-face checks


def registration_problems(names: list[str]) -> list[str]:
    """Each family face in ``names`` must be registered in
    ``queries.QUERIES`` as its family-table callable, with the entry's
    resolved oracle in ``queries.ORACLES``."""
    from npm_mirror_spark import faces
    from npm_mirror_spark.queries import ORACLES, QUERIES

    entries = {e.name: e for e in faces.table()}
    problems = []
    for n in names:
        e = entries[n]
        sql = e.oracle(ORACLES) if callable(e.oracle) else e.oracle
        if e.staged or QUERIES.get(n) is not e.face:
            problems.append(f"{n} registered with a different callable")
        elif ORACLES.get(n) != sql:
            problems.append(f"{n} oracle drifted")
    return problems


def plan_problems(spark, sf_dir: str, names: list[str]) -> list[str]:
    """No CartesianProduct in any face of ``names``, and a
    BroadcastNestedLoopJoin only in faces on ``test_plans.ALLOWED_BNLJ``."""
    from npm_mirror_spark import plans
    from npm_mirror_spark.registry import resolve_face
    from tests.test_plans import ALLOWED_BNLJ

    problems = []
    for n in names:
        text = plans.explain_str(resolve_face(n)[0](spark, sf_dir), "simple")
        if "CartesianProduct" in text:
            problems.append(f"{n}: cartesian product")
        if "BroadcastNestedLoopJoin" in text and n not in ALLOWED_BNLJ:
            problems.append(f"{n}: BNLJ not on ALLOWED_BNLJ")
    return problems


def unhashable_columns(spark, sf_dir: str, names: list[str]) -> list[str]:
    """Decimal, array or map output columns of the faces in ``names``
    (the driver cannot hash-compare them)."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType

    from npm_mirror_spark.registry import resolve_face

    return [
        f"{n}.{f.name}"
        for n in names
        for f in resolve_face(n)[0](spark, sf_dir).schema.fields
        if isinstance(f.dataType, (DecimalType, ArrayType, MapType))
    ]
