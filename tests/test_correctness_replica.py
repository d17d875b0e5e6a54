"""Regression tests for the local correctness replica's dtype fidelity.

Round 2 shipped three driver hash failures because the replica coerced
both sides to common dtypes before comparing: DuckDB SUM(BIGINT) returns
HUGEINT -> float64 in pandas while Spark emits int64 — equal values,
different driver hash. The replica must flag that class, not mask it.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from check_correctness import compare, dtype_family


def test_int_vs_float_family_mismatch_fails():
    spark_side = pd.DataFrame({"k": ["a", "b"], "total": pd.array([3, 4], dtype="int64")})
    oracle_side = pd.DataFrame({"k": ["a", "b"], "total": pd.array([3.0, 4.0], dtype="float64")})
    problems = compare("t", spark_side, oracle_side)
    assert any("dtype family mismatch" in p for p in problems), problems


def test_matching_families_pass():
    a = pd.DataFrame({"k": ["a", "b"], "total": pd.array([3, 4], dtype="int64")})
    b = pd.DataFrame({"k": ["b", "a"], "total": pd.array([4, 3], dtype="int64")})
    assert compare("t", a, b) == []


def test_uncast_duckdb_sum_is_flagged():
    """An uncast SUM over BIGINT in DuckDB comes back float64 — the exact
    round-2 failure shape. The replica must FAIL it against an int64 side."""
    con = duckdb.connect()
    odf = con.execute(
        "SELECT CAST(1 AS BIGINT) AS g, SUM(CAST(x AS BIGINT)) AS s FROM range(5) t(x) GROUP BY 1"
    ).df()
    assert dtype_family(odf["s"]) == "float", odf.dtypes  # HUGEINT -> float64 (precondition)
    sdf = pd.DataFrame({"g": pd.array([1], dtype="int64"), "s": pd.array([10], dtype="int64")})
    problems = compare("t", sdf, odf)
    assert any("dtype family mismatch" in p for p in problems), problems


def test_cast_duckdb_sum_passes():
    con = duckdb.connect()
    odf = con.execute(
        "SELECT CAST(1 AS BIGINT) AS g, CAST(SUM(CAST(x AS BIGINT)) AS BIGINT) AS s "
        "FROM range(5) t(x) GROUP BY 1"
    ).df()
    sdf = pd.DataFrame({"g": pd.array([1], dtype="int64"), "s": pd.array([10], dtype="int64")})
    assert compare("t", sdf, odf) == []
