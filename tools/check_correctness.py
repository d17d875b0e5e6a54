"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given scale factor, then compares
row count, column-name set, and order-insensitive values. Use while
iterating so mismatches are caught before the driver runs.

Usage:
    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize for order-insensitive compare: sort columns by name,
    normalize dtypes, sort rows by all columns.

    Object columns are sorted RAW, exactly like the driver's ``_canon``
    (``sort_values`` → ``Categorical`` factorization). Round 3 shipped
    three keys whose array-typed outputs crashed the driver with
    ``TypeError: unhashable type: 'numpy.ndarray'`` while this replica
    printed ok, because it pre-stringified list columns "for
    sortability" — a replica more lenient than the gate it mirrors is
    worse than none (VERDICT r3 #2). Non-hashable values must raise
    here, the same TypeError the driver raises."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s).dt.tz_localize(None) if getattr(s.dt, "tz", None) else pd.to_datetime(s)
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype("bool")
        # dates/strings/lists: raw — the driver does not stringify either
        out[c] = s
    ndf = pd.DataFrame(out)
    ndf = ndf.sort_values(by=list(ndf.columns), na_position="first").reset_index(drop=True)
    return ndf


def dtype_family(s: pd.Series) -> str:
    """Coarse dtype family, checked BEFORE norm_frame's coercion.

    The driver's value hash is dtype-sensitive: DuckDB SUM(BIGINT) returns
    HUGEINT which pandas materializes as float64 while Spark emits int64 —
    numerically equal, hash-different. Round 2 shipped three such failures
    because norm_frame coerced both sides to a common dtype first. Family
    mismatches must therefore FAIL here even when every value compares equal.
    """
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        problems.append(f"columns: spark={sc} oracle={oc}")
        return problems
    numeric = {"int", "float", "bool"}
    for c in sc:
        fa, fb = dtype_family(spark_df[c]), dtype_family(oracle_df[c])
        if fa != fb and (fa in numeric or fb in numeric):
            problems.append(
                f"col {c}: dtype family mismatch spark={fa}({spark_df[c].dtype}) "
                f"oracle={fb}({oracle_df[c].dtype}) — driver hash WILL fail"
            )
    if problems:
        return problems
    s, o = norm_frame(spark_df), norm_frame(oracle_df)
    for c in s.columns:
        a, b = s[c], o[c]
        if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
            eq = np.isclose(a.fillna(np.nan), b.fillna(np.nan), rtol=0, atol=0, equal_nan=True)
            if not eq.all():
                close = np.isclose(a.fillna(np.nan), b.fillna(np.nan), rtol=1e-9, atol=1e-12, equal_nan=True)
                n_bad, n_loose = int((~eq).sum()), int((~close).sum())
                i = int(np.argmax(~eq))
                problems.append(
                    f"col {c}: {n_bad} cells differ exactly ({n_loose} beyond 1e-9 rtol); "
                    f"first: spark={a.iloc[i]!r} oracle={b.iloc[i]!r}"
                )
        else:
            a2, b2 = a.fillna("\x00NULL"), b.fillna("\x00NULL")
            neq = ~(a2 == b2).to_numpy()
            if neq.any():
                i = int(np.argmax(neq))
                problems.append(
                    f"col {c}: {int(neq.sum())}/{len(a)} cells differ; "
                    f"first: spark={a.iloc[i]!r} oracle={b.iloc[i]!r} (row {i})"
                )
    return problems


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table in ``sf_dir``,
    the schema every oracle SQL reads."""
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from logistics_data_pipeline_spark.session import get_spark

    spark = get_spark("check-correctness")
    con = duckdb_views(args.sf)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(queries)
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark query raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        t1 = time.time()
        if name not in oracles:
            # The driver canonicalizes the Spark frame even for rows-only
            # keys (docs_simhash r3: spark_rows came back null because
            # _canon crashed before counting) — so must we.
            try:
                norm_frame(sdf)
            except TypeError as e:
                print(
                    f"FAIL  {name}: driver canonicalizer would crash "
                    f"on the Spark output: {e}"
                )
                n_fail += 1
                continue
            print(f"rows  {name}: {len(sdf)} rows (no oracle; rows-only) [{t1-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: oracle SQL raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        try:
            problems = compare(name, sdf, odf)
        except TypeError as e:
            problems = [f"driver canonicalizer would crash: {e}"]
        if problems:
            n_fail += 1
            print(f"FAIL  {name} ({len(sdf)} vs {len(odf)} rows) [{t1-t0:.1f}s]")
            for p in problems:
                print(f"      - {p}")
        else:
            n_pass += 1
            print(f"ok    {name}: {len(sdf)} rows match [{t1-t0:.1f}s]")
    print(f"\n{n_pass} ok, {n_fail} FAIL, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
