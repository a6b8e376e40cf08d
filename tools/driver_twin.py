"""Faithful emulation of the DRIVER's correctness gate (stricter than
tools/oracle_check.py, which uses the engine's own session factory and a
stringify-everything canonicalizer that masks driver failure modes).

Differences that matter — each reproduces a confirmed round-1 driver red:

1. PLAIN SparkSession: ``SparkSession.builder.master(...)`` with *no*
   factory confs, so any query relying on a builder-time conf (e.g.
   ``spark.sql.legacy.parquet.nanosAsLong``) fails here exactly as it
   failed under the driver.
2. pandas canonicalization: results go through ``toPandas()`` /
   ``cursor.df()`` and are row-sorted with ``DataFrame.sort_values`` —
   an array/map/struct output column raises ``unhashable type: 'list'``
   here exactly as in the driver's canonicalizer.
3. dtype-kind comparison: DuckDB HUGEINT/DECIMAL arrives in pandas as
   float64/object while Spark yields int64 — a kind mismatch (i vs f)
   is flagged even when stringified values would happen to collide.

Usage: python tools/driver_twin.py [sf_dir] [query ...]
Exit 0 iff every checked query is green.
"""

from __future__ import annotations

import os
import sys
import traceback

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical form: columns sorted by name, rows sorted by
    every column. Raises on unhashable cells (lists/dicts), as the driver
    does."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cell_repr(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        if np.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat(sep=" ")
    return str(v)


def frame_cells(df: pd.DataFrame) -> list[list[str]]:
    return [[cell_repr(v) for v in row] for row in df.itertuples(index=False)]


def kind(dtype) -> str:
    k = np.dtype(dtype).kind if not isinstance(dtype, pd.api.types.CategoricalDtype) else "O"
    # unify datetime flavors
    return {"M": "M", "m": "M"}.get(k, k)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    try:
        s = canon_frame(spark_pdf)
    except TypeError as e:
        problems.append(f"spark result not canonicalizable (driver red): {e}")
        return problems
    try:
        d = canon_frame(duck_pdf)
    except TypeError as e:
        problems.append(f"oracle result not canonicalizable (driver red): {e}")
        return problems
    for c in s.columns:
        ks, kd = kind(s[c].dtype), kind(d[c].dtype)
        # Spark DATE arrives as object-of-datetime.date while DuckDB DATE
        # arrives as datetime64[us]; the real driver matched these in
        # round 1 (dim_date et al. were hash-green), so coerce rather
        # than flag.
        if len(s) and {ks, kd} == {"O", "M"}:
            import datetime as _dt

            obj, other = (s, d) if ks == "O" else (d, s)
            nonnull = obj[c].dropna()
            if len(nonnull) and all(
                isinstance(v, (_dt.date, _dt.datetime)) for v in nonnull
            ):
                obj[c] = pd.to_datetime(obj[c])
                ks, kd = kind(s[c].dtype), kind(d[c].dtype)
        # object-vs-object is fine; int-vs-float (HUGEINT) etc. is the
        # confirmed simhash_docs failure mode. Empty frames have no data
        # to disagree on, and all-null columns degrade to object/float.
        if len(s) and ks != kd and not (s[c].isna().all() or d[c].isna().all()):
            problems.append(f"dtype kind mismatch col={c} spark={s[c].dtype} duck={d[c].dtype}")
    if not problems and frame_cells(s) != frame_cells(d):
        sc, dc = frame_cells(s), frame_cells(d)
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(sc, dc)) if a != b][:3]
        problems.append(f"values differ, first rows: {diffs}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from pyspark.sql import SparkSession

    # Deliberately bare: the one conf the driver also sets is master.
    spark = SparkSession.builder.master("local[8]").appName("driver-twin").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from tools.oracle_check import duck_views  # the package, after the session

    con = duck_views(sf_dir)
    import __spark_entry__ as entry_mod

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark error:\n{traceback.format_exc(limit=3)}")
            failures.append(name)
            continue
        # The scalar-output contract applies to every query, oracle or not.
        bad_cols = [
            c for c in spark_pdf.columns
            if len(spark_pdf) and isinstance(spark_pdf[c].iloc[0], (list, dict, tuple, np.ndarray))
        ]
        if bad_cols:
            print(f"FAIL  {name}: non-scalar output columns {bad_cols} (driver red)")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows={len(spark_pdf)})")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: duckdb error:\n{traceback.format_exc(limit=3)}")
            failures.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name} ({len(spark_pdf)} rows)")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
