"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf-dir parquet, then compares row count, column set,
and an order-insensitive value multiset (values stringified canonically).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from datetime import date, datetime

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from de_final_project_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(s_cols, s_rows, d_cols, d_rows) -> list[str]:
    """Column set, row count and value-multiset mismatches (none: ok)."""
    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if not problems:
        sm, dm = row_multiset(s_rows, s_cols), row_multiset(d_rows, d_cols)
        if sm != dm:
            diff_s = list((sm - dm).items())[:3]
            diff_d = list((dm - sm).items())[:3]
            problems.append(f"values spark-only={diff_s} duck-only={diff_d}")
    return problems


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def row_multiset(rows, colnames) -> Counter:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter("|".join(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duck_views(sf_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows={len(s_rows)})")
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = compare(s_cols, s_rows, d_cols, d_rows)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name} ({len(s_rows)} rows)")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
