"""Result comparison shared by the workloads' correctness checks: the
same canonical row multiset as ``tools/oracle_check.py`` (row count,
column set, order-insensitive values)."""

from __future__ import annotations

from collections import Counter
from datetime import date, datetime

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck(raw_dir: str):
    """A DuckDB connection with one view per raw input table."""
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(raw_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def run_sql(con, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def multiset(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(canon(r[i]) for i in order) for r in rows)


def compare(name: str, got, want) -> list[str]:
    """Differences between two ``(columns, rows)`` results, as messages."""
    (gc, gr), (wc, wr) = got, want
    if sorted(gc) != sorted(wc):
        return [f"{name}: columns {sorted(gc)} != {sorted(wc)}"]
    if len(gr) != len(wr):
        return [f"{name}: {len(gr)} rows != {len(wr)}"]
    g, w = multiset(gc, gr), multiset(wc, wr)
    if g != w:
        return [f"{name}: values differ, e.g. {list((g - w))[:2]} vs {list((w - g))[:2]}"]
    return []
