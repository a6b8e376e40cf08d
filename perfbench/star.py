"""``star_batch``: full rebuilds of the gold star schema alternating with
an analyst query suite.

Each build pass turns the raw parquet tables into ``dim_customer``,
``dim_supplier``, ``dim_part``, ``dim_date`` and ``fact_lineitem`` through
the engine's plan builders and writes them with
``sources.sinks.write_parquet_overwrite``. Each query pass runs a fixed
ten-query suite from ``__spark_entry__.queries()`` in a fixed order (a
seeded order made the pass's CPU depend on the seed: two of ten orders
cost ~30 % more).
One build pass and one query pass are timed in a fresh session, as a
scheduled batch job runs them: the build pass pays the JVM's JIT
compilation and Spark's code generation along with the work. No
versioned table is touched, so this is the control workload for
transaction-log, view and index work: it moves only with the per-job
floor, planning and shuffle sizing.
"""

from __future__ import annotations

import os
import time

from perfbench import checks

GOLD = ["dim_customer", "dim_supplier", "dim_part", "dim_date", "fact_lineitem"]
SUITE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q14_promo_revenue",
    "top_orders_per_customer",
    "late_shipment_orders",
    "customer_order_running",
    "events_hourly",
]
SCALE = 0.004


class StarBatch:
    name = "star_batch"
    scale = SCALE
    documents = embeddings = 0
    ops_per_cycle = 2
    n_checks = len(GOLD) + len(SUITE)

    def __init__(self, ctx):
        self.ctx = ctx
        self.gold = os.path.join(ctx.work, "gold")
        self.results: dict[str, list] = {}
        self.reports: list[dict] = []

    def setup(self) -> float:
        """The raw tables are the only fixture: nothing to load."""
        return 0.0

    def build_pass(self) -> float:
        ctx, q = self.ctx, self.ctx.entry.queries()
        t0 = time.perf_counter()
        for name in GOLD:
            with ctx.tracer.span(f"plans.{name}"):
                df = q[name](ctx.spark, ctx.raw)
            with ctx.tracer.span("sinks.write_parquet_overwrite"):
                ctx.sinks.write_parquet_overwrite(df, self.gold, name)
        return time.perf_counter() - t0

    def query_pass(self) -> float:
        ctx, q = self.ctx, self.ctx.entry.queries()
        t0 = time.perf_counter()
        for name in SUITE:
            with ctx.tracer.span(f"plans.{name}"):
                df = q[name](ctx.spark, ctx.raw)
            with ctx.tracer.span("spark.collect"):
                self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
        return time.perf_counter() - t0

    def cycle(self) -> dict:
        """One build pass then one query pass."""
        ctx = self.ctx
        c0 = ctx.cpu()
        with ctx.tracer.span("refresh"):
            b = self.build_pass()
        settle = [ctx.settle()]
        c1 = ctx.cpu()
        with ctx.tracer.span("read"):
            r = self.query_pass()
        c2 = ctx.cpu()
        self.reports.append({})
        return {"refresh": b, "read": r, "refresh_cpu": c1 - c0, "read_cpu": c2 - c1,
                "settle": settle}

    def check(self) -> list[str]:
        """Each gold table and each suite result against its DuckDB
        oracle over the same raw files."""
        con = checks.duck(self.ctx.raw)
        oracle = self.ctx.entry.oracle_sql()
        errors = []
        for name in GOLD:
            cur = con.execute(
                f"SELECT * FROM read_parquet('{self.gold}/{name}/*.parquet')")
            got = ([d[0] for d in cur.description], cur.fetchall())
            errors += checks.compare(name, got, checks.run_sql(con, oracle[name]))
        for name, got in self.results.items():
            errors += checks.compare(name, got, checks.run_sql(con, oracle[name]))
        return errors

    def table_dirs(self) -> list[str]:
        return [os.path.join(self.gold, g) for g in GOLD]

    sink_dirs = table_dirs

    def versioned_tables(self) -> list:
        return []
