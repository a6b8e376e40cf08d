"""``cdc_refresh``: a change window on a versioned fact table and on a
versioned corpus, followed by the maintenance of the view and the
indexes that depend on them, and a fixed read set.

``orders`` (fact) is loaded as a ``VersionedTable`` with a COUNT/SUM
view of revenue per ``o_orderstatus`` built over it; ``documents`` and
``embeddings`` are loaded with three indexes declared over them
(``index.py``). The window
commits every kind of change: a MERGE upsert of about 0.5 % of the
orders (new orders and new prices), a merge-on-read ``delete_where`` of
another 0.5 %, a merge-on-read ``update_where`` of 0.5 % of the prices,
and appends of documents and embeddings. It then runs the base tables'
``auto_compact`` and refreshes the view (delta folding) and the three
indexes (their first refresh, a build). One writer, closed loop. The
read set is the view read, a snapshot aggregate, a previous-version
read, the window's change feed, a BM25 top-k and the two verdict reads.
Small writes beside reads: this stresses the commit path, log
reconstruction, view and index maintenance, and bypasses big scans.
"""

from __future__ import annotations

import os
import random
import time
from decimal import ROUND_HALF_UP, Decimal

from perfbench import gen
from perfbench.index import DOCS, VECS, Corpus

SCALE = 0.004
CHANGE_SHARE = 0.01


def _rows(cols: dict) -> list[tuple]:
    """Order rows as (key, custkey, price, status, priority) tuples."""
    def py(c):
        if hasattr(c, "to_pylist"):
            return c.to_pylist()
        return c.tolist() if hasattr(c, "tolist") else list(c)

    return list(zip(*(py(cols[c]) for c in (
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"))))


def change_windows(seed: int, orders: list[tuple], customers: int, n: int):
    """The seeded change sequence: ``n`` windows over the initial order
    rows, plus the row model ({key: row}) the table must equal after
    them. Each window holds a MERGE upsert (half new orders, half new
    prices for existing ones), a delete and a price update, each of
    half the window's ``CHANGE_SHARE`` of the orders. A pure function of
    its arguments, so a seed always yields the same windows."""
    import numpy as np

    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    live = {int(r[0]): tuple(r[1:]) for r in orders}
    next_key = max(live) + 1
    m = max(4, int(len(live) * CHANGE_SHARE / 2))
    windows = []
    for _ in range(n):
        rows = _rows(gen.orders_table(nprng, m // 2, customers, first_key=next_key))
        next_key += m // 2
        for k in rng.sample(sorted(live), m - m // 2):
            c, p, st, pr = live[k]
            rows.append((k, c, round(p * 0.5 + 100.0, 2), st, pr))
        rng.shuffle(rows)
        for k, *rest in rows:
            live[k] = tuple(rest)
        deleted = sorted(rng.sample(sorted(live), m))
        for k in deleted:
            del live[k]
        updated = sorted(rng.sample(sorted(live), m))
        price = round(rng.uniform(1000.0, 500_000.0), 2)
        for k in updated:
            c, _p, st, pr = live[k]
            live[k] = (c, price, st, pr)
        windows.append({"merge": rows, "delete": deleted, "update": updated, "price": price})
    return windows, live


def _in(col: str, keys: list[int]) -> str:
    return f"{col} IN ({', '.join(map(str, keys))})"


def model_summary(live: dict) -> tuple:
    """(rows, DECIMAL(12,2) sum of prices, sum of keys) of a row model,
    rounded the way Spark casts DOUBLE to DECIMAL (half up)."""
    cents = Decimal("0.01")
    total = sum(Decimal(repr(r[1])).quantize(cents, ROUND_HALF_UP) for r in live.values())
    return len(live), total, sum(live)


class CdcRefresh:
    name = "cdc_refresh"
    scale = SCALE
    documents = DOCS
    embeddings = VECS
    ops_per_cycle = 2
    n_checks = 6

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "cdc")
        self.i = 0
        self.reports: list[dict] = []
        self.corpus = Corpus(ctx, os.path.join(self.root, "corpus"))

    # ------------------------------------------------------------ setup
    def setup(self) -> float:
        import pyarrow.parquet as pq

        ctx = self.ctx
        self.initial = _rows(pq.read_table(os.path.join(ctx.raw, "orders.parquet")).to_pydict())
        self.n_cust = pq.read_metadata(os.path.join(ctx.raw, "customer.parquet")).num_rows
        self.plan, _ = change_windows(ctx.seed, self.initial, self.n_cust, 1)
        t0 = time.perf_counter()
        self._setup_orders()
        self.corpus.setup()
        return time.perf_counter() - t0

    def _setup_orders(self) -> None:
        from de_final_project_spark.operators.ivm import IncrementalAggView
        from de_final_project_spark.operators.txlog import VersionedTable

        ctx, spark = self.ctx, self.ctx.spark
        orders = spark.read.parquet(os.path.join(ctx.raw, "orders.parquet")).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
        self.schema = orders.schema
        self.orders = VersionedTable(os.path.join(self.root, "orders"))
        with ctx.tracer.span("txlog.overwrite"):
            self.orders.overwrite(orders)
        self.view = IncrementalAggView(
            self.orders, os.path.join(self.root, "mv"), keys=["o_orderkey"],
            group_by=["o_orderstatus"],
            aggs={"n": ("count", ""),
                  "revenue": ("sum", "CAST(o_totalprice AS DECIMAL(12,2))")})
        with ctx.tracer.span("ivm.refresh"):
            self.view.refresh(spark)

    def _serve(self, v0: int, v1: int) -> None:
        """The read set: the view, a snapshot aggregate, the version
        before the window, the window's change feed, then the corpus's
        BM25 top-k and verdicts."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("ivm.read"):
            self.view.read(spark).collect()
        with tr.span("txlog.read"):
            self.orders.read(spark).selectExpr(
                "count(*)", "sum(CAST(o_totalprice AS DECIMAL(12,2)))").collect()
            self.orders.read(spark, version=v0).count()
        with tr.span("txlog.read_changes"):
            self.orders.read_changes(
                spark, ["o_orderkey"], v0, v1,
                include_deletes=True, include_update_preimages=True).count()
        self.corpus.serve()

    # ------------------------------------------------------------ window
    def _orders_window(self, w: dict, frames: dict) -> dict:
        """Commit the window's order changes, compact, and refresh the
        view."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("txlog.commit.merge"):
            self.orders.merge(spark, frames["merge"], keys=["o_orderkey"])
        with tr.span("txlog.commit.delete"):
            self.orders.delete_where(spark, _in("o_orderkey", w["delete"]), mode="mor")
        with tr.span("txlog.commit.update"):
            self.orders.update_where(
                spark, _in("o_orderkey", w["update"]),
                {"o_totalprice": f"CAST({w['price']} AS DOUBLE)"}, mode="mor")
        with tr.span("txlog.auto_compact"):
            compacted = self.orders.auto_compact(spark)["compacted"]
        with tr.span("ivm.refresh"):
            mode = self.view.refresh(spark)["mode"]
        return {"compactions": compacted, "view_modes": [mode]}

    def cycle(self) -> dict:
        spark = self.ctx.spark
        w = self.plan[self.i]
        self.i += 1
        # the change arrives as DataFrames
        frames = {"merge": spark.createDataFrame(w["merge"], self.schema)}
        new_docs, new_vecs, sizes = self.corpus.arrivals()
        v0 = self.orders.latest_version()
        self.ctx.settle()
        c0 = self.ctx.cpu()
        t0 = time.perf_counter()
        with self.ctx.tracer.span("refresh"):
            orders = self._orders_window(w, frames)
            corpus = self.corpus.window(new_docs, new_vecs)
        t_refresh = time.perf_counter()
        settle = [self.ctx.settle()]
        c1 = self.ctx.cpu()
        t1 = time.perf_counter()
        with self.ctx.tracer.span("read"):
            self._serve(v0, self.orders.latest_version())
        t2 = time.perf_counter()
        c2 = self.ctx.cpu()
        orders["compactions"] += corpus.pop("compactions")
        self.reports.append({**orders, **corpus, **sizes})
        return {"refresh": t_refresh - t0, "read": t2 - t1,
                "refresh_cpu": c1 - c0, "read_cpu": c2 - c1, "settle": settle}

    # ------------------------------------------------------------ check
    def check(self) -> list[str]:
        """The view equals a full recompute, the orders snapshot equals
        the change generator's own row model after the window applied,
        and the corpus checks of ``index.Corpus.check`` hold. The three
        are read-only and run side by side."""
        from de_final_project_spark.session import run_concurrently

        spark = self.ctx.spark
        held, got, corpus = run_concurrently(
            lambda: self.view.verify(spark),
            lambda: tuple(self.orders.read(spark).selectExpr(
                "count(*)", "sum(CAST(o_totalprice AS DECIMAL(12,2)))",
                "sum(o_orderkey)").first()),
            lambda: self.corpus.check(self.reports),
        )
        errors = [] if held else ["view != full recompute"]
        _, live = change_windows(self.ctx.seed, self.initial, self.n_cust, self.i)
        want = model_summary(live)
        if got != want:
            errors.append(f"orders snapshot {got} != model {want}")
        return errors + corpus

    def table_dirs(self) -> list[str]:
        return [self.root]

    def sink_dirs(self) -> list[str]:
        return []

    def versioned_tables(self) -> list:
        return [self.orders, self.view.mv, *self.corpus.versioned_tables()]
