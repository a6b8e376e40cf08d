"""Properties of a directory of source tables, to compare the generator's
output with the engine's test data.

    python3 perfbench/dataprofile.py DIR              # profile existing tables
    python3 perfbench/dataprofile.py --generate 0.01  # generate at a scale, then profile

Prints one JSON object: per table its row count and the share of NULLs
in each column that has any; per foreign key the number of distinct keys
and the largest and mean number of rows per key (key skew); the share of
orders with no line items; and the mean and spread of the value columns
whose shape the plans depend on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))

KEYS = {
    "orders": ["o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["user_id"],
    "customer": ["c_nationkey"],
}
VALUES = {
    "orders": ["o_totalprice", "epoch(o_orderdate) / 86400"],
    "lineitem": ["l_extendedprice", "l_discount", "l_tax",
                 "epoch(l_shipdate) / 86400", "l_linenumber"],
    "events": ["value"],
    "documents": ["n_chars"],
}


def profile(raw: str) -> dict:
    import duckdb

    from perfbench.checks import TABLES

    con = duckdb.connect()
    out: dict = {}
    for t in TABLES:
        path = os.path.join(raw, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        src = f"read_parquet('{path}')"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        nulls = con.execute(
            "SELECT " + ", ".join(f'count(*) - count("{c}")' for c in cols) + f" FROM {src}"
        ).fetchone()
        prof = {"rows": n, "null_share": {c: k / n for c, k in zip(cols, nulls) if k}}
        for k in KEYS.get(t, []):
            keys, top, mean = con.execute(
                f"SELECT count(*), max(c), avg(c) FROM "
                f"(SELECT count(*) c FROM {src} GROUP BY {k})").fetchone()
            prof[f"{k}.keys"] = keys
            prof[f"{k}.max_per_key / mean"] = round(top / mean, 2)
        for v in VALUES.get(t, []):
            lo, mean, sd, hi = con.execute(
                f"SELECT min({v}), avg({v}), stddev_pop({v}), max({v}) FROM {src}").fetchone()
            prof[v] = {"min": round(lo, 2), "mean": round(mean, 2),
                       "sd": round(sd, 2), "max": round(hi, 2)}
        out[t] = prof
    if "orders" in out and "lineitem" in out:
        o = f"read_parquet('{os.path.join(raw, 'orders.parquet')}')"
        li = f"read_parquet('{os.path.join(raw, 'lineitem.parquet')}')"
        none = con.execute(
            f"SELECT count(*) FROM {o} WHERE o_orderkey NOT IN (SELECT l_orderkey FROM {li})"
        ).fetchone()[0]
        out["orders"]["share_without_lines"] = round(none / out["orders"]["rows"], 4)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("dir", nargs="?")
    p.add_argument("--generate", type=float, metavar="SCALE")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    sys.path.insert(0, os.path.dirname(HERE))
    if args.generate:
        from perfbench import gen

        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, args.seed, gen.sizes_for(args.generate, 500, 500))
            print(json.dumps(profile(d), indent=1))
    elif args.dir:
        print(json.dumps(profile(args.dir), indent=1))
    else:
        p.error("give DIR or --generate SCALE")
    return 0


if __name__ == "__main__":
    sys.exit(main())
