"""Generate QUERIES.md — the live inventory of the driver-contract
surface: every queries() entry, its implementing function, and whether it
has a DuckDB oracle. Run after adding queries; tests/test_entry_contract.py
requires QUERIES.md to equal render() byte for byte."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402

HEADER = """# QUERIES — driver-contract surface (generated by tools/inventory.py)

One row per `queries()` entry in `__spark_entry__.py`. "oracle" = paired
ANSI SQL in `oracle_sql()` that DuckDB cross-checks (row count + schema +
order-insensitive value hash) at sf0.01; entries without an oracle get
the driver's weaker rows-only check (engine-defined constants make their
outputs non-portable, as noted inline in `__spark_entry__.py`).

| # | query | implementation | oracle |
|---|---|---|---|
"""


def render() -> str:
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    lines = [HEADER]
    for i, (name, fn) in enumerate(qs.items(), 1):
        impl = f"`{fn.__module__}.{fn.__name__}`"
        lines.append(
            f"| {i} | `{name}` | {impl} | {'yes' if name in oracles else 'rows-only'} |\n"
        )
    lines.append(
        f"\nTotals: {len(qs)} queries, {len(oracles)} oracle-checked, "
        f"{len(qs) - len(oracles)} rows-only.\n"
    )
    return "".join(lines)


def main() -> None:
    text = render()
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write(text)
    print(text.splitlines()[-1])


if __name__ == "__main__":
    main()
