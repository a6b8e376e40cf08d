"""Measure log-entry bytes vs live file count for BOTH codecs
(VERDICT r9 item 1's 'measured entry-bytes-vs-live-files curve').

Grows a partitioned table by merge-on-read appends (the worst case for
the old full-map codec: every entry re-serialized every live pointer,
and the touched partition's pointer list grows every commit) and
records, per commit: live file count, the NEW delta-codec raw entry
bytes, and what the OLD codec would have written (the full
reconstructed entry re-serialized — computed from the same state, so
the comparison is exact, not simulated).

Usage: python tools/logcodec_curve.py [n_commits]   (default 64)
Prints a markdown table ready for README.md.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from de_final_project_spark.operators.txlog import (  # noqa: E402
    ConditionalPutLogStore,
    VersionedTable,
)
from de_final_project_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    spark = get_spark("logcodec-curve")
    spark.sparkContext.setLogLevel("ERROR")
    store = ConditionalPutLogStore()
    t = VersionedTable("/x/curve", log_store=store, partition_col="pb")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, s string, pb int"
    )
    t.overwrite(mk([(0, "base", 0)]))
    rows = []
    for i in range(1, n):
        t.append(mk([(i, f"x{i}", i % 8)]))
        v = i + 1
        entry = t._read_entry(v)
        live_files = sum(
            len(ptr.get("files", [1]))
            for e in entry["live"].values()
            for ptr in (e if isinstance(e, list) else [e])
        )
        rows.append(
            (
                v,
                live_files,
                len(store.read(t._entry_name(v))),
                len(json.dumps(entry).encode()),
            )
        )
    print("| commit | live files | delta-entry bytes | full-map bytes |")
    print("|---|---|---|---|")
    for v, lf, db, fb in rows:
        if v in (2, 4, 8, 16, 24, 32, 48, rows[-1][0]):
            print(f"| {v} | {lf} | {db} | {fb} |")
    d0, dN = rows[0][2], rows[-1][2]
    f0, fN = rows[0][3], rows[-1][3]
    print(
        f"\ndelta codec growth {d0}→{dN} bytes ({dN / d0:.2f}x); "
        f"full-map codec would be {f0}→{fN} bytes ({fN / f0:.2f}x) "
        f"over {rows[-1][1]}x... live files {rows[0][1]}→{rows[-1][1]}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
