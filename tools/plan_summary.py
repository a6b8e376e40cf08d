"""Generate PLANS.md — a physical-plan summary of every queries() entry
at sf0.001: scans, join strategies, exchanges. The compact form of the
`.explain("formatted")` review the engine's operators were tuned against
(tests/test_plans.py pins the load-bearing properties; this file shows
the whole surface at a glance)."""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from de_final_project_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

HEADER = """# PLANS — physical-plan summary (generated by tools/plan_summary.py, sf0.001)

Per query: parquet/table scans, join strategies chosen by Catalyst, and
shuffle exchanges. BHJ=BroadcastHashJoin, SMJ=SortMergeJoin,
BNLJ=BroadcastNestedLoopJoin (intended only for tiny-side cross scoring).
"Exch" counts hash/range exchanges (shuffles); single-partition exchanges
for global sequence keys are part of the documented reference-parity
funnel. A scan with pushed filters is marked "pushed".

| query | scans | BHJ | SMJ | BNLJ | Exch | pushed filters |
|---|---|---|---|---|---|---|
"""


def main() -> None:
    spark = get_spark("plan-summary")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            p = buf.getvalue()
        except Exception as e:  # pragma: no cover - report, don't die
            rows.append(f"| `{name}` | ERROR: {type(e).__name__} | | | | | |\n")
            continue
        scans = len(re.findall(r"^\(\d+\) Scan", p, re.M))
        bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M))
        smj = len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M))
        bnlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", p, re.M))
        exch = len(re.findall(r"hashpartitioning\(|rangepartitioning\(", p))
        pushed = len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", p) if m.strip()]
        )
        rows.append(
            f"| `{name}` | {scans} | {bhj} | {smj} | {bnlj} | {exch} | {pushed} |\n"
        )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(HEADER)
        f.writelines(rows)
    print(f"PLANS.md: {len(rows)} queries summarized")
    spark.stop()


if __name__ == "__main__":
    main()
