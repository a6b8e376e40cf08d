"""Capture `.explain("formatted")` for named queries into plans/<round>/.

Usage: python tools/capture_plans.py <suffix> <query> [query ...]
       python tools/capture_plans.py before incremental_bm25_search media_neardup

Writes plans/r12/<query>_<suffix>.txt. Scenario queries execute their
lifecycle while the frame is built; the captured plan is the returned
(served) frame's physical plan — the same thing the bench times through
the noop sink.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from de_final_project_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
OUT = os.environ.get("PLANS_OUT", os.path.join(ROOT, "plans", "r13"))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — sf_dir={SF_DIR}\n")
            f.write(buf.getvalue())
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
