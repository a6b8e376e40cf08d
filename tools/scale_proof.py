"""Scale proof: run the full oracle suite at a large SF with per-query
timing and resumable progress.

Same comparison as tools/oracle_check.py (row count + column set +
order-insensitive canonical value multiset, Spark vs DuckDB on the same
parquet) plus:

- per-query wall seconds for BOTH engines, appended to a JSONL log so a
  long run is observable and resumable (already-logged queries are
  skipped on rerun);
- a result summary JSON (ok/fail counts, slowest queries) suitable for
  quoting in README / BENCH_sf1.

Usage: python tools/scale_proof.py <sf_dir> <log.jsonl> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from de_final_project_spark.session import get_spark  # noqa: E402
from tools.oracle_check import compare, duck_views  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1]
    log_path = sys.argv[2]
    only = set(sys.argv[3:])
    done = set()
    if os.path.exists(log_path):
        with open(log_path) as f:
            for line in f:
                try:
                    done.add(json.loads(line)["query"])
                except Exception:
                    pass
    spark = get_spark("scale-proof")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_views(sf_dir)
    # An in-memory DuckDB cannot spill without a temp_directory — the
    # K=64 quantizer oracles at sf1 OOM without out-of-core execution.
    con.execute("SET temp_directory='/tmp/duckdb_spill_scale_proof'")
    # Env-overridable (round 11): the ivfpq recall oracle's peak sits
    # between 48 GB (measured: >60 GB spill, then ENOSPC) and the box's
    # RAM — raising the limit trades spill I/O for memory when the box
    # is otherwise idle.
    con.execute(
        "SET memory_limit='%s'"
        % os.environ.get("SCALE_PROOF_DUCK_MEM", "48GB")
    )
    # Peak memory in DuckDB's blocking operators scales with thread
    # count; the wide-list Lloyd cross-joins at sf1 exceeded RAM+spill
    # at 32 threads. This is a correctness gate, not a DuckDB race.
    con.execute(
        "SET threads=%d" % int(os.environ.get("SCALE_PROOF_DUCK_THREADS", "8"))
    )
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    n_fail = 0
    with open(log_path, "a") as log:
        for name, fn in qs.items():
            if (only and name not in only) or name in done:
                continue
            rec: dict = {"query": name}
            t0 = time.perf_counter()
            try:
                sdf = fn(spark, sf_dir)
                s_cols = sdf.columns
                s_rows = [tuple(r) for r in sdf.collect()]
                rec["spark_sec"] = round(time.perf_counter() - t0, 2)
                rec["spark_rows"] = len(s_rows)
            except Exception as e:
                rec["status"] = f"spark error: {e}"[:500]
                n_fail += 1
                log.write(json.dumps(rec) + "\n")
                log.flush()
                print(f"FAIL  {name}: spark", flush=True)
                continue
            if name not in oracles:
                rec["status"] = "rows-only (no oracle)"
                log.write(json.dumps(rec) + "\n")
                log.flush()
                print(f"rows  {name} ({len(s_rows)} rows, {rec['spark_sec']}s)", flush=True)
                continue
            t1 = time.perf_counter()
            try:
                cur = con.execute(oracles[name])
                d_cols = [d[0] for d in cur.description]
                d_rows = cur.fetchall()
                rec["duck_sec"] = round(time.perf_counter() - t1, 2)
            except Exception as e:
                rec["status"] = f"duckdb error: {e}"[:500]
                n_fail += 1
                log.write(json.dumps(rec) + "\n")
                log.flush()
                print(f"FAIL  {name}: duckdb", flush=True)
                continue
            problems = compare(s_cols, s_rows, d_cols, d_rows)
            rec["status"] = "ok" if not problems else "; ".join(problems)[:500]
            if problems:
                n_fail += 1
            log.write(json.dumps(rec) + "\n")
            log.flush()
            tag = "ok   " if not problems else "FAIL "
            print(
                f"{tag} {name} ({rec.get('spark_rows')} rows, "
                f"spark {rec.get('spark_sec')}s, duck {rec.get('duck_sec')}s)",
                flush=True,
            )
    spark.stop()
    print(f"\n{n_fail} failures this run")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
