"""Trace every Spark job fired by one run of each named query, after one
warm-up query in the same session.

For each query it prints the job timeline (id, [submission .. completion]
in seconds from the query's first job, ``∥`` when the job overlaps an
earlier one's window, task count, name), then the wall time and the
job count, stage count and summed job time; the gap between the summed
job time and the wall time is driver time. Redirect stdout to keep it.

Usage: python tools/job_trace.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from de_final_project_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _rest(sc, what: str) -> list[dict]:
    """One page of the status REST API (``jobs`` or ``stages``)."""
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{what}"
    with urllib.request.urlopen(url, timeout=20) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def _run(spark, fn) -> float:
    t0 = time.perf_counter()
    fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark("job-trace")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = entry_mod.queries()
    _run(spark, qs["dim_customer"])
    for name in sys.argv[1:]:
        jobs0 = {j["jobId"] for j in _rest(sc, "jobs")}
        stages0 = len(_rest(sc, "stages"))
        wall = _run(spark, qs[name])
        jobs = sorted(
            (j for j in _rest(sc, "jobs") if j["jobId"] not in jobs0),
            key=lambda j: j["jobId"],
        )
        stages = len(_rest(sc, "stages")) - stages0
        print(f"QUERY {name}")
        t0 = min((_ts(j["submissionTime"]) for j in jobs), default=0.0)
        busy, end = 0.0, None
        for j in jobs:
            s = _ts(j["submissionTime"]) - t0
            e = _ts(j["completionTime"]) - t0 if "completionTime" in j else s
            mark = "∥" if end is not None and s < end - 1e-3 else "."
            end = e if end is None else max(end, e)
            busy += e - s
            print(
                f"  {mark} job {j['jobId']:>4}  [{s:8.3f} .. {e:8.3f}]s  "
                f"tasks {j['numTasks']:>4}  "
                f"{(j.get('description') or j['name'])[:90]}"
            )
        print(
            f"  wall {wall:.2f}s  jobs {len(jobs)}  stages {stages}  "
            f"summed job time {busy:.2f}s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
