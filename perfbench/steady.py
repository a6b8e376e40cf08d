"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py --workload star_batch --seeds 1-10 --out perfbench/evidence/star_batch-set1.json

Runs ``run.py`` once per seed, one run at a time, and records each
end-to-end metric's values, median, quartiles and quartile spread as a
share of the median (``statistics.quantiles(values, n=4)``), plus each
run's wall time and context line. Two sets on the same code, compared
with ``--compare a.json b.json``, give the medians' relative change.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0, "values": values}


def run_set(workload: str, seeds: list[int], seconds: int) -> dict:
    runs = []
    for seed in seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        context = json.loads(next(line for line in out if line.startswith("context "))[8:])
        result = json.loads(out[-1])
        runs.append({"seed": seed, "wall_s": time.perf_counter() - t0,
                     "result": result, "context": context})
        print(json.dumps({"seed": seed, "wall_s": round(runs[-1]["wall_s"], 1),
                          **{k: round(v["value"], 3) for k, v in result["metrics"].items()}}),
              flush=True)
    names = runs[0]["result"]["metrics"]
    return {
        "workload": workload, "seconds": seconds,
        "metrics": {n: spread([r["result"]["metrics"][n]["value"] for r in runs]) for n in names},
        "wall_s": spread([r["wall_s"] for r in runs]),
        "all_correct": all(r["result"]["correct"] and not r["result"]["failed"] for r in runs),
        "runs": runs,
    }


def compare(a: dict, b: dict) -> dict:
    return {n: b["metrics"][n]["median"] / a["metrics"][n]["median"] - 1.0 for n in a["metrics"]}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar=("SET1", "SET2"))
    args = p.parse_args()
    if args.compare:
        a, b = (json.load(open(f)) for f in args.compare)
        print(json.dumps(compare(a, b), indent=1))
        return 0
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    res = run_set(args.workload, _seeds(args.seeds), args.seconds)
    print(json.dumps({n: round(m["iqr_share"], 4) for n, m in res["metrics"].items()}))
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(res, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
