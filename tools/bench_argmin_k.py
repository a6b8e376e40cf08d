"""Assignment-pass cost curve at large K (VERDICT r11 item 8).

The table-backed centroid rewrite lifted K_MAX 64 -> 4096, but
``best_cell()`` evaluates O(K·dim) work per row through *interpreted*
higher-order-function lambdas (aggregate/zip_with/transform are not
whole-stage-codegen'd), and README's scale lessons record interpreted
HOF lambdas as a known trap. This measures the real curve before it
becomes the next ceiling:

- ``hof``: the production path — ``assign_cells`` (broadcast centroid
  relation + array_min over a transform of per-centroid distance
  structs).
- ``explode``: the codegen-friendly alternative the verdict names —
  posexplode the centroid array, compute the distance as the same HOF
  arithmetic per (row, centroid) pair, ``min_by`` hash aggregate per
  vec_id. Partial aggregation combines map-side, but the n·K
  intermediate rows are materialized into the aggregate.

Corpus: sf0.1 embeddings quantized, replicated REPL× (32k rows) so 32
cores have real work; centroids are synthetic (cost is value-blind).

Usage: python tools/bench_argmin_k.py [sf_dir] [out_json]
Writes one JSON line: {"rows": n, "curve": {"64": {"hof": s, ...}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from de_final_project_spark.operators.kmeans import (  # noqa: E402
    DIM,
    SCALE,
    _quantized,
    assign_cells,
    with_centroids,
    CENT_COL,
)
from de_final_project_spark.session import get_spark  # noqa: E402

REPL = 16
KS = (64, 512, 4096)
BEST_OF = 2


def synth_centroids(k: int) -> list[list[int]]:
    # deterministic, value-blind: the argmin's cost is arithmetic ops,
    # not centroid placement
    return [
        [((j * 17 + d * 31) % 128 - 64) * SCALE for d in range(DIM)]
        for j in range(k)
    ]


def timed(fn) -> float:
    best = float("inf")
    for _ in range(BEST_OF):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def explode_assign(qdf, centroids):
    """posexplode + min_by prototype: one (row, centroid) pair per
    exploded element, distance in codegen-able arithmetic via the same
    zip_with fold, hash-aggregate argmin with map-side combine."""
    dist = F.aggregate(
        F.zip_with(
            F.col("q"),
            F.col("_c")["c"],
            lambda a, b: (a * SCALE - b) * (a * SCALE - b),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        with_centroids(qdf, centroids)
        .select("vec_id", "q", F.explode(CENT_COL).alias("_c"))
        .select("vec_id", F.col("_c")["j"].alias("j"), dist.alias("d"))
        .groupBy("vec_id")
        .agg(F.min_by("j", F.struct("d", "j")).alias("cell"))
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark("bench-argmin-k")
    spark.sparkContext.setLogLevel("ERROR")
    base = _quantized(spark, sf_dir)
    qdf = (
        base.select(
            F.explode(
                F.array(*[F.lit(i) for i in range(REPL)])
            ).alias("_r"),
            "vec_id",
            "q",
        )
        .select(
            (F.col("vec_id") * REPL + F.col("_r")).alias("vec_id"), "q"
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    n = qdf.count()
    curve: dict = {}
    for k in KS:
        cents = synth_centroids(k)
        t_hof = timed(
            lambda: assign_cells(qdf, cents).agg(F.sum("cell")).collect()
        )
        t_exp = timed(
            lambda: explode_assign(qdf, cents).agg(F.sum("cell")).collect()
        )
        curve[str(k)] = {
            "hof_sec": round(t_hof, 3),
            "explode_sec": round(t_exp, 3),
            "hof_us_per_row_centroid": round(t_hof / n / k * 1e6, 4),
        }
        print(json.dumps({"k": k, **curve[str(k)]}), flush=True)
    result = {"rows": n, "repl": REPL, "curve": curve}
    line = json.dumps(result)
    print(line)
    if out:
        with open(out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
