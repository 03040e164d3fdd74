"""Scale evidence for the shortest-path loop: a 200k-node / ~1.6M-edge
synthetic road-ish graph (deterministic xxhash64 chord wiring over a
ring base — expander-like, so the hop diameter stays small and the
measured cost is per-round join/agg work, not round count) settled from
64 sources.  One-shot timing (the loop is the workload), reporting
rounds, wall seconds, and edge-iterations/sec; per-run host steal%
recorded like the main protocol.

Edge weights are deterministic pseudo-random in [10, 1000) m — varied
weights keep the lexicographic improvement path honest (equal weights
would settle almost everything in hop order).

Writes BENCH_SSSP.json and prints it.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
import time

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from benchlib import steal_jiffies as _steal  # noqa: E402


def main() -> None:
    from osmspark.operators.shortest_path import shortest_paths
    from osmspark.session import build_session

    spark = build_session("osmspark-bench-sssp", cores=32)
    n = 200_000
    ids = spark.range(n)
    lanes = [ids.select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 3, F.lit(n)).alias("dst"))]
    for lane in range(1, 8):
        lanes.append(ids.select(
            F.col("id").alias("src"),
            F.pmod(F.xxhash64("id", F.lit(lane)), F.lit(n)).alias("dst")))
    edges = lanes[0]
    for c in lanes[1:]:
        edges = edges.unionByName(c)
    edges = edges.where(F.col("src") != F.col("dst")).select(
        "src", "dst",
        (F.lit(10.0) + F.pmod(F.xxhash64("src", "dst"), F.lit(990))
         .cast("double")).alias("w_m")).persist()
    n_edges = edges.count()
    sources = ids.where(F.col("id") % (n // 64) == 17).select(
        F.col("id").alias("node")).persist()
    n_src = sources.count()

    stats: dict = {}
    t_a, s_a = _steal()
    t0 = time.time()
    dist = shortest_paths(edges, sources, max_rounds=64, stats_out=stats)
    n_settled = dist.count()
    dt = time.time() - t0
    dist.unpersist()
    t_b, s_b = _steal()
    steal = round(100.0 * (s_b - s_a) / max(1, t_b - t_a), 2)

    # isochrone_cells end-to-end on the same graph: the fixpoint above
    # plus coordinate join + native hex assignment + banding (the delta
    # vs the sssp row is the lattice stage's cost); synthetic coords
    # spread the nodes over a ~0.5 x 0.5 degree box
    from osmspark.operators.shortest_path import isochrone_cells

    coords = ids.select(
        F.col("id").alias("id"),
        (F.lit(1.0) + F.pmod(F.xxhash64("id", F.lit(101)), F.lit(5000))
         / F.lit(10000.0)).alias("lat"),
        (F.lit(103.0) + F.pmod(F.xxhash64("id", F.lit(102)), F.lit(5000))
         / F.lit(10000.0)).alias("lon"),
    ).persist()
    coords.count()
    iso_stats: dict = {}
    t_a2, s_a2 = _steal()
    t1 = time.time()
    iso = isochrone_cells(
        edges, coords, sources,
        bands_m=[2_000.0, 5_000.0, 10_000.0, 20_000.0, 50_000.0],
        res=8, node_id="id", max_rounds=64, stats_out=iso_stats)
    n_iso_cells = iso.count()
    dt_iso = time.time() - t1
    t_b2, s_b2 = _steal()
    steal_iso = round(100.0 * (s_b2 - s_a2) / max(1, t_b2 - t_a2), 2)

    out = {
        "metric": "sssp_200k_nodes_sec",
        "queries": {"sssp_200k_nodes_1p6m_edges_64src": round(dt, 3),
                    "isochrone_200k_nodes_r8_5bands": round(dt_iso, 3)},
        "steal_pct": {"sssp_200k_nodes_1p6m_edges_64src": steal,
                      "isochrone_200k_nodes_r8_5bands": steal_iso},
        "n_isochrone_cells": int(n_iso_cells),
        "n_nodes_settled": int(n_settled),
        "n_edges": int(n_edges),
        "n_sources": int(n_src),
        "rounds": stats["rounds"],
        "converged": stats["converged"],
        "edge_iters_per_sec": round(n_edges * stats["rounds"] / dt),
        "cpus": 32,
        "protocol": "one-shot (iterative loop), steal% recorded",
    }
    with open(ROOT / "BENCH_SSSP.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
