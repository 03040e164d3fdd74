"""Scale evidence for the PageRank loop: a 100k-node / ~1.1M-edge
synthetic domain graph (deterministic xxhash64 wiring: a power-ish hub
layer over a ring-of-chords base, plus 1% dangling sinks) iterated to
tol=1e-3.  One-shot timing (the loop is the workload — there is no
steady-state plan to warm separately beyond the first rounds' codegen),
reporting rounds, wall seconds, and edge-iterations/sec; per-run host
steal% recorded like the main protocol.

Writes BENCH_PAGERANK.json and prints it.
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
    from osmspark.operators.pagerank import pagerank
    from osmspark.session import build_session

    spark = build_session("osmspark-bench-pagerank", cores=32)
    n = 100_000
    ids = spark.range(n)
    base = ids.select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 3, F.lit(n)).alias("dst"))
    # 9 chord lanes -> ~1M edges total
    chords = None
    for lane in range(1, 10):
        c = ids.select(
            F.col("id").alias("src"),
            F.pmod(F.xxhash64("id", F.lit(lane)), F.lit(n)).alias("dst"))
        chords = c if chords is None else chords.unionByName(c)
    # hub layer: every 10th node also links to one of 100 hubs
    hubs = ids.where(F.col("id") % 10 == 0).select(
        F.col("id").alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(100)).alias("dst"))
    # 1% of nodes link INTO dangling sinks (ids >= n)
    sinks = ids.where(F.col("id") % 100 == 7).select(
        F.col("id").alias("src"), (F.col("id") + n).alias("dst"))
    edges = base.unionByName(chords).unionByName(hubs).unionByName(
        sinks).persist()
    n_edges = edges.count()

    stats: dict = {}
    t_a, s_a = _steal()
    t0 = time.time()
    ranks = pagerank(edges, tol=1e-4, max_iter=120, stats_out=stats)
    n_nodes = ranks.count()
    dt = time.time() - t0
    t_b, s_b = _steal()
    steal = round(100.0 * (s_b - s_a) / max(1, t_b - t_a), 2)

    out = {
        "metric": "pagerank_100k_nodes_sec",
        "queries": {"pagerank_100k_1m_edges_rtol1e4": round(dt, 3)},
        "steal_pct": {"pagerank_100k_1m_edges_rtol1e4": steal},
        "n_nodes": int(n_nodes),
        "n_edges": int(n_edges),
        "rounds": stats["rounds"],
        "converged": stats["converged"],
        "edge_iters_per_sec": round(n_edges * stats["rounds"] / dt),
        "rtol": 1e-4,
        "cpus": 32,
        "protocol": "one-shot (iterative loop), steal% recorded",
    }
    with open(ROOT / "BENCH_PAGERANK.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
