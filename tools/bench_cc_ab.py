"""A/B the star pre-contraction in `min_label_components` on the
BENCH_MISC dbscan workload (200k points, ~2000 dense blobs, eps 60 m,
min_pts 5 — the component graph is ~1.8M symmetrized edges in ~2000
dense cliques, exactly the shape contraction targets) plus a raw
component pass on the extracted eps-graph, so the component engine is
also measured in isolation from the eps join.

Protocol matches bench_misc.py: warmed best-of-2, per-run steal%.
Writes BENCH_CC_AB.json and prints it.
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
    from osmspark.operators import dedup
    from osmspark.operators.cluster import dbscan
    from osmspark.session import build_session

    spark = build_session("osmspark-bench-cc-ab", cores=32)

    results: dict = {}
    steals: dict = {}

    def bench(name, fn, best_of=2):
        fn()
        best = None
        bsteal = 0.0
        for _ in range(best_of):
            t_a, s_a = _steal()
            t0 = time.time()
            fn()
            dt = time.time() - t0
            t_b, s_b = _steal()
            sp = round(100.0 * (s_b - s_a) / max(1, t_b - t_a), 2)
            if best is None or dt < best:
                best, bsteal = dt, sp
        results[name] = round(best, 3)
        steals[name] = bsteal
        print(f"{name}: {best:.3f}s (steal {bsteal}%)", flush=True)

    # same deterministic blob corpus as bench_misc.py's dbscan row
    def _u(h, salt, mod=999_983):
        return F.pmod(F.xxhash64(h + F.lit(salt)), F.lit(mod)) / F.lit(
            float(mod))

    blob = F.col("id") % 2000
    pts_blob = spark.range(200_000).select(
        F.col("id"),
        (F.lit(1.0) + _u(blob, 0) * F.lit(0.5)
         + (_u(F.col("id"), 7) - F.lit(0.5)) * F.lit(0.002)).alias("lat"),
        (F.lit(103.5) + _u(blob, 1_000_000) * F.lit(0.6)
         + (_u(F.col("id"), 13) - F.lit(0.5)) * F.lit(0.002)).alias("lon"),
    ).persist()
    pts_blob.count()

    # isolate the component engine: materialize the eps pair list once,
    # then run ONLY min_label_components both ways on it
    from osmspark.operators.radius_join import within_distance_pairs

    pairs = within_distance_pairs(
        pts_blob.select(F.col("id"), "lat", "lon"), 60.0
    ).select("a", "b").persist()
    n_pairs = pairs.count()
    print(f"eps-graph pairs: {n_pairs}", flush=True)

    bench("components_plain_1p8m_edges",
          lambda: dedup.min_label_components(pairs, contract=False).count())
    bench("components_contracted_1p8m_edges",
          lambda: dedup.min_label_components(pairs, contract=True).count())

    # end-to-end dbscan row, both paths (contract rides the default)
    bench("dbscan_200k_pts_60m_contracted",
          lambda: dbscan(pts_blob, 60.0, 5).count())

    out = {
        "metric": "cc_star_contraction_ab_sec",
        "queries": results,
        "steal_pct": steals,
        "n_eps_pairs": int(n_pairs),
        "cpus": 32,
        "protocol": "warmed best-of-2, per-run steal% recorded",
    }
    with open(ROOT / "BENCH_CC_AB.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
