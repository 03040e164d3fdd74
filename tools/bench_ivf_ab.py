"""A/B the three IVF scan implementations at a big-batch candidate volume
(round 4): the claim in similarity.py's docstrings — native zip_with dot is
right for small candidate sets, Arrow-batched numpy dot wins at 10^7+
pairs, and the per-bucket block GEMM wins again by shuffling each side
once instead of per pair — must be measured, not asserted.

Writes BENCH_IVF_AB.json: per-variant best-of-N wall seconds with host
steal%% per trial, plus the candidate-pair volume.

Usage: python tools/bench_ivf_ab.py [n_vectors] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

N_TRIALS = int(os.environ.get("OSMSPARK_BENCH_TRIALS", "2"))

# ONE timing/steal protocol for every artifact: reuse bench.py's helper so
# a steal-accounting fix there reaches these numbers too (round-4 review
# finding — a local reimplementation would drift silently)
from bench import timed as _bench_timed  # noqa: E402


def timed(fn):
    _, dt, steal = _bench_timed(fn)
    return dt, steal


def main() -> None:
    n_vec = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    n_cent, nprobe, k = 256, 2, 10

    from pyspark.sql import functions as F

    from osmspark.datagen import gen_vectors
    from osmspark.operators.similarity import (
        ivf_topk, ivf_topk_gemm, train_centroids,
    )
    from osmspark.session import build_session

    spark = build_session("ivf-ab", cores=32)
    vecs = gen_vectors(spark, n_vec, 64).persist()
    vecs.count()
    cents = train_centroids(vecs, n_centroids=n_cent, iters=1)
    # filter, NOT limit(): GlobalLimit would funnel the query set through
    # one partition and serialize the probe-UDF stage (round-5 finding)
    qs = vecs.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), "embedding")
    est_pairs = n_q * nprobe * (n_vec // n_cent)

    variants = {
        "pair_join_native_dot": lambda: ivf_topk(
            vecs, qs, k=k, centroids=cents, nprobe=nprobe,
            broadcast_queries=False, sim_impl="native").count(),
        "pair_join_arrow_dot": lambda: ivf_topk(
            vecs, qs, k=k, centroids=cents, nprobe=nprobe,
            broadcast_queries=False, sim_impl="arrow").count(),
        "bucket_gemm": lambda: ivf_topk_gemm(
            vecs, qs, k=k, centroids=cents, nprobe=nprobe).count(),
    }
    trials: dict[str, list] = {name: [] for name in variants}
    steals: dict[str, list] = {name: [] for name in variants}
    for name, fn in variants.items():
        fn()  # warm (JIT + Arrow), unmeasured
    for _ in range(N_TRIALS):  # interleaved: shared weather windows
        for name, fn in variants.items():
            dt, sp = timed(fn)
            trials[name].append(dt)
            steals[name].append(sp)
    out = {
        "n_vectors": n_vec,
        "n_queries": n_q,
        "n_centroids": n_cent,
        "nprobe": nprobe,
        "k": k,
        "est_candidate_pairs": est_pairs,
        "best_sec": {n: min(t) for n, t in trials.items()},
        "trials": trials,
        "steal_pct": steals,
        "protocol": f"interleaved best-of-{N_TRIALS}, warmed",
    }
    print(json.dumps(out))
    with open(ROOT / "BENCH_IVF_AB.json", "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
