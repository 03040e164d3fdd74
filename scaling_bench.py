"""Two-cluster-size scaling evidence (BASELINE.json:north_rule).

No real cluster exists in this sandbox, so per the driver protocol the SAME
spatial-join + tile-assignment job runs at two parallelism levels on the
same cached input, in fresh taskset-pinned JVMs, and reports docs/sec at
both plus the scaling efficiency eff = (throughput@4N / throughput@N) / 4.

Round-2 finding (measured, see BASELINE.md): this VM throttles PER-CORE
throughput as the active-core count rises — a trivially parallel pure-JVM
job (spark.range -> xxhash64 -> sum, zero shuffle, zero Python) scales at
only ~0.6-0.75 between N and 4N under the identical protocol.  That is a
HOST artifact (frequency/steal), multiplicative in the work term, so no
input size amortizes it; a real N->4N EXECUTOR scale-out adds whole
machines and does not share one socket's turbo/steal budget.  The harness
therefore interleaves a NULL-WORKLOAD CALIBRATION with every engine trial
and reports, alongside raw efficiency:

    normalized_efficiency = eff_engine / eff_null

i.e. the engine's scaling relative to the best any perfectly-parallel
workload can achieve on this box.  normalized ~ 1.0 == the engine adds no
serial/anti-scaling behavior of its own — which is what the >=0.8 criterion
measures on a real cluster.

Usage: python scaling_bench.py [n_docs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osmspark.session import build_session
from osmspark.datagen import gen_polygons
from osmspark.operators.spatial_join import spatial_join
from osmspark.operators.tiles import tile_counts
from osmspark.sources import parse_nodes

cores = int(sys.argv[1]); docs_path = sys.argv[2]; n_docs = int(sys.argv[3])
spark = build_session(f"scale-{{cores}}", cores=cores)
docs = spark.read.parquet(docs_path)
polys = gen_polygons(spark)
# JIT/Arrow warm-up on a small slice, unmeasured (same code paths)
warm = parse_nodes(docs.limit(2000)).select("id", "lat", "lon").persist()
warm.count()
spatial_join(warm, polys, res=8).count()
tile_counts(warm.select("lat", "lon"), zoom=12).count()
warm.unpersist()
t0 = time.time()
nodes = parse_nodes(docs).select("id", "lat", "lon").persist()
nodes.count()  # extraction materialized once (E2' staging), inside the clock
joined = spatial_join(nodes, polys, res=8)
n_pairs = joined.count()
n_tiles = tile_counts(nodes.select("lat", "lon"), zoom=12).count()
dt = time.time() - t0
print(json.dumps({{"cores": cores, "sec": round(dt, 3),
                   "docs_per_sec": round(n_docs / dt, 1),
                   "n_pairs": n_pairs, "n_tiles": n_tiles}}))
spark.stop()
"""

# Shuffle-bound variant (round-4 VERDICT item 8): the extract+PIP+tiles job
# above is broadcast-heavy (the polygon dim broadcasts; the only exchanges
# are the final counts), so its scaling evidence says little about the
# engine's EXCHANGE behavior.  The IVF block-GEMM ANN scan is the opposite
# shape: corpus AND probes each hash-exchange on cid, cogroup GEMM, then a
# query_id exchange for the global top-k — three shuffles on 100k queries x
# 200k vectors, nothing broadcastable.  Centroid training, quantization and
# the probe warm-up run OUTSIDE the clock; the timed section is exactly the
# repeated-scan path that dominates at corpus scale.
IVF_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osmspark.session import build_session
from osmspark.operators.similarity import ivf_topk, train_centroids

cores = int(sys.argv[1]); vecs_path = sys.argv[2]; n_queries = int(sys.argv[3])
spark = build_session(f"scale-ivf-{{cores}}", cores=cores)
vecs = spark.read.parquet(vecs_path).persist()
vecs.count()
cents = train_centroids(vecs, n_centroids=256, iters=1)
# filter, NOT limit(): GlobalLimit funnels every query through ONE
# partition, serializing the probe-UDF stage at any core count
qs = vecs.filter(F.col("vec_id") < n_queries).select(
    F.col("vec_id").alias("query_id"), "embedding")
# JIT/Arrow warm-up on a slice, unmeasured (same code paths)
ivf_topk(vecs, qs.filter(F.col("query_id") < 5000), k=10,
         centroids=cents, nprobe=2).count()
t0 = time.time()
n = ivf_topk(vecs, qs, k=10, centroids=cents, nprobe=2).count()
dt = time.time() - t0
print(json.dumps({{"cores": cores, "sec": round(dt, 3),
                   "queries_per_sec": round(n_queries / dt, 1),
                   "n_results": n}}))
spark.stop()
"""

# Aggregation-exchange-bound variant (round 5): the BM25 scan is a third
# shuffle shape — the probe join is map-side (query terms broadcast, the
# persisted postings stream), and the cost concentrates in the
# (query_id, doc_id) partial+final aggregation exchange (~19M groups from
# ~47M matched postings at 100 queries x 200k docs) plus the per-query
# top-k window exchange.  Index build, corpus replication and warm-up run
# OUTSIDE the clock: what repeats at scale is the scoring scan.
BM25_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osmspark.session import build_session
from osmspark.operators.search import (bm25_topk_indexed, build_postings,
                                       corpus_stats)

cores = int(sys.argv[1]); docs_path = sys.argv[2]; n_queries = int(sys.argv[3])
spark = build_session(f"scale-bm25-{{cores}}", cores=cores)
tdocs = spark.read.parquet(docs_path).select("doc_id", "text")
reps = spark.range(40).select(F.col("id").alias("rep"))
big = tdocs.crossJoin(reps).select(
    (F.col("doc_id") * 40 + F.col("rep")).alias("doc_id"), "text")
post = build_postings(big).persist()
post.count()  # write-once index build, OUTSIDE the clock
# stats collected once to a literal frame (a lazy corpus_stats would
# re-run its postings aggregation inside every timed scan)
srow = corpus_stats(post).collect()[0]
stats = spark.createDataFrame(
    [(srow["n_docs"], srow["avgdl"])], "n_docs long, avgdl double")
_terms = ["hash", "join", "table", "value", "window", "agg", "spark",
          "data", "row", "scan", "fast", "slow", "filter", "query"]
qs = spark.createDataFrame(
    [(i, f"{{_terms[i % 14]}} {{_terms[(i // 14) % 14]}} "
         f"{{_terms[(i * 5 + 3) % 14]}}") for i in range(n_queries)],
    "query_id long, query_text string")
# JIT/Arrow warm-up on a slice, unmeasured (same code paths)
bm25_topk_indexed(post, qs.filter(F.col("query_id") < 20), k=10,
                  stats=stats).count()
t0 = time.time()
n = bm25_topk_indexed(post, qs, k=10, stats=stats).count()
dt = time.time() - t0
print(json.dumps({{"cores": cores, "sec": round(dt, 3),
                   "queries_per_sec": round(n_queries / dt, 1),
                   "n_results": n}}))
spark.stop()
"""

# Join-bound variant (round 5, fourth shape): triangle counting is two
# big-big equi-joins (degree attach, wedge generation, wedge close) with
# NOTHING broadcastable and NO Python — pure exchange+join throughput,
# the shape of every big-big graph/self-join in the engine.  The wedge
# join's output (~sum of oriented-out-degree^2) dominates; degree
# orientation is what keeps it bounded.
TRI_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osmspark.session import build_session
from osmspark.operators.graph import triangle_count

cores = int(sys.argv[1]); edges_path = sys.argv[2]; n_edges = int(sys.argv[3])
spark = build_session(f"scale-tri-{{cores}}", cores=cores)
e = spark.read.parquet(edges_path).persist()
e.count()
# JIT warm-up on a slice, unmeasured (same code paths)
triangle_count(e.filter(F.col("src") < 5000)).collect()
t0 = time.time()
n = triangle_count(e).collect()[0]["n_triangles"]
dt = time.time() - t0
print(json.dumps({{"cores": cores, "sec": round(dt, 3),
                   "edges_per_sec": round(n_edges / dt, 1),
                   "n_triangles": n}}))
spark.stop()
"""

# Null workload: perfectly parallel, zero-shuffle, zero-Python pure-JVM
# codegen loop.  Its N-vs-4N efficiency IS the machine's parallel ceiling.
NULL_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osmspark.session import build_session
cores = int(sys.argv[1]); rows = int(sys.argv[2])
spark = build_session(f"null-{{cores}}", cores=cores)
expr = F.sum(F.xxhash64("id") % 1000000)
spark.range(10_000_000, numPartitions=cores * 4).select(expr).collect()  # warm
t0 = time.time()
spark.range(rows, numPartitions=cores * 8).select(expr).collect()
dt = time.time() - t0
print(json.dumps({{"cores": cores, "sec": round(dt, 3)}}))
spark.stop()
"""

NULL_ROWS = 10_000_000_000  # ~25 s at 2 cores (comparable weather exposure)


def _cpu_sample() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    total = sum(int(x) for x in parts[1:])
    steal = int(parts[8])
    return total, steal


def _run_pinned(script: str, cores: int, argv: list[str]) -> dict:
    t0, s0 = _cpu_sample()
    # taskset hard-caps the WHOLE process tree (JVM task threads + python
    # UDF workers + GC) to exactly `cores` CPUs — local[N] alone lets
    # pandas-UDF worker processes burn CPU outside the N task threads,
    # which inflates the small-N baseline and understates scaling.
    cpu_list = ",".join(str(i) for i in range(cores))
    out = subprocess.run(
        ["taskset", "-c", cpu_list, sys.executable, "-c", script,
         str(cores), *argv],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    t1, s1 = _cpu_sample()
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    r = json.loads(line)
    r["hypervisor_steal_pct"] = round(100 * (s1 - s0) / max(t1 - t0, 1), 1)
    return r


def run_null(cores: int) -> dict:
    return _run_pinned(NULL_CHILD.format(repo=REPO), cores, [str(NULL_ROWS)])


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    job = "pip"
    for flag, name in (("--job=ivf", "ivf"), ("--job=bm25", "bm25"),
                       ("--job=tri", "tri")):
        if flag in sys.argv[1:]:
            job = name
    from osmspark.session import build_session

    if job == "bm25":
        n_units = int(args[0]) if args else 100
        input_path = os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        ) + "/documents.parquet"
        child, unit_key, size_key = BM25_CHILD, "queries_per_sec", "n_queries"
        artifact = "BENCH_SCALING_BM25.json"
        job_desc = ("BM25 scoring scan, 200k-doc postings index, "
                    f"{n_units} queries x ~470k matched postings each "
                    "(aggregation-exchange-bound: broadcast probe join is "
                    "map-side; cost is the (query,doc) partial+final "
                    "aggregate exchange + per-query top-k window)")
    elif job == "tri":
        n_units = int(args[0]) if args else 1_000_000
        from bench import CACHE_ROOT
        input_path = f"{CACHE_ROOT}/tri_edges_{n_units}"
        if not os.path.exists(f"{input_path}/_SUCCESS"):
            from pyspark.sql import functions as F
            spark = build_session("scale-gen", cores=8)
            spark.range(n_units).select(
                F.pmod(F.xxhash64("id"), F.lit(n_units // 10)).alias("src"),
                F.pmod(F.xxhash64(F.col("id") + 1_234_567),
                       F.lit(n_units // 10)).alias("dst"),
            ).write.mode("overwrite").parquet(input_path)
            spark.stop()
        child, unit_key, size_key = TRI_CHILD, "edges_per_sec", "n_edges"
        artifact = "BENCH_SCALING_TRI.json"
        job_desc = ("triangle counting, hash-wired graph, mean degree ~20 "
                    "(join-bound: wedge generation + wedge close are "
                    "big-big shuffled-hash exchanges; the degree-attach "
                    "joins broadcast the counted ~13 MB degree table; "
                    "zero Python)")
    elif job == "pip":
        n_units = int(args[0]) if args else 400_000
        from bench import ensure_docs
        spark = build_session("scale-gen", cores=8)
        input_path = ensure_docs(spark, n_units)
        spark.stop()
        child, unit_key, size_key = CHILD, "docs_per_sec", "n_docs"
        artifact = "BENCH_SCALING.json"
        job_desc = ("extract + two-phase PIP join + tile counts "
                    "(broadcast-heavy: the polygon dim broadcasts)")
    else:
        n_units = int(args[0]) if args else 100_000
        from bench import CACHE_ROOT
        from osmspark.datagen import gen_vectors
        input_path = f"{CACHE_ROOT}/vecs_200000_64"
        if not os.path.exists(f"{input_path}/_SUCCESS"):
            spark = build_session("scale-gen", cores=8)
            gen_vectors(spark, 200_000, 64).write.mode("overwrite") \
                .parquet(input_path)
            spark.stop()
        child, unit_key, size_key = IVF_CHILD, "queries_per_sec", "n_queries"
        artifact = "BENCH_SCALING_IVF.json"
        job_desc = ("IVF block-GEMM ANN scan, 200k-vector corpus "
                    "(shuffle-bound: cid exchanges on corpus AND probes, "
                    "cogroup GEMM, query_id top-k exchange — nothing "
                    "broadcastable)")

    def run_at(cores: int) -> dict:
        return _run_pinned(child.format(repo=REPO), cores,
                           [input_path, str(n_units)])

    # N=2 vs 4N=8: measured /proc/stat steal shows the hypervisor delivers
    # only ~8 effective cores to this VM (30-90% steal when 32 threads run),
    # so 8 threads is the largest honest "cluster size" here.
    n_cores, four_n = 2, 8
    # Interleave ALL FOUR variants per round (engine@N, engine@4N, null@N,
    # null@4N): hypervisor capacity swings minute-to-minute, so every
    # variant sees the same weather windows; best-of (min wall) per variant
    # is the noise-robust estimator.
    trials_n, trials_4n, null_n, null_4n = [], [], [], []
    for _ in range(4):
        trials_n.append(run_at(n_cores))
        trials_4n.append(run_at(four_n))
        null_n.append(run_null(n_cores))
        null_4n.append(run_null(four_n))
    rn = min(trials_n, key=lambda r: r["sec"])
    r4n = min(trials_4n, key=lambda r: r["sec"])
    nn = min(null_n, key=lambda r: r["sec"])
    n4n = min(null_4n, key=lambda r: r["sec"])
    eff = (r4n[unit_key] / rn[unit_key]) / 4.0
    eff_null = (nn["sec"] / n4n["sec"]) / 4.0
    result = {
        "job": job_desc,
        size_key: n_units,
        "N_cores": n_cores,
        "fourN_cores": four_n,
        "run_N": rn,
        "run_4N": r4n,
        "all_trials_N": [r["sec"] for r in trials_n],
        "all_trials_4N": [r["sec"] for r in trials_4n],
        "scaling_efficiency": round(eff, 3),
        "null_workload": {
            "what": "spark.range->xxhash64->sum, pure JVM codegen, "
                    "zero shuffle/Python — machine parallel ceiling",
            "run_N_sec": nn["sec"],
            "run_4N_sec": n4n["sec"],
            "all_trials_N": [r["sec"] for r in null_n],
            "all_trials_4N": [r["sec"] for r in null_4n],
            "efficiency": round(eff_null, 3),
        },
        "normalized_efficiency": round(eff / eff_null, 3) if eff_null else None,
        "criterion": "efficiency >= 0.8 between N and 4N (north_rule); "
                     "normalized_efficiency = engine eff / machine-ceiling "
                     "eff under the identical interleaved protocol",
        "note": "local[N] threads stand in for executors (no cluster in "
                "sandbox); this VM throttles per-core throughput as active "
                "cores rise (the null workload measures that ceiling), an "
                "artifact a real executor scale-out does not have",
    }
    print(json.dumps(result))
    with open(os.path.join(REPO, artifact), "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
