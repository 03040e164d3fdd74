"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the north-star pipeline (BASELINE.json:metric): interleaved
documents -> span extraction -> hex cell assignment -> two-phase PIP join ->
tile assignment, reported as docs/sec.

Noise protocol (round-3; this VM shows hypervisor steal spikes and 3-13x
first-run JIT penalties): every hot path is warmed once unmeasured, then
the WHOLE suite runs N_TRIALS times interleaved; `queries` reports the
per-query BEST (calm-window estimate), and the artifact itself carries the
full per-trial times and the per-trial host steal%% (`trials`, `steal_pct`,
`queries_median`) so a recorded number can be audited against the narrative
without a re-run (round-2 VERDICT item: the committed artifact must agree
with BASELINE.md within stated noise bounds).

`queries_extra` holds non-comparable scale-evidence entries (excluded
from `value`; the long 100k-query kNN runs once, the cheaper extras are
best-of-2 via `best_of`): distributed 100k-query kNN and IVF, the
storage-layout kNN batch, and the adaptive mixed-dim PIP join.

The spans input is generated Spark-side (osmspark.datagen — deterministic,
distributed, no Python per row) and cached as parquet under /tmp keyed by
doc count, so repeated runs measure the engine, not the generator.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

N_DOCS_BY_SF = {"sf0.001": 2_000, "sf0.01": 20_000, "sf0.1": 200_000}
CACHE_ROOT = "/tmp/osmspark-bench"
N_TRIALS = int(os.environ.get("OSMSPARK_BENCH_TRIALS", "3"))


def ensure_docs(spark, n_docs: int) -> str:
    """Generate-and-cache the spans documents table."""
    from osmspark.datagen import gen_documents

    path = f"{CACHE_ROOT}/docs_{n_docs}"
    marker = f"{path}/_SUCCESS"
    if not os.path.exists(marker):
        gen_documents(spark, n_docs).write.mode("overwrite").parquet(path)
    return path


def _read_steal():
    """(steal_jiffies, total_jiffies) from /proc/stat — host noise audit."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except Exception:
        return 0, 1


def timed(fn):
    s0, j0 = _read_steal()
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    s1, j1 = _read_steal()
    steal_pct = round(100.0 * (s1 - s0) / max(j1 - j0, 1), 2)
    return out, round(dt, 3), steal_pct


def best_of(fn, n=2):
    """min-wall of n timed runs — the noise-robust estimator for the
    cheap `queries_extra` entries (a single shot can catch the previous
    query's GC shadow)."""
    return min((timed(fn) for _ in range(n)), key=lambda r: r[1])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/"))
    n_docs = N_DOCS_BY_SF.get(sf, 200_000)

    from osmspark.datagen import gen_polygons
    from osmspark.functions.hexgrid import with_hex_cell
    from osmspark.operators import audit
    from osmspark.operators.knn import knn_kring
    from osmspark.operators.spatial_join import spatial_join
    from osmspark.operators.tiles import render_density_tiles, tile_counts
    from osmspark.plans.checkpoint import SnapshotStore
    from osmspark.session import build_session
    from osmspark.sources import parse_nodes

    spark = build_session("osmspark-bench", cores=cpus)
    docs_path = ensure_docs(spark, n_docs)
    docs = spark.read.parquet(docs_path)
    polys = gen_polygons(spark)

    # JIT/Arrow/parquet warm-up, unmeasured: this VM shows 3-13x first-run
    # JIT penalties even on trivial JVM jobs, so exercise every hot path
    # once on a hash-sample (filter keeps partition structure; limit()
    # would collapse to one task and warm nothing).
    warm_docs = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(20)) < 1)
    warm_nodes = parse_nodes(warm_docs).select("id", "lat", "lon").persist()
    warm_nodes.count()
    warm_nodes.write.mode("overwrite").parquet(f"{CACHE_ROOT}/warmup_out")
    spatial_join(warm_nodes, polys, res=8).count()
    tile_counts(warm_nodes.select("lat", "lon"), zoom=12).count()
    render_density_tiles(warm_nodes.select("lat", "lon"), zoom=12, px=64).count()
    with_hex_cell(warm_nodes.select("lat", "lon"), 9).count()
    qs_warm = warm_nodes.limit(50).select(
        F.col("id").alias("query_id"), "lat", "lon")
    knn_kring(warm_nodes, qs_warm, k=10).count()
    warm_nodes.unpersist()

    # Stage 1 (E2' in SURVEY §3.2): extract once -> columnar snapshot.
    # At 100 TB you never re-parse interleaved payloads per query; the
    # shaped nodes table is materialized (B8 snapshot) and every
    # downstream query reads pruned parquet columns.
    store = SnapshotStore(f"{CACHE_ROOT}/stages_{n_docs}_{cpus}")

    def _extract_to(stage: str):
        nodes = parse_nodes(docs).select(
            "id", "lat", "lon", F.col("tags")["addr:street"].alias("street")
        )
        return store.save(nodes, stage, inputs=[docs_path])["n_rows"]

    def q_extract():
        # timed trials write a SCRATCH stage: overwriting the stage that
        # downstream queries read mid-suite would delete files under them
        return _extract_to("nodes_timed")

    # establish the stable snapshot once; downstream queries read this
    _extract_to("nodes")
    nodes = store.load(spark, "nodes")

    def q_spatial():
        joined = spatial_join(nodes.select("id", "lat", "lon"), polys, res=8)
        return joined.groupBy("level").agg(F.count("*").alias("cnt")).collect()

    def q_tiles():
        pts = nodes.select("lat", "lon")
        tc = tile_counts(pts, zoom=12)
        rr = render_density_tiles(pts, zoom=12, px=64)
        return tc.count() + rr.count()

    def q_cells():
        return with_hex_cell(nodes.select("lat", "lon"), 9).agg(
            F.countDistinct("hex_r9")
        ).collect()

    def q_audit():
        streets = nodes.select("street").filter(F.col("street").isNotNull())
        return audit.normalized_street_counts(streets).collect()

    def q_knn():
        pts = nodes.select("id", "lat", "lon")
        qs = pts.limit(50).select(F.col("id").alias("query_id"), "lat", "lon")
        return knn_kring(pts, qs, k=10).count()

    def q_knn_5k():
        pts = nodes.select("id", "lat", "lon")
        qs = pts.limit(5000).select(F.col("id").alias("query_id"), "lat", "lon")
        return knn_kring(pts, qs, k=10).count()

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def q_tpch():
        return (
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity"), F.sum("l_extendedprice"),
                F.avg("l_discount"), F.count("*"),
            )
            .collect()
        )

    suite = [
        ("span_extract_snapshot", q_extract),
        ("spatial_pip_join", q_spatial),
        ("tile_render", q_tiles),
        ("hex_cell_assign", q_cells),
        ("audit_normalize", q_audit),
        ("knn_kring_50q", q_knn),
        ("knn_kring_5000q", q_knn_5k),
        ("tpch_q1", q_tpch),
    ]
    trials: dict[str, list[float]] = {name: [] for name, _ in suite}
    steals: dict[str, list[float]] = {name: [] for name, _ in suite}
    for _ in range(N_TRIALS):
        for name, fn in suite:
            _, dt, sp = timed(fn)
            trials[name].append(dt)
            steals[name].append(sp)
    queries = {name: min(ts) for name, ts in trials.items()}
    queries_median = {name: round(statistics.median(ts), 3)
                      for name, ts in trials.items()}

    # (The O(P*Q) brute-force kNN reference path is intentionally NOT part
    # of the timed suite — measured separately at sf0.1: ~0.7-0.9 s/query
    # vs ~2 ms/query for kring at 5000 queries; see BASELINE.md.)

    # scale evidence, excluded from `value` (not comparable to earlier
    # rounds): one 100k-query kNN batch (the batch is fetched to the
    # Spark driver and shipped to the points' partitions in one map-side pass)
    # — this long entry runs ONCE; the cheaper extras below are best-of-2
    def q_knn_100k():
        pts = nodes.select("id", "lat", "lon")
        qs = pts.limit(100_000).select(
            F.col("id").alias("query_id"), "lat", "lon")
        return knn_kring(pts, qs, k=10).count()

    _, t_100k, s_100k = timed(q_knn_100k)
    extras = {"knn_kring_100kq": t_100k}
    extra_steals = {"knn_kring_100kq": s_100k}

    # storage-layout kNN (round-3 VERDICT item 7): write the cell-bucketed
    # layout ONCE (unmeasured — it is part of the table's storage, like an
    # Iceberg bucket transform), then run a 5000-query batch over the
    # layout's cell-clustered partitions — compare with knn_kring_5000q
    # above, which reads the snapshot's own partitions.  The layout res
    # comes from the occupancy rule.
    from osmspark.plans.layout import ensure_cell_bucketed, occupancy_res

    layout_res = occupancy_res(nodes.select("id", "lat", "lon"), 8, k=10)
    lnodes = ensure_cell_bucketed(nodes.select("id", "lat", "lon"),
                                  f"{CACHE_ROOT}/layout_{n_docs}_{cpus}",
                                  layout_res)
    # SAME query rows as knn_kring_5000q (the bucket-repartitioned layout
    # reorders rows, so limiting lnodes would sample a different — and
    # differently clustered — query set and conflate layout savings with
    # query-set variance; round-4 review finding)
    layout_qs = nodes.limit(5000).select(
        F.col("id").alias("query_id"), "lat", "lon")

    def q_knn_layout_5k():
        return knn_kring(lnodes, layout_qs, k=10).count()

    # best-of-2 for the cheap extras: a single shot right after the 100k
    # kNN run can catch its GC shadow (observed: 15.6 s one-shot vs 8.1 s
    # controlled on the same queries)
    q_knn_layout_5k()  # warm
    _, t_lay, s_lay = best_of(q_knn_layout_5k)
    extras["knn_layout_5000q"] = t_lay
    extra_steals["knn_layout_5000q"] = s_lay

    # 100k-query IVF ANN over 200k synthetic vectors (round-3 VERDICT item
    # 1 'done' criterion): probe assignment is a pandas UDF on the queries
    # DataFrame and the scan is the per-bucket block-GEMM cogroup — no
    # driver collect of the query set anywhere in the path
    from osmspark.datagen import gen_vectors
    from osmspark.operators.similarity import ivf_topk, train_centroids

    vecs = gen_vectors(spark, 200_000, 64).persist()
    vecs.count()
    cents = train_centroids(vecs, n_centroids=256, iters=1)
    # filter, NOT limit(): GlobalLimit funnels all 100k queries through a
    # single partition, serializing the probe-UDF stage at any core count
    # (found via the 2-vs-8-core scaling protocol, round 5)
    ivf_qs = vecs.filter(F.col("vec_id") < 100_000).select(
        F.col("vec_id").alias("query_id"), "embedding")

    def q_ivf_100k():
        return ivf_topk(vecs, ivf_qs, k=10, centroids=cents,
                        nprobe=2).count()

    q_ivf_100k()  # warm (JIT + Arrow path), unmeasured
    _, t_ivf, s_ivf = best_of(q_ivf_100k)
    extras["ivf_gemm_100kq"] = t_ivf
    extra_steals["ivf_gemm_100kq"] = s_ivf

    # same scan over the int8-quantized corpus (round-4 VERDICT item 7).
    # The quantized table is persisted BEFORE timing — at 10^12 docs the
    # corpus is stored quantized, so quantization cost is write-path, not
    # per-scan; what's timed is what repeats: the cid shuffle (1-byte
    # lanes, 4-8x fewer bytes than float) + the cogroup GEMM
    from osmspark.operators.similarity import quantize_embeddings

    vecs8 = quantize_embeddings(vecs).select("vec_id", "qvec").persist()
    vecs8.count()

    def q_ivf_int8_100k():
        return ivf_topk(vecs8, ivf_qs, k=10, centroids=cents, nprobe=2,
                        vec_col="qvec").count()

    q_ivf_int8_100k()  # warm
    _, t_ivf8, s_ivf8 = best_of(q_ivf_int8_100k)
    extras["ivf_gemm_int8_100kq"] = t_ivf8
    extra_steals["ivf_gemm_int8_100kq"] = s_ivf8
    vecs8.unpersist()

    # ADC scan over the PQ-compressed corpus (round-5 extension): the
    # corpus side of the cid shuffle ships an 8-BYTE binary code per
    # vector (64x less than the float64 array, 8x less than int8) and
    # the cogroup kernel scores each row with m lookup-table gathers —
    # dim never appears in the per-row scan cost.  Codebooks trained
    # once and the encoded table persisted BEFORE timing, mirroring the
    # int8 row's store-once argument: what repeats at scale is the
    # code-table shuffle + ADC, not the encode.
    from osmspark.operators.pq import ivf_pq_index, ivf_pq_topk, train_pq
    from osmspark.operators.similarity import _assign_udf

    wc = vecs.withColumn("cid", _assign_udf(cents)(F.col("embedding")))
    books = train_pq(wc, m=8, n_codes=256, iters=1,
                     centroids=cents, cid_col="cid")
    enc_pq = ivf_pq_index(vecs, cents, books).persist()
    enc_pq.count()

    def q_ivf_pq_100k():
        return ivf_pq_topk(enc_pq, ivf_qs, k=10, centroids=cents,
                           codebooks=books, nprobe=2).count()

    q_ivf_pq_100k()  # warm
    _, t_pq, s_pq = best_of(q_ivf_pq_100k)
    extras["ivf_pq_100kq"] = t_pq
    extra_steals["ivf_pq_100kq"] = s_pq
    enc_pq.unpersist()
    vecs.unpersist()

    # BM25 top-k over a persisted postings index (round-5 search
    # operator).  Corpus: the sf documents table replicated to ~200k
    # docs (ids shifted; replication preserves the vocabulary and df
    # skew).  The testdata vocabulary is tiny (31 terms, df ~0.78N), so
    # every 3-term query matches most of the corpus — ~47M matched
    # postings for 100 queries, a worst-case load on the scoring
    # aggregation rather than a selective-retrieval best case.  The
    # index build is the write-once pass and persists BEFORE timing;
    # what repeats at scale is broadcast-join + partial-agg sum +
    # per-query top-k.
    from osmspark.operators.search import (bm25_topk_indexed,
                                           build_postings, corpus_stats)

    tdocs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    reps = spark.range(40).select(F.col("id").alias("rep"))
    # the crossJoin inherits the one-file parquet's SINGLE partition — any
    # downstream map-side explode (postings build, LM gram counting) would
    # run as one task; spread the corpus once and persist it
    big_docs = tdocs.crossJoin(reps).select(
        (F.col("doc_id") * 40 + F.col("rep")).alias("doc_id"), "text"
    ).repartition(64, "doc_id").persist()
    big_docs.count()
    post = build_postings(big_docs).persist()
    post.count()
    # stats collected ONCE to a literal frame — a lazy corpus_stats
    # would re-run its postings aggregation inside every timed trial
    srow = corpus_stats(post).collect()[0]
    bm_stats = spark.createDataFrame(
        [(srow["n_docs"], srow["avgdl"])], "n_docs long, avgdl double")
    _terms = ["hash", "join", "table", "value", "window", "agg", "spark",
              "data", "row", "scan", "fast", "slow", "filter", "query"]
    bm_qs = spark.createDataFrame(
        [(i, f"{_terms[i % 14]} {_terms[(i // 14) % 14]} "
             f"{_terms[(i * 5 + 3) % 14]}") for i in range(100)],
        "query_id long, query_text string")

    def q_bm25_100q():
        return bm25_topk_indexed(post, bm_qs, k=10, stats=bm_stats).count()

    q_bm25_100q()  # warm
    _, t_bm, s_bm = best_of(q_bm25_100q)
    extras["bm25_100q_200kdocs"] = t_bm
    extra_steals["bm25_100q_200kdocs"] = s_bm
    post.unpersist()

    # n-gram LM perplexity scoring (round-5 curation signal): trigram
    # add-k LM trained ONCE on the same ~200k-doc corpus (write-once,
    # persisted before timing), then EVERY doc scored — two hash
    # equi-joins + a per-doc aggregate.  The testdata vocabulary is tiny
    # so the LM table itself is small; what this row measures is the
    # doc-side gram explode + join + aggregate throughput, the part
    # that repeats at scale (the LM deliberately stays on the default
    # shuffle-join path, not the broadcast knob a 31-term vocab would
    # permit, so the timed plan is the 100 TB-shaped one).
    from osmspark.operators.ngram_lm import score_perplexity, train_ngram_lm

    lm_counts, lm_V = train_ngram_lm(big_docs, n=3)
    lm_counts = lm_counts.persist()
    lm_counts.count()

    def q_ngram_ppl():
        return (
            score_perplexity(big_docs, lm_counts, lm_V, n=3)
            .agg(F.sum("lm_ngrams")).collect()[0][0]
        )

    q_ngram_ppl()  # warm
    _, t_lm, s_lm = best_of(q_ngram_ppl)
    extras["ngram_ppl_200kdocs"] = t_lm
    extra_steals["ngram_ppl_200kdocs"] = s_lm
    lm_counts.unpersist()
    big_docs.unpersist()

    # PIP join over a MIXED-SIZE dim (the continent path): the km-scale
    # zip/admin grid PLUS an Antarctica-style polar cap and a 150-deg-wide
    # box containing the whole city.  min_res=3 gives each polygon its own
    # cover res, which keeps the broadcast cover bounded; the wide box
    # makes every point a candidate, and its certified-interior cells let
    # the refine keep them without a ray-cast (the realistic worst case
    # of a global polygon over a dense region)
    import math

    cap = [(-65.0 + 4.0 * math.sin(math.radians(2.0 * lo)), float(lo))
           for lo in range(-180, 181, 10)][::-1]
    box = ([(-10.0, float(lo)) for lo in range(0, 151, 30)]
           + [(40.0, float(lo)) for lo in range(150, -1, -30)]
           + [(-10.0, 0.0)])
    extra_polys = spark.createDataFrame(
        [("polar_cap", "admin",
          [{"lat": a, "lon": o} for a, o in cap], None),
         ("wide_box", "admin",
          [{"lat": a, "lon": o} for a, o in box], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    mixed_dim = polys.unionByName(extra_polys)

    def q_pip_adaptive():
        return (
            spatial_join(nodes.select("id", "lat", "lon"), mixed_dim,
                         res=8, min_res=3, max_cover_cells=8192)
            .groupBy("poly_id").agg(F.count("*").alias("cnt")).count()
        )

    q_pip_adaptive()  # warm
    _, t_ad, s_ad = best_of(q_pip_adaptive)
    extras["pip_adaptive_mixed_dim"] = t_ad
    extra_steals["pip_adaptive_mixed_dim"] = s_ad

    # within-distance (radius) join, round-4 B5b: 5000 query disks of 2 km
    # over the full node set — per-query local-scale ring counts, Arrow
    # disk-cell generation, equi-join on cell, native haversine filter.
    # count() forces the full membership set (output-row bound, unlike
    # kNN's top-k cut)
    from osmspark.operators.radius_join import within_distance_join

    radius_qs = nodes.limit(5000).select(
        F.col("id").alias("query_id"), "lat", "lon")

    def q_radius_5k():
        return within_distance_join(
            nodes.select("id", "lat", "lon"), radius_qs, 2000.0).count()

    q_radius_5k()  # warm
    _, t_rad, s_rad = best_of(q_radius_5k)
    extras["radius_join_2km_5000q"] = t_rad
    extra_steals["radius_join_2km_5000q"] = s_rad

    total = round(sum(queries.values()), 3)
    docs_per_sec = round(
        n_docs / (queries["span_extract_snapshot"]
                  + queries["spatial_pip_join"]), 1)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "queries_median": queries_median,
                "trials": trials,
                "steal_pct": steals,
                "queries_extra": extras,
                "extra_steal_pct": extra_steals,
                "protocol": f"interleaved best-of-{N_TRIALS}, warmed, "
                            "per-trial host steal% recorded",
                "sf": sf,
                "n_docs": n_docs,
                "cpus": cpus,
                "spatial_docs_per_sec": docs_per_sec,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
