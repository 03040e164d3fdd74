"""Physical-plan audit -> EXPLAINS.md (task spec: '.explain("formatted")
the plan and iterate until it's the plan you'd want').

Captures, for each headline operator, the formatted physical plan plus the
scale-relevant assertions a reviewer should check:
  * parquet scans show ReadSchema pruning + PushedFilters
  * dim joins are BroadcastHashJoin (no shuffle of the big side)
  * group-counts are partial+final HashAggregate
  * top-k compiles to TakeOrderedAndProject (no global sort)
  * Python appears only as ArrowEvalPython (vectorized), never
    BatchEvalPython (row-wise)
"""

from __future__ import annotations

import io
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _final(plan: str) -> str:
    """The AQE final plan tree of a formatted plan (drops the initial
    plan and the per-node details)."""
    return plan.split("== Initial Plan ==")[0]


def _subtree(plan: str, node: str) -> list[str]:
    """The final-plan tree lines of the first `node` and everything below
    it (lines indented deeper than the node's own name)."""
    lines = _final(plan).splitlines()

    def col(line):
        return len(line) - len(line.lstrip(" +-:"))

    i = next(i for i, ln in enumerate(lines) if node in ln)
    sub = [lines[i]]
    for ln in lines[i + 1:]:
        if col(ln) <= col(lines[i]):
            break
        sub.append(ln)
    return sub


def _python_udfs(plan: str) -> list[str]:
    """UDF name of each ArrowEvalPython node in the final plan tree, one
    entry per node (a node's details are listed once, under its id)."""
    ids = re.findall(r"ArrowEvalPython \((\d+)\)", _final(plan))
    return [re.search(rf"\n\({i}\) ArrowEvalPython\n(?:.*\n)*?"
                      r"Arguments: \[(\w+)\(", plan).group(1) for i in ids]


def _stencil_explodes(plan: str) -> int:
    """Final-plan Generate nodes that explode a literal array — the
    lattice operators' stencil (the fixture's own parse explodes read
    columns, not literals)."""
    ids = re.findall(r"Generate \((\d+)\)", _final(plan))
    return sum(bool(re.search(
        rf"\n\({i}\) Generate[^\n]*\nInput[^\n]*\nArguments: explode\(\[",
        plan)) for i in ids)


def _first_join_or_union(plan: str, node: str) -> str:
    """The first join or union line in the final-plan subtree of `node`."""
    return next((ln.strip(" +-:*") for ln in _subtree(plan, node)
                 if "Join" in ln or "Union" in ln), "")


CHECKS = {
    "ReadSchema pruning": lambda p: "ReadSchema" in p,
    "no row-wise python (BatchEvalPython)": lambda p: "BatchEvalPython" not in p,
}


def main() -> None:
    from osmspark.datagen import gen_documents, gen_polygons
    from osmspark.operators import audit
    from osmspark.operators.spatial_join import spatial_join
    from osmspark.operators.tiles import tile_counts
    from osmspark.session import build_session
    from osmspark.sources import parse_nodes

    spark = build_session("explain", cores=8,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    # materialize to parquet so plans show the real FileScan
    # (PushedFilters / ReadSchema), as they would against Iceberg/parquet
    gen_documents(spark, 2000).write.mode("overwrite").parquet(
        "/tmp/osmspark-explain-docs"
    )
    docs = spark.read.parquet("/tmp/osmspark-explain-docs")
    nodes = parse_nodes(docs)
    polys = gen_polygons(spark)

    sections = []

    def add(name, df, expect):
        df.collect()  # execute THIS df so its AQE plan finalizes (codegen ids)
        p = plan_of(df)
        oks = []
        for label in expect:
            ok = label in p if isinstance(label, str) else label[1](p)
            tag = label if isinstance(label, str) else label[0]
            oks.append(f"  - [{'x' if ok else ' '}] {tag}")
        sections.append(
            f"## {name}\n\nAssertions:\n" + "\n".join(oks)
            + "\n\n```\n" + p.strip() + "\n```\n"
        )

    add(
        "Flagship audit: normalized street counts (A8+A11)",
        audit.normalized_street_counts(audit.streets(nodes)),
        ["HashAggregate", "hashpartitioning",
         ("filter pushed below explode (manual exists() rewrite)",
          lambda p: "exists" in p or "Filter" in p),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )
    add(
        "Two-phase PIP spatial join (B4)",
        spatial_join(nodes.select("id", "lat", "lon"), polys, res=8),
        ["BroadcastHashJoin", "ArrowEvalPython",
         ("no row-wise python", lambda p: "BatchEvalPython" not in p),
         ("cell assignment is native — refine is the ONLY Python node "
          "(one per AQE initial/final tree)",
          lambda p: p.count("+- ArrowEvalPython") <= 2)],
    )
    from osmspark.operators.knn import knn_kring

    nodes.select("id", "lat", "lon").repartition(8).write.mode(
        "overwrite").parquet("/tmp/osmspark-explain-nodes")
    knn_pts = spark.read.parquet("/tmp/osmspark-explain-nodes")
    add(
        "Exact kNN (B5) — one map-side pass over the points' own partitions",
        knn_kring(knn_pts, knn_pts.limit(50).select(
            F.col("id").alias("query_id"), "lat", "lon"), k=10),
        [("points scan feeds MapInArrow with no Exchange below it",
          lambda p: "Scan parquet" in "".join(_subtree(p, "MapInArrow"))
          and "Exchange" not in "".join(_subtree(p, "MapInArrow"))),
         ("no cartesian or nested-loop join",
          lambda p: "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p),
         ("no per-row Arrow UDF (ArrowEvalPython)",
          lambda p: "ArrowEvalPython" not in p)],
    )
    from osmspark.functions.hexgrid import with_hex_cell

    add(
        "Hex cell assignment (B2) — staged native expressions",
        with_hex_cell(nodes.select("lat", "lon"), 9),
        [("ZERO Python (pure codegen; round-2 rewrite)",
          lambda p: "EvalPython" not in p),
         ("whole-stage codegen",
          lambda p: "codegen id" in p or "WholeStageCodegen" in p)],
    )
    add(
        "Top-k contributors (A18)",
        audit.top_users(nodes, 10),
        ["TakeOrderedAndProject"],
    )
    add(
        "Tile counts (B6 scale path)",
        tile_counts(nodes.select("lat", "lon"), zoom=12),
        ["HashAggregate", "hashpartitioning",
         ("whole-stage codegen", lambda p: "codegen id" in p or "WholeStageCodegen" in p)],
    )
    add(
        "Span extraction scan (B1) — column pruning into parquet-shaped scan",
        parse_nodes(docs).select("id", "lat", "lon"),
        [("pruned read schema", lambda p: "ReadSchema" in p or "Project" in p)],
    )

    from osmspark.operators.dedup import with_simhash
    from osmspark.operators.textstats import with_fingerprint

    flat = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    add(
        "SimHash (round-3 native rewrite — xxhash64 tokens + 64-lane "
        "aggregate fold)",
        with_simhash(flat.select("doc_id", "text")),
        [("ZERO Python (pure codegen)", lambda p: "EvalPython" not in p),
         ("whole-stage codegen",
          lambda p: "codegen id" in p or "WholeStageCodegen" in p)],
    )
    add(
        "Winnowing fingerprint (round-3 native rewrite — rolling-min "
        "aggregate over window starts)",
        with_fingerprint(flat.select("doc_id", "text"), window=8),
        [("ZERO Python (pure codegen)", lambda p: "EvalPython" not in p),
         ("whole-stage codegen",
          lambda p: "codegen id" in p or "WholeStageCodegen" in p)],
    )

    from osmspark.datagen import gen_vectors
    from osmspark.operators.similarity import (
        ivf_topk, quantize_embeddings, train_centroids,
    )

    vecs = gen_vectors(spark, 5000, 64)
    cents = train_centroids(vecs, n_centroids=16, iters=0)
    ivf_qs = vecs.limit(50).select(
        F.col("vec_id").alias("query_id"), "embedding")
    add(
        "IVF ANN, per-bucket block-GEMM scan (`ivf_topk`)",
        ivf_topk(vecs, ivf_qs, k=5, centroids=cents, nprobe=2),
        [("cogrouped per centroid bucket",
          lambda p: "FlatMapCoGroupsInPandas" in p),
         ("probes + vectors each shuffled ONCE on cid",
          lambda p: "hashpartitioning(cid" in p),
         ("probes generated ON the queries DataFrame — no driver-built "
          "rows", lambda p: "LocalTableScan" not in p),
         "ArrowEvalPython",
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )

    vecs8 = quantize_embeddings(vecs).select("vec_id", "qvec")
    add(
        "IVF ANN, block-GEMM scan over an int8-quantized corpus "
        "(`ivf_topk(..., vec_col=\"qvec\")`)",
        ivf_topk(vecs8, ivf_qs, k=5, centroids=cents, nprobe=2,
                 vec_col="qvec"),
        [("cogrouped per centroid bucket",
          lambda p: "FlatMapCoGroupsInPandas" in p),
         ("corpus enters the cid exchange as the tinyint column itself "
          "(bare qvec->vv passthrough, no cast before the shuffle)",
          lambda p: __import__("re").search(r"qvec#\d+ AS vv#\d+", p)
          is not None and "cast(vv" not in p and "cast(qvec" not in p),
         ("qscale never read or shuffled", lambda p: "qscale" not in p)],
    )

    from osmspark.operators.pq import ivf_pq_index, ivf_pq_topk, train_pq
    from osmspark.operators.similarity import _assign_udf

    wc = vecs.withColumn("cid", _assign_udf(cents)(F.col("embedding")))
    books = train_pq(wc, m=8, n_codes=16, iters=0,
                     centroids=cents, cid_col="cid")
    enc_pq = ivf_pq_index(vecs, cents, books)
    add(
        "IVF-PQ ADC scan (round 5 — 8-byte-code corpus)",
        ivf_pq_topk(enc_pq, ivf_qs, k=5, centroids=cents,
                    codebooks=books, nprobe=2),
        [("cogrouped per centroid bucket",
          lambda p: "FlatMapCoGroupsInPandas" in p),
         ("probes + codes each shuffled ONCE on cid",
          lambda p: "hashpartitioning(cid" in p),
         ("the corpus side of the exchange carries the binary code "
          "column, never a float vector",
          lambda p: __import__("re").search(r"pq_code#\d+", p) is not None),
         ("no driver-built rows", lambda p: "LocalTableScan" not in p)],
    )

    wide = spark.createDataFrame(
        [("wide", "admin",
          [{"lat": a, "lon": o} for a, o in
           [(-10.0, 60.0), (-10.0, 105.0), (-10.0, 150.0), (40.0, 150.0),
            (40.0, 105.0), (40.0, 60.0), (-10.0, 60.0)]], None)],
        schema="poly_id string, level string, "
               "ring array<struct<lat:double,lon:double>>, postcode string",
    )
    add(
        "Mixed-res PIP join (spatial_join min_res — per-polygon cover res)",
        spatial_join(nodes.select("id", "lat", "lon"),
                     polys.unionByName(wide),
                     res=8, min_res=4, max_cover_cells=512),
        ["BroadcastHashJoin",
         ("one candidate join per distinct res, unioned (the 90-deg box "
          "takes coarse cells, the km-scale grid stays fine)",
          lambda p: "Union" in p),
         ("each points scan feeds exactly one refine UDF: interior and "
          "boundary candidates share one candidate join",
          lambda p: _final(p).count("ArrowEvalPython (")
          == _final(p).count("Scan parquet")),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )

    from osmspark.operators.textstats import stratified_sample

    add(
        "Stratified quota sampling (round-4 two-phase top-N)",
        stratified_sample(
            flat.select("doc_id", "text",
                        F.lit("en").alias("lang")),
            "lang", per_stratum=10, n_presplit=8),
        [("phase-1 pre-rank partitioned by (stratum, salt) — the dominant "
          "stratum spreads over n_presplit tasks",
          lambda p: "__salt" in p),
         ("two window phases", lambda p: p.count("Window") >= 2),
         ("ZERO Python", lambda p: "EvalPython" not in p)],
    )

    from osmspark.operators.radius_join import within_distance_join

    rq = nodes.limit(50).select(F.col("id").alias("query_id"), "lat", "lon")
    add(
        "Within-distance radius join (round-4 B5b — hex disk cover)",
        within_distance_join(nodes.select("id", "lat", "lon"), rq, 2000.0),
        [("candidate join is an equi-join on the cell key",
          lambda p: "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p),
         ("no Python node at all: the disks are built on the driver and "
          "the point cells by native expressions",
          lambda p: not re.search(r"Python|InPandas|InArrow", _final(p))),
         ("point side is an InMemoryTableScan of the prepared point half",
          lambda p: "InMemoryTableScan" in "".join(
              _subtree(p, "TableCacheQueryStage"))),
         ("query side is LocalTableScan -> Generate under a "
          "BroadcastExchange",
          lambda p: re.search(
              r"Generate.*\n(.*\n)*.*LocalTableScan",
              "\n".join(_subtree(p, "BroadcastExchange")))
          and "Scan parquet" not in "".join(
              _subtree(p, "BroadcastExchange"))),
         ("exact distance filter in codegen",
          lambda p: "codegen id" in p or "WholeStageCodegen" in p)],
    )

    from osmspark.operators.textstats import repetition_stats

    add(
        "Repetition filters (round-4 Gopher signals — one aggregate over "
        "the sorted n-gram array)",
        repetition_stats(flat.select("doc_id", "text")),
        [("ZERO Python (pure codegen)", lambda p: "EvalPython" not in p),
         ("map-side only — no shuffle", lambda p: "Exchange" not in p),
         ("whole-stage codegen",
          lambda p: "codegen id" in p or "WholeStageCodegen" in p)],
    )

    from osmspark.operators.temporal import asof_join

    ev_l = spark.range(200).select(
        (F.col("id") % 4).alias("k"), (F.col("id") * 7 % 501).alias("ts"),
        F.col("id").alias("lval"))
    ev_r = spark.range(100).select(
        (F.col("id") % 4).alias("k"), (F.col("id") * 13 % 501).alias("ts"),
        F.col("id").alias("rval"))
    add(
        "As-of temporal join (round 4 — union-tag + running-last window)",
        asof_join(ev_l, ev_r, on="ts", by="k"),
        [("ONE shuffle on the by-key then a per-key window",
          lambda p: "Window" in p),
         ("ZERO Python", lambda p: "EvalPython" not in p),
         ("no cartesian/NLJ", lambda p: "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p)],
    )

    add(
        "As-of temporal join, range-partitioned merge (round 5 — "
        "low-cardinality/global keys)",
        asof_join(ev_l, ev_r, on="ts", by="k", range_buckets=8),
        [("merge windows partition on (by, bucket) — a global key "
          "spreads over B tasks",
          lambda p: __import__("re").search(
              r"hashpartitioning\([^)]*__b#", p) is not None),
         ("ZERO Python", lambda p: "EvalPython" not in p),
         ("no cartesian/NLJ (seed carry is lead()+bounded explode)",
          lambda p: "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p)],
    )

    from osmspark.operators.textstats import redact_pii

    add(
        "PII redaction (round 4 — native regexp chain)",
        redact_pii(flat.select("doc_id", "text")),
        [("ZERO Python", lambda p: "EvalPython" not in p),
         ("map-side only — no shuffle", lambda p: "Exchange" not in p)],
    )

    from osmspark.operators.tiles import cell_rollup_pyramid

    add(
        "Hex rollup pyramid (round 4 — one point scan, parent-fold levels)",
        # materialize=False: the default eagerly localCheckpoints each
        # level, so the audited plan would be just checkpoint scans + a
        # Union — assertions about the REAL operator plan need it off
        cell_rollup_pyramid(nodes.select("lat", "lon"), fine_res=9,
                            coarse_res=7, materialize=False),
        [("points cell-assigned ONCE — exactly one scan feeds the base "
          "level, coarser levels fold the level below",
          lambda p: "Union" in p),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )

    from osmspark.operators.geometry import way_geometry
    from osmspark.sources import parse_ways

    ways_df = parse_ways(docs)
    add(
        "Way geometry (round 4 — nd-chain length/bbox, native fold)",
        way_geometry(ways_df, nodes),
        [("ZERO Python (haversine chain fold in codegen)",
          lambda p: "EvalPython" not in p),
         ("equi-join on the ref key, no cartesian",
          lambda p: "CartesianProduct" not in p),
         ("bounded per-way groupBy (no window over the table)",
          lambda p: "HashAggregate" in p or "ObjectHashAggregate" in p
          or "SortAggregate" in p)],
    )

    from osmspark.functions.geo import ring_area_m2

    add(
        "Spherical ring area (round 4 — excess shoelace aggregate)",
        polys.select("poly_id", ring_area_m2(F.col("ring")).alias("area_m2")),
        [("ZERO Python", lambda p: "EvalPython" not in p),
         ("map-side only", lambda p: "Exchange" not in p)],
    )

    from osmspark.operators.overlay import polygon_intersect_join

    shifted = polys.select(
        F.concat(F.lit("s-"), "poly_id").alias("poly_id"), "level",
        F.transform(
            "ring",
            lambda p: F.struct((p["lat"] + F.lit(0.01)).alias("lat"),
                               (p["lon"] + F.lit(0.01)).alias("lon")),
        ).alias("ring"),
        "postcode",
    )
    add(
        "Polygon overlay join (round 4 B4c — cover-cell candidates + "
        "exact pair predicate)",
        polygon_intersect_join(polys, shifted, res=7),
        [("candidate join is an equi-join on the cell key",
          lambda p: "CartesianProduct" not in p),
         ("Arrow-vectorized cover + verify only",
          lambda p: "ArrowEvalPython" in p and "BatchEvalPython" not in p)],
    )

    from osmspark.operators.search import bm25_topk

    bm25_queries = spark.createDataFrame(
        [(0, "hash join table"), (1, "window agg")],
        "query_id long, query_text string")
    text_docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
    add(
        "BM25 inverted-index top-k (round 5 — search)",
        bm25_topk(text_docs, bm25_queries, k=10),
        [("ZERO Python", lambda p: "EvalPython" not in p),
         ("query terms broadcast, postings stream",
          lambda p: "BroadcastHashJoin" in p and "BroadcastExchange" in p),
         ("partial+final aggregation on the postings groupBy",
          lambda p: "HashAggregate" in p)],
    )

    from osmspark.operators.interval import interval_join

    iv_events = spark.createDataFrame(
        [(i, float(i % 1000)) for i in range(5000)],
        "event_id long, ts double")
    iv_ranges = spark.createDataFrame(
        [(i, float(i * 10 % 990), float(i * 10 % 990) + 25.0)
         for i in range(200)],
        "range_id long, start double, end double")
    add(
        "Interval join (round 5 — binned band join)",
        interval_join(iv_events, iv_ranges, bin_width=50.0),
        [("equi-join on the bin key, band predicate in the same join "
          "(no cartesian / nested-loop)",
          lambda p: "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p),
         ("ZERO Python", lambda p: "EvalPython" not in p),
         ("range explode is a native sequence generator",
          lambda p: "Generate" in p)],
    )

    from osmspark.operators.ngram_lm import score_perplexity, train_ngram_lm

    lm_counts, lm_v = train_ngram_lm(flat, n=3)
    lm_counts = lm_counts.persist()  # train-once, as every real caller does
    lm_counts.count()
    add(
        "N-gram LM perplexity scoring (round 5 — CCNet-style curation signal)",
        score_perplexity(flat, lm_counts, lm_v, n=3),
        [("ZERO Python", lambda p: "EvalPython" not in p),
         ("LM side is a plain shuffle join — the 100 TB shape; broadcast "
          "is opt-in via broadcast_lm",
          lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p),
         ("every tokenize sits behind the let_ barrier "
          "(functions/expr.py) — one split per generator, never one per "
          "duplicated gram subtree (measured 4x on the score path)",
          lambda p: p.count("split(") == p.count("array(filter(split(")
          # formatted plans print each operator's expressions twice
          # (tree + detail), AQE twice again: one generator -> <= 4
          and p.count("split(") <= 4),
         ("the persisted LM is an in-memory scan, not a training re-run",
          lambda p: "InMemoryTableScan" in p),
         ("map-side partial aggregation on doc-gram multiplicities",
          lambda p: "HashAggregate" in p)],
    )
    lm_counts.unpersist()

    from osmspark.operators.cluster import dbscan

    add(
        "Grid DBSCAN (round 5 — radius self-join + shared components)",
        dbscan(nodes.select("id", "lat", "lon"), 500.0, 4),
        [("the eps graph is materialized ONCE and read back for its three "
          "consumers (ExistingRDD scan of the localCheckpoint)",
          lambda p: "ExistingRDD" in p),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p),
         ("no cartesian anywhere",
          lambda p: "CartesianProduct" not in p),
         ("border assignment is one equi-join + min HashAggregate",
          lambda p: "HashAggregate" in p)],
    )

    from osmspark.operators.semdedup import semantic_dedup
    from osmspark.operators.similarity import train_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sd_cents = train_centroids(emb, n_centroids=8, iters=1)
    add(
        "SemDeDup greedy scan (round 5 — per-cluster GEMM dedup)",
        semantic_dedup(emb, 0.35, centroids=sd_cents),
        [("one Arrow assignment pass, then ONE grouped-pandas GEMM stage",
          lambda p: "FlatMapGroupsInPandas" in p
          and p.count("+- ArrowEvalPython") <= 2),
         ("the shuffle key is cid — clusters are the unit of parallelism",
          lambda p: "hashpartitioning(cid" in p),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )

    from osmspark.operators.dedup import decontaminate_bloom

    add(
        "Bloom-filtered decontamination (round 5 — exact, sketch-pruned)",
        decontaminate_bloom(flat, flat.where(F.col("doc_id") % 7 == 0),
                            n=3, threshold=0.3),
        [("the one-row sketch carrier is a BroadcastNestedLoopJoin "
          "(array reference per partition, never a lit() tree)",
          lambda p: "BroadcastNestedLoopJoin" in p),
         ("probe is pure codegen — ZERO Python in the whole plan",
          lambda p: "EvalPython" not in p),
         ("survivors verify through a real shuffle join on the hash key "
          "(the un-broadcast benchmark side)",
          lambda p: "SortMergeJoin" in p or "ShuffledHashJoin" in p
          or "hashpartitioning(__h" in p)],
    )

    from osmspark.datagen import gen_url_corpus
    from osmspark.operators.urlstats import domain_stats, filter_by_domain

    url_docs = gen_url_corpus(spark, 2000)
    add(
        "URL domain stats, exact distincts (round 5 — C4-style "
        "provenance signal)",
        domain_stats(url_docs, exact=True),
        [("multi-distinct plans as Expand + two domain-keyed exchanges "
          "(the documented exact-path cost — raw URL rows never shuffle "
          "unaggregated)",
          lambda p: "Expand" in p),
         ("zero Python anywhere", lambda p: "EvalPython" not in p),
         ("partial+final aggregate (hot-domain skew absorbed map-side)",
          lambda p: "HashAggregate" in p or "ObjectHashAggregate" in p)],
    )
    add(
        "URL domain stats, HLL sketches (round 5 — the web-scale path)",
        domain_stats(url_docs, exact=False),
        [("no Expand; ONE exchange total — sketches merge map-side",
          lambda p: "Expand" not in p),
         ("zero Python anywhere", lambda p: "EvalPython" not in p)],
    )
    add(
        "Domain block-list gate (round 5)",
        filter_by_domain(
            url_docs,
            spark.createDataFrame([("blog.net",)],
                                  "registered_domain string")),
        [("the list side is broadcast",
          lambda p: "BroadcastHashJoin" in p),
         ("zero Python anywhere", lambda p: "EvalPython" not in p)],
    )

    from osmspark.operators.sampling import weighted_sample

    add(
        "Weighted sampling, Efraimidis-Spirakis (round 5)",
        weighted_sample(
            url_docs.select("doc_id",
                            (F.length("text") + 1.0).alias("w")),
            100, "w"),
        [("global top-k compiles to TakeOrderedAndProject — per-partition "
          "heaps, no global sort, no corpus shuffle",
          lambda p: "TakeOrderedAndProject" in p),
         ("no full Sort node anywhere",
          lambda p: "Sort " not in p.split("== Initial Plan ==")[0]),
         ("zero Python anywhere", lambda p: "EvalPython" not in p)],
    )

    from osmspark.operators.tiles import kde_smooth

    add(
        "Hex KDE smoothing (round 5 — codegen stencil convolution)",
        kde_smooth(nodes.select("lat", "lon"), res=8, k=2, sigma=1.2),
        [("the 19-cell stencil is ONE literal-array explode (Generate), "
          "neighbor ids pure int arithmetic",
          lambda p: _stencil_explodes(p) == 1),
         ("zero Python anywhere — the convolution never leaves the JVM",
          lambda p: "EvalPython" not in p),
         ("two aggregates total (input counts + convolved sum)",
          lambda p: "HashAggregate" in p)],
    )

    from osmspark.operators.tiles import morans_i

    add(
        "Global Moran's I (round 5 — stencil neighbor sums, one-row "
        "output)",
        morans_i(nodes.select("lat", "lon"), res=8, k=1,
                 materialize=False),
        [("neighbor deviation sums ride ONE literal stencil explode",
          lambda p: _stencil_explodes(p) == 1),
         ("global moments arrive by broadcast, not shuffle",
          lambda p: "BroadcastExchange" in p),
         ("zero Python anywhere", lambda p: "EvalPython" not in p)],
    )

    from osmspark.operators.mapmatch import (map_match, match_candidates,
                                             way_segments)

    mm_ways = spark.createDataFrame(
        [("A", ["n0", "n1", "n2"]), ("B", ["n3", "n4"])],
        "id string, nd array<string>")
    mm_nodes = spark.createDataFrame(
        [("n0", 1.3000, 103.800), ("n1", 1.3000, 103.801),
         ("n2", 1.3000, 103.802), ("n3", 1.3007, 103.800),
         ("n4", 1.3007, 103.802)],
        "id string, lat double, lon double")
    mm_gps = spark.createDataFrame(
        [(1, float(t), 1.30001, 103.8002 + t * 0.0003) for t in range(5)],
        "traj_id long, ts double, lat double, lon double")
    mm_segs = way_segments(mm_ways, mm_nodes)

    add(
        "Map-match candidates (round 5 — seam-exact cell join + native "
        "point-to-segment filter)",
        match_candidates(mm_gps, mm_segs, radius_m=80.0),
        [("disk-cells UDF is the ONLY Python node (one per AQE "
          "initial/final tree)",
          lambda p: 1 <= p.count("+- ArrowEvalPython") <= 2),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p),
         ("no cartesian/nested-loop join",
          lambda p: "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p),
         ("segment reassembly is one bounded groupBy",
          lambda p: "HashAggregate" in p or "ObjectHashAggregate" in p)],
    )
    add(
        "HMM map matching (round 5 — Viterbi applyInPandas per trajectory)",
        map_match(mm_gps, mm_segs, radius_m=80.0),
        [("exactly one per-key python stage (the Viterbi pass)",
          lambda p: p.count("FlatMapGroupsInPandas") >= 1),
         ("fixes meet their candidates in a Union, no LeftOuter join "
          "(that join's plan varied with AQE stage timing)",
          lambda p: _first_join_or_union(p, "FlatMapGroupsInPandas")
          .startswith("Union")),
         ("no cartesian/nested-loop join",
          lambda p: "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )

    from osmspark.operators.langid import lang_id

    add(
        "Trigram language-ID (round 5 — broadcast profile scoring)",
        lang_id(docs.selectExpr(
            "doc_id",
            "concat_ws(' ', transform(spans, s -> s.text)) AS text")),
        [("profile join is broadcast (a few hundred pivoted rows)",
          lambda p: "BroadcastHashJoin" in p),
         ("zero Python anywhere — normalize/grams/score all codegen",
          lambda p: "EvalPython" not in p),
         ("one aggregate back to doc grain (partial+final)",
          lambda p: "HashAggregate" in p),
         ("gram fan-out is one Generate explode",
          lambda p: "Generate" in p)],
    )

    from osmspark.operators.shortest_path import isochrone_cells

    iso_nodes = spark.createDataFrame(
        [(f"n{i}", 1.29 + 0.002 * i, 103.8 + 0.001 * i)
         for i in range(6)],
        "id string, lat double, lon double")
    iso_edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 250.0) for i in range(5)],
        "src string, dst string, w_m double")
    iso_src = spark.createDataFrame([("n0",)], "node string")

    add(
        "Isochrone cells (round 5 — lattice stage downstream of the "
        "SSSP fixpoint)",
        isochrone_cells(iso_edges, iso_nodes, iso_src,
                        [300.0, 800.0], res=9),
        [("zero Python downstream of the settled distances",
          lambda p: "EvalPython" not in p),
         ("coordinate join + min/count per cell are shuffle "
          "hash-aggregates, no broadcast assumption on the node table",
          lambda p: "HashAggregate" in p),
         ("banding is a native CASE projection (no extra join)",
          lambda p: "CASE WHEN" in p or "Project" in p)],
    )

    from osmspark.operators.hull import convex_hull

    add(
        "Convex hull (round 5 — two-phase hull-of-hulls)",
        convex_hull(nodes.select("lat", "lon"), n_presplit=4),
        [("both per-group python stages present (partial + merge; "
          "formatted mode repeats node names in tree + detail sections)",
          lambda p: p.count("FlatMapGroupsInPandas") >= 2
          and "ArrowEvalPython" not in p),
         ("phase-1 exchange keys on (group, salt) — the full-point pass "
          "spreads over the presplit, not one task per group",
          lambda p: "__salt" in p),
         ("no collect_list of raw points anywhere",
          lambda p: "collect_list" not in p),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )

    from osmspark.operators.zonal import zonal_stats

    add(
        "Zonal statistics (round 5 — two-phase: interior cells credit "
        "cell aggregates, boundary points refine)",
        zonal_stats(nodes.select("lat", "lon",
                                 F.col("lat").alias("val")),
                    polys, value_col="val", res=8),
        [("exactly ONE Python node — the boundary refine; the interior "
          "leg is pure native cell-aggregate credit "
          "(formatted mode may repeat it in AQE initial/final trees)",
          lambda p: 1 <= p.count("+- ArrowEvalPython") <= 2),
         ("cover joins broadcast (the dim contract)",
          lambda p: "BroadcastHashJoin" in p),
         ("partial+final aggregates on the cell and polygon keys",
          lambda p: "HashAggregate" in p),
         ("no cartesian", lambda p: "Cartesian" not in p)],
    )

    from osmspark.operators.zonal import zonal_length

    zl_segs = nodes.select(
        F.col("id").cast("string").alias("seg_id"),
        F.col("lat").alias("lat1"), F.col("lon").alias("lon1"),
        (F.col("lat") + 0.004).alias("lat2"),
        (F.col("lon") + 0.004).alias("lon2"))
    add(
        "Zonal length (road-km per polygon — segment covers x the shared "
        "broadcast polygon cover, exact clip)",
        zonal_length(zl_segs, polys, res=8),
        [("cover join broadcast (the dim contract)",
          lambda p: "BroadcastHashJoin" in p and "BroadcastExchange" in p),
         ("exactly ONE clip ArrowEvalPython — the `frac > 0` filter is "
          "not pushed under the clip projection, so no candidate is "
          "clipped twice", lambda p: _python_udfs(p).count("clip") == 1),
         ("no cartesian", lambda p: "Cartesian" not in p),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )

    from osmspark.operators.intersect import segment_intersection_join

    iseg_a = spark.createDataFrame(
        [("a", 1.30, 103.80, 1.30, 103.90)],
        "seg_id string, lat1 double, lon1 double, lat2 double, lon2 double")
    iseg_b = spark.createDataFrame(
        [("b", 1.25, 103.85, 1.35, 103.85)],
        "seg_id string, lat1 double, lon1 double, lat2 double, lon2 double")
    add(
        "Segment-segment intersection join (round 5 — line x line)",
        segment_intersection_join(iseg_a, iseg_b),
        [("TWO distinct Arrow cover UDF nodes (one per side; x2 when the "
          "AQE initial plan repeats them), predicate fully native",
          lambda p: len({m for m in __import__("re").findall(
              r"ArrowEvalPython \((\d+)\)", p)}) in (2, 4)),
         ("candidates are ONE equi-join on the cell key",
          lambda p: "Join" in p and "Cartesian" not in p),
         ("pair dedupe is a hash aggregate, not a sort",
          lambda p: "HashAggregate" in p or "SortAggregate" in p),
         ("no row-wise python", lambda p: "BatchEvalPython" not in p)],
    )

    from osmspark.operators.tiles import gi_star_spacetime

    add(
        "Space-time Gi* (round 5 — emerging hot spots over "
        "(cell, bucket) bins)",
        gi_star_spacetime(
            nodes.select("lat", "lon",
                         (F.xxhash64("id") % 86400).cast("double")
                         .alias("ts")),
            res=8, bucket_s=3600.0, k=1, t_neighbors=1,
            strict_seam=False),
        [("ZERO Python", lambda p: "EvalPython" not in p),
         ("ONE (d_cell, d_t) stencil explode + one groupBy on the bin "
          "key", lambda p: _stencil_explodes(p) == 1
          and "HashAggregate" in p),
         ("global moments broadcast as a one-row crossJoin",
          lambda p: "BroadcastNestedLoopJoin" in p
          or "BroadcastExchange" in p)],
    )

    from osmspark.operators.nearest import nearest_polygon

    add(
        "Nearest-polygon join (round 5 — reverse geocode with distance)",
        nearest_polygon(nodes.select("id", "lat", "lon"), polys,
                        radius_deg=0.02, res=8),
        [("the interior leg (dist 0) is pure native; Python appears only "
          "as the boundary kernel, the disk cells, and the outside "
          "kernel — and the radius cut rides the post-aggregate scalar, "
          "so no kernel is double-evaluated under a pushed filter "
          "(observed and fixed)",
          lambda p: "Filter (pythonUDF" not in p),
         ("cover join broadcast", lambda p: "BroadcastHashJoin" in p),
         ("argmin is one min-struct hash aggregate",
          lambda p: "HashAggregate" in p),
         ("no cartesian", lambda p: "Cartesian" not in p)],
    )

    from osmspark.operators.graph import triangle_count

    tri_edges = spark.range(1000).select(
        F.pmod(F.xxhash64("id"), F.lit(100)).alias("src"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(100)).alias("dst"))
    add(
        "Triangle counting (round 5 — degree-ordered orientation)",
        triangle_count(tri_edges),
        [("ZERO Python", lambda p: "EvalPython" not in p),
         ("wedge close is a plain equi-join (hash/merge, no nested loop)",
          lambda p: "BroadcastNestedLoop" not in p
          and "Cartesian" not in p),
         ("degree + dedupe are partial+final hash aggregates",
          lambda p: "HashAggregate" in p)],
    )

    out = io.StringIO()
    out.write(
        "# EXPLAINS — physical-plan audit (generated by "
        "tools/explain_plans.py)\n\n"
        "Regenerate: `python tools/explain_plans.py > /dev/null` "
        "(writes EXPLAINS.md).\n\n"
    )
    out.write("\n".join(sections))
    with open(ROOT / "EXPLAINS.md", "w") as f:
        f.write(out.getvalue())
    print("wrote EXPLAINS.md")
    spark.stop()


if __name__ == "__main__":
    main()
