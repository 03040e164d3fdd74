"""Semantic deduplication over embedding columns (SemDeDup, Abbas et al.
2023 — arXiv:2303.09540).

The paper's shape: k-means the embedding space, then look for duplicates
ONLY within a cluster — the pairwise-cosine work that is O(n^2) globally
becomes k independent GEMMs of bounded size, embarrassingly parallel
across clusters.  Here that composes from the engine's existing pieces:

  * clustering: `similarity.train_centroids` (distributed Lloyd, only the
    centroid matrix on the driver) + the same vectorized assignment UDF
    the IVF index uses,
  * within-cluster dedup: ONE `applyInPandas` per cluster — a single
    normalized GEMM then a deterministic greedy keep pass (policy
    'greedy'), or threshold pairs fed to the shared
    `dedup.min_label_components` engine (policy 'cc'),
  * loud bounds: a cluster larger than `max_cluster_rows` raises
    executor-side instead of silently attempting an oversized GEMM —
    the engine's fanout-guard convention.

Determinism contract: greedy visits rows in ascending id order (or
farthest-from-centroid first with order='centroid_dist', the paper's
keep-the-outlier rule, id-tiebroken); a dropped row's `keeper` is its
most-similar already-kept row (ties -> min id).  'cc' keeps the min id
per similarity component.  Both policies are verbatim-reproducible in
python, which is what the pytest oracle does.

Scale shape: at 10^9+ vectors choose n_centroids so n/k stays ~10^4-10^5;
assignment is one Arrow-vectorized pass, the shuffle key is cid, and each
cluster's GEMM is one task.  Cross-cluster near-duplicates are invisible
by construction — that is the paper's documented recall trade, not a bug
of this implementation.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .dedup import min_label_components
from .similarity import _assign_udf, _normalize_rows, train_centroids


def _visit_order(ids, m, cvec, order):
    if order == "id":
        return np.argsort(ids, kind="stable")
    if order == "centroid_dist":
        # ascending centroid similarity = farthest-from-centroid first
        # (SemDeDup keeps the cluster's outliers); ids break ties
        return np.lexsort((ids, m @ cvec))
    raise ValueError(f"unknown order {order!r}")


def greedy_keep(ids, m, perm, threshold):
    """The greedy pass on a normalized matrix — shared verbatim with the
    pytest oracle so the contract IS the implementation."""
    sims = m @ m.T
    kept: list[int] = []
    keep = np.zeros(len(ids), dtype=bool)
    keeper = ids.copy()
    for i in perm:
        if kept:
            s = sims[i, kept]
            mx = s.max()
            if mx >= threshold:
                keeper[i] = ids[np.asarray(kept)[s == mx]].min()
                continue
        keep[i] = True
        kept.append(i)
    return keep, keeper


def semantic_dedup(
    vectors: DataFrame,
    threshold: float,
    n_centroids: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    policy: str = "greedy",
    order: str = "id",
    max_cluster_rows: int = 200_000,
    centroids: np.ndarray | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """(id, cid, keep, keeper): keep=False rows are semantic duplicates of
    their `keeper` (cosine >= threshold within the same cluster).

    `centroids` accepts a pre-trained matrix (skips training — pass the
    same matrix to an IVF index to share one clustering).  `policy` is
    'greedy' (the paper's sequential rule, deterministic per the module
    contract) or 'cc' (threshold pairs -> connected components -> min-id
    keeper, the near-dup-pipeline convention).  `max_iter` bounds the cc
    component rounds."""
    if policy not in ("greedy", "cc"):
        raise ValueError(f"unknown policy {policy!r}")
    cents = centroids if centroids is not None else train_centroids(
        vectors, n_centroids=n_centroids, iters=iters,
        vec_col=vec_col, id_col=id_col,
    )
    cnorm = _normalize_rows(cents)
    assigned = vectors.select(id_col, vec_col).withColumn(
        "cid", _assign_udf(cents)(F.col(vec_col))
    )
    id_field = vectors.schema[id_col]

    def _guard(n):
        if n > max_cluster_rows:
            raise RuntimeError(
                f"semantic_dedup: cluster of {n} rows exceeds "
                f"max_cluster_rows={max_cluster_rows}; raise n_centroids "
                "(GEMM cost grows with the square of the cluster size)"
            )

    if policy == "greedy":
        out_schema = T.StructType([
            T.StructField(id_col, id_field.dataType),
            T.StructField("cid", T.IntegerType()),
            T.StructField("keep", T.BooleanType()),
            T.StructField("keeper", id_field.dataType),
        ])

        def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
            _guard(len(pdf))
            ids = pdf[id_col].to_numpy()
            m = _normalize_rows(np.stack(pdf[vec_col].to_numpy()))
            cvec = cnorm[int(pdf["cid"].iloc[0])]
            perm = _visit_order(ids, m, cvec, order)
            keep, keeper = greedy_keep(ids, m, perm, threshold)
            return pd.DataFrame({
                id_col: ids, "cid": pdf["cid"].to_numpy(),
                "keep": keep, "keeper": keeper,
            })

        return assigned.groupBy("cid").applyInPandas(dedup_cluster, out_schema)

    # policy == 'cc': within-cluster threshold pairs -> shared component
    # engine -> min-id keeper (a vector in no pair keeps itself)
    pair_schema = T.StructType([
        T.StructField("a", id_field.dataType),
        T.StructField("b", id_field.dataType),
    ])

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        _guard(len(pdf))
        ids = pdf[id_col].to_numpy()
        m = _normalize_rows(np.stack(pdf[vec_col].to_numpy()))
        iu, ju = np.triu_indices(len(ids), k=1)
        if len(iu) == 0:
            return pd.DataFrame({"a": ids[:0], "b": ids[:0]})
        mask = (m @ m.T)[iu, ju] >= threshold
        return pd.DataFrame({"a": ids[iu[mask]], "b": ids[ju[mask]]})

    pairs = assigned.groupBy("cid").applyInPandas(cluster_pairs, pair_schema)
    labels = min_label_components(
        pairs, max_iter=max_iter, _caller="semantic_dedup"
    )
    return (
        assigned.select(id_col, "cid")
        .join(labels, F.col(id_col) == labels["node"], "left")
        .select(
            id_col, "cid",
            F.coalesce("label", F.col(id_col)).alias("keeper"),
        )
        .withColumn("keep", F.col("keeper") == F.col(id_col))
        .select(id_col, "cid", "keep", "keeper")
    )
