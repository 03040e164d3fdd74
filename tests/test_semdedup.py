"""SemDeDup (cluster-then-dedup over embeddings).

Crafted tests pin the greedy/cc semantics against hand-computed answers
(the module's exported greedy pass is NOT trusted there); the real-table
test then checks the distributed plumbing (assignment, grouping, schema)
against a python oracle built from the same primitives.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmspark.operators import semdedup as sd
from osmspark.operators.similarity import _normalize_rows


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding").cache()
    e.count()
    return e


def _collect(df):
    return {r["vec_id"]: (r["cid"], r["keep"], r["keeper"])
            for r in df.collect()}


# --- crafted semantics (hand-computed expectations) -------------------------

AXES = np.array([[1.0, 0, 0, 0], [0, 0, 0, 1.0]])  # cid0 = x, cid1 = w


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")


def test_greedy_and_cc_hand_case(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.05, 0.0, 0.0]),    # cos(v0,v1) ~ 0.99875 -> dup of 0
        (2, [0.8, -0.6, 0.0, 0.0]),    # cos with 0 = 0.8, with 1 ~ 0.769
        (3, [0.0, 0.0, 0.0, 1.0]),
        (4, [0.0, 0.05, 0.0, 1.0]),    # dup of 3, other cluster
    ]
    pts = _frame(spark, rows)
    got = _collect(sd.semantic_dedup(pts, 0.9, centroids=AXES))
    assert got == {0: (0, True, 0), 1: (0, False, 0), 2: (0, True, 2),
                   3: (1, True, 3), 4: (1, False, 3)}
    got_cc = _collect(sd.semantic_dedup(pts, 0.9, centroids=AXES,
                                        policy="cc"))
    assert got_cc == got  # no transitive chains here -> policies agree


def test_transitive_chain_separates_policies(spark):
    """a-b and b-c similar, a-c not: greedy keeps a AND c (c is compared
    only against the KEPT set), cc collapses the whole chain to a."""
    ang = [0.0, np.deg2rad(25), np.deg2rad(50)]
    rows = [(i, [np.cos(t), np.sin(t), 0.0, 0.0])
            for i, t in enumerate(ang)]  # cos25 ~ .906 >= .9 > cos50 ~ .643
    pts = _frame(spark, rows)
    got = _collect(sd.semantic_dedup(pts, 0.9, centroids=AXES))
    assert got == {0: (0, True, 0), 1: (0, False, 0), 2: (0, True, 2)}
    got_cc = _collect(sd.semantic_dedup(pts, 0.9, centroids=AXES,
                                        policy="cc"))
    assert got_cc == {0: (0, True, 0), 1: (0, False, 0), 2: (0, False, 0)}


def test_centroid_dist_order_keeps_outliers(spark):
    """Same chain, paper order: farthest-from-centroid (c) is visited
    first and kept; b dups against c; a survives (cos(a,c) < t)."""
    ang = [0.0, np.deg2rad(25), np.deg2rad(50)]
    rows = [(i, [np.cos(t), np.sin(t), 0.0, 0.0])
            for i, t in enumerate(ang)]
    pts = _frame(spark, rows)
    got = _collect(sd.semantic_dedup(pts, 0.9, centroids=AXES,
                                     order="centroid_dist"))
    assert got == {0: (0, True, 0), 1: (0, False, 2), 2: (0, True, 2)}


def test_guards(spark):
    pts = _frame(spark, [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(3)])
    with pytest.raises(ValueError, match="policy"):
        sd.semantic_dedup(pts, 0.9, centroids=AXES, policy="nope")
    with pytest.raises(Exception, match="max_cluster_rows"):
        sd.semantic_dedup(pts, 0.9, centroids=AXES,
                          max_cluster_rows=2).collect()


# --- distributed plumbing vs python oracle on the real table ----------------

def _oracle(rows, cents, threshold, policy, order):
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = _normalize_rows(np.stack([np.asarray(r[1], dtype=np.float64)
                                  for r in rows]))
    cn = _normalize_rows(cents)
    cid = np.argmax(m @ cn.T, axis=1)
    out = {}
    for c in np.unique(cid):
        sel = np.where(cid == c)[0]
        sids, sm = ids[sel], m[sel]
        if policy == "greedy":
            perm = sd._visit_order(sids, sm, cn[c], order)
            keep, keeper = sd.greedy_keep(sids, sm, perm, threshold)
            for i, s in enumerate(sids):
                out[int(s)] = (int(c), bool(keep[i]), int(keeper[i]))
        else:
            parent = {int(i): int(i) for i in sids}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            sims = sm @ sm.T
            iu, ju = np.triu_indices(len(sids), k=1)
            for a, b in zip(iu[sims[iu, ju] >= threshold],
                            ju[sims[iu, ju] >= threshold]):
                ra, rb = find(int(sids[a])), find(int(sids[b]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            for s in sids:
                k = find(int(s))
                out[int(s)] = (int(c), k == int(s), k)
    return out


@pytest.fixture(scope="module")
def cents(emb):
    from osmspark.operators.similarity import train_centroids
    return train_centroids(emb, n_centroids=8, iters=2)


@pytest.mark.parametrize("policy", ["greedy", "cc"])
def test_real_table_matches_oracle(emb, cents, policy):
    got = _collect(sd.semantic_dedup(emb, 0.35, centroids=cents,
                                     policy=policy))
    rows = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    want = _oracle(rows, cents, 0.35, policy, "id")
    assert got == want
    assert any(not keep for _, keep, _ in want.values())   # non-vacuous
    assert any(keep for _, keep, _ in want.values())


def test_threshold_above_one_keeps_all(emb, cents):
    got = _collect(sd.semantic_dedup(emb, 1.000001, centroids=cents))
    assert all(keep and keeper == i for i, (_, keep, keeper) in got.items())


def test_trained_centroids_path_runs(emb):
    out = sd.semantic_dedup(emb, 0.35, n_centroids=4, iters=1)
    assert out.count() == emb.count()
