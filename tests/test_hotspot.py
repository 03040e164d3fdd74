"""Getis-Ord Gi* hot-spot z-scores vs a python oracle, degenerate-variance
NULLs, hotspot sanity, seam guard, plan purity."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from osmspark.functions import hexgrid
from osmspark.operators.tiles import gi_star


def _oracle(pts, res, k, values=None):
    cells = hexgrid.latlon_to_cell(
        np.array([p[0] for p in pts]), np.array([p[1] for p in pts]), res)
    x = {}
    for i, c in enumerate(cells):
        x[int(c)] = x.get(int(c), 0.0) + (values[i] if values else 1.0)
    n = len(x)
    xs = np.array(list(x.values()))
    mean = xs.mean()
    s = math.sqrt((xs * xs).mean() - mean * mean)
    out = {}
    occupied = set(x)
    for c, xi in x.items():
        ring = set(int(v) for v in hexgrid.kring(np.array([c]), k)[0])
        nbs = ring & occupied
        w = len(nbs)
        wx = sum(x[j] for j in nbs)
        var = (n * w - w * w) / (n - 1) if n > 1 else 0.0
        z = ((wx - mean * w) / (s * math.sqrt(var))
             if n > 1 and s > 0 and var > 0 else None)
        out[c] = (xi, w, wx, z)
    return out


@pytest.mark.parametrize("k", [1, 2])
def test_gi_star_matches_python_oracle(spark, k):
    rng = random.Random(31)
    pts = [(1.29 + rng.random() * 0.02, 103.79 + rng.random() * 0.02)
           for _ in range(300)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = {r["cell"]: (r["x"], r["w"], r["wx"], r["z"]) for r in
           gi_star(df, res=8, k=k).collect()}
    exp = _oracle(pts, 8, k)
    assert set(got) == set(exp)
    for c in exp:
        assert got[c][0] == exp[c][0]
        assert got[c][1] == exp[c][1]
        assert abs(got[c][2] - exp[c][2]) < 1e-9
        if exp[c][3] is None:
            assert got[c][3] is None
        else:
            assert abs(got[c][3] - exp[c][3]) < 1e-9


def test_gi_star_uniform_field_is_all_null(spark):
    # one point per distinct cell -> x identical everywhere -> S == 0
    pts = [(1.29 + 0.002 * i, 103.79) for i in range(20)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    rows = gi_star(df, res=9, k=1).collect()
    xs = {r["x"] for r in rows}
    if xs == {1.0}:  # guard the fixture's premise
        assert all(r["z"] is None for r in rows)


def test_gi_star_hotspot_and_weighted(spark):
    rng = random.Random(7)
    # sparse background + a dense blob: the blob cell must be the max z
    pts = [(1.29 + rng.random() * 0.02, 103.79 + rng.random() * 0.02)
           for _ in range(60)]
    pts += [(1.3001 + rng.random() * 1e-4, 103.8001 + rng.random() * 1e-4)
            for _ in range(60)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    rows = gi_star(df, res=10, k=1).collect()
    blob_cells = hexgrid.latlon_to_cell(
        np.array([p[0] for p in pts[60:]]),
        np.array([p[1] for p in pts[60:]]), 10).tolist()
    hot = max(set(blob_cells), key=blob_cells.count)  # modal blob cell
    z = {r["cell"]: r["z"] for r in rows}
    assert z[hot] > 2.0
    # the argmax may legitimately be a sparse NEIGHBOR of the blob (same
    # wx, smaller w -> smaller variance term), but must sit in its 1-ring
    best = max(rows, key=lambda r: r["z"] if r["z"] is not None else -1e18)
    ring1 = set(int(c) for c in hexgrid.kring(np.array([hot]), 1)[0])
    assert best["cell"] in ring1 and best["z"] > 2.0
    # weighted: doubling every weight leaves z invariant (scale-free)
    wdf = spark.createDataFrame(
        [(la, lo, 2.0) for la, lo in pts], "lat double, lon double, v double")
    got_w = {r["cell"]: r["z"] for r in
             gi_star(wdf, res=10, k=1, value_col="v").collect()}
    got_1 = {r["cell"]: r["z"] for r in rows}
    for c in got_1:
        if got_1[c] is not None:
            assert abs(got_w[c] - got_1[c]) < 1e-9
    with pytest.raises(ValueError, match="k must"):
        gi_star(df, res=10, k=0)


def test_gi_star_seam_guard(spark):
    from osmspark.operators.tiles import gi_star_spacetime, morans_i

    df = spark.createDataFrame(
        [(0.001, 44.9999, 0.0), (1.30, 103.80, 0.0), (1.31, 103.81, 0.0)],
        "lat double, lon double, ts double")
    for op, kw, n_rows in ((gi_star, {}, 3), (morans_i, {}, 1),
                           (gi_star_spacetime, {"bucket_s": 3600.0}, 3)):
        with pytest.raises(Exception, match="face edge"):
            op(df, res=9, k=1, **kw).collect()
        rows = op(df, res=9, k=1, strict_seam=False, **kw).collect()
        assert len(rows) == n_rows, op.__name__


def test_gi_star_plan_pure_native(spark):
    df = spark.createDataFrame([(1.30, 103.80)], "lat double, lon double")
    plan = gi_star(df, res=9, k=1, materialize=False)._jdf \
        .queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def _moran_oracle(pts, res, k, values=None):
    cells = hexgrid.latlon_to_cell(
        np.array([p[0] for p in pts]), np.array([p[1] for p in pts]), res)
    x = {}
    for i, c in enumerate(cells):
        x[int(c)] = x.get(int(c), 0.0) + (values[i] if values else 1.0)
    n = len(x)
    mean = sum(x.values()) / n
    dev = {c: v - mean for c, v in x.items()}
    num = den = W = w2 = 0.0
    occupied = set(x)
    for c, dv in dev.items():
        ring = set(int(v) for v in hexgrid.kring(np.array([c]), k)[0])
        nbs = (ring - {c}) & occupied
        w = len(nbs)
        num += dv * sum(dev[j] for j in nbs)
        den += dv * dv
        W += w
        w2 += w * w
    if n <= 1 or den <= 0 or W <= 0:
        return n, W, None, None, None, None
    i_val = (n / W) * num / den
    e = -1.0 / (n - 1)
    s1, s2 = 2.0 * W, 4.0 * w2
    var = ((n * n * s1 - n * s2 + 3 * W * W)
           / (W * W * (n * n - 1))) - e * e
    z = (i_val - e) / math.sqrt(var) if var > 0 else None
    return n, W, i_val, e, var, z


def test_morans_i_matches_python_oracle(spark):
    from osmspark.operators.tiles import morans_i

    rng = random.Random(23)
    pts = [(1.29 + rng.random() * 0.02, 103.79 + rng.random() * 0.02)
           for _ in range(300)]
    vals = [rng.random() * 10 for _ in pts]
    df = spark.createDataFrame(
        [(la, lo, v) for (la, lo), v in zip(pts, vals)],
        "lat double, lon double, v double")
    row = morans_i(df, res=8, k=1, value_col="v").collect()[0]
    n, W, i_val, e, var, z = _moran_oracle(pts, 8, 1, vals)
    assert (row["n"], row["w_sum"]) == (n, W)
    assert abs(row["i"] - i_val) < 1e-9
    assert abs(row["e_i"] - e) < 1e-12
    assert abs(row["var_i"] - var) < 1e-12
    assert abs(row["z"] - z) < 1e-9


def test_morans_i_sign_and_degenerate(spark):
    from osmspark.operators.tiles import morans_i

    rng = random.Random(3)
    # two spatial blocks, high values NE / low values SW -> positive I
    pts, vals = [], []
    for _ in range(150):
        pts.append((1.29 + rng.random() * 0.008,
                    103.79 + rng.random() * 0.008))
        vals.append(1.0 + rng.random() * 0.1)
    for _ in range(150):
        pts.append((1.305 + rng.random() * 0.008,
                    103.805 + rng.random() * 0.008))
        vals.append(9.0 + rng.random() * 0.1)
    df = spark.createDataFrame(
        [(la, lo, v) for (la, lo), v in zip(pts, vals)],
        "lat double, lon double, v double")
    row = morans_i(df, res=10, k=1, value_col="v").collect()[0]
    assert row["i"] > 0.5 and row["z"] > 5.0
    # uniform field -> zero variance -> NULL i/z
    upts = [(1.29 + 0.002 * i, 103.79) for i in range(20)]
    udf = spark.createDataFrame(upts, "lat double, lon double")
    urow = morans_i(udf, res=9, k=1).collect()[0]
    if urow["n"] == 20:                 # all cells distinct, x == 1
        assert urow["i"] is None and urow["z"] is None
    with pytest.raises(ValueError, match="k must"):
        morans_i(df, res=9, k=0)


# --- space-time Gi* (emerging hot spots) ------------------------------------

def _st_oracle(pts, res, bucket_s, k, tn):
    """(cell, tb) -> (x, w, wx, z) with the space-time-cube neighborhood."""
    cells = hexgrid.latlon_to_cell(
        np.array([p[0] for p in pts]), np.array([p[1] for p in pts]), res)
    x = {}
    for i, c in enumerate(cells):
        tb = int(pts[i][2] // bucket_s)
        key = (int(c), tb)
        x[key] = x.get(key, 0.0) + 1.0
    n = len(x)
    xs = np.array(list(x.values()))
    mean = xs.mean()
    s = math.sqrt((xs * xs).mean() - mean * mean)
    occupied = set(x)
    out = {}
    for (c, tb), xi in x.items():
        ring = set(int(v) for v in hexgrid.kring(np.array([c]), k)[0])
        nbs = {(j, tb + dt) for j in ring
               for dt in range(-tn, tn + 1)} & occupied
        w = len(nbs)
        wx = sum(x[b] for b in nbs)
        var = (n * w - w * w) / (n - 1) if n > 1 else 0.0
        z = ((wx - mean * w) / (s * math.sqrt(var))
             if n > 1 and s > 0 and var > 0 else None)
        out[(c, tb)] = (xi, w, wx, z)
    return out


def test_gi_star_spacetime_matches_python_oracle(spark):
    from osmspark.operators.tiles import gi_star_spacetime

    rng = random.Random(47)
    pts = [(1.29 + rng.random() * 0.02, 103.79 + rng.random() * 0.02,
            rng.random() * 3600.0 * 6) for _ in range(400)]
    df = spark.createDataFrame(pts, "lat double, lon double, ts double")
    got = {(r["cell"], r["t_bucket"]): (r["x"], r["w"], r["wx"], r["z"])
           for r in gi_star_spacetime(df, res=8, bucket_s=3600.0,
                                      k=1, t_neighbors=1).collect()}
    exp = _st_oracle(pts, 8, 3600.0, 1, 1)
    assert set(got) == set(exp)
    for b in exp:
        assert got[b][0] == exp[b][0]
        assert got[b][1] == exp[b][1]
        assert abs(got[b][2] - exp[b][2]) < 1e-9
        if exp[b][3] is None:
            assert got[b][3] is None
        else:
            assert abs(got[b][3] - exp[b][3]) < 1e-9
    # the fixture exercises real time structure: multiple buckets per cell
    assert len({tb for _, tb in exp}) >= 4


def test_gi_star_spacetime_one_bucket_equals_gi_star(spark):
    """Every ts in one bucket and t_neighbors=0: the space-time bins are
    the cells and the stencil is the spatial k-ring, so each bin's
    (x, w, wx, z) equals gi_star's for its cell."""
    from osmspark.operators.tiles import gi_star_spacetime

    rng = random.Random(53)
    pts = [(1.29 + rng.random() * 0.02, 103.79 + rng.random() * 0.02,
            7200.0 + rng.random() * 3599.0, rng.random() * 5.0)
           for _ in range(300)]
    df = spark.createDataFrame(
        pts, "lat double, lon double, ts double, v double")
    exp = {r["cell"]: r for r in
           gi_star(df, res=8, k=1, value_col="v").collect()}
    got = gi_star_spacetime(df, res=8, bucket_s=3600.0, k=1, t_neighbors=0,
                            value_col="v").collect()
    assert {r["t_bucket"] for r in got} == {2}
    assert {r["cell"] for r in got} == set(exp)
    assert any(r["z"] is not None for r in got)     # non-vacuous
    for r in got:
        e = exp[r["cell"]]
        assert r["w"] == e["w"]
        for f in ("x", "wx", "z"):
            if e[f] is None:
                assert r[f] is None
            else:
                assert abs(r[f] - e[f]) < 1e-12, (f, r[f], e[f])


def test_gi_star_spacetime_burst_detection(spark):
    """A localized burst in ONE time bucket outscores the same location's
    other buckets — the emerging-hot-spot signal the pure-spatial Gi*
    cannot express."""
    from osmspark.operators.tiles import gi_star_spacetime

    rng = random.Random(5)
    pts = [(1.29 + rng.random() * 0.02, 103.79 + rng.random() * 0.02,
            rng.random() * 4 * 3600.0) for _ in range(200)]
    # burst: 80 extra points at one spot inside hour 2
    pts += [(1.3001 + rng.random() * 1e-4, 103.8001 + rng.random() * 1e-4,
             2 * 3600.0 + rng.random() * 3600.0) for _ in range(80)]
    df = spark.createDataFrame(pts, "lat double, lon double, ts double")
    rows = gi_star_spacetime(df, res=10, bucket_s=3600.0,
                             k=1, t_neighbors=1).collect()
    burst_cell = int(hexgrid.latlon_to_cell(
        np.array([1.30015]), np.array([103.80015]), 10)[0])
    zs = {(r["cell"], r["t_bucket"]): r["z"] for r in rows
          if r["z"] is not None}
    best = max(zs, key=zs.get)
    # Gi* includes the whole space-time neighborhood, so the max-z bin
    # may be the burst bin or any (spatial ring) x (t +- 1) neighbor —
    # but never outside the burst's neighborhood
    ring = {int(v) for v in hexgrid.kring(np.array([burst_cell]), 1)[0]}
    assert best[0] in ring and best[1] in (1, 2, 3)
    # and the burst bin itself is an extreme hot spot in absolute terms
    assert zs[(burst_cell, 2)] > 5.0
    # null ts excluded, not counted
    df2 = df.unionByName(spark.createDataFrame(
        [(1.3001, 103.8001, None)], "lat double, lon double, ts double"))
    rows2 = gi_star_spacetime(df2, res=10, bucket_s=3600.0,
                              k=1, t_neighbors=1).collect()
    assert sum(r["x"] for r in rows2) == sum(r["x"] for r in rows)


def test_gi_star_spacetime_guards_and_plan(spark):
    from osmspark.operators.tiles import gi_star_spacetime

    df = spark.createDataFrame(
        [(1.29, 103.79, 0.0)], "lat double, lon double, ts double")
    for bad in (dict(k=0), dict(t_neighbors=-1), dict(bucket_s=0.0)):
        import pytest as _pytest
        kw = dict(res=8, bucket_s=3600.0, k=1, t_neighbors=1)
        kw.update(bad)
        with _pytest.raises(ValueError):
            gi_star_spacetime(df, **kw)
    plan = gi_star_spacetime(df, res=8, bucket_s=3600.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "HashAggregate" in plan
