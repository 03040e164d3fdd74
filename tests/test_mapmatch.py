"""HMM map matching: way_segments exactness + chain breaks, candidate
generation vs a brute python twin, Viterbi vs brute-force path
enumeration, the continuity-beats-nearest property, gap handling, and
the loud guards."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from osmspark.functions.geo import haversine_np
from osmspark.operators.mapmatch import (map_match, match_candidates,
                                         way_segments)

_KY = 6371008.8 * math.pi / 180.0


def _net(spark, ways_pts):
    """ways_pts: {way_id: [(lat, lon), ...]} -> (ways, nodes) frames."""
    nodes, ways, nid = [], [], 0
    for wid, pts in ways_pts.items():
        nd = []
        for la, lo in pts:
            if la is None:          # dangling ref
                nd.append(f"missing{nid}")
            else:
                nodes.append((f"n{nid}", la, lo))
                nd.append(f"n{nid}")
            nid += 1
        ways.append((wid, nd))
    return (
        spark.createDataFrame(ways, "id string, nd array<string>"),
        spark.createDataFrame(nodes, "id string, lat double, lon double"),
    )


def _seg_dist(plat, plon, s):
    """The candidate filter's twin: clamped projection in the local
    chart at the segment's mid latitude, haversine to the projection."""
    kx = _KY * math.cos(math.radians(s["mid_lat"]))
    ax, ay = (s["lon1"] - plon) * kx, (s["lat1"] - plat) * _KY
    bx, by = (s["lon2"] - plon) * kx, (s["lat2"] - plat) * _KY
    dx, dy = bx - ax, by - ay
    den = dx * dx + dy * dy
    t = 0.0 if den == 0 else min(1.0, max(0.0, -(ax * dx + ay * dy) / den))
    mla = s["lat1"] + t * (s["lat2"] - s["lat1"])
    mlo = s["lon1"] + t * (s["lon2"] - s["lon1"])
    return float(haversine_np(plat, plon, mla, mlo)), mla, mlo


def test_way_segments_exact_and_chain_break(spark):
    ways, nodes = _net(spark, {
        "A": [(1.300, 103.800), (1.300, 103.801), (1.3005, 103.802)],
        "B": [(1.310, 103.810), (None, None), (1.312, 103.812)],
        "C": [(1.320, 103.820)],            # single node: no segment
    })
    segs = {(r["way_id"], r["seg_idx"]): r
            for r in way_segments(ways, nodes).collect()}
    assert set(segs) == {("A", 0), ("A", 1)}  # B broken, C too short
    s0 = segs[("A", 0)]
    assert (s0["lat1"], s0["lon1"], s0["lat2"], s0["lon2"]) == (
        1.300, 103.800, 1.300, 103.801)
    assert abs(s0["mid_lat"] - 1.300) < 1e-12
    assert abs(s0["mid_lon"] - 103.8005) < 1e-12
    exp = float(haversine_np(1.300, 103.800, 1.300, 103.801))
    assert abs(s0["len_m"] - exp) < 1e-9
    s1 = segs[("A", 1)]
    assert (s1["lat1"], s1["lon1"]) == (1.300, 103.801)


def test_match_candidates_equals_brute_twin(spark):
    rng = random.Random(5)
    ways_pts = {}
    for w in range(12):
        la = 1.29 + rng.random() * 0.02
        lo = 103.79 + rng.random() * 0.02
        ways_pts[f"w{w}"] = [
            (la, lo),
            (la + (rng.random() - 0.5) * 0.003,
             lo + (rng.random() - 0.5) * 0.003),
            (la + (rng.random() - 0.5) * 0.006,
             lo + (rng.random() - 0.5) * 0.006),
        ]
    ways, nodes = _net(spark, ways_pts)
    segs = way_segments(ways, nodes)
    seg_rows = [r.asDict() for r in segs.collect()]
    fixes = [(0, float(t), 1.29 + rng.random() * 0.02,
              103.79 + rng.random() * 0.02) for t in range(80)]
    gps = spark.createDataFrame(
        fixes, "traj_id long, ts double, lat double, lon double")
    radius = 120.0
    got = {(r["ts"], r["way_id"], r["seg_idx"]):
           (r["dist_m"], r["m_lat"], r["m_lon"])
           for r in match_candidates(gps, segs, radius_m=radius).collect()}
    exp = {}
    for _, ts, la, lo in fixes:
        for s in seg_rows:
            dd, mla, mlo = _seg_dist(la, lo, s)
            if dd <= radius:
                exp[(ts, s["way_id"], s["seg_idx"])] = (dd, mla, mlo)
    assert set(got) == set(exp)
    assert len(exp) > 20                      # fixture non-vacuous
    for k in exp:
        assert abs(got[k][0] - exp[k][0]) < 1e-6
        assert abs(got[k][1] - exp[k][1]) < 1e-9
        assert abs(got[k][2] - exp[k][2]) < 1e-9


def _brute_viterbi(fix_rows, cand_rows, sigma, beta):
    """Exhaustive max over all candidate paths, same scoring formulas.
    fix_rows: [(ts, lat, lon)] sorted; cand_rows: {ts: [cand dicts
    sorted by (way_id, seg_idx)]}.  Returns [(way_id, seg_idx) | None]."""
    import itertools

    tss = [f[0] for f in fix_rows]
    out = [None] * len(tss)
    i = 0
    while i < len(tss):
        if not cand_rows.get(tss[i]):
            i += 1
            continue
        j = i
        while j < len(tss) and cand_rows.get(tss[j]):
            j += 1
        chain = list(range(i, j))
        best_score, best_path = -np.inf, None
        for combo in itertools.product(
                *[range(len(cand_rows[tss[t]])) for t in chain]):
            sc = 0.0
            for pos, t in enumerate(chain):
                c = cand_rows[tss[t]][combo[pos]]
                sc += -(c["dist_m"] ** 2) / (2 * sigma ** 2)
                if pos > 0:
                    p = cand_rows[tss[chain[pos - 1]]][combo[pos - 1]]
                    gc = float(haversine_np(
                        fix_rows[chain[pos - 1]][1],
                        fix_rows[chain[pos - 1]][2],
                        fix_rows[t][1], fix_rows[t][2]))
                    dm = float(haversine_np(p["m_lat"], p["m_lon"],
                                            c["m_lat"], c["m_lon"]))
                    sc += -abs(dm - gc) / beta
            if sc > best_score:
                best_score, best_path = sc, combo
        for pos, t in enumerate(chain):
            c = cand_rows[tss[t]][best_path[pos]]
            out[t] = (c["way_id"], c["seg_idx"])
        i = j
    return out


def test_viterbi_matches_bruteforce_enumeration(spark):
    # three nearby parallel-ish ways so every fix has several candidates
    ways, nodes = _net(spark, {
        "A": [(1.3000, 103.800), (1.3000, 103.804)],
        "B": [(1.3006, 103.800), (1.3007, 103.804)],
        "C": [(1.2993, 103.800), (1.2991, 103.804)],
    })
    segs = way_segments(ways, nodes)
    rng = random.Random(11)
    fixes = [(7, float(t), 1.2999 + (rng.random() - 0.5) * 0.0009,
              103.8005 + t * 0.0004) for t in range(6)]
    gps = spark.createDataFrame(
        fixes, "traj_id long, ts double, lat double, lon double")
    sigma, beta, radius = 30.0, 8.0, 150.0
    cand = match_candidates(gps, segs, radius_m=radius).collect()
    cand_rows = {}
    for r in cand:
        cand_rows.setdefault(r["ts"], []).append(r.asDict())
    for ts in cand_rows:
        cand_rows[ts].sort(key=lambda c: (c["way_id"], c["seg_idx"]))
    fix_rows = sorted((ts, la, lo) for _, ts, la, lo in fixes)
    exp = _brute_viterbi(fix_rows, cand_rows, sigma, beta)
    got = {r["ts"]: (r["way_id"], r["seg_idx"]) for r in map_match(
        gps, segs, radius_m=radius, sigma_m=sigma, beta_m=beta).collect()}
    assert len(got) == len(fixes)
    for pos, (ts, _, _) in enumerate(fix_rows):
        if exp[pos] is None:
            assert got[ts] == (None, None)
        else:
            assert got[ts] == exp[pos], ts
    assert any(v is not None for v in exp)    # non-vacuous


def test_hmm_continuity_beats_nearest_segment(spark):
    # two parallel roads 80 m apart; one mid-route fix is nudged to be
    # NEAREST to road B, but route continuity must keep it on road A
    dlat = 80.0 / _KY
    ways, nodes = _net(spark, {
        "A": [(1.3000, 103.800), (1.3000, 103.803)],
        "B": [(1.3000 + dlat, 103.800), (1.3000 + dlat, 103.803)],
    })
    segs = way_segments(ways, nodes)
    # zigzag GPS noise around road A; fix 3's 45 m nudge leaves it only
    # 35 m from road B (nearest = B) — verified numerically that the
    # brute path optimum keeps it on A under these params
    nudges = [5.0, -5.0, 8.0, 45.0, -6.0, 5.0, -4.0]
    kx = _KY * math.cos(math.radians(1.3))
    fixes = [(1, float(t), 1.3000 + nudges[t] / _KY,
              103.8002 + t * 30.0 / kx) for t in range(7)]
    gps = spark.createDataFrame(
        fixes, "traj_id long, ts double, lat double, lon double")
    rows = map_match(gps, segs, radius_m=120.0, sigma_m=20.0,
                     beta_m=5.0).collect()
    assert len(rows) == 7
    assert all(r["way_id"] == "A" for r in rows)
    # and the nudged fix's nearest segment really was B (premise check)
    seg_rows = [r.asDict() for r in segs.collect()]
    near = min(seg_rows,
               key=lambda s: _seg_dist(fixes[3][2], fixes[3][3], s)[0])
    assert near["way_id"] == "B"


def test_gap_emits_null_and_breaks_chain(spark):
    ways, nodes = _net(spark, {
        "A": [(1.3000, 103.800), (1.3000, 103.802)],
        "B": [(1.3200, 103.820), (1.3200, 103.822)],
    })
    segs = way_segments(ways, nodes)
    fixes = [(1, 0.0, 1.30001, 103.8005), (1, 1.0, 1.30001, 103.8010),
             (1, 2.0, 1.31, 103.81),       # ~1.5 km from both roads
             (1, 3.0, 1.32001, 103.8205), (1, 4.0, 1.32001, 103.8210)]
    gps = spark.createDataFrame(
        fixes, "traj_id long, ts double, lat double, lon double")
    got = {r["ts"]: r for r in
           map_match(gps, segs, radius_m=100.0).collect()}
    assert len(got) == 5
    assert got[2.0]["way_id"] is None
    assert got[2.0]["m_lat"] is None and got[2.0]["dist_m"] is None
    assert got[0.0]["way_id"] == "A" and got[1.0]["way_id"] == "A"
    assert got[3.0]["way_id"] == "B" and got[4.0]["way_id"] == "B"


def test_null_ts_fix_emits_null_match(spark):
    """A NULL-ts fix has no place in the timestep order: it keeps one
    null-match row (ts NULL, its own lat/lon) even when a road is within
    radius, and the rest of the trajectory matches as without it."""
    ways, nodes = _net(spark, {
        "A": [(1.3000, 103.800), (1.3000, 103.802)],
        "B": [(1.3200, 103.820), (1.3200, 103.822)],
    })
    segs = way_segments(ways, nodes)
    fixes = [(1, 0.0, 1.30001, 103.8005), (1, 1.0, 1.30001, 103.8010),
             (1, None, 1.30001, 103.8007),     # 1 m from road A
             (2, 0.0, 1.30001, 103.8005), (2, None, 1.32001, 103.8207),
             (2, 1.0, 1.30002, 103.8009)]
    gps = spark.createDataFrame(
        fixes, "traj_id long, ts double, lat double, lon double")
    got = {(r["traj_id"], r["ts"]): r for r in
           map_match(gps, segs, radius_m=100.0).collect()}
    assert len(got) == 6
    for traj, lat, lon in ((1, 1.30001, 103.8007), (2, 1.32001, 103.8207)):
        r = got[(traj, None)]
        assert (r["lat"], r["lon"]) == (lat, lon)
        assert r["way_id"] is None and r["seg_idx"] is None
        assert r["m_lat"] is None and r["dist_m"] is None
    for key in ((1, 0.0), (1, 1.0), (2, 0.0), (2, 1.0)):
        assert (got[key]["way_id"], got[key]["seg_idx"]) == ("A", 0), key


def test_guards(spark):
    ways, nodes = _net(spark, {
        "A": [(1.3000, 103.800), (1.3000, 103.802)],   # ~222 m segment
        "B": [(1.30005, 103.800), (1.30005, 103.802)],
    })
    segs = way_segments(ways, nodes)
    gps = spark.createDataFrame(
        [(1, 0.0, 1.3000, 103.801)],
        "traj_id long, ts double, lat double, lon double")
    with pytest.raises(ValueError, match="radius_m"):
        match_candidates(gps, segs, radius_m=0.0)
    with pytest.raises(ValueError, match="sigma_m"):
        map_match(gps, segs, sigma_m=0.0)
    with pytest.raises(Exception, match="max_seg_len_m"):
        match_candidates(gps, segs, radius_m=50.0,
                         max_seg_len_m=100.0).collect()
    # disk cover radius_m + max_seg_len_m/2 past the fanout envelope
    with pytest.raises(ValueError, match="MAX_COVER_M"):
        match_candidates(gps, segs, radius_m=150_000.0,
                         max_seg_len_m=200_000.0)
    # two roads within radius -> 2 candidates > max_candidates_per_fix=1
    with pytest.raises(Exception, match="max_candidates_per_fix"):
        map_match(gps, segs, radius_m=80.0,
                  max_candidates_per_fix=1).collect()
    dup = spark.createDataFrame(
        [(1, 0.0, 1.3000, 103.801), (1, 0.0, 1.3001, 103.801)],
        "traj_id long, ts double, lat double, lon double")
    with pytest.raises(Exception, match="duplicate timestamp"):
        map_match(dup, segs, radius_m=80.0).collect()
