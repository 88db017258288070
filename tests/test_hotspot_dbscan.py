"""Getis-Ord Gi* hotspots and grid DBSCAN — brute-force-pinned.

Both operators are new spatial-statistics surface over existing plan
shapes (raster_smooth's scatter-gather; dwithin's cell-bucket join +
dedup's connected components), so the tests pin them against independent
NumPy/pure-Python references computing the same deterministic contract.
"""

import math

import numpy as np
import pytest

from tree_code_chunker_spark.operators.spatial import dbscan
from tree_code_chunker_spark.operators.tiles import hotspot_gi


# ------------------------------------------------------------------ Gi* ---

def _gi_reference(cells, res):
    """Dense NumPy Gi* over the full 2^res grid, same formula tree."""
    n = 1 << res
    grid = np.zeros((n, n), dtype=np.int64)
    for cy, cx, c in cells:
        grid[cy, cx] += c
    nf = float(n) * float(n)
    s1 = float(grid.sum())
    s2 = float((grid.astype(object) ** 2).sum())
    out = {}
    ys, xs = np.nonzero(grid)
    targets = set()
    for y, x in zip(ys, xs):
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                ty, tx = y + dy, x + dx
                if 0 <= ty < n and 0 <= tx < n:
                    targets.add((ty, tx))
    for ty, tx in targets:
        y0, y1 = max(ty - 1, 0), min(ty + 1, n - 1)
        x0, x1 = max(tx - 1, 0), min(tx + 1, n - 1)
        wx = int(grid[y0:y1 + 1, x0:x1 + 1].sum())
        w = (y1 - y0 + 1) * (x1 - x0 + 1)
        mean = s1 / nf
        wd = float(w)
        z = (float(wx) - mean * wd) / (
            math.sqrt(s2 / nf - mean * mean)
            * math.sqrt((nf * wd - wd * wd) / (nf - 1.0)))
        out[(ty, tx)] = (wx, w, z)
    return out


RES = 5  # 32x32 grid keeps the dense reference tiny


@pytest.fixture(scope="module")
def gi_cells():
    # a hot 2x2 block, an isolated spike, a corner cell (edge w), scatter
    return [(10, 10, 40), (10, 11, 35), (11, 10, 30), (11, 11, 50),
            (20, 3, 90), (0, 0, 7), (31, 31, 3), (5, 25, 1), (6, 25, 2)]


def test_gi_matches_dense_reference(spark, gi_cells):
    hist = spark.createDataFrame(
        [(cy, cx, c) for cy, cx, c in gi_cells],
        "cy long, cx long, n long")
    got = {(r.cy, r.cx): (r.wx, r.w, r.gi_z)
           for r in hotspot_gi(hist, RES).collect()}
    ref = _gi_reference(gi_cells, RES)
    assert set(got) == set(ref)
    for key, (wx, w, z) in ref.items():
        gwx, gw, gz = got[key]
        assert (gwx, gw) == (wx, w), key
        # identical IEEE tree over identical integers -> identical bits
        assert gz == pytest.approx(z, rel=0, abs=0), key


def test_gi_hot_block_is_hottest(spark, gi_cells):
    hist = spark.createDataFrame(gi_cells, "cy long, cx long, n long")
    rows = hotspot_gi(hist, RES).collect()
    top = max(rows, key=lambda r: r.gi_z)
    # the center of the 2x2 hot block sees all four hot cells
    assert (top.cy, top.cx) in {(10, 10), (10, 11), (11, 10), (11, 11)}
    assert top.gi_z > 1.96  # flagged hot at the 5% level
    # corner target has truncated neighborhood
    corner = {(r.cy, r.cx): r.w for r in rows}
    assert corner[(0, 0)] == 4 and corner[(31, 31)] == 4


# --------------------------------------------------------------- DBSCAN ---

def _dbscan_reference(pts, eps, min_pts):
    """Pure-Python DBSCAN with the operator's deterministic contract:
    cluster label = min core id in the core-connectivity component;
    border takes the min adjacent core's cluster label."""
    ids = sorted(pts)
    nbr = {i: set() for i in ids}
    for i in ids:
        for j in ids:
            if i == j:
                continue
            (y1, x1), (y2, x2) = pts[i], pts[j]
            if (y1 - y2) ** 2 + (x1 - x2) ** 2 <= eps * eps:
                nbr[i].add(j)
    core = {i for i in ids if len(nbr[i]) + 1 >= min_pts}
    label = {i: i for i in core}
    # min-label to fixpoint over core-core edges
    changed = True
    while changed:
        changed = False
        for i in core:
            for j in nbr[i] & core:
                m = min(label[i], label[j])
                if label[i] != m or label[j] != m:
                    label[i] = label[j] = m
                    changed = True
    out = {}
    for i in ids:
        if i in core:
            out[i] = ("core", label[i])
        else:
            adj = [label[j] for j in nbr[i] if j in core]
            if adj:
                out[i] = ("border", min(adj))
            else:
                out[i] = ("noise", None)
    return out


def _run_dbscan(spark, pts, eps, min_pts):
    df = spark.createDataFrame(
        [(i, y, x) for i, (y, x) in sorted(pts.items())],
        "pid long, qlat long, qlon long")
    return {r.pid: (r.role, r.cluster)
            for r in dbscan(df, eps, min_pts).collect()}


def test_dbscan_two_blobs_and_noise(spark):
    pts = {}
    # blob A: 3x3 grid spaced 2 apart around (100, 100) — all core at eps=3
    k = 0
    for dy in (0, 2, 4):
        for dx in (0, 2, 4):
            pts[k] = (100 + dy, 100 + dx)
            k += 1
    # blob B: 4 points in a tight square at (500, 500)
    for dy, dx in ((0, 0), (0, 2), (2, 0), (2, 2)):
        pts[k] = (500 + dy, 500 + dx)
        k += 1
    # a border point hanging off blob A (within eps of one core only)
    pts[k] = (100, 107)
    k += 1
    # pure noise
    pts[k] = (900, 900)

    got = _run_dbscan(spark, pts, eps=3, min_pts=4)
    ref = _dbscan_reference(pts, eps=3, min_pts=4)
    assert got == ref
    # structure sanity: two clusters, labelled by their min core id
    assert got[0] == ("core", 0)
    assert got[9] == ("core", 9)
    assert got[13][0] == "border" and got[13][1] == 0
    assert got[14] == ("noise", None)


def test_dbscan_matches_reference_pseudorandom(spark):
    # deterministic LCG scatter: mixes blobs, bridges, and sparse noise
    pts = {}
    seed = 1
    for i in range(90):
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        y = seed % 300
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        x = seed % 300
        pts[i] = (y, x)
    # min_pts=1: EVERY point is core (|N| includes self), incl. isolated
    # ones with no strict neighbor — pins the left-join degree census
    for eps, min_pts in ((20, 3), (35, 5), (20, 1)):
        got = _run_dbscan(spark, pts, eps, min_pts)
        ref = _dbscan_reference(pts, eps, min_pts)
        assert got == ref, (eps, min_pts)


def test_dbscan_isolated_core_is_own_cluster(spark):
    # star: center has 4 strict neighbors (core at min_pts=5); arms have
    # only the center within eps -> border; no core-core edge exists
    pts = {10: (50, 50), 1: (50, 53), 2: (50, 47), 3: (53, 50), 4: (47, 50)}
    got = _run_dbscan(spark, pts, eps=3, min_pts=5)
    assert got[10] == ("core", 10)
    for arm in (1, 2, 3, 4):
        assert got[arm] == ("border", 10)
