"""dwithin_join / zonal_stats / trajectory ops vs independent Python oracles.

Every operator here is integer-exact, so the tests assert EXACT set equality
against brute-force numpy/python implementations, plus determinism across
partitionings (SURVEY.md §5.2's reference invariant).
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from tree_code_chunker_spark.config import GRID_BITS
from tree_code_chunker_spark.operators.spatial import (
    dwithin_join,
    dwithin_res,
    line_cells,
    trajectory_raster,
    trajectory_segments,
    trajectory_stats,
    zonal_stats,
)


def _points_df(spark, ids, qlat, qlon, id_col="doc_id"):
    rows = [(int(i), int(p), int(a), int(o))
            for i, p, a, o in zip(ids[0], ids[1], qlat, qlon)]
    return spark.createDataFrame(
        rows, f"{id_col} bigint, span_pos bigint, qlat bigint, qlon bigint")


def test_dwithin_res_properties():
    for radius in [1, 2, 3, 4, 5, 100, 255, 256, 257, 1000, 65535]:
        res = dwithin_res(radius)
        side = 1 << (GRID_BITS - res)
        assert side >= radius, (radius, res, side)
        # finest: one res finer would have side < radius (or res is maximal)
        if res < GRID_BITS - 1:
            assert (1 << (GRID_BITS - res - 1)) < radius
    with pytest.raises(ValueError):
        dwithin_res(0)


def _brute_pairs(a_lat, a_lon, b_lat, b_lon, radius):
    d2 = ((a_lat[:, None] - b_lat[None, :]) ** 2
          + (a_lon[:, None] - b_lon[None, :]) ** 2)
    ai, bi = np.nonzero(d2 <= radius * radius)
    return {(int(i), int(j), int(d2[i, j])) for i, j in zip(ai, bi)}


@pytest.mark.parametrize("radius", [1, 7, 300, 4000])
def test_dwithin_join_vs_bruteforce(spark, radius):
    rng = np.random.RandomState(42 + radius)
    na, nb = 300, 80
    # cluster some points so small radii still produce matches, and pin the
    # grid borders (neighbor cells off-grid must be dropped, not clamped)
    a_lat = np.concatenate([rng.randint(0, 65536, na - 4),
                            np.array([0, 0, 65535, 65535])])
    a_lon = np.concatenate([rng.randint(0, 65536, na - 4),
                            np.array([0, 65535, 0, 65535])])
    b_lat = np.concatenate([a_lat[:nb - 4] + rng.randint(-radius, radius + 1, nb - 4),
                            np.array([1, 2, 65534, 65533])])
    b_lon = np.concatenate([a_lon[:nb - 4] + rng.randint(-radius, radius + 1, nb - 4),
                            np.array([1, 65533, 2, 65534])])
    b_lat, b_lon = np.clip(b_lat, 0, 65535), np.clip(b_lon, 0, 65535)

    a = _points_df(spark, (np.arange(na), np.zeros(na)), a_lat, a_lon)
    b = spark.createDataFrame(
        [(int(i), int(y), int(x)) for i, y, x in
         zip(np.arange(nb), b_lat, b_lon)],
        "query_id bigint, qlat bigint, qlon bigint")

    got = {(r.doc_id, r.query_id, r.d2)
           for r in dwithin_join(a, b, radius).collect()}
    want = _brute_pairs(a_lat, a_lon, b_lat, b_lon, radius)
    assert got == want


def test_dwithin_join_broadcast_and_parallelism_invariant(spark):
    rng = np.random.RandomState(7)
    n = 200
    lat, lon = rng.randint(0, 65536, n), rng.randint(0, 65536, n)
    a = _points_df(spark, (np.arange(n), np.zeros(n)), lat, lon)
    b = spark.createDataFrame(
        [(int(i), int(lat[i] + 13), int(lon[i] - 9)) for i in range(0, n, 3)],
        "query_id bigint, qlat bigint, qlon bigint")
    base = sorted(map(tuple, dwithin_join(a, b, 500).collect()))
    assert len(base) > 0
    bc = sorted(map(tuple, dwithin_join(a, b, 500, broadcast_b=True).collect()))
    rp = sorted(map(tuple, dwithin_join(
        a.repartition(13), b.repartition(3), 500).collect()))
    assert base == bc == rp


# ------------------------------------------------------------ trajectory ----


def _traj_df(spark, rng, n_ids=20, max_len=8):
    rows = []
    for did in range(n_ids):
        m = rng.randint(1, max_len + 1)
        for p in range(m):
            rows.append((did, p, int(rng.randint(0, 65536)),
                         int(rng.randint(0, 65536))))
    return rows, spark.createDataFrame(
        rows, "doc_id bigint, span_pos bigint, qlat bigint, qlon bigint")


def test_trajectory_stats_vs_python(spark):
    rng = np.random.RandomState(11)
    rows, df = _traj_df(spark, rng)
    got = {r.doc_id: r.asDict() for r in trajectory_stats(df).collect()}

    by_id = {}
    for did, p, y, x in rows:
        by_id.setdefault(did, []).append((p, y, x))
    for did, pts in by_id.items():
        pts.sort()
        ys = [y for _, y, _ in pts]
        xs = [x for _, _, x in pts]
        segs = list(zip(pts, pts[1:]))
        g = got[did]
        assert g["n_points"] == len(pts)
        assert g["n_segs"] == len(segs)
        assert g["cheb_len"] == sum(
            max(abs(b[1] - a[1]), abs(b[2] - a[2])) for a, b in segs)
        assert g["max_step_d2"] == (max(
            ((b[1] - a[1]) ** 2 + (b[2] - a[2]) ** 2) for a, b in segs)
            if segs else 0)
        assert g["net_d2"] == ((ys[-1] - ys[0]) ** 2 + (xs[-1] - xs[0]) ** 2)
        assert g["bbox_area"] == (max(ys) - min(ys)) * (max(xs) - min(xs))


def _dda_py(cy0, cx0, cy1, cx1):
    dy, dx = cy1 - cy0, cx1 - cx0
    steps = max(abs(dy), abs(dx))
    ss = max(steps, 1)
    out = []
    for i in range(steps + 1):
        out.append((cy0 + (2 * i * dy + ss) // (2 * ss),
                    cx0 + (2 * i * dx + ss) // (2 * ss)))
    return out


def test_line_cells_vs_python_and_properties(spark):
    rng = np.random.RandomState(3)
    res = 8
    shift = GRID_BITS - res
    segs = []
    for sid in range(120):
        segs.append((0, sid, int(rng.randint(0, 65536)), int(rng.randint(0, 65536)),
                     int(rng.randint(0, 65536)), int(rng.randint(0, 65536))))
    segs.append((0, 999, 5000, 5000, 5000, 5000))  # zero-length segment
    df = spark.createDataFrame(
        segs, "doc_id bigint, seg_pos bigint, y0 bigint, x0 bigint, "
              "y1 bigint, x1 bigint")
    got = {}
    for r in line_cells(df, res).collect():
        got.setdefault(r.seg_pos, []).append((r.cy, r.cx))
    for _, sid, y0, x0, y1, x1 in segs:
        want = _dda_py(y0 >> shift, x0 >> shift, y1 >> shift, x1 >> shift)
        cells = got[sid]
        assert sorted(cells) == sorted(want), sid
        assert len(set(cells)) == len(cells)  # no duplicate cells per segment
        for (ay, ax), (by, bx) in zip(want, want[1:]):  # 8-connected
            assert max(abs(by - ay), abs(bx - ax)) == 1


def test_line_cells_duckdb_mirror(spark):
    """The exact SQL formula used by the driver oracle reproduces line_cells."""
    rng = np.random.RandomState(5)
    res = 8
    segs = [(i, int(rng.randint(0, 65536)), int(rng.randint(0, 65536)),
             int(rng.randint(0, 65536)), int(rng.randint(0, 65536)))
            for i in range(60)]
    df = spark.createDataFrame(
        segs, "seg_pos bigint, y0 bigint, x0 bigint, y1 bigint, x1 bigint"
    ).withColumn("doc_id", F.lit(0))
    got = sorted((r.seg_pos, r.cy, r.cx)
                 for r in line_cells(df, res, keep_cols=("seg_pos",)).collect())
    vals = ", ".join(f"({s}, {y0}, {x0}, {y1}, {x1})" for s, y0, x0, y1, x1 in segs)
    sql = f"""
    WITH segs(seg_pos, y0, x0, y1, x1) AS (VALUES {vals}),
    cs AS (
      SELECT seg_pos, y0 >> {GRID_BITS - res} AS cy0, x0 >> {GRID_BITS - res} AS cx0,
             (y1 >> {GRID_BITS - res}) - (y0 >> {GRID_BITS - res}) AS dy,
             (x1 >> {GRID_BITS - res}) - (x0 >> {GRID_BITS - res}) AS dx
      FROM segs
    ), st AS (
      SELECT *, GREATEST(ABS(dy), ABS(dx)) AS steps,
             GREATEST(GREATEST(ABS(dy), ABS(dx)), 1) AS ss
      FROM cs
    )
    SELECT seg_pos,
           cy0 + CAST(FLOOR((2.0*i*dy + ss) / (2.0*ss)) AS BIGINT) AS cy,
           cx0 + CAST(FLOOR((2.0*i*dx + ss) / (2.0*ss)) AS BIGINT) AS cx
    FROM (SELECT *, UNNEST(range(0, steps + 1)) AS i FROM st)
    """
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def test_trajectory_raster_handmade(spark):
    # two trajectories sharing one cell; res chosen so coords ARE cells
    res = GRID_BITS  # shift 0: grid coords = cell coords
    rows = [
        (1, 0, 0, 0), (1, 1, 0, 3),   # traj 1: (0,0)->(0,3): cells x=0..3
        (2, 0, 2, 1), (2, 1, 0, 1),   # traj 2: (2,1)->(0,1): cells y=2..0
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, span_pos bigint, qlat bigint, qlon bigint")
    got = {(r.cy, r.cx): (r.n_visits, r.n_ids)
           for r in trajectory_raster(df, res).collect()}
    assert got == {
        (0, 0): (1, 1), (0, 2): (1, 1), (0, 3): (1, 1),
        (2, 1): (1, 1), (1, 1): (1, 1),
        (0, 1): (2, 2),  # shared cell: one visit from each trajectory
    }


def test_trajectory_segments_counts(spark):
    rng = np.random.RandomState(9)
    rows, df = _traj_df(spark, rng, n_ids=10)
    segs = trajectory_segments(df).collect()
    by_id = {}
    for did, *_ in rows:
        by_id[did] = by_id.get(did, 0) + 1
    want = sum(max(0, n - 1) for n in by_id.values())
    assert len(segs) == want
    for s in segs:  # lag pairing is by ascending span_pos
        assert s.y0 is not None and s.x0 is not None


# ------------------------------------------------------------ zonal stats ----


def test_zonal_stats_vs_python(spark):
    rng = np.random.RandomState(21)
    n = 400
    lat, lon = rng.randint(0, 60000, n), rng.randint(0, 60000, n)
    val = rng.randint(-50, 1000, n)
    pts = spark.createDataFrame(
        [(int(i), 0, int(lat[i]), int(lon[i]), int(val[i])) for i in range(n)],
        "doc_id bigint, span_pos bigint, qlat bigint, qlon bigint, v bigint")
    rects = []
    for r in range(6):
        y0, x0 = int(rng.randint(0, 50000)), int(rng.randint(0, 50000))
        rects.append((f"z{r}", y0, x0, y0 + 8000, x0 + 9000))
    polys = spark.createDataFrame(
        [(pid, [(y0, x0), (y0, x1), (y1, x1), (y1, x0), (y0, x0)])
         for pid, y0, x0, y1, x1 in rects],
        "polygon_id string, ring array<struct<qlat:bigint,qlon:bigint>>")
    got = {r.polygon_id: (r.n_points, r.sum_value, r.min_value, r.max_value)
           for r in zonal_stats(pts, polys, value="v").collect()}
    for pid, y0, x0, y1, x1 in rects:
        m = (lat >= y0) & (lat < y1) & (lon >= x0) & (lon < x1)
        if m.sum() == 0:
            assert pid not in got
        else:
            assert got[pid] == (int(m.sum()), int(val[m].sum()),
                                int(val[m].min()), int(val[m].max()))


def test_polygon_stats_vs_python_shoelace(spark):
    from tree_code_chunker_spark.operators.spatial import polygon_stats
    from tree_code_chunker_spark.sources.datagen import gen_polygons, polygon_rings

    got = {r.polygon_id: r.asDict()
           for r in polygon_stats(gen_polygons(spark, 12, seed=7)).collect()}
    for pid, ring in polygon_rings(12, seed=7):
        area2 = abs(sum(x1 * y2 - x2 * y1
                        for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:])))
        perim = sum(max(abs(y2 - y1), abs(x2 - x1))
                    for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]))
        g = got[pid]
        assert g["n_vertices"] == len(ring) - 1
        assert g["area2"] == area2
        assert g["perim_cheb"] == perim
        assert g["min_qlat"] == min(y for y, _ in ring)
        assert g["max_qlat"] == max(y for y, _ in ring)
        assert g["min_qlon"] == min(x for _, x in ring)
        assert g["max_qlon"] == max(x for _, x in ring)


def test_polygon_stats_unit_square(spark):
    from tree_code_chunker_spark.operators.spatial import polygon_stats

    ring = [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)]
    df = spark.createDataFrame(
        [("sq", ring)],
        "polygon_id string, ring array<struct<qlat:bigint,qlon:bigint>>")
    r = polygon_stats(df).collect()[0]
    assert (r.n_vertices, r.area2, r.perim_cheb) == (4, 200, 40)


def test_dwithin_join_huge_radius_res0(spark):
    """radius > any cell side: res 0 is a single cell, join stays exact."""
    import numpy as np

    rng = np.random.RandomState(41)
    n = 60
    lat, lon = rng.randint(0, 65536, n), rng.randint(0, 65536, n)
    a = _points_df(spark, (np.arange(n), np.zeros(n)), lat, lon)
    b = spark.createDataFrame(
        [(0, 0, 0), (1, 65535, 65535)], "query_id bigint, qlat bigint, qlon bigint")
    got = {(r.doc_id, r.query_id, r.d2)
           for r in dwithin_join(a, b, 70000).collect()}
    want = _brute_pairs(lat, lon, np.array([0, 65535]),
                        np.array([0, 65535]), 70000)
    assert got == want and len(got) > 0


def test_polygon_stats_open_ring_closed_like_pip(spark):
    from tree_code_chunker_spark.operators.spatial import polygon_stats

    open_ring = [(0, 0), (0, 10), (10, 10), (10, 0)]   # no closing vertex
    closed = open_ring + [(0, 0)]
    df = spark.createDataFrame(
        [("open", open_ring), ("closed", closed)],
        "polygon_id string, ring array<struct<qlat:bigint,qlon:bigint>>")
    got = {r.polygon_id: (r.n_vertices, r.area2, r.perim_cheb)
           for r in polygon_stats(df).collect()}
    assert got["open"] == got["closed"] == (4, 200, 40)


def test_dwithin_self_join_unordered_unique_pairs(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.spatial import dwithin_self_join

    rng = np.random.RandomState(47)
    n = 150
    interior = rng.randint(0, 2000, n), rng.randint(0, 2000, n)
    # clusters in the four grid corners, the corners themselves included:
    # their off-grid neighbour cells must be dropped, not clamped
    near = [np.where(rng.rand(n) < 0.5, rng.randint(0, 600, n),
                     65535 - rng.randint(0, 600, n)) for _ in range(2)]
    corners = (np.concatenate([[0, 0, 65535, 65535], near[0]]),
               np.concatenate([[0, 65535, 0, 65535], near[1]]))
    for lat, lon in (interior, corners):
        m = len(lat)
        pts = _points_df(spark, (np.arange(m), np.zeros(m)), lat, lon)
        rows = dwithin_self_join(pts, 300).collect()
        pairs = [((r.doc_id, r.span_pos), (r.b_doc_id, r.b_span_pos), r.d2)
                 for r in rows]
        # each unordered pair exactly once, ordered a < b, no self-pairs
        assert all(a < b for a, b, _ in pairs)
        assert len({(a, b) for a, b, _ in pairs}) == len(pairs)
        want = _brute_pairs(lat, lon, lat, lon, 300)
        want = {(i, j, d) for i, j, d in want if i < j}
        got = {(int(a[0]), int(b[0]), d) for a, b, d in pairs}
        assert got == want and len(got) > 0


def test_radius_joins_explode_the_neighbour_offsets(spark):
    """The B side of each radius join explodes 9 (dwithin_join), 5
    (dwithin_self_join), 27 (st_colocate_ab) or 14 (st_colocate_join)
    neighbour offsets and joins once on the cell key: the halved self-join
    shuffle, which output equality cannot see."""
    import re

    from tree_code_chunker_spark.operators.spatial import (
        dwithin_self_join,
        st_colocate_ab,
        st_colocate_join,
    )

    pts = spark.createDataFrame(
        [(1, 0, 100, 200, 5), (2, 1, 120, 210, 9)],
        "doc_id bigint, span_pos bigint, qlat bigint, qlon bigint, t_s bigint")
    b = pts.select(F.col("doc_id").alias("b_doc_id"),
                   F.col("span_pos").alias("b_span_pos"), "qlat", "qlon", "t_s")
    cases = [
        (dwithin_join(pts, b, 50, b_keep=("b_doc_id", "b_span_pos")), 9, 2),
        (dwithin_self_join(pts, 50), 5, 2),
        (st_colocate_ab(pts, b, 50, 10), 27, 3),
        (st_colocate_join(pts, 50, 10), 14, 3),
    ]
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plans = [df._jdf.queryExecution().executedPlan().toString()
                 for df, _, _ in cases]
    finally:
        spark.conf.set(key, old)
    for plan, (_, n_off, n_key) in zip(plans, cases):
        offsets = re.findall(r"Generate explode\((\[.*?\]\])\)", plan)
        assert len(offsets) == 1, plan
        assert offsets[0].count("[") - 1 == n_off, (n_off, offsets[0])
        joins = re.findall(r"Join \[([^\]]*)\]", plan)
        assert len(joins) == 1, plan
        assert len(joins[0].split(",")) == n_key, joins


def test_od_matrix_vs_python(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.spatial import od_matrix

    rng = np.random.RandomState(53)
    rows, df = _traj_df(spark, rng, n_ids=30)
    res, shift = 6, GRID_BITS - 6
    got = {(r.o_cy, r.o_cx, r.d_cy, r.d_cx): r.n_flows
           for r in od_matrix(df, res).collect()}
    by_id = {}
    for did, p, y, x in rows:
        by_id.setdefault(did, []).append((p, y, x))
    want = {}
    for pts in by_id.values():
        pts.sort()
        (_, oy, ox), (_, dy, dx) = pts[0], pts[-1]
        k = (oy >> shift, ox >> shift, dy >> shift, dx >> shift)
        want[k] = want.get(k, 0) + 1
    assert got == want


def test_idw_interpolate_vs_python(spark):
    """Power-2 IDW == a python reference, including the d2=0 singularity
    rule (exact hits average, ignoring non-hit neighbors) and absent rows
    for empty disks."""
    from tree_code_chunker_spark.operators.spatial import idw_interpolate

    pts = [(100, 100, 10.0), (110, 100, 20.0), (100, 130, 40.0),
           (5000, 5000, 7.0), (5000, 5000, 9.0),
           (40000, 40000, 3.0)]
    points = spark.createDataFrame(
        pts, "qlat long, qlon long, value double")
    qs = [(1, 105, 100), (2, 5000, 5000), (3, 60000, 60000)]
    queries = spark.createDataFrame(
        qs, "query_id long, qlat long, qlon long")
    out = {r["query_id"]: (r["n_pts"], r["est"])
           for r in idw_interpolate(points, queries, radius=200).collect()}
    # query 1: plain weighted mean over 3 in-radius points
    import math
    cand = [(v, (y - 105) ** 2 + (x - 100) ** 2)
            for y, x, v in pts if max(abs(y - 105), abs(x - 100)) <= 200
            and (y - 105) ** 2 + (x - 100) ** 2 <= 200 * 200]
    num = sum(v / d2 for v, d2 in cand)
    den = sum(1.0 / d2 for v, d2 in cand)
    assert out[1][0] == len(cand)
    assert math.isclose(out[1][1], round(num / den, 6), abs_tol=1e-6)
    # query 2: two exact hits -> their mean, the in-radius non-hit ignored
    assert out[2] == (2, 8.0)
    # query 3: empty disk -> no row
    assert 3 not in out


# ------------------------------------------------------------- geodesic ----


def _deg_points(spark, n, seed, lat_range=(-89.99, 89.99),
                lon_range=(-180.0, 180.0), id0=0):
    rng = np.random.RandomState(seed)
    lat = rng.uniform(*lat_range, n)
    lon = rng.uniform(*lon_range, n)
    rows = [(id0 + i, float(a), float(o)) for i, (a, o) in
            enumerate(zip(lat, lon))]
    return (
        spark.createDataFrame(rows, "pid bigint, lat double, lon double"),
        lat, lon,
    )


def _hav_pairs_np(alat, alon, aid, blat, blon, bid, radius_m):
    from tree_code_chunker_spark.operators.geo import haversine_m_np

    d = haversine_m_np(alat[:, None], alon[:, None],
                       blat[None, :], blon[None, :])
    d = np.round(d, 3)
    ia, ib = np.where(d <= radius_m)
    return sorted((int(aid[i]), int(bid[j]), float(d[i, j]))
                  for i, j in zip(ia, ib))


@pytest.mark.parametrize("radius_m", [5_000, 50_000, 400_000])
def test_dwithin_geo_matches_bruteforce(spark, radius_m):
    """Geodesic radius join == brute-force haversine over uniformly global
    points including high latitudes and the antimeridian band."""
    from tree_code_chunker_spark.operators.spatial import dwithin_geo

    a, alat, alon = _deg_points(spark, 300, seed=1)
    b, blat, blon = _deg_points(spark, 200, seed=2, id0=1000)
    got = dwithin_geo(
        a, b.withColumnRenamed("pid", "query_id"), radius_m,
        a_keep=("pid",), b_keep=("query_id",)).collect()
    want = _hav_pairs_np(alat, alon, np.arange(300),
                         blat, blon, np.arange(1000, 1200), radius_m)
    got_k = sorted((r["pid"], r["query_id"], r["dist_m"]) for r in got)
    assert got_k == want


def test_dwithin_geo_antimeridian_and_pole(spark):
    """Cross-seam pairs (lon +-179.99) must match; a cap containing the
    pole must see every longitude."""
    from tree_code_chunker_spark.operators.spatial import dwithin_geo

    rows_a = [(1, 60.0, 179.99), (2, 89.995, 10.0), (3, 89.995, -170.0)]
    rows_b = [(10, 60.0, -179.99), (11, 89.999, 120.0)]
    a = spark.createDataFrame(rows_a, "pid bigint, lat double, lon double")
    b = spark.createDataFrame(rows_b, "query_id bigint, lat double, lon double")
    got = {(r["pid"], r["query_id"])
           for r in dwithin_geo(a, b, 5_000, a_keep=("pid",)).collect()}
    # seam pair: 60N +-179.99 are ~1.1 km apart; polar: 89.995 at any lon is
    # within 5 km of 89.999 at any other lon (both < 0.56 + 0.11 deg arc)
    assert (1, 10) in got
    assert (2, 11) in got and (3, 11) in got


def test_knn_geo_equator_agrees_pole_differs(spark):
    """Planar grid ranking == geodesic ranking at the equator (cells are
    square there); near the pole the geodesic order genuinely differs —
    the reason knn_geo exists."""
    from tree_code_chunker_spark.operators.geo import haversine_m_np
    from tree_code_chunker_spark.operators.spatial import knn_geo

    # equator: two corpus points, planar-nearer is also geodesic-nearer
    eq_corpus = spark.createDataFrame(
        [(1, 0, 0.0, 0.10), (2, 0, 0.0, 0.20)],
        "doc_id bigint, span_pos bigint, lat double, lon double")
    q = spark.createDataFrame([(100, 0.0, 0.0)],
                              "query_id bigint, lat double, lon double")
    out = knn_geo(q, eq_corpus, k=1, radius_m=50_000).collect()
    assert [(r["doc_id"], r["rank"]) for r in out] == [(1, 1)]

    # pole (lat 88): dlon=1.0 deg is ~3.9 km; dlat=0.05 deg is ~5.6 km.
    # PLANAR grid units: dlon 1 deg = 182 units >> dlat 0.05 deg = 18
    # units, so the planar metric picks the dlat point — geodesically
    # WRONG; knn_geo must pick the dlon point.
    po_corpus = spark.createDataFrame(
        [(1, 0, 88.0, 1.0), (2, 0, 88.05, 0.0)],
        "doc_id bigint, span_pos bigint, lat double, lon double")
    qp = spark.createDataFrame([(200, 88.0, 0.0)],
                               "query_id bigint, lat double, lon double")
    d1 = haversine_m_np(88.0, 0.0, 88.0, 1.0)
    d2 = haversine_m_np(88.0, 0.0, 88.05, 0.0)
    assert d1 < d2  # the fixture really is discordant
    # planar d2 (grid units): point 2 is closer
    gq = np.floor((np.array([88.0, 88.05, 88.0]) + 90) / 180 * 65536)
    go = np.floor((np.array([1.0, 0.0, 0.0]) + 180) / 360 * 65536)
    pl = (gq[:2] - gq[2]) ** 2 + (go[:2] - go[2]) ** 2
    assert pl[1] < pl[0]
    out = knn_geo(qp, po_corpus, k=2, radius_m=50_000).collect()
    ranks = {r["rank"]: r["doc_id"] for r in out}
    assert ranks == {1: 1, 2: 2}


def test_dwithin_geo_res_guards():
    from tree_code_chunker_spark.operators.spatial import dwithin_geo_res

    with pytest.raises(ValueError, match="> 0"):
        dwithin_geo_res(0)
    with pytest.raises(ValueError, match="2500 km"):
        dwithin_geo_res(5_000_000)


def test_dwithin_geo_self_matches_bruteforce(spark):
    """Geodesic self-join: unordered distinct pairs, no self-pairs, equal
    to the brute-force haversine filter."""
    from tree_code_chunker_spark.operators.geo import haversine_m_np
    from tree_code_chunker_spark.operators.spatial import dwithin_geo_self

    rng = np.random.RandomState(7)
    lat = rng.uniform(-85, 85, 150)
    lon = rng.uniform(-180, 180, 150)
    # plant a dense cluster so pairs exist
    lat[:30] = 45.0 + rng.uniform(-0.05, 0.05, 30)
    lon[:30] = 9.0 + rng.uniform(-0.05, 0.05, 30)
    rows = [(i, 0, float(a), float(o)) for i, (a, o) in
            enumerate(zip(lat, lon))]
    pts = spark.createDataFrame(
        rows, "doc_id bigint, span_pos bigint, lat double, lon double")
    got = {(r["doc_id"], r["b_doc_id"], r["dist_m"]) for r in
           dwithin_geo_self(pts, 5_000).collect()}
    d = np.round(haversine_m_np(lat[:, None], lon[:, None],
                                lat[None, :], lon[None, :]), 3)
    ia, ib = np.where(d <= 5_000)
    want = {(int(i), int(j), float(d[i, j]))
            for i, j in zip(ia, ib) if i < j}
    assert got == want
    assert len(want) > 0
    assert all(a != b for a, b, _ in got)


def test_hull_diameter_tie_break_and_single(spark):
    """Diameter witness pair is deterministic under ties (square: two
    equal diagonals -> lexicographically larger struct wins) and a
    single-point group emits (0, p, p).  The monotone-chain hull under it
    keeps a hand-checked vertex set: interior and collinear edge points
    are excluded, a collinear-only doc reduces to its endpoints."""
    from tree_code_chunker_spark.operators.spatial import (
        convex_hull, hull_diameter)

    rows = [(1, 0, 0), (1, 0, 10), (1, 10, 0), (1, 10, 10), (1, 5, 5),
            (2, 7, 7)]
    df = spark.createDataFrame(rows, "doc_id long, qlat long, qlon long")
    got = {r["doc_id"]: (r["diam_sq"], r["y1"], r["x1"], r["y2"], r["x2"])
           for r in hull_diameter(df).collect()}
    assert got == {1: (200, 0, 10, 10, 0), 2: (0, 7, 7, 7, 7)}

    rows = (
        # doc 1: the square + interior point + midpoint of an edge
        rows[:5] + [(1, 0, 5)]
        # doc 2: single point (with a duplicate)
        + [(2, 7, 7), (2, 7, 7)]
        # doc 3: all collinear -> two endpoints
        + [(3, i, 2 * i) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, qlat long, qlon long")
    got = {(r["doc_id"], r["qlat"], r["qlon"], r["n_hull"])
           for r in convex_hull(df).collect()}
    assert got == {
        (1, 0, 0, 4), (1, 0, 10, 4), (1, 10, 0, 4), (1, 10, 10, 4),
        (2, 7, 7, 1),
        (3, 0, 0, 2), (3, 4, 8, 2),
    }


def test_dwithin_geo_rejects_cell_side_equal_radius(spark):
    """ADVICE r5 (low): a lat cell side exactly equal to radius_m (plus
    quantization/rounding epsilons) can put a boundary pair 2 lat cells
    apart; the auto-chooser must never pick such a res."""
    import math as _math

    from tree_code_chunker_spark.operators.spatial import (
        M_PER_DEG,
        dwithin_geo,
        dwithin_geo_res,
    )

    res = 10
    side_m = 180.0 * M_PER_DEG / (1 << res)
    # auto-chooser: for any radius the chosen res leaves > one-quantum slack
    for radius in (side_m, side_m * 0.999, 5_000.0, 123_456.0):
        r = dwithin_geo_res(radius)
        assert 180.0 * M_PER_DEG / (1 << r) > radius
    # boundary pair at ~exactly one cell side due north/south is still found
    lat0 = 40.0
    lat1 = lat0 + side_m / M_PER_DEG  # exactly one res-10 cell side north
    pts_a = spark.createDataFrame([(1, lat0, 5.0)],
                                  "pid long, lat double, lon double")
    pts_b = spark.createDataFrame([(2, lat1, 5.0)],
                                  "qid long, lat double, lon double")
    out = dwithin_geo(pts_a, pts_b, side_m * (1 + 1e-9), a_keep=("pid",),
                      b_keep=("qid",)).collect()
    assert len(out) == 1 and _math.isclose(out[0].dist_m, side_m, rel_tol=1e-3)


def test_dwithin_geo_high_latitude_band(spark):
    """VERDICT r5 item 6: |lat| > 85 degrees — lon cells shrink toward zero
    width, the per-row widening approaches the full ring, and caps may
    contain the pole.  Brute-force haversine equality over a dense
    high-latitude band (85..89.97, both hemispheres, antimeridian lons
    included) at a radius that forces multi-cell lon widening."""
    import numpy as np

    from tree_code_chunker_spark.operators.geo import haversine_m_np
    from tree_code_chunker_spark.operators.spatial import dwithin_geo

    lats, lons, ids = [], [], []
    i = 0
    for k in range(160):
        lat = 85.0 + (k * 7 % 100) * 0.0497       # 85.00 .. 89.92
        lat = lat if k % 2 == 0 else -lat          # both poles
        lon = -180.0 + (k * 37 % 144) * 2.5        # includes +-180 band
        lats.append(lat); lons.append(lon); ids.append(i); i += 1
    a = spark.createDataFrame(
        list(zip(ids, lats, lons)), "pid long, lat double, lon double")
    b = spark.createDataFrame(
        [(1000 + j, lats[j] + 0.011, (lons[j] + 179.0) % 360.0 - 180.0)
         for j in range(len(ids))],
        "query_id long, lat double, lon double")
    radius_m = 120_000.0
    got = sorted((r.pid, r.query_id, r.dist_m) for r in dwithin_geo(
        a, b, radius_m, a_keep=("pid",), b_keep=("query_id",)).collect())
    alat = np.array(lats); alon = np.array(lons)
    blat = np.array([lats[j] + 0.011 for j in range(len(ids))])
    blon = np.array([(lons[j] + 179.0) % 360.0 - 180.0
                     for j in range(len(ids))])
    want = []
    for x in range(len(ids)):
        d = haversine_m_np(alat[x], alon[x], blat, blon)
        for y in np.nonzero(np.round(d, 3) <= radius_m)[0]:
            want.append((x, 1000 + int(y), float(np.round(d[y], 3))))
    assert got == sorted(want) and got
