"""Cell/tile math: numpy vs DuckDB-SQL mirror vs known properties.

The three backends (numpy / Spark columns / SQL strings) are generated from
the same constants; this test pins numpy<->SQL equivalence (the Spark column
side is pinned against the SQL side by the driver's correctness gate)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from tree_code_chunker_spark.operators.geo import (
    GRID_MAX,
    cell_at_res_np,
    cell_at_res_sql,
    cell_np,
    cell_sql,
    derive_point_sql,
    kring_offsets,
    part1by1_np,
    quantize_np,
    tile_np,
    tile_sql,
)


def test_part1by1_known_values():
    assert part1by1_np(np.array([0]))[0] == 0
    assert part1by1_np(np.array([1]))[0] == 1
    assert part1by1_np(np.array([0b11]))[0] == 0b101
    assert part1by1_np(np.array([0xFFFF]))[0] == 0x55555555


def test_cell_interleave_bijective():
    rng = np.random.RandomState(0)
    qlat = rng.randint(0, 65536, 1000)
    qlon = rng.randint(0, 65536, 1000)
    cells = cell_np(qlat, qlon)
    # de-interleave must round-trip
    def compact(v):
        v = v & 0x55555555
        v = (v | (v >> 1)) & 0x33333333
        v = (v | (v >> 2)) & 0x0F0F0F0F
        v = (v | (v >> 4)) & 0x00FF00FF
        v = (v | (v >> 8)) & 0x0000FFFF
        return v
    assert (compact(cells >> 1) == qlat).all()
    assert (compact(cells) == qlon).all()


def test_cell_prefix_hierarchy():
    # parent at res r-1 is the cell at res r shifted by 2 (quadtree prefix)
    rng = np.random.RandomState(1)
    qlat = rng.randint(0, 65536, 100)
    qlon = rng.randint(0, 65536, 100)
    c = cell_np(qlat, qlon)
    for r in range(1, 17):
        assert (cell_at_res_np(c, r - 1) == (cell_at_res_np(c, r) >> 2)).all()


def test_quantize_bounds():
    qlat, qlon = quantize_np(np.array([-90.0, 0.0, 90.0]),
                             np.array([-180.0, 0.0, 180.0]))
    assert qlat.tolist() == [0, 32768, GRID_MAX]
    assert qlon.tolist() == [0, 32768, GRID_MAX]


def test_sql_mirror_matches_numpy():
    import pandas as pd

    rng = np.random.RandomState(2)
    qlat = rng.randint(0, 65536, 500).astype(np.int64)
    qlon = rng.randint(0, 65536, 500).astype(np.int64)
    qdf = pd.DataFrame({"qlat": qlat, "qlon": qlon})
    con = duckdb.connect()
    con.register("qdf", qdf)
    con.execute("CREATE TABLE t AS SELECT * FROM qdf")
    want_cell = cell_np(qlat, qlon)
    got = con.execute(
        f"SELECT {cell_sql('qlat','qlon')} AS cell, "
        f"{cell_at_res_sql(cell_sql('qlat','qlon'), 6)} AS cell6, "
        f"{tile_sql('qlat','qlon',8)[0]} AS tx, "
        f"{tile_sql('qlat','qlon',8)[1]} AS ty "
        f"FROM t ORDER BY rowid"
    ).fetchnumpy()
    assert (got["cell"] == want_cell).all()
    assert (got["cell6"] == cell_at_res_np(want_cell, 6)).all()
    tx, ty = tile_np(qlat, qlon, 8)
    assert (got["tx"] == tx).all()
    assert (got["ty"] == ty).all()


def test_derive_point_sql_in_range():
    con = duckdb.connect()
    qlat_e, qlon_e = derive_point_sql("d", "p")
    rows = con.execute(
        f"SELECT {qlat_e} AS qlat, {qlon_e} AS qlon FROM "
        f"(SELECT unnest(generate_series(0, 500)) AS d, 3 AS p)"
    ).fetchnumpy()
    assert (rows["qlat"] >= 0).all() and (rows["qlat"] <= GRID_MAX).all()
    assert (rows["qlon"] >= 0).all() and (rows["qlon"] <= GRID_MAX).all()
    # skew: doc_id % 5 == 0 -> hot centers, so >= ~20% land in 3 tight boxes
    hot = rows["qlat"][::5]
    assert len(np.unique(hot // 256)) <= 6


def test_kring_offsets():
    assert len(kring_offsets(1)) == 9
    assert len(kring_offsets(2)) == 25
    assert len(kring_offsets(2, ring_only=True)) == 16
    assert (0, 0) in kring_offsets(1)


def test_batched_cover_classification_matches_per_polygon():
    """_classify_cells_all_np (one vectorized pass over every polygon) must
    reproduce _classify_cells_np cell-for-cell, including the full/boundary
    flags and padding-edge masking."""
    import numpy as np

    from tree_code_chunker_spark.operators.pip import (
        _classify_cells_all_np,
        _classify_cells_np,
        _edge_tensor,
    )
    from tree_code_chunker_spark.sources.datagen import polygon_rings

    pack = {}
    for pid, ring in polygon_rings(120, seed=43):
        ys = np.array([p[0] for p in ring], dtype=np.int64)
        xs = np.array([p[1] for p in ring], dtype=np.int64)
        pack[pid] = [(ys, xs)]
    ids, Y1, X1, Y2, X2 = _edge_tensor(pack)
    for res in (6, 7, 9):
        pix, cy, cx, full = _classify_cells_all_np(
            pack, ids, Y1, X1, Y2, X2, res)
        got = set(zip(pix.tolist(), cy.tolist(), cx.tolist(), full.tolist()))
        want = set()
        for i, pid in enumerate(ids):
            (ys, xs), = pack[pid]
            c_y, c_x, f = _classify_cells_np(ys, xs, res)
            want |= {(i, int(a), int(b), bool(g))
                     for a, b, g in zip(c_y, c_x, f)}
        assert got == want


def test_pip_join_with_prebuilt_index_matches(spark):
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.pip import (
        build_polygon_index,
        pip_join,
    )
    from tree_code_chunker_spark.sources.datagen import gen_polygons

    rng_rows = [(f"d{i}", i, (i * 733) % 65536, (i * 577) % 65536)
                for i in range(4000)]
    pts = spark.createDataFrame(
        rng_rows, "doc_id string, span_pos long, qlat long, qlon long")
    polys = gen_polygons(spark, 30, seed=43)
    inline = {tuple(r) for r in
              pip_join(pts, polys).select("doc_id", "span_pos",
                                          "polygon_id").collect()}
    idx = build_polygon_index(polys)
    with_idx = {tuple(r) for r in
                pip_join(pts, index=idx).select("doc_id", "span_pos",
                                                "polygon_id").collect()}
    assert inline == with_idx and len(inline) > 0
    # index is reusable across probe batches
    again = {tuple(r) for r in
             pip_join(pts.limit(500), index=idx)
             .select("doc_id", "span_pos", "polygon_id").collect()}
    assert again <= inline


def test_pip_join_argument_validation(spark):
    from tree_code_chunker_spark.operators.pip import pip_join

    pts = spark.createDataFrame(
        [("d0", 0, 100, 100)],
        "doc_id string, span_pos long, qlat long, qlon long")
    with pytest.raises(ValueError, match="build side"):
        pip_join(pts)


def test_pip_join_off_grid_and_null_points_match_nothing(spark):
    """Null and off-grid coordinates produce no row and no error.  The
    rectangle covers cells (1..5, 1..5) at the default res 7, so a key
    packed without the range guard aliases qlon = 2^16 + 2000 (cell
    column 131) into a covered cell, and an int32 narrowing of
    qlat = 2^40 + 2000 wraps to 2000 (a Spark-side int cast of it fails
    the job under ANSI mode)."""
    from tree_code_chunker_spark.operators.pip import (
        build_polygon_index, pip_join)

    ring = [(1000, 1000), (1000, 3000), (3000, 3000), (3000, 1000),
            (1000, 1000)]
    idx = build_polygon_index(spark.createDataFrame(
        [("rect", ring)],
        "polygon_id string, ring array<struct<qlat:bigint,qlon:bigint>>"))
    g = 1 << 16
    rows = [("hit", 2000, 2000), ("null_lat", None, 2000),
            ("null_lon", 2000, None), ("neg_lat", -1, 2000),
            ("neg_lon", 2000, -2000), ("lon_wrap", 2000, g + 2000),
            ("lat_wrap", g + 2000, 2000), ("lat_2^40", 1 << 40, 2000),
            ("lat_2^40_wrap", (1 << 40) + 2000, 2000)]
    pts = spark.createDataFrame(
        [(d, 0, la, lo) for d, la, lo in rows],
        "doc_id string, span_pos long, qlat long, qlon long")
    got = [tuple(r) for r in pip_join(pts, index=idx).collect()]
    assert got == [("hit", 0, "rect", 2000, 2000)]


def test_pip_lookup_is_one_narrow_job(spark, plan_nodes):
    """A lookup is one projection over the points: no shuffle, no
    broadcast exchange, no join, and exactly one Spark job."""
    import uuid

    from tree_code_chunker_spark.operators.pip import (
        build_polygon_index, pip_join)
    from tree_code_chunker_spark.sources.datagen import gen_polygons

    idx = build_polygon_index(gen_polygons(spark, 30, seed=43))
    rows = [(f"d{i}", i, (i * 733) % 65536, (i * 577) % 65536)
            for i in range(64)]
    schema = "doc_id string, span_pos long, qlat long, qlon long"
    nodes = plan_nodes(pip_join(spark.createDataFrame(rows, schema),
                                index=idx))
    assert not [n for n in nodes if "Exchange" in n or "Join" in n], nodes

    sc = spark.sparkContext
    group = f"pip-lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pip lookup")
    try:
        pip_join(spark.createDataFrame(rows, schema), index=idx).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


# ------------------------------------------------------ cover compaction ----


def _compact_py(cells, res, max_levels=None):
    from collections import Counter

    if max_levels is None:
        max_levels = res
    lo = max(res - max_levels, 0)
    cur, out = set(cells), []
    r = res
    for r in range(res, lo, -1):
        cnt = Counter(c >> 2 for c in cur)
        prom = {p for p, n in cnt.items() if n == 4}
        out += [(r, c) for c in cur if (c >> 2) not in prom]
        cur = {p for p in prom}
        r -= 1
    out += [(r, c) for c in cur]
    return sorted(out)


def test_compact_cover_full_block_and_partial(spark):
    from tree_code_chunker_spark.operators.geo import compact_cover

    # all 16 res-3 descendants of res-1 cell 2, plus 3 of 4 siblings of a
    # res-3 group under res-2 parent 30 (no promotion), plus a lone cell
    cells = list(range(32, 48)) + [120, 121, 122] + [200]
    df = spark.createDataFrame([(c,) for c in cells], "cell bigint")
    got = sorted(map(tuple, compact_cover(df, 3).collect()))
    assert got == sorted(
        [(1, 2)] + [(3, c) for c in (120, 121, 122, 200)])


def test_compact_cover_vs_python_random(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.geo import compact_cover

    rng = np.random.RandomState(23)
    for trial, density in enumerate((0.9, 0.5, 0.2)):
        univ = np.arange(4 ** 4)  # res 4
        cells = univ[rng.rand(len(univ)) < density].tolist()
        if not cells:
            continue
        df = spark.createDataFrame([(int(c),) for c in cells], "cell bigint")
        got = sorted(map(tuple, compact_cover(df, 4).collect()))
        assert got == _compact_py(cells, 4), trial


def test_compact_cover_idempotent_and_exact_area(spark):
    from tree_code_chunker_spark.operators.geo import compact_cover

    # 0..63 is ALL 4^3 res-3 descendants of the res-0 root
    cells = list(range(0, 64))
    df = spark.createDataFrame([(c,) for c in cells], "cell bigint")
    got = sorted(map(tuple, compact_cover(df, 3).collect()))
    assert got == [(0, 0)]  # whole grid collapses to the root

    # area preservation on a random cover: sum of 4^(3-res) leaf cells
    cells2 = [0, 1, 2, 3, 16, 21, 40]
    df2 = spark.createDataFrame([(c,) for c in cells2], "cell bigint")
    out = compact_cover(df2, 3).collect()
    assert sum(4 ** (3 - r.res) for r in out) == len(set(cells2))


def test_compact_cover_sql_mirror(spark):
    import duckdb

    from tree_code_chunker_spark.operators.geo import (
        compact_cover, compact_cover_sql)

    cells = list(range(32, 48)) + [3, 9, 10, 11, 8]  # 8-11 promote once
    df = spark.createDataFrame([(c,) for c in cells], "cell bigint")
    got = sorted(map(tuple, compact_cover(df, 3).collect()))
    vals = ", ".join(f"({c})" for c in sorted(set(cells)))
    sql = (f"WITH cells(cell) AS (VALUES {vals}), "
           + compact_cover_sql("cells", 3))
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def _overlap_py(a, b):
    """naive: two cells overlap iff one is ancestor-or-equal of the other"""
    out = []
    for ar, ac in a:
        for br, bc in b:
            if br <= ar and (ac >> (2 * (ar - br))) == bc:
                out.append((ar, ac, br, bc))
            elif ar < br and (bc >> (2 * (br - ar))) == ac:
                out.append((ar, ac, br, bc))
    return sorted(out)


def test_cover_overlap_join_vs_python(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.geo import cover_overlap_join

    rng = np.random.RandomState(29)
    def rand_cover(n):
        out = set()
        while len(out) < n:
            r = int(rng.randint(0, 7))
            out.add((r, int(rng.randint(0, 4 ** r))))
        return sorted(out)
    a, b = rand_cover(60), rand_cover(45)
    adf = spark.createDataFrame(a, "res bigint, cell bigint")
    bdf = spark.createDataFrame(b, "res bigint, cell bigint")
    got = sorted(map(tuple, cover_overlap_join(adf, bdf).collect()))
    assert got == _overlap_py(a, b)
    assert len(got) > 0
    # symmetric: flipping sides flips the pair columns
    rev = sorted((ar, ac, br, bc) for br, bc, ar, ac in map(
        tuple, cover_overlap_join(bdf, adf).collect()))
    assert rev == got


def test_cover_overlap_join_keep_cols_and_equal_res(spark):
    from tree_code_chunker_spark.operators.geo import cover_overlap_join

    a = spark.createDataFrame([(2, 5, "A1"), (2, 6, "A2")],
                              "res bigint, cell bigint, tag string")
    b = spark.createDataFrame([(2, 5, "B1"), (1, 1, "B2")],
                              "res bigint, cell bigint, who string")
    got = sorted(map(tuple, cover_overlap_join(
        a, b, a_keep=("tag",), b_keep=("who",)).collect()))
    # cell 5 @2 == cell 5 @2 (equal, once); cells 4..7 @2 under 1 @1
    assert got == sorted([
        (2, 5, "A1", 2, 5, "B1"),
        (2, 5, "A1", 1, 1, "B2"),
        (2, 6, "A2", 1, 1, "B2"),
    ])


def test_haversine_known_distances(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.geo import (
        haversine_m_col, haversine_m_np)

    # public reference pairs (great-circle, mean-radius sphere): values
    # computed from the formula itself at double precision; the point of
    # the goldens is stability + plausibility (±0.5% of map distances)
    cases = [
        # (lat1, lon1, lat2, lon2, approx_km)
        (48.8566, 2.3522, 51.5074, -0.1278, 343.6),    # Paris-London
        (40.7128, -74.0060, 34.0522, -118.2437, 3936.0),  # NYC-LA
        (0.0, 0.0, 0.0, 180.0, 20015.0),               # antipodal equator
        (10.0, 20.0, 10.0, 20.0, 0.0),                 # identical point
    ]
    np_d = haversine_m_np(
        np.array([c[0] for c in cases]), np.array([c[1] for c in cases]),
        np.array([c[2] for c in cases]), np.array([c[3] for c in cases]))
    for (la1, lo1, la2, lo2, km), d in zip(cases, np_d):
        assert abs(d / 1000.0 - km) < km * 0.005 + 0.001, (km, d)
    df = spark.createDataFrame(cases, "a double, b double, c double, d double, km double")
    got = df.select(haversine_m_col(
        F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("m")).collect()
    for (r, d) in zip(got, np_d):
        assert abs(r.m - d) < 1e-6  # JVM == numpy to FP noise


def test_haversine_antipodal_no_nan(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.geo import (
        EARTH_RADIUS_M, haversine_m_np)

    # near-antipodal perturbations that push the haversine term past 1.0
    # by rounding: the clamp must return ~pi*R, never NaN
    lat1 = np.array([10.0, -30.0, 0.0, 45.0])
    lon1 = np.array([20.0, 100.0, 0.0, -60.0])
    eps = np.array([0.0, 1e-13, 1e-15, 1e-9])
    d = haversine_m_np(lat1, lon1, -lat1 + eps, lon1 + 180.0 + eps)
    assert not np.isnan(d).any()
    assert np.allclose(d, np.pi * EARTH_RADIUS_M, rtol=1e-6)


def test_compact_cover_zero_levels_passthrough(spark):
    from tree_code_chunker_spark.operators.geo import (
        compact_cover, compact_cover_sql)

    cells = [0, 1, 2, 3, 9]
    df = spark.createDataFrame([(c,) for c in cells], "cell bigint")
    got = sorted(map(tuple, compact_cover(df, 3, max_levels=0).collect()))
    assert got == [(3, c) for c in cells]  # unchanged, labeled at res
    sql = ("WITH cells(cell) AS (VALUES (0), (1), (2), (3), (9)) "
           + compact_cover_sql("cells", 3, max_levels=0))
    import duckdb
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def test_pip_join_holes_matches_bruteforce(spark):
    """Donut + multipolygon geometries (rings column): pip_join must equal
    the multi-ring even-odd brute force — points inside a hole excluded,
    points in a second disjoint shell included, full-cell classification
    never swallowing hole interiors."""
    import numpy as np
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.geo import derive_point_cols
    from tree_code_chunker_spark.operators.pip import (
        _collect_polygon_pack,
        pip_join,
        ray_cast_rings_np,
    )
    from tree_code_chunker_spark.sources.datagen import gen_polygons_holes

    polys = gen_polygons_holes(spark, 12, seed=47)
    pts = spark.range(4000).select(
        F.col("id").alias("doc_id"), F.lit(0).cast("long").alias("span_pos"))
    qlat, qlon = derive_point_cols(F.col("doc_id"), F.col("span_pos"))
    pts = pts.select("doc_id", "span_pos",
                     qlat.alias("qlat"), qlon.alias("qlon"))
    got = {(r["doc_id"], r["polygon_id"])
           for r in pip_join(pts, polys).collect()}

    pack = _collect_polygon_pack(polys)
    prows = pts.collect()
    py = np.array([r["qlat"] for r in prows], dtype=np.int64)
    px = np.array([r["qlon"] for r in prows], dtype=np.int64)
    want, in_hole = set(), 0
    for pid, rings in pack.items():
        inside = ray_cast_rings_np(rings, py, px)
        for i in np.nonzero(inside)[0]:
            want.add((prows[i]["doc_id"], pid))
        # count points the hole excluded: inside shell ring 0 but not the poly
        shell_only = ray_cast_rings_np(rings[:1], py, px)
        in_hole += int((shell_only & ~inside).sum())
    assert got == want
    assert len(want) > 0
    assert in_hole > 0  # the fixture's holes genuinely exclude points


def _poly_dist_np(rings, py, px):
    """Brute-force distance-to-polygon: 0 inside (even-odd over all
    rings), else min point-to-segment distance; same per-edge 6dp
    rounding as the engine kernel."""
    import numpy as np

    from tree_code_chunker_spark.operators.pip import ray_cast_rings_np

    inside = ray_cast_rings_np(rings, py, px)
    min_d2 = np.full(len(py), np.inf)
    for ys, xs in rings:
        for i in range(len(ys) - 1):
            ay, ax = int(ys[i]), int(xs[i])
            by, bx = int(ys[i + 1]), int(xs[i + 1])
            l2 = (bx - ax) ** 2 + (by - ay) ** 2
            tn = (px - ax) * (bx - ax) + (py - ay) * (by - ay)
            d2a = (px - ax) ** 2 + (py - ay) ** 2
            d2b = (px - bx) ** 2 + (py - by) ** 2
            with np.errstate(divide="ignore", invalid="ignore"):
                d2m = d2a - tn.astype(np.float64) ** 2 / l2
            d2 = np.where((l2 == 0) | (tn <= 0), d2a,
                          np.where(tn >= l2, d2b, d2m))
            min_d2 = np.minimum(min_d2, np.round(d2, 6))
    return np.where(inside, 0.0,
                    np.round(np.sqrt(np.maximum(min_d2, 0.0)), 6))


@pytest.mark.parametrize("fixture", ["plain", "holes"])
def test_polygon_distance_join_matches_bruteforce(spark, fixture):
    """Distance-to-polygon join == brute force over all (point, polygon)
    pairs, on both single-ring and donut/multipolygon fixtures: inside ->
    0.0; inside a HOLE -> distance to the hole boundary; collar pruning
    loses no pair."""
    import numpy as np
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.geo import derive_point_cols
    from tree_code_chunker_spark.operators.pip import (
        _collect_polygon_pack,
        polygon_distance_join,
    )
    from tree_code_chunker_spark.sources.datagen import (
        gen_polygons,
        gen_polygons_holes,
    )

    polys = (gen_polygons(spark, 12, seed=43) if fixture == "plain"
             else gen_polygons_holes(spark, 10, seed=47))
    pts = spark.range(2500).select(
        F.col("id").alias("doc_id"), F.lit(0).cast("long").alias("span_pos"))
    qlat, qlon = derive_point_cols(F.col("doc_id"), F.col("span_pos"))
    pts = pts.select("doc_id", "span_pos",
                     qlat.alias("qlat"), qlon.alias("qlon"))
    radius = 700
    got = {(r["doc_id"], r["polygon_id"], r["dist"])
           for r in polygon_distance_join(pts, polys, radius).collect()}

    pack = _collect_polygon_pack(polys)
    prows = pts.collect()
    py = np.array([r["qlat"] for r in prows], dtype=np.int64)
    px = np.array([r["qlon"] for r in prows], dtype=np.int64)
    want, n_zero, n_band = set(), 0, 0
    for pid, rings in pack.items():
        dist = _poly_dist_np(rings, py, px)
        for i in np.nonzero(dist <= radius)[0]:
            want.add((prows[i]["doc_id"], pid, float(dist[i])))
            if dist[i] == 0.0:
                n_zero += 1
            else:
                n_band += 1
    assert got == want
    assert n_zero > 0 and n_band > 0  # both regimes exercised


def test_nearest_polygon_top1(spark):
    """nearest_polygon == argmin over the distance join, ties on
    polygon_id, exactly one row per in-range point."""
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.geo import derive_point_cols
    from tree_code_chunker_spark.operators.pip import (
        nearest_polygon,
        polygon_distance_join,
    )
    from tree_code_chunker_spark.sources.datagen import gen_polygons

    polys = gen_polygons(spark, 12, seed=43)
    pts = spark.range(1500).select(
        F.col("id").alias("doc_id"), F.lit(0).cast("long").alias("span_pos"))
    qlat, qlon = derive_point_cols(F.col("doc_id"), F.col("span_pos"))
    pts = pts.select("doc_id", "span_pos",
                     qlat.alias("qlat"), qlon.alias("qlon"))
    all_pairs = polygon_distance_join(pts, polys, 900).collect()
    best = {}
    for r in all_pairs:
        k = (r["doc_id"], r["span_pos"])
        v = (r["dist"], r["polygon_id"])
        if k not in best or v < best[k]:
            best[k] = v
    got = {(r["doc_id"], r["span_pos"]): (r["dist"], r["polygon_id"])
           for r in nearest_polygon(pts, polys, 900).collect()}
    assert got == best
    assert len(got) > 0
