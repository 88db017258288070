"""Tile materialization: assignment determinism, vector cap accounting,
raster pixel-count conservation, plan shape."""

from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from tree_code_chunker_spark.operators import tiles
from tree_code_chunker_spark.operators.geo import tile_np
from tree_code_chunker_spark.operators.tiles import (
    assign_tiles,
    raster_tiles,
    vector_tiles,
)


def _pts(spark, n=500, seed=3):
    rng = np.random.RandomState(seed)
    rows = [(f"d{i:04d}", 0, int(rng.randint(0, 65536)), int(rng.randint(0, 65536)))
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id string, span_pos int, qlat bigint, qlon bigint")


def test_assignment_matches_numpy(spark):
    pts = _pts(spark)
    got = assign_tiles(pts, zooms=(4, 8, 12)).collect()
    for r in got:
        x, y = tile_np(np.array([r["qlat"]]), np.array([r["qlon"]]), r["z"])
        assert (r["x"], r["y"]) == (int(x[0]), int(y[0]))
        assert 0 <= r["in_x"] < (1 << (16 - r["z"]))
        assert 0 <= r["in_y"] < (1 << (16 - r["z"]))


def test_assign_tiles_replaces_same_named_columns(spark):
    """Points columns named x or in_y are replaced in place, not kept
    beside the tile columns (the `withColumns` contract)."""
    rows = [(f"d{i}", i, -1, (i * 733) % 65536, (i * 577) % 65536, -2)
            for i in range(50)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos long, x long, qlat long, qlon long, "
              "in_y long")
    got = assign_tiles(pts, zooms=(4, 12))
    assert got.columns == ["doc_id", "span_pos", "x", "qlat", "qlon", "in_y",
                           "z", "y", "in_x"]
    out = got.collect()
    assert len(out) == 100
    for r in out:
        x, y = tile_np(np.array([r["qlat"]]), np.array([r["qlon"]]), r["z"])
        mask = (1 << (16 - r["z"])) - 1
        assert (r["x"], r["y"]) == (int(x[0]), int(y[0]))
        assert (r["in_x"], r["in_y"]) == (r["qlon"] & mask,
                                          (65535 - r["qlat"]) & mask)


def test_vector_tiles_cap_and_accounting(spark, monkeypatch):
    # all points in ONE tile at z=4 -> cap must kick in with exact accounting
    monkeypatch.setattr(tiles, "MAX_FEATURES_PER_TILE", 100)
    rows = [(f"d{i:04d}", 0, 100 + i % 50, 200 + i % 50) for i in range(300)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos int, qlat bigint, qlon bigint")
    out = vector_tiles(pts, zooms=(4,)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_features"] == 100 and r["n_dropped"] == 200
    # deterministic cap: lexicographically first doc_ids kept
    kept = [f["doc_id"] for f in r["features"]]
    assert kept == sorted(kept)


def test_raster_counts_conserved(spark):
    pts = _pts(spark, 400)
    out = raster_tiles(pts, zooms=(4, 8)).collect()
    by_zoom = {}
    for r in out:
        by_zoom[r["z"]] = by_zoom.get(r["z"], 0) + r["n_points"]
        assert sum(p["n"] for p in r["pixels"]) == r["n_points"]
        for p in r["pixels"]:
            assert 0 <= p["px"] < 256 and 0 <= p["py"] < 256
    assert by_zoom == {4: 400, 8: 400}


def test_vector_tiles_exact_for_null_and_off_grid_points(spark):
    """A point with a null coordinate or off the grid lands in the same
    tile with the same in-tile offsets as assign_tiles gives it: the
    offsets' packing for the shuffle round-trips for every input."""
    rows = [("a", 0, 100, 200), ("b", 1, None, 300), ("c", 2, 400, None),
            ("d", 3, None, None), ("e", 4, 1 << 40, -5),
            ("f", 5, -7, 65536 + 9)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long")
    want = defaultdict(list)
    for r in assign_tiles(pts, zooms=(4, 12)).collect():
        want[(r["z"], r["x"], r["y"])].append(
            (r["doc_id"], r["span_pos"], r["in_x"], r["in_y"]))
    got = {(r["z"], r["x"], r["y"]): [tuple(f) for f in r["features"]]
           for r in vector_tiles(pts, zooms=(4, 12)).collect()}
    assert got == {k: sorted(v) for k, v in want.items()}


def test_tiles_deterministic_across_parallelism(spark):
    pts = _pts(spark, 600)
    a = vector_tiles(pts.repartition(1), zooms=(8,)).collect()
    b = vector_tiles(pts.repartition(7), zooms=(8,)).collect()
    norm = lambda rows: sorted(
        (r["z"], r["x"], r["y"], tuple(tuple(f) for f in r["features"]),
         r["n_dropped"]) for r in rows)
    assert norm(a) == norm(b)


def test_vector_tiles_cap_matches_oracle(spark, monkeypatch):
    """Every tile's features, n_features and n_dropped equal a plain-Python
    oracle: group by tile, sort by (doc_id, span_pos), keep the first
    MAX_FEATURES_PER_TILE, count the rest as dropped."""
    cap = 50
    monkeypatch.setattr(tiles, "MAX_FEATURES_PER_TILE", cap)
    # one hot tile (all rows in tile x=0, y=15 at z=4) + scattered cold rows
    rows = [(f"d{i:05d}", i, i % 97, i % 89) for i in range(3000)]
    rows += [(f"s{i:05d}", i, (i * 733) % 65536, (i * 577) % 65536)
             for i in range(500)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long")
    got = {
        (r["z"], r["x"], r["y"]):
            ([tuple(f) for f in r["features"]], r["n_features"], r["n_dropped"])
        for r in vector_tiles(pts, zooms=(4,)).collect()
    }

    shift = 16 - 4
    by_tile = defaultdict(list)
    for doc_id, span_pos, qlat, qlon in rows:
        flat = 65535 - qlat
        by_tile[(4, qlon >> shift, flat >> shift)].append(
            (doc_id, span_pos, qlon & ((1 << shift) - 1),
             flat & ((1 << shift) - 1)))
    want = {}
    for key, feats in by_tile.items():
        feats.sort(key=lambda f: (f[0], f[1]))
        kept = sorted(feats[:cap])
        want[key] = (kept, len(kept), len(feats) - len(kept))
    assert got == want
    assert want[(4, 0, 15)][2] > 0  # the hot tile really overflows the cap


def test_vector_tiles_plan_is_one_shuffle_one_window(spark, plan_nodes):
    nodes = plan_nodes(vector_tiles(_pts(spark), zooms=(4, 8, 12)))
    assert nodes.count("Exchange") == 1, nodes
    assert "BroadcastExchange" not in nodes, nodes
    assert nodes.count("Window") == 1, nodes


def test_tile_plans_scan_points_once(spark, plan_nodes, tmp_path):
    """Every zoom comes from one scan of the points table, and each tile
    stage shuffles once: no per-zoom union, no second aggregate exchange."""
    path = str(tmp_path / "points")
    _pts(spark).write.parquet(path)
    pts = spark.read.parquet(path)
    for op in (vector_tiles, raster_tiles):
        nodes = plan_nodes(op(pts, zooms=(4, 8, 12)))
        assert nodes.count("FileScan") == 1, (op.__name__, nodes)
        assert nodes.count("Exchange") == 1, (op.__name__, nodes)
        assert "Union" not in nodes, (op.__name__, nodes)


def test_tile_rollup_entry_scans_points_once(spark, plan_nodes, sf_dir):
    """The tile_rollup gate entry takes every zoom from one scan of the
    points, with the values and types of the per-zoom union it replaced."""
    import __spark_entry__ as em
    from tree_code_chunker_spark.operators.geo import tile_cols

    got = em.q_tile_rollup(spark, sf_dir)
    nodes = plan_nodes(got)
    assert nodes.count("FileScan") == 1, nodes
    assert "Union" not in nodes, nodes

    p = em._points(spark, sf_dir)
    parts = [p.select(F.lit(z).alias("z"), *(c.alias(n) for n, c in zip(
        "xy", tile_cols(F.col("qlat"), F.col("qlon"), z)))) for z in (4, 8, 12)]
    want = (parts[0].unionByName(parts[1]).unionByName(parts[2])
            .groupBy("z", "x", "y").agg(F.count("*").alias("n_points")))
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_raster_to_vector_roundtrip_conserves_counts(spark):
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.tiles import (
        raster_tiles,
        raster_to_vector,
    )

    rows = [(f"d{i}", i, (i * 733) % 65536, (i * 577) % 65536)
            for i in range(2000)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long")
    r = raster_tiles(pts, zooms=(4, 8))
    v = raster_to_vector(r)
    per_zoom = {row["z"]: row["s"] for row in
                v.groupBy("z").agg(F.sum("n").alias("s")).collect()}
    assert per_zoom == {4: 2000, 8: 2000}  # every point re-vectorized once


def test_raster_smooth_vs_numpy_convolution(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.tiles import raster_smooth

    rng = np.random.RandomState(17)
    res = 4  # 16x16 grid, small enough for a dense numpy mirror
    n = 1 << res
    grid = np.zeros((n, n), dtype=np.int64)
    cells = [(int(rng.randint(0, n)), int(rng.randint(0, n)),
              int(rng.randint(1, 50))) for _ in range(40)]
    for cy, cx, c in cells:
        grid[cy, cx] += c
    hist = [(cy, cx, int(grid[cy, cx])) for cy in range(n) for cx in range(n)
            if grid[cy, cx] > 0]
    df = spark.createDataFrame(hist, "cy bigint, cx bigint, n bigint")
    got = {(r.cy, r.cx): r.smoothed
           for r in raster_smooth(df, res).collect()}

    kernel = np.outer([1, 2, 1], [1, 2, 1])
    want = np.zeros_like(grid)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            w = kernel[dy + 1, dx + 1]
            src_ys = slice(max(0, -dy), n - max(0, dy))
            src_xs = slice(max(0, -dx), n - max(0, dx))
            dst_ys = slice(max(0, dy), n + min(0, dy))
            dst_xs = slice(max(0, dx), n + min(0, dx))
            want[dst_ys, dst_xs] += w * grid[src_ys, src_xs]
    for cy in range(n):
        for cx in range(n):
            assert got.get((cy, cx), 0) == want[cy, cx] or (
                (cy, cx) not in got and want[cy, cx] == 0)
