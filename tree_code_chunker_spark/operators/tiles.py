"""Raster/vector tile materialization at fixed zoom levels.

north_star: "raster<->vector tile materialization at fixed zoom levels with
deterministic tile assignment".  Assignment is pure integer column math
(geo.tile_cols — whole-stage codegen, bit-exact).  Each stage reads the
points once: one projection builds an array holding one struct per zoom and
`inline` turns it into one row per (point, zoom), so every zoom comes from
the same scan.  Each stage then shuffles once, on the (z, x, y) key:

 * **vector tiles**: per (z,x,y), the list of features (doc_id, span_pos,
   in-tile quantized coords), capped at MAX_FEATURES_PER_TILE by the
   deterministic order (doc_id, span_pos) — the cap bounds tile payload
   size; dropped counts are reported, never silent.  The row_number window
   and the aggregate share the window's exchange; a point's two in-tile
   offsets cross it packed in one long.
 * **raster tiles**: per (z,x,y), a count grid of 2^min(RASTER_SUB_BITS,
   GRID_BITS - z) pixels per side (the rasterization), stored sparse as
   (px, py, count) triples — dense arrays would be mostly zeros at high
   zooms.  The rows are hash-partitioned on (z, x, y) first, so the
   per-pixel and the per-tile aggregates both run on that partitioning.

Scale: a tile is aggregated by the one task that owns its partition, so a
tile's row count bounds that task; AQE handles moderate skew across tiles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..config import GRID_BITS, TILE_ZOOMS
from .geo import tile_cols

MAX_FEATURES_PER_TILE = 10_000  # features kept per vector tile; rest counted
RASTER_SUB_BITS = 8  # raster side cap: 2^RASTER_SUB_BITS pixels per tile
_TILE_COLS = ("z", "x", "y", "in_x", "in_y")


def _tile_exprs(z: int) -> dict[str, Column]:
    """z/x/y and the point's in-tile offsets (north-up pixel space) at z."""
    tx, ty = tile_cols(F.col("qlat"), F.col("qlon"), z)
    mask = F.lit((1 << (GRID_BITS - z)) - 1)
    return {
        "z": F.lit(z),
        "x": tx,
        "y": ty,
        "in_x": F.col("qlon").bitwiseAND(mask),
        "in_y": (F.lit((1 << GRID_BITS) - 1) - F.col("qlat")).bitwiseAND(mask),
    }


def _per_zoom(fields: Callable[[int], dict[str, Column]],
              zooms: tuple[int, ...]) -> Column:
    """Generator column: one row per zoom, with the columns `fields(z)`
    names, from the one input row — every zoom out of a single scan."""
    return F.inline(F.array(*[
        F.struct(*[c.alias(n) for n, c in fields(z).items()]) for z in zooms
    ]))


def assign_tiles(points: DataFrame, zooms: tuple[int, ...] = TILE_ZOOMS) -> DataFrame:
    """points(qlat, qlon, ...) -> one row per (point, zoom) with z/x/y and
    in-tile pixel offsets.  A points column named like one of these is
    replaced in place, as `withColumns` would."""
    taken = {c.lower() for c in points.columns}
    keep = [c for c in points.columns if c.lower() not in _TILE_COLS]
    order = points.columns + [n for n in _TILE_COLS if n not in taken]
    return points.select(*keep, _per_zoom(_tile_exprs, zooms)).select(*order)


# vector_tiles ships a point's in-tile offsets through its shuffle as one
# long, in_x << _OFF_BITS | in_y.  Offsets are below 2^GRID_BITS for every
# input, so _NO_OFF = 2^GRID_BITS stands for a null one and the packing is
# exact for null and off-grid points too.
_OFF_BITS = GRID_BITS + 1
_NO_OFF = 1 << GRID_BITS


def _feature_exprs(z: int) -> dict[str, Column]:
    """z/x/y and the packed in-tile offsets `_off`: each shuffled row is one
    long narrower than with in_x and in_y apart."""
    e = _tile_exprs(z)
    none = F.lit(_NO_OFF).cast("long")
    return {
        "z": e["z"], "x": e["x"], "y": e["y"],
        "_off": F.shiftleft(F.coalesce(e["in_x"], none), _OFF_BITS)
        .bitwiseOR(F.coalesce(e["in_y"], none)),
    }


def _offset(bits: Column) -> Column:
    """One unpacked in-tile offset: `bits`, or null where it is _NO_OFF."""
    return F.when(bits != _NO_OFF, bits)


def vector_tiles(points: DataFrame, zooms: tuple[int, ...] = TILE_ZOOMS) -> DataFrame:
    """(z, x, y, features array<struct>, n_features, n_dropped).

    features holds a tile's first MAX_FEATURES_PER_TILE points by
    (doc_id, span_pos), sorted; n_dropped counts the rest.  One scan of
    points yields every zoom's rows, keeping only the columns a feature
    needs; one window ranks each tile's rows and the aggregate on the same
    key collects the ranked rows under the cap and counts them all, so the
    stage has one exchange.
    """
    cap = MAX_FEATURES_PER_TILE
    w = Window.partitionBy("z", "x", "y").orderBy("doc_id", "span_pos")
    feature = F.struct(
        "doc_id", "span_pos",
        _offset(F.shiftright("_off", _OFF_BITS)).alias("in_x"),
        _offset(F.col("_off").bitwiseAND((1 << _OFF_BITS) - 1)).alias("in_y"),
    )
    return (
        points.select("doc_id", "span_pos", _per_zoom(_feature_exprs, zooms))
        .withColumn("_rn", F.row_number().over(w))
        .groupBy("z", "x", "y")
        .agg(
            # collect_list skips the nulls `when` leaves past the cap
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= cap, feature))
            ).alias("features"),
            F.count("*").alias("_n_total"),
        )
        .withColumn("n_features", F.size("features"))
        .withColumn("n_dropped", F.col("_n_total") - F.col("n_features"))
        .drop("_n_total")
    )


def _pixel_exprs(z: int) -> dict[str, Column]:
    """z/x/y and the point's raster pixel at z: in-tile offsets shifted
    down to at most 2^RASTER_SUB_BITS pixels per side."""
    e = _tile_exprs(z)
    down = max(GRID_BITS - z - RASTER_SUB_BITS, 0)
    return {
        "z": e["z"], "x": e["x"], "y": e["y"],
        "px": F.shiftright(e["in_x"], down).cast("int"),
        "py": F.shiftright(e["in_y"], down).cast("int"),
    }


def raster_tiles(points: DataFrame, zooms: tuple[int, ...] = TILE_ZOOMS) -> DataFrame:
    """(z, x, y, pixels array<struct<px:int,py:int,n:bigint>>, n_points) —
    sparse count raster per tile, 2^min(RASTER_SUB_BITS, GRID_BITS - z)
    = 2^min(8, 16 - z) pixels per side: in-tile offsets are down-sampled to
    the raster grid, and tiles at zooms whose offsets already fit it keep
    full resolution.

    One scan of points yields every zoom's pixels; they are hash-partitioned
    on (z, x, y), and the per-pixel count and the per-tile aggregate both
    run on that partitioning, so the stage has one exchange."""
    return (
        points.select(_per_zoom(_pixel_exprs, zooms))
        .repartition("z", "x", "y")
        .groupBy("z", "x", "y", "px", "py")
        .agg(F.count("*").alias("n"))
        .groupBy("z", "x", "y")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("px", "py", "n"))
            ).alias("pixels"),
            F.sum("n").alias("n_points"),
        )
    )


def raster_to_vector(rasters: DataFrame, min_count: int = 1) -> DataFrame:
    """Inverse materialization (the '<->' in raster<->vector): sparse raster
    tiles back to per-pixel feature rows (z, x, y, px, py, n) — e.g. to
    re-vectorize a heatmap above a threshold.  Pure explode, no shuffle."""
    return (
        rasters.select(
            "z", "x", "y",
            F.explode("pixels").alias("p"),
        )
        .select(
            "z", "x", "y",
            F.col("p.px").alias("px"),
            F.col("p.py").alias("py"),
            F.col("p.n").alias("n"),
        )
        .filter(F.col("n") >= min_count)
    )


# 3x3 integer smoothing kernel (binomial outer product [1,2,1]^T [1,2,1]):
# center 4, edges 2, corners 1 — sums to 16, so smoothed/16 is the box-blur
# mean; kept UNnormalized so the operator stays integer-exact end to end.
SMOOTH_KERNEL = [(dy, dx, (2 - abs(dy)) * (2 - abs(dx)))
                 for dy in (-1, 0, 1) for dx in (-1, 0, 1)]


def raster_smooth(hist: DataFrame, res: int,
                  count_col: str = "n") -> DataFrame:
    """Integer 3x3 binomial convolution of a sparse cell histogram.

    hist(cy, cx, count_col) at resolution `res` -> (cy, cx, smoothed) where
    smoothed = sum over the 3x3 neighborhood of kernel_weight * count.
    Classic raster map-algebra focal operation, kept sparse: each input
    cell scatters to its (in-grid) 9 neighbors (explode, narrow) and one
    hash aggregation gathers per target cell — so cost is O(nonzero cells),
    never O(grid).  Cells outside the res-grid are dropped (no wraparound);
    only cells receiving at least one contribution appear (zero cells of a
    sparse histogram stay absent).
    """
    n_cells = 1 << res
    k = F.explode(F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"),
                 F.lit(w).alias("w"))
        for dy, dx, w in SMOOTH_KERNEL
    ])).alias("k")
    return (
        hist.select("cy", "cx", F.col(count_col).alias("_n"))
        .select("*", k)
        .select(
            (F.col("cy") + F.col("k.dy")).alias("cy"),
            (F.col("cx") + F.col("k.dx")).alias("cx"),
            (F.col("_n") * F.col("k.w")).alias("_c"),
        )
        .filter((F.col("cy") >= 0) & (F.col("cy") < n_cells)
                & (F.col("cx") >= 0) & (F.col("cx") < n_cells))
        .groupBy("cy", "cx")
        .agg(F.sum("_c").alias("smoothed"))
    )


def hotspot_gi(hist: DataFrame, res: int, count_col: str = "n",
               by: tuple = ()) -> DataFrame:
    """Getis-Ord Gi* hotspot statistic over a sparse cell histogram.

    hist(cy, cx, count_col) at resolution `res` -> one row per cell with a
    non-empty 3x3 neighborhood: (cy, cx, wx, w, gi_z) where

      wx   = sum of counts over the in-grid 3x3 neighborhood (incl. self —
             the * in Gi*),
      w    = the neighborhood size (9, fewer on grid edges; binary weights),
      gi_z = (wx - mean*w) / (sd * sqrt((N*w - w*w) / (N-1)))

    with N = 4^res (the study region is the WHOLE grid — absent cells are
    x=0, the standard raster framing), mean = sum(x)/N and
    sd = sqrt(sum(x^2)/N - mean^2) over that region.  gi_z is the classic
    Gi* z-score (Getis & Ord 1995, binary row weights): |gi_z| > 1.96 flags
    hot/cold spots at the 5% level.

    Determinism/mirroring contract: every input to the float expression is
    an EXACT integer aggregate (wx, w, sum, sum of squares); the z-score is
    then a fixed tree of IEEE-754 +,-,*,/,sqrt — each correctly rounded, so
    any engine evaluating the same tree over the same integers produces the
    same bits (the SQL oracle mirrors the tree verbatim).

    Scale shape: one 9x scatter + hash gather (identical to raster_smooth,
    O(nonzero cells)) plus a ONE-ROW global aggregate that rides the plan as
    a broadcast cross join — no second pass over the data, no collect.

    `by` generalizes the statistic to independent sub-histograms sharing one
    plan (e.g. one Gi* surface PER event-time window for the streaming twin):
    moments become per-group (one row each, still broadcast — group count is
    the window count, not the cell count) and the scatter/gather keys gain
    the group columns.  by=() keeps the original single-surface plan.
    """
    by = list(by)
    n_cells = 1 << res
    nf = float(n_cells) * float(n_cells)  # N as an exact double
    moments = [
        F.sum(count_col).cast("double").alias("_s1"),
        F.sum(F.col(count_col) * F.col(count_col)).cast("double").alias("_s2"),
    ]
    g = hist.groupBy(*by).agg(*moments) if by else hist.agg(*moments)
    k = F.explode(F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])).alias("k")
    wx = (
        hist.select(*by, "cy", "cx", F.col(count_col).alias("_n"))
        .select("*", k)
        .select(
            *by,
            (F.col("cy") + F.col("k.dy")).alias("cy"),
            (F.col("cx") + F.col("k.dx")).alias("cx"),
            F.col("_n"),
        )
        .filter((F.col("cy") >= 0) & (F.col("cy") < n_cells)
                & (F.col("cx") >= 0) & (F.col("cx") < n_cells))
        .groupBy(*by, "cy", "cx")
        .agg(F.sum("_n").cast("long").alias("wx"))
    )
    hi = F.lit(n_cells - 1)
    w_int = (
        (F.least(F.col("cy") + 1, hi) - F.greatest(F.col("cy") - 1, F.lit(0)) + 1)
        * (F.least(F.col("cx") + 1, hi) - F.greatest(F.col("cx") - 1, F.lit(0)) + 1)
    ).cast("int")
    mean = F.col("_s1") / F.lit(nf)
    wd = F.col("w").cast("double")
    z = (
        (F.col("wx").cast("double") - mean * wd)
        / (F.sqrt(F.col("_s2") / F.lit(nf) - mean * mean)
           * F.sqrt((F.lit(nf) * wd - wd * wd) / F.lit(nf - 1.0)))
    )
    joined = wx.join(F.broadcast(g), on=by) if by \
        else wx.crossJoin(F.broadcast(g))
    return (
        joined
        .withColumn("w", w_int)
        .withColumn("gi_z", z)
        .select(*by, "cy", "cx", "wx", "w", "gi_z")
    )


def layout_by_cell(df: DataFrame, n_files: int,
                   qlat_col: str = "qlat", qlon_col: str = "qlon",
                   extra_sort: tuple = (), keep_key: bool = False) -> DataFrame:
    """Z-order data layout: range-partition rows across ``n_files``
    output partitions by their full-resolution Morton cell and sort
    within each partition, so a parquet write of the result carries
    per-file min/max statistics that are spatially TIGHT — any later
    bbox/radius/cover scan prunes to the handful of files whose
    z-interval intersects the query instead of reading the corpus.

    This is the write-side half of every spatial operator in the
    engine: the read-side prunes (dwithin cell buckets, PIP covers, kNN
    ring scans) become file-skipping prunes when the data on disk is
    z-clustered.  One range shuffle (sampled boundaries, balanced
    files regardless of spatial skew), one in-partition sort — the
    standard table-layout maintenance job a 100 TB deployment runs
    after ingest, same contract as Delta/Iceberg Z-ORDER compaction
    (public technique; Morton interleave per geo.cell_col).

    ``extra_sort`` appends secondary in-file sort keys (e.g. a time
    column for spatiotemporal range scans).  ``keep_key`` retains the
    z-key column (``zkey``) for inspection; by default the layout is
    invisible to the schema, exactly like engine-side clustering.
    """
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    if "zkey" in df.columns:
        # silently overwriting (and, with keep_key=False, dropping) a
        # user column of the same name would lose data
        raise ValueError(
            "input already has a 'zkey' column; rename it before calling "
            "layout_by_cell")
    from .geo import cell_col as _cell_col
    out = (
        df.withColumn("zkey", _cell_col(F.col(qlat_col), F.col(qlon_col)))
        .repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey", *extra_sort)
    )
    return out if keep_key else out.drop("zkey")
