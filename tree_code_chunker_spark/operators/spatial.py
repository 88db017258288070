"""Spatial-analytics extensions on the integer Morton grid: radius
(distance-within) joins, zonal statistics, and trajectory analytics with
DDA line rasterization.

These extend the core PIP/kNN/tile operators (SURVEY.md §2.4 targets) with
the remaining classic geospatial joins a 100 TB pipeline needs:

 * `dwithin_join`, `dwithin_self_join`, `st_colocate_join`,
   `st_colocate_ab` — radius joins (space, or space and time) through one
   kernel, `_grid_pairs`: the reference's 1-D interval-overlap join
   (codechunk.go:631-651) lifted to a 2-D or 3-D cell key.  Bucket both
   sides at a resolution whose cell side >= radius, expand ONE side to
   its neighbour cells (the canonical half for a self-join), equi-join on
   the cell key, then exact integer filter.  Never all-pairs; the only
   shuffle is the cell-key equi-join, and hot cells ride on AQE skew-join
   splitting.
 * `zonal_stats` — per-polygon aggregates of the points each polygon
   contains (raster "zonal statistics" in vector form): composes the
   classified-cover pip_join (broadcast build side, probe never shuffled)
   with a single hash aggregation on polygon_id.
 * `trajectory_segments` / `trajectory_stats` — per-id ordered point
   sequences folded into consecutive segments (window lag, one shuffle on
   the id) and integer path metrics (Chebyshev length, squared displacement,
   bounding box) that are bit-exact at any parallelism.
 * `line_cells` / `trajectory_raster` — vector->raster line rasterization:
   each segment is sampled at its Chebyshev length + 1 grid steps (classic
   DDA midpoint rounding, 8-connected), entirely in JVM column expressions
   (sequence + explode), then rolled up to per-cell visit counts.

All math is integer after quantization (operators/geo.py), so every
operator here is mirrored exactly by the DuckDB oracle SQL in
`__spark_entry__.py` — including the DDA rounding, which uses
floor((2*i*d + steps)/(2*steps)) so both engines compute round-half-up of
i*d/steps with one shared formula (exact in float64: |numerator| < 2^34).
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, functions as F

from ..config import GRID_BITS
from .pip import PolygonIndex, pip_join


def dwithin_res(radius: int) -> int:
    """Finest resolution whose cell side (2^(GRID_BITS-res)) >= radius.

    With side >= radius, every point within `radius` of a point in cell C
    lies in C's 3x3 Chebyshev-1 neighborhood, so 9 candidate cells suffice
    (_grid_pairs).
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    side_bits = max((radius - 1).bit_length(), 1)  # smallest b: 2^b >= radius
    return max(GRID_BITS - side_bits, 0)


def _grid_pairs(
    a: DataFrame,
    b: DataFrame,
    radius: int,
    a_keep: tuple[str, ...],
    b_keep: tuple[str, ...],
    *,
    dt: int | None = None,
    a_t: str | None = None,
    b_t: str | None = None,
    self_pairs: bool = False,
    broadcast_b: bool = False,
) -> DataFrame:
    """The one radius-join kernel: (a, b) row pairs with squared grid
    distance (a.qlat-b.qlat)^2 + (a.qlon-b.qlon)^2 <= radius^2 and, when
    `dt` is given, |a[a_t] - b[b_t]| <= dt -> a_keep + b_keep + d2 (bigint),
    plus dt_s when timed.

    The prune is the reference's 1-D interval-overlap join
    (codechunk.go:631-651) lifted to a 2-D cell key (cell_y, cell_x), or
    3-D with t DIV dt.  Cells are dwithin_res(radius) cells, whose side is
    >= radius, and time buckets are dt wide, so a pair within radius (and
    dt) lies in cells at most one apart on every axis.  b is exploded to
    the 3^n cells around its own (9 or 27 offsets) and equi-joined on the
    cell key, which finds every such pair; the exact integer filter drops
    the rest.  Neighbour cells off the spatial grid can never match an a
    cell and are dropped (clamping would repeat a cell); time buckets are
    unbounded.  Never all-pairs: the only shuffle is the cell-key
    equi-join, hot cells ride AQE skew-join splitting, and broadcast_b
    broadcasts the exploded b side instead.  Times are cast to bigint and
    must be nonnegative (truncating div is floor division only there).

    self_pairs (b is a, and b_keep names b's copy of a_keep): every
    UNORDERED pair of distinct rows, once, with the lesser a_keep on the
    left.  b explodes only the canonical half of the neighbourhood: the
    zero offset plus the lexicographically positive ones (5 of 9, 14 of
    27).  A cross-cell pair's cell delta d has exactly one of d and -d
    lex-positive, so it joins under exactly one (side, offset) role
    assignment; it is kept and swapped so the lesser id lands left.  A
    same-cell pair joins under the zero offset in both orientations and
    keeps a < b.  The output equals the full-neighbourhood join filtered
    to a < b, from 5/9 or 14/27 of the exploded b rows.
    """
    if dt is not None and dt < 1:
        raise ValueError(f"dt must be >= 1, got {dt}")
    res = dwithin_res(radius)
    shift = GRID_BITS - res
    n_cells = 1 << res

    key = ["ccy", "ccx"]
    a_pos = [F.col("qlat").alias("a_qlat"), F.col("qlon").alias("a_qlon")]
    b_pos = [F.col("qlat").alias("b_qlat"), F.col("qlon").alias("b_qlon")]
    a_cell = [F.shiftright("qlat", shift).alias("ccy"),
              F.shiftright("qlon", shift).alias("ccx")]
    b_cell = [(F.shiftright("b_qlat", shift) + F.col("off.dy")).alias("ccy"),
              (F.shiftright("b_qlon", shift) + F.col("off.dx")).alias("ccx")]
    if dt is not None:
        key.append("ctb")
        a_pos.append(F.col(a_t).cast("long").alias("a_t"))
        b_pos.append(F.col(b_t).cast("long").alias("b_t"))
        a_cell.append(
            F.expr(f"CAST(`{a_t}` AS BIGINT) div {int(dt)}").alias("ctb"))
        b_cell.append(
            (F.expr(f"b_t div {int(dt)}") + F.col("off.db")).alias("ctb"))

    axes = ("dy", "dx", "db")[:len(key)]
    offsets = list(itertools.product((-1, 0, 1), repeat=len(axes)))
    zero = (0,) * len(axes)
    o0 = []
    if self_pairs:
        offsets = [zero] + [o for o in offsets if o > zero]
        o0 = [F.col("off.o0").alias("o0")]
    off = F.explode(F.array(*[
        F.struct(*[F.lit(v).alias(n) for v, n in zip(o, axes)],
                 *([F.lit(int(o == zero)).alias("o0")] if self_pairs else []))
        for o in offsets
    ])).alias("off")

    a_side = a.select(*a_keep, *a_pos, *a_cell)
    b_rows = b.select(*([F.col(c).alias(n) for c, n in zip(a_keep, b_keep)]
                        if self_pairs else b_keep), *b_pos)
    b_side = (
        b_rows.select("*", off)
        .select(*b_rows.columns, *o0, *b_cell)
        .filter(
            (F.col("ccy") >= 0) & (F.col("ccy") < n_cells)
            & (F.col("ccx") >= 0) & (F.col("ccx") < n_cells)
        )
    )
    if broadcast_b:
        b_side = F.broadcast(b_side)
    d2 = (
        (F.col("a_qlat") - F.col("b_qlat")) * (F.col("a_qlat") - F.col("b_qlat"))
        + (F.col("a_qlon") - F.col("b_qlon")) * (F.col("a_qlon") - F.col("b_qlon"))
    )
    pairs = a_side.join(b_side, key, "inner").withColumn("d2", d2)
    keep = F.col("d2") <= F.lit(int(radius) * int(radius))
    measures = ["d2"]
    if dt is not None:
        pairs = pairs.withColumn("dt_s", F.abs(F.col("a_t") - F.col("b_t")))
        keep = keep & (F.col("dt_s") <= F.lit(int(dt)))
        measures.append("dt_s")
    out = [*a_keep, *b_keep]
    if self_pairs:
        a_key = F.struct(*[F.col(c) for c in a_keep])
        b_key = F.struct(*[F.col(c) for c in b_keep])
        keep = keep & ((F.col("o0") == 1) & (a_key < b_key)
                       | (F.col("o0") == 0) & (a_key != b_key))
        swap = (F.col("o0") == 0) & (b_key < a_key)
        out = ([F.when(swap, F.col(bc)).otherwise(F.col(ac)).alias(ac)
                for ac, bc in zip(a_keep, b_keep)]
               + [F.when(swap, F.col(ac)).otherwise(F.col(bc)).alias(bc)
                  for ac, bc in zip(a_keep, b_keep)])
    return pairs.filter(keep).select(*out, *measures)


def dwithin_join(
    a: DataFrame,
    b: DataFrame,
    radius: int,
    a_keep: tuple[str, ...] = ("doc_id", "span_pos"),
    b_keep: tuple[str, ...] = ("query_id",),
    broadcast_b: bool = False,
) -> DataFrame:
    """All (a, b) pairs with (a.qlat-b.qlat)^2 + (a.qlon-b.qlon)^2 <= radius^2.

    a(qlat, qlon, *a_keep) x b(qlat, qlon, *b_keep) -> one row per pair with
    a_keep + b_keep + d2 (bigint).  b explodes to all 9 neighbour cells
    (_grid_pairs), so pass the smaller side as b; broadcast_b=True when b
    (x9) fits in a broadcast.
    """
    return _grid_pairs(a, b, radius, a_keep, b_keep, broadcast_b=broadcast_b)


def dwithin_self_join(
    points: DataFrame,
    radius: int,
    id_cols: tuple[str, ...] = ("doc_id", "span_pos"),
) -> DataFrame:
    """Spatial near-duplicate pairs: all UNORDERED pairs of distinct points
    within `radius` (the location analogue of the content near-dup
    operators in operators/dedup.py — co-located records are duplicate
    candidates for a geocoded corpus).

    id_cols + b_<id_cols> + d2, each pair once with the lesser id on the
    left: the self-pair form of dwithin_join, exploding 5 of the 9
    neighbour cells (_grid_pairs).
    """
    return _grid_pairs(points, points, radius, id_cols,
                       tuple(f"b_{c}" for c in id_cols), self_pairs=True)


def st_colocate_join(
    points: DataFrame,
    radius: int,
    dt: int,
    id_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    t_col: str = "t_s",
) -> DataFrame:
    """Spatiotemporal co-location self-join (contact detection): all
    UNORDERED pairs of distinct points with squared grid distance
    <= radius^2 AND |t_a - t_b| <= dt.

    id_cols + b_<id_cols> + d2 + dt_s, each pair once with the lesser id
    on the left: the self-pair form of st_colocate_ab, keyed on (cell_y,
    cell_x, t DIV dt) and exploding 14 of the 27 neighbour cells
    (_grid_pairs).  Timestamps must be nonnegative integers.

    With dt at or past the data's whole time span every row lands in one
    or two time buckets, but the key's spatial parts still spread the join
    like dwithin_self_join's, so a hot time bucket cannot serialize it
    onto one partition (pinned by test); call dwithin_self_join directly
    when no time limit is meant, and skip the time expansion.
    """
    return _grid_pairs(points, points, radius, id_cols,
                       tuple(f"b_{c}" for c in id_cols),
                       dt=dt, a_t=t_col, b_t=t_col, self_pairs=True)


def st_colocate_ab(
    a: DataFrame,
    b: DataFrame,
    radius: int,
    dt: int,
    a_keep: tuple[str, ...] = ("doc_id", "span_pos"),
    b_keep: tuple[str, ...] = ("b_doc_id", "b_span_pos"),
    t_col: str = "t_s",
    b_t_col: str | None = None,
) -> DataFrame:
    """Two-sided spatiotemporal co-location join: every (a, b) pair with
    squared grid distance <= radius^2 AND |t_a - t_b| <= dt ->
    a_keep + b_keep + d2 + dt_s.  Roles are semantic (e.g. new events vs
    a reference corpus), so every match is emitted once per (a, b) row
    pair, uncanonicalized, and b explodes all 27 neighbour cells of the
    (cell_y, cell_x, t DIV dt) key (_grid_pairs).  Timestamps must be
    nonnegative integers.

    ``b_keep`` names must already exist on ``b`` (pre-aliased by the
    caller, as for dwithin_join) and be disjoint from ``a_keep``.
    ``b_t_col`` defaults to ``t_col``.
    """
    if set(a_keep) & set(b_keep):
        raise ValueError(
            f"a_keep and b_keep overlap: {set(a_keep) & set(b_keep)}")
    return _grid_pairs(a, b, radius, a_keep, b_keep, dt=dt, a_t=t_col,
                       b_t=t_col if b_t_col is None else b_t_col)


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame = None,
    value: Column | str | None = None,
    index: PolygonIndex | None = None,
    keep_cols: tuple[str, ...] = ("doc_id", "span_pos"),
) -> DataFrame:
    """Per-polygon aggregates over the points each polygon contains.

    Classic raster zonal statistics in vector form: pip_join (broadcast
    classified cover; probe side never shuffled) followed by one hash
    aggregation on polygon_id.  Returns polygon_id, n_points and — when
    `value` is given — sum/min/max of the value expression (integer-exact
    when the value is integer).
    """
    if isinstance(value, str) and value not in keep_cols:
        # pip_join projects keep_cols + polygon_id + qlat/qlon only; the
        # value column must ride through the join
        keep_cols = (*keep_cols, value)
    matched = pip_join(points, polygons, index=index, keep_cols=keep_cols)
    if value is None:
        return matched.groupBy("polygon_id").agg(F.count("*").alias("n_points"))
    v = F.col(value) if isinstance(value, str) else value
    matched = matched.withColumn("_v", v)
    return matched.groupBy("polygon_id").agg(
        F.count("*").alias("n_points"),
        F.sum("_v").alias("sum_value"),
        F.min("_v").alias("min_value"),
        F.max("_v").alias("max_value"),
    )


def trajectory_segments(
    points: DataFrame,
    id_col: str = "doc_id",
    order_col: str = "span_pos",
) -> DataFrame:
    """Consecutive (by order_col, per id_col) point pairs as segments.

    One shuffle on id_col (window lag); emits n-1 rows per n-point
    trajectory with (id, seg_pos, y0, x0, y1, x1).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col(order_col).asc())
    return (
        points.select(
            id_col, order_col,
            F.lag("qlat").over(w).alias("y0"),
            F.lag("qlon").over(w).alias("x0"),
            F.col("qlat").alias("y1"),
            F.col("qlon").alias("x1"),
        )
        .filter(F.col("y0").isNotNull())
        .withColumnRenamed(order_col, "seg_pos")
    )


def trajectory_stats(
    points: DataFrame,
    id_col: str = "doc_id",
    order_col: str = "span_pos",
) -> DataFrame:
    """Per-trajectory integer path metrics, bit-exact at any parallelism.

    n_points, n_segs, cheb_len (sum of per-segment Chebyshev lengths — the
    DDA step count, so it equals trajectory_raster's per-trajectory visit
    count minus n_segs duplicated endpoints), max_step_d2, net_d2 (squared
    first->last displacement), bbox_area ((maxlat-minlat)*(maxlon-minlon)).
    """
    from pyspark.sql import Window

    # ONE window pass (the lag needs the per-id sort anyway); first/last
    # endpoints come from min_by/max_by in the same aggregation — an
    # earlier draft added two more F.first windows (one descending), which
    # cost an extra per-id sort for values the agg can pick directly
    w = Window.partitionBy(id_col).orderBy(F.col(order_col).asc())
    dy = F.col("qlat") - F.lag("qlat").over(w)
    dx = F.col("qlon") - F.lag("qlon").over(w)
    stepped = points.select(
        id_col, order_col, "qlat", "qlon",
        dy.alias("dy"), dx.alias("dx"),
    )
    # endpoints picked as ONE struct per min_by/max_by: with tied
    # order_col values the chosen row is arbitrary but COHERENT (both
    # coords from the same row) — four independent picks could pair
    # qlat and qlon from different tied rows into a phantom point
    first = F.min_by(F.struct("qlat", "qlon"), order_col)
    last = F.max_by(F.struct("qlat", "qlon"), order_col)
    lat_first, lon_first = first["qlat"], first["qlon"]
    lat_last, lon_last = last["qlat"], last["qlon"]
    return stepped.groupBy(id_col).agg(
        F.count("*").alias("n_points"),
        F.count("dy").alias("n_segs"),
        F.coalesce(
            F.sum(F.greatest(F.abs("dy"), F.abs("dx"))), F.lit(0)
        ).alias("cheb_len"),
        F.coalesce(
            F.max(F.col("dy") * F.col("dy") + F.col("dx") * F.col("dx")),
            F.lit(0),
        ).alias("max_step_d2"),
        (
            (lat_last - lat_first) * (lat_last - lat_first)
            + (lon_last - lon_first) * (lon_last - lon_first)
        ).alias("net_d2"),
        (
            (F.max("qlat") - F.min("qlat")) * (F.max("qlon") - F.min("qlon"))
        ).alias("bbox_area"),
    )


def _dda_coord(c0: Column, d: Column, i: Column, steps_safe: Column) -> Column:
    """c0 + round_half_up(i*d/steps): floor((2*i*d + steps)/(2*steps)).

    Float64 division is exact enough here (|numerator| < 2^34, and the true
    quotient is never closer than 1/(2*steps) >= 2^-17 to an integer unless
    it IS one, in which case IEEE division returns it exactly), so the
    DuckDB mirror computes the identical value with the identical formula.
    """
    num = F.lit(2) * i * d + steps_safe
    return c0 + F.floor(num / (F.lit(2.0) * steps_safe)).cast("long")


def line_cells(
    segments: DataFrame,
    res: int,
    keep_cols: tuple[str, ...] = ("doc_id", "seg_pos"),
) -> DataFrame:
    """DDA rasterization of segments onto the res-cell grid (8-connected).

    segments(*keep_cols, y0, x0, y1, x1) in GRID coordinates -> one row per
    (segment, visited cell) with keep_cols + cy + cx.  steps = Chebyshev
    length of the segment in cells; cell i = endpoint0 + round(i*delta/steps)
    per axis.  The major axis advances exactly 1 per step, so a segment
    never emits a duplicate cell.  Pure JVM (sequence + explode): no Python,
    no shuffle — rasterization is embarrassingly parallel.
    """
    shift = GRID_BITS - res
    seg = segments.select(
        *keep_cols,
        F.shiftright("y0", shift).alias("cy0"),
        F.shiftright("x0", shift).alias("cx0"),
        F.shiftright("y1", shift).alias("cy1"),
        F.shiftright("x1", shift).alias("cx1"),
    ).select(
        *keep_cols, "cy0", "cx0",
        (F.col("cy1") - F.col("cy0")).alias("dy"),
        (F.col("cx1") - F.col("cx0")).alias("dx"),
    ).select(
        "*",
        F.greatest(F.abs("dy"), F.abs("dx")).alias("steps"),
    )
    steps_safe = F.greatest(F.col("steps"), F.lit(1))
    i = F.explode(F.sequence(F.lit(0), F.col("steps"))).alias("i")
    return seg.select("*", i).select(
        *keep_cols,
        _dda_coord(F.col("cy0"), F.col("dy"), F.col("i"), steps_safe).alias("cy"),
        _dda_coord(F.col("cx0"), F.col("dx"), F.col("i"), steps_safe).alias("cx"),
    )


def trajectory_raster(
    points: DataFrame,
    res: int,
    id_col: str = "doc_id",
    order_col: str = "span_pos",
) -> DataFrame:
    """Per-cell visit density of all trajectories (vector->raster rollup).

    segments -> DDA cells -> groupBy(cy, cx): n_visits counts every
    (segment, cell) incidence (shared segment endpoints count once per
    segment touching them), n_ids counts distinct trajectories.  One window
    shuffle (segments) + one agg shuffle; rasterization itself is narrow.
    """
    segs = trajectory_segments(points, id_col, order_col)
    cells = line_cells(segs, res, keep_cols=(id_col, "seg_pos"))
    return cells.groupBy("cy", "cx").agg(
        F.count("*").alias("n_visits"),
        F.countDistinct(id_col).alias("n_ids"),
    )


def polygon_stats(polygons: DataFrame) -> DataFrame:
    """Per-polygon vector geometry stats, integer-exact (no shuffle at all:
    every metric is a JVM higher-order fold over the ring array).

    polygons(polygon_id, ring array<struct<qlat,qlon>>) -> n_vertices,
    area2 (TWICE the shoelace area — kept doubled so it stays an exact
    integer), perim_cheb (sum of per-edge Chebyshev lengths — the DDA
    raster step count of the outline), and the bounding box.  Every
    product fits BIGINT (coords < 2^16).  Ring closure is normalized the
    same way as the PIP path (pip._closed_ring_col): an open ring gets its
    closing edge appended rather than silently dropped.
    """
    from .pip import _closed_ring_col

    polygons = polygons.withColumn(
        "ring", _closed_ring_col(F.col("ring")))
    edges = (
        "transform(sequence(0, size(ring) - 2), i -> struct("
        "ring[i].qlat AS y1, ring[i].qlon AS x1, "
        "ring[i+1].qlat AS y2, ring[i+1].qlon AS x2))"
    )
    return polygons.select(
        "polygon_id",
        F.expr("CAST(size(ring) - 1 AS BIGINT)").alias("n_vertices"),
        F.expr(
            f"abs(aggregate({edges}, CAST(0 AS BIGINT), "
            "(acc, e) -> acc + e.x1 * e.y2 - e.x2 * e.y1))"
        ).alias("area2"),
        F.expr(
            f"aggregate({edges}, CAST(0 AS BIGINT), "
            "(acc, e) -> acc + greatest(abs(e.y2 - e.y1), abs(e.x2 - e.x1)))"
        ).alias("perim_cheb"),
        F.expr("CAST(array_min(transform(ring, r -> r.qlat)) AS BIGINT)")
        .alias("min_qlat"),
        F.expr("CAST(array_max(transform(ring, r -> r.qlat)) AS BIGINT)")
        .alias("max_qlat"),
        F.expr("CAST(array_min(transform(ring, r -> r.qlon)) AS BIGINT)")
        .alias("min_qlon"),
        F.expr("CAST(array_max(transform(ring, r -> r.qlon)) AS BIGINT)")
        .alias("max_qlon"),
    )


def od_matrix(
    points: DataFrame,
    res: int,
    id_col: str = "doc_id",
    order_col: str = "span_pos",
) -> DataFrame:
    """Origin-destination matrix: per trajectory, the (first cell, last
    cell) pair at `res`, counted over all trajectories — the classic OD
    flow aggregation.

    One hash aggregation per trajectory (min_by/max_by pick the endpoints;
    no window, no sort) + one aggregation over (origin, dest).  Trajectories
    with a single point contribute a self-flow (origin == dest).
    """
    shift = GRID_BITS - res
    # endpoint = ONE struct pick per aggregate (see trajectory_stats):
    # tied order_col values choose an arbitrary-but-coherent row, never a
    # phantom mix of coords from two rows
    ends = points.groupBy(id_col).agg(
        F.min_by(F.struct("qlat", "qlon"), order_col).alias("o"),
        F.max_by(F.struct("qlat", "qlon"), order_col).alias("d"),
    ).select(
        id_col,
        F.col("o.qlat").alias("oy"), F.col("o.qlon").alias("ox"),
        F.col("d.qlat").alias("dy"), F.col("d.qlon").alias("dx"),
    )
    return (
        ends.select(
            F.shiftright("oy", shift).alias("o_cy"),
            F.shiftright("ox", shift).alias("o_cx"),
            F.shiftright("dy", shift).alias("d_cy"),
            F.shiftright("dx", shift).alias("d_cx"),
        )
        .groupBy("o_cy", "o_cx", "d_cy", "d_cx")
        .agg(F.count("*").alias("n_flows"))
    )


def idw_interpolate(
    points: DataFrame,
    queries: DataFrame,
    radius: int,
    value_col: str = "value",
) -> DataFrame:
    """Inverse-distance-weighted (power-2) interpolation: estimate a
    surface value at each query location from the points within `radius`
    — the classic scattered-data -> surface operator.

    est = sum(v / d2) / sum(1 / d2) over in-radius points (power-2 IDW
    uses squared distance directly, so no sqrt ever happens); an exact
    hit (d2 = 0) switches to the mean of the co-located values (the IDW
    singularity rule).  Queries with an empty disk produce no row.

    Scale + determinism shape: one dwithin cell-bucket join (3x3 prune,
    bounded shuffle) and ONE hash aggregation.  The weighted sums are
    accumulated in DECIMAL(38,18) — each double ratio v/d2 converts to
    the same decimal in any engine (a tie would need a non-dyadic
    rational), and decimal addition is exact and associative, so the
    aggregate is independent of partition order where double sums are
    not; the division back to double happens once, after aggregation
    (same order-stability construction as profile.column_profile).
    """
    cand = dwithin_join(
        points, queries, radius,
        a_keep=(value_col,), b_keep=("query_id",),
        broadcast_b=True,
    )
    v = F.col(value_col).cast("double")
    hit = F.col("d2") == 0
    agg = cand.groupBy("query_id").agg(
        F.count("*").alias("n_pts"),
        F.sum(F.when(~hit, (v / F.col("d2")).cast("decimal(38,18)")))
        .alias("_num"),
        F.sum(F.when(~hit, (F.lit(1.0) / F.col("d2"))
                     .cast("decimal(38,18)"))).alias("_den"),
        F.count(F.when(hit, 1)).alias("_n_hits"),
        # decimal sum, divide once after the agg: an avg() of doubles
        # would re-introduce the partition-order dependence the decimal
        # accumulators exist to remove
        F.sum(F.when(hit, v.cast("decimal(38,12)"))).alias("_hit_sum"),
    )
    est = F.when(
        F.col("_n_hits") > 0,
        F.col("_hit_sum").cast("double") / F.col("_n_hits"),
    ).otherwise(
        F.col("_num").cast("double") / F.col("_den").cast("double"))
    return agg.select(
        "query_id", "n_pts", F.round(est, 6).alias("est"))


def idw_interpolate_sql(points_cte: str, queries_cte: str, radius: int,
                        value_expr: str = "value") -> str:
    """DuckDB mirror of idw_interpolate over `points_cte`(qlat, qlon, +
    value_expr) x `queries_cte`(query_id, qlat, qlon)."""
    return f"""
SELECT query_id, count(*) AS n_pts,
       round(CASE WHEN count(CASE WHEN d2 = 0 THEN 1 END) > 0
             THEN CAST(sum(CASE WHEN d2 = 0 THEN
                      CAST(v AS DECIMAL(38,12)) END) AS DOUBLE)
                  / count(CASE WHEN d2 = 0 THEN 1 END)
             ELSE CAST(sum(CASE WHEN d2 != 0 THEN
                      CAST(v / d2 AS DECIMAL(38,18)) END) AS DOUBLE)
                  / CAST(sum(CASE WHEN d2 != 0 THEN
                      CAST(1.0 / d2 AS DECIMAL(38,18)) END) AS DOUBLE)
             END, 6) AS est
FROM (
  SELECT q.query_id,
         CAST(p.{value_expr} AS DOUBLE) AS v,
         (p.qlat - q.qlat) * (p.qlat - q.qlat)
         + (p.qlon - q.qlon) * (p.qlon - q.qlon) AS d2
  FROM {queries_cte} q JOIN {points_cte} p
    ON p.qlat BETWEEN q.qlat - {radius} AND q.qlat + {radius}
   AND p.qlon BETWEEN q.qlon - {radius} AND q.qlon + {radius}
  WHERE (p.qlat - q.qlat) * (p.qlat - q.qlat)
        + (p.qlon - q.qlon) * (p.qlon - q.qlon) <= {radius * radius}
)
GROUP BY query_id
"""


# ------------------------------------------------------------- geodesic ----
# Planar grid d2 is exact but treats the grid as flat: real lat/lon users
# hit the planar-vs-geodesic gap first at high latitudes, where lon cells
# shrink by cos(lat).  These variants keep the same prune-then-exact shape
# (cell-bucket equi-join, never all-pairs) but prune with latitude-aware
# lon-cell widening and filter with the exact haversine distance.

import math

from .geo import EARTH_RADIUS_M, haversine_m_col, quantize_col

M_PER_DEG = math.pi * EARTH_RADIUS_M / 180.0  # meters per degree of arc


# one GRID_BITS lat quantum in meters (~305 m at 16 bits): the slack the
# lat-side guard must leave so floor quantization, float ulp in the
# scaled multiply, and the round_to distance rounding can never push a
# passing pair 2 lat cells apart (a cell side EXACTLY equal to radius_m
# is the razor's edge: a pair at exactly the radius due north/south plus
# any of those epsilons lands outside the +-1 lat neighborhood)
_LAT_QUANTUM_M = 180.0 * M_PER_DEG / (1 << GRID_BITS)


def dwithin_geo_res(radius_m: float) -> int:
    """Finest resolution whose LAT cell side (meters along a meridian)
    is STRICTLY greater than radius_m + one grid quantum, so the lat
    neighborhood is always just +-1 cell even at the exact boundary; the
    lon neighborhood widens per row by 1/cos(lat)."""
    if radius_m <= 0:
        raise ValueError(f"radius_m must be > 0, got {radius_m}")
    r = int(math.floor(math.log2(180.0 * M_PER_DEG / radius_m)))
    while r >= 3 and 180.0 * M_PER_DEG / (1 << r) <= radius_m + _LAT_QUANTUM_M:
        r -= 1
    if r < 3:
        raise ValueError(
            f"radius_m={radius_m} spans more than 1/8 of the grid "
            "(>= ~2500 km): a cell prune cannot help — aggregate globally "
            "instead")
    return min(r, GRID_BITS)


def dwithin_geo(
    a: DataFrame,
    b: DataFrame,
    radius_m: float,
    a_keep: tuple[str, ...] = ("doc_id", "span_pos"),
    b_keep: tuple[str, ...] = ("query_id",),
    broadcast_b: bool = False,
    lat_col: str = "lat",
    lon_col: str = "lon",
    round_to: int = 3,
) -> DataFrame:
    """All (a, b) pairs with GREAT-CIRCLE distance <= radius_m over degree
    coordinates — the geodesic counterpart of dwithin_join.

    a(lat, lon, *a_keep) x b(lat, lon, *b_keep) -> one row per pair with
    a_keep + b_keep + dist_m (haversine meters, rounded to `round_to` dp
    before the comparison so any mirror computing the same formula with
    ulp-different libm trig agrees at the boundary).

    Prune (exact by construction):
      * resolution: lat cell side >= radius_m (dwithin_geo_res), so the
        lat neighborhood is +-1 cell, clamped at the poles;
      * lon widening: per b row, the cap's max lon extent is bounded by
        radius / (M_PER_DEG * cos(|lat| + radius_deg)) degrees (verified
        conservative vs the exact small-circle extremum asin(sin r /
        cos lat) for every lat, radius with the cap off the pole), +1
        cell slack for quantization — so hi-latitude rows widen as cells
        shrink; a cap CONTAINING a pole falls back to the full lon ring;
      * lon cells WRAP across the antimeridian (pmod + array_distinct),
        so cross-seam pairs are found; haversine is wrap-correct anyway.

    Scale shape: identical to dwithin_join — b explodes to its candidate
    cells (typically 3x3, more only near the poles), one cell-key
    equi-join, exact filter in the join projection.  No Python anywhere.
    """
    res = dwithin_geo_res(radius_m)
    shift = GRID_BITS - res
    n_cells = 1 << res
    rad_deg = radius_m / M_PER_DEG
    lon_side_deg = 360.0 / n_cells

    def cells(df):
        qlat, qlon = quantize_col(F.col(lat_col), F.col(lon_col))
        return (F.shiftright(qlat, shift), F.shiftright(qlon, shift))

    acy, acx = cells(a)
    a_side = a.select(
        *a_keep,
        F.col(lat_col).alias("a_lat"), F.col(lon_col).alias("a_lon"),
        acy.alias("ccy"), acx.alias("ccx"),
    )

    bcy, bcx = cells(b)
    b_pt = b.select(
        *b_keep,
        F.col(lat_col).alias("b_lat"), F.col(lon_col).alias("b_lon"),
        bcy.alias("bcy"), bcx.alias("bcx"),
    )
    # lon half-width in cells, per row (see docstring bound)
    phi_w = F.abs(F.col("b_lat")) + F.lit(rad_deg)
    cos_w = F.cos(F.radians(phi_w))
    pole_in_cap = phi_w >= F.lit(90.0)
    w = F.when(
        pole_in_cap, F.lit(n_cells)
    ).otherwise(
        F.least(
            F.ceil(F.lit(rad_deg) / (F.lit(lon_side_deg) * cos_w)) + 1,
            F.lit(n_cells),
        )
    ).cast("int")
    # wrap + dedup: past the half-ring the sequence covers every lon cell
    # exactly once thanks to array_distinct
    ccx_arr = F.array_distinct(F.transform(
        F.sequence(-w, w),
        lambda o: F.pmod(F.col("bcx") + o, F.lit(n_cells)),
    ))
    b_side = (
        b_pt.select("*", F.explode(
            F.sequence(F.lit(-1), F.lit(1))).alias("dy"))
        .select("*", F.explode(ccx_arr).alias("ccx"))
        .select(
            *b_keep, "b_lat", "b_lon",
            (F.col("bcy") + F.col("dy")).alias("ccy"), "ccx",
        )
        .filter((F.col("ccy") >= 0) & (F.col("ccy") < n_cells))
    )
    if broadcast_b:
        b_side = F.broadcast(b_side)
    dist = F.round(
        haversine_m_col(F.col("a_lat"), F.col("a_lon"),
                        F.col("b_lat"), F.col("b_lon")), round_to)
    return (
        a_side.join(b_side, ["ccy", "ccx"], "inner")
        .withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= F.lit(float(radius_m)))
        .select(*a_keep, *b_keep, "dist_m")
    )


def knn_geo(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    radius_m: float,
    tie_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Radius-bounded GEODESIC kNN: for each query, its k nearest corpus
    points by great-circle distance WITHIN radius_m (fewer rows if the cap
    holds fewer) — the geodesic twin of knn_within, and the re-rank step
    lat/lon users need where planar grid distance misorders neighbors at
    high latitude (pinned by test: planar and geodesic rankings agree at
    the equator and genuinely differ near the pole).

    Composition of exact plans: dwithin_geo prune (lat-aware cell join)
    feeding one top-k window ordered by the ROUNDED haversine distance
    with tie_cols breaking ties — deterministic and mirror-stable."""
    from pyspark.sql import Window

    cand = dwithin_geo(
        corpus, queries, radius_m,
        a_keep=tuple(tie_cols), b_keep=("query_id",),
        broadcast_b=True,
        lat_col=lat_col, lon_col=lon_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_m").asc(), *[F.col(c).asc() for c in tie_cols])
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", *tie_cols, "dist_m", "rank")
    )


def dwithin_geo_self(
    points: DataFrame,
    radius_m: float,
    id_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Geodesic near-duplicate pairs: all UNORDERED pairs of distinct
    points within `radius_m` great-circle meters — the degree-coordinate
    twin of dwithin_self_join (location near-dups for a lat/lon corpus).

    Same plan: both sides the same set through the dwithin_geo cell
    prune, kept once by lexicographic id order (also drops self-pairs).
    """
    b_renamed = [F.col(c).alias(f"b_{c}") for c in id_cols]
    b = points.select(*b_renamed, lat_col, lon_col)
    pairs = dwithin_geo(points, b, radius_m,
                        a_keep=id_cols,
                        b_keep=tuple(f"b_{c}" for c in id_cols),
                        lat_col=lat_col, lon_col=lon_col)
    a_key = F.struct(*[F.col(c) for c in id_cols])
    b_key = F.struct(*[F.col(f"b_{c}") for c in id_cols])
    return pairs.filter(a_key < b_key)


def dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "pid",
) -> DataFrame:
    """Grid DBSCAN: density-based spatial clustering on the integer grid.

    points(id_col long-orderable, qlat, qlon) -> (id_col, role, cluster):

      role 'core'   — |N_eps(p)| >= min_pts, where N_eps INCLUDES p itself
                      (the classic DBSCAN / sklearn counting convention);
      role 'border' — non-core within eps of >= 1 core point;
      role 'noise'  — everything else (cluster is NULL).

    Clusters are made DETERMINISTIC (textbook DBSCAN border assignment is
    scan-order-dependent) by the same min-label canon as the near-dup
    clustering in operators/dedup.py: a cluster's label is the smallest
    core id in its core-connectivity component, and a border point adjacent
    to cores of several clusters takes the smallest cluster label.

    Scale shape — never all-pairs, never a point-count-bound iteration:
      1. eps-neighbor edges via the dwithin 3x3 cell-bucket equi-join
         (one bounded shuffle, exact by construction);
      2. degree census (one hash agg) -> core set;
      3. connected components over CORE-CORE edges only via the
         large-star/small-star contraction (O(log^2 n) rounds);
      4. border assignment = one more equi-join + min agg.
    The edge set is localCheckpoint'ed once and reused by steps 2-4.
    """
    b = points.select(F.col(id_col).alias("_b_pid"), "qlat", "qlon")
    nbr = (
        dwithin_join(points, b, eps,
                     a_keep=(id_col,), b_keep=("_b_pid",))
        .filter(F.col(id_col) != F.col("_b_pid"))
        .select(F.col(id_col).alias("_pid"), "_b_pid")
        .localCheckpoint()
    )
    deg = nbr.groupBy("_pid").agg(F.count("*").alias("_k"))
    # |N_eps| includes the point itself: deg (strict neighbors) + 1.  The
    # census only covers points WITH neighbors, so neighborless points get
    # k=0 via the left join — at min_pts <= 1 they are (singleton) cores,
    # not noise.
    core = (
        points.select(F.col(id_col).alias("_pid"))
        .join(deg, "_pid", "left")
        .filter(F.coalesce("_k", F.lit(0)) + 1 >= min_pts)
        .select("_pid")
    )
    core_edges = (
        nbr.join(core, "_pid", "semi")
        .join(core.select(F.col("_pid").alias("_b_pid")), "_b_pid", "semi")
    )
    from .dedup import connected_components

    cc = connected_components(core_edges, "_pid", "_b_pid", method="star")
    core_lab = (
        core.join(cc.withColumnRenamed("node", "_pid"), "_pid", "left")
        # an isolated core (enough border neighbors, no core neighbor)
        # is its own one-core cluster
        .select("_pid", F.coalesce("label", F.col("_pid")).alias("_ccl"))
    )
    border = (
        nbr.join(core, "_pid", "anti")
        .join(core_lab.select(F.col("_pid").alias("_b_pid"),
                              F.col("_ccl").alias("cl")), "_b_pid")
        .groupBy("_pid").agg(F.min("cl").alias("_bcl"))
    )
    return (
        points.select(F.col(id_col).alias("_pid"))
        .join(core_lab, "_pid", "left")
        .join(border, "_pid", "left")
        .select(
            F.col("_pid").alias(id_col),
            F.when(F.col("_ccl").isNotNull(), F.lit("core"))
            .when(F.col("_bcl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise")).alias("role"),
            F.coalesce("_ccl", "_bcl").alias("cluster"),
        )
    )


# ------------------------------------------------------- convex hulls ------
#
# Andrew's monotone chain (public textbook algorithm) on exact integer
# coords: all turn tests are int64 cross products (coords < 2^16, so the
# products stay < 2^33 — exact), collinear edge points are EXCLUDED
# (strict turns), so the vertex set is the minimal one and matches the
# brute-force definition "p is a vertex iff p is not in the convex hull of
# the other points" — which is what the SQL oracle checks.


def _hull_vertex_array(y, x):
    """Distinct hull vertices of int points, lex-sorted (ny, nx) ndarray."""
    import numpy as np

    pts = np.unique(np.stack([np.asarray(y, dtype=np.int64),
                              np.asarray(x, dtype=np.int64)], axis=1),
                    axis=0)
    if len(pts) <= 2:
        return pts

    def half(pp):
        h: list = []
        for p in map(tuple, pp):
            while len(h) >= 2:
                (oy, ox), (ay, ax) = h[-2], h[-1]
                if (ay - oy) * (p[1] - ox) - (ax - ox) * (p[0] - oy) <= 0:
                    h.pop()
                else:
                    break
            h.append(p)
        return h

    vs = set(half(pts)[:-1]) | set(half(pts[::-1])[:-1])
    return np.array(sorted(vs), dtype=np.int64)


def convex_hull(points: DataFrame, by: tuple = ("doc_id",),
                lat_col: str = "qlat", lon_col: str = "qlon") -> DataFrame:
    """Per-group planar convex hull: one row per hull VERTEX, lex-sorted
    (deterministic set form — no float angles, so the DuckDB brute-force
    oracle can match it exactly), plus the group's hull size.

    Scale shape: applyInPandas per group — right when groups are small
    (a doc's span cloud)."""
    import pandas as pd

    by = list(by)
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in points.schema if f.name in by)
    schema = f"{fields}, {lat_col} long, {lon_col} long, n_hull int"

    def hull_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = _hull_vertex_array(pdf[lat_col].to_numpy(),
                                 pdf[lon_col].to_numpy())
        out = pd.DataFrame({lat_col: arr[:, 0], lon_col: arr[:, 1]})
        out["n_hull"] = len(arr)
        for c, v in zip(by, key):
            out.insert(0, c, v)
        return out[by + [lat_col, lon_col, "n_hull"]]

    return points.groupBy(*by).applyInPandas(hull_one, schema)


def hull_diameter(points: DataFrame, by: tuple = ("doc_id",),
                  lat_col: str = "qlat", lon_col: str = "qlon") -> DataFrame:
    """Per-group point-cloud diameter (max pairwise squared distance) with
    the witness pair, deterministic under ties.

    Exploits "the farthest pair are both hull vertices" (dist^2 is
    strictly convex along any hull chord, so an excluded collinear/
    interior point can never tie the max): reduce each group to its hull
    with convex_hull, then ONE tiny self-join over hull vertices — at
    most O(h^2) pairs per group instead of O(n^2), with h typically
    O(log n).  The argmax is a max over struct(d2, y1, x1, y2, x2), a
    total lexicographic order both engines share, so ties pick the same
    witness pair bit-for-bit.  Single-vertex groups emit (0, p, p) via
    the lex-<= self-pair.

    Output: by cols + (diam_sq, y1, x1, y2, x2)."""
    by = list(by)
    h = convex_hull(points, by=tuple(by), lat_col=lat_col, lon_col=lon_col)
    a = h.select(*by, F.col(lat_col).alias("y1"), F.col(lon_col).alias("x1"))
    b = h.select(*by, F.col(lat_col).alias("y2"), F.col(lon_col).alias("x2"))
    lex_le = (F.col("y1") < F.col("y2")) | (
        (F.col("y1") == F.col("y2")) & (F.col("x1") <= F.col("x2")))
    d2 = ((F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
          + (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1")))
    best = (
        a.join(b, on=by).filter(lex_le)
        .select(*by, F.struct(d2.cast("long").alias("diam_sq"),
                              "y1", "x1", "y2", "x2").alias("s"))
        .groupBy(*by).agg(F.max("s").alias("s"))
    )
    return best.select(*by, "s.diam_sq", "s.y1", "s.x1", "s.y2", "s.x2")


def rdp_simplify(
    points: DataFrame,
    epsilon: int,
    by: tuple = ("doc_id",),
    order_col: str = "span_pos",
    lat_col: str = "qlat",
    lon_col: str = "qlon",
) -> DataFrame:
    """Per-trajectory Ramer-Douglas-Peucker polyline simplification:
    keep a point iff its perpendicular distance from the chord of the
    current (recursively split) segment exceeds epsilon.

    All comparisons are EXACT integers — the classic float form
    |cross| / |chord| > eps is tested as cross^2 > eps^2 * |chord|^2 in
    arbitrary-precision Python ints (cross^2 can reach ~2^66 on the
    16-bit grid, past int64), so the kept set is bit-identical at any
    parallelism and any split order.  Zero-length chords (closed loops)
    fall back to squared point-to-point distance.  The strict `>` means
    epsilon=0 keeps every point except exactly-collinear interior runs.

    Scale shape: applyInPandas per trajectory id — one shuffle on the
    id, each trajectory processed with an iterative stack (no recursion
    limit); right when trajectories are bounded (a doc's ordered span
    path), the same contract as trajectory_stats (SURVEY.md §2.12).

    Output: by + (order_col, lat, lon) rows that survive, original order.
    """
    import pandas as pd

    if epsilon < 0:
        raise ValueError(f"epsilon must be >= 0, got {epsilon}")
    by = list(by)
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in points.schema if f.name in by)
    schema = (f"{fields}, {order_col} long, "
              f"{lat_col} long, {lon_col} long")
    eps2 = int(epsilon) * int(epsilon)

    def simplify_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        ys = [int(v) for v in pdf[lat_col]]
        xs = [int(v) for v in pdf[lon_col]]
        n = len(ys)
        keep = [False] * n
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)] if n > 1 else []
        while stack:
            i, j = stack.pop()
            if j - i < 2:
                continue
            ay, ax, dy, dx = ys[i], xs[i], ys[j] - ys[i], xs[j] - xs[i]
            chord2 = dy * dy + dx * dx
            best_k, best_num = -1, -1
            for k in range(i + 1, j):
                if chord2 == 0:
                    num = ((ys[k] - ay) ** 2 + (xs[k] - ax) ** 2)
                    thresh = eps2
                else:
                    cross = dx * (ys[k] - ay) - dy * (xs[k] - ax)
                    num = cross * cross
                    thresh = eps2 * chord2
                if num > thresh and num > best_num:
                    best_num, best_k = num, k
            if best_k >= 0:
                keep[best_k] = True
                stack.append((i, best_k))
                stack.append((best_k, j))
        out = pdf.iloc[[k for k in range(n) if keep[k]]]
        return out[by + [order_col, lat_col, lon_col]]

    prepped = points.select(
        *by, F.col(order_col).cast("long").alias(order_col),
        F.col(lat_col).cast("long").alias(lat_col),
        F.col(lon_col).cast("long").alias(lon_col))
    return prepped.groupBy(*by).applyInPandas(simplify_one, schema)


def dwell_time(
    points: DataFrame,
    polygons: DataFrame = None,
    index=None,
    id_col: str = "doc_id",
    ts_col: str = "t_s",
    gap_s: int = 1800,
) -> DataFrame:
    """Geofence dwell: per (entity, polygon) VISITS — maximal runs of an
    entity's consecutive in-polygon pings with inter-ping gap <= gap_s —
    with enter/exit times, ping count, and dwell seconds (the
    how-long-was-each-vehicle-in-each-zone query).

    Composes two existing pruned plans: pip_join (broadcast classified
    cover, probe never shuffled) assigns pings to polygons, then the
    lag-flag-cumsum sessionization algebra (streaming/windows.py
    sessionize_batch's core) runs per (id, polygon_id) — one window
    shuffle on the composite key.  All comparisons are integer-exact;
    equal-timestamp pings flag 0 in any order, so visit numbering and
    every aggregate are bit-identical at any parallelism.

    Output: id, polygon_id, visit (0-based per key), t_enter, t_exit,
    n_pings, dwell_s = t_exit - t_enter (0 for single-ping visits).
    """
    from pyspark.sql import Window

    if gap_s < 0:
        raise ValueError(f"gap_s must be >= 0, got {gap_s}")
    inside = pip_join(points, polygons, index=index,
                      keep_cols=(id_col, ts_col))
    w = Window.partitionBy(id_col, "polygon_id") \
        .orderBy(F.col(ts_col).cast("long").asc())
    t = F.col(ts_col).cast("long")
    # first ping of a key: lag is NULL -> comparison NULL -> otherwise(0)
    new_visit = F.when(t - F.lag(t).over(w) > F.lit(int(gap_s)),
                       F.lit(1)).otherwise(F.lit(0))
    return (
        inside
        .withColumn("_nv", new_visit)
        .withColumn("visit", F.sum("_nv").over(w))
        .groupBy(id_col, "polygon_id", "visit")
        .agg(F.min(t).alias("t_enter"), F.max(t).alias("t_exit"),
             F.count("*").alias("n_pings"))
        .withColumn("dwell_s", F.col("t_exit") - F.col("t_enter"))
    )


def zonal_mode(
    points: DataFrame,
    polygons: DataFrame = None,
    value: str = "doc_id",
    index=None,
) -> DataFrame:
    """Majority (modal) value of `value` among the points each polygon
    contains — the categorical companion to zonal_stats (land-cover
    majority per zone, dominant language per region).

    Two hash aggregations, no window: count per (polygon, value), then
    max_by with a (count, value) struct so ties break deterministically
    toward the LARGEST value under Spark's struct order — the same total
    order the DuckDB mirror `arg_max(v, (n, v))` uses.  Returns
    polygon_id, mode_value, mode_count, n_points.
    """
    matched = pip_join(points, polygons, index=index, keep_cols=(value,))
    per_val = (matched.groupBy("polygon_id", F.col(value).alias("v"))
               .agg(F.count("*").alias("n")))
    pick = F.struct(F.col("n"), F.col("v"))
    return (per_val.groupBy("polygon_id")
            .agg(F.max_by(F.col("v"), pick).alias("mode_value"),
                 F.max("n").alias("mode_count"),
                 F.sum("n").alias("n_points")))


def st_colocate_anti(
    a: DataFrame,
    b: DataFrame,
    radius: int,
    dt: int,
    a_keep: tuple[str, ...] = ("doc_id", "span_pos"),
    t_col: str = "t_s",
    b_t_col: str | None = None,
) -> DataFrame:
    """Isolation query: the A rows with NO space-time contact in B —
    no b within `radius` grid units AND `dt` time units (the complement
    of st_colocate_ab, the pip_anti of the spatiotemporal family:
    sensors that never saw a beacon, vessels outside every escort
    window).

    One pruned candidate join to find contacted A keys, then a
    LEFT ANTI join back — the anti side shuffles only the contacted-key
    set, which is <= |A| and usually far smaller.  Output: the full A
    rows (all columns), un-contacted only.

    CONTRACT: `a_keep` must uniquely identify A rows (the default
    (doc_id, span_pos) is the point key everywhere in this engine).
    The anti join removes by KEY, so with a non-unique a_keep every
    row sharing a contacted key is removed — pass the row key, not a
    grouping column.
    """
    hit = (st_colocate_ab(
        a, b.select(
            F.col(t_col if b_t_col is None else b_t_col).alias("_bt"),
            "qlat", "qlon"),
        radius, dt, a_keep=a_keep, b_keep=("_bt",),
        t_col=t_col, b_t_col="_bt")
        .select(*a_keep).distinct())
    return a.join(hit, list(a_keep), "left_anti")
