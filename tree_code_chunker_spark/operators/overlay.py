"""Vector-overlay joins on the integer grid: rectangle intersection
(overlay), segment-crossing detection, and map-matching (nearest-segment
snap).

These complete the classic geospatial join family around
`spatial.dwithin_join` / `pip.pip_join` (SURVEY.md §2.4 targets extended to
the vector-overlay shapes a 100 TB geospatial pipeline needs):

 * `rect_overlay_join` — all pairs (a, b) of axis-aligned half-open
   rectangles with a non-empty intersection, plus exact integer
   intersection / union areas.  Both sides are exploded to the grid cells
   their rectangle covers at a chosen resolution and equi-joined on the
   cell key; a pair whose rectangles share k cells would surface k times,
   so each pair is reported ONLY from the cell containing the
   intersection's min corner — the "reference point" dedup of
   partition-based spatial merge join (Patel & DeWitt, SIGMOD'96; also
   used by SpatialHadoop/Sedona).  Exactly one cell qualifies, so the
   plan needs no distinct: one bounded explode, one equi-join shuffle.
 * `segment_crossings` — all pairs of integer line segments that PROPERLY
   cross (strict orientation sign test: endpoints that merely touch or
   collinear overlaps are excluded, and the convention is documented so
   the DuckDB oracle mirrors it exactly).  Candidates come from the
   segments' bounding-box cell covers with the same reference-point
   dedup; the exact predicate is four integer cross products — with
   16-bit grid coordinates each cross product is < 2^35, so the test is
   overflow-free in int64 on both engines.
 * `snap_to_segments` — map-matching: each point is snapped to its
   nearest segment within `radius` (squared point-to-segment distance,
   scaled by 10^6 and floored, so the ranking key is a plain BIGINT that
   both Spark and DuckDB compute bit-identically; interior-projection
   distances are rational cross^2/len^2, and the scaled floor division is
   done in DECIMAL(38,0) / HUGEINT where cross^2 * 10^6 can reach ~3e26).
   Candidate generation explodes each segment to every cell intersecting
   its bounding box expanded by `radius` — a superset of the disk around
   the segment — then equi-joins on the point's cell.  Ties on the scaled
   distance break deterministically by segment id.

Scale shape (all three): the only shuffle is a cell-key equi-join whose
explode factor is bounded by ceil(extent/cell_side + 1)^2 per row — choose
`res` via `overlay_res(max_extent)` so typical geometries cover <= 4
cells.  Hot cells ride AQE skew-join splitting; nothing is ever all-pairs
and nothing is collected to the driver.

All math is integer after quantization, so every operator is mirrored
exactly by DuckDB oracle SQL in `__spark_entry__.py`.

Reference parity note: the reference engine (a tree-sitter chunker) has no
spatial code; these operators are part of the §2.12 beyond-reference
surface, built from public computational-geometry primitives (orientation
tests, clamped projection, PBSM reference-point dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import GRID_BITS

SNAP_SCALE = 1_000_000  # distance^2 is reported as floor(d2 * SNAP_SCALE)


def overlay_res(max_extent: int) -> int:
    """Finest resolution whose cell side (2^(GRID_BITS-res)) >= max_extent.

    With side >= the largest geometry extent (plus radius, for
    `snap_to_segments`), every geometry covers at most 2 cells per axis,
    bounding the explode factor at 4 (9 with radius padding).
    """
    if max_extent < 1:
        raise ValueError(f"max_extent must be >= 1, got {max_extent}")
    side_bits = max((max_extent - 1).bit_length(), 1)
    return max(GRID_BITS - side_bits, 0)


def _cell_axis(lo, hi, shift: int, name: str):
    """Explode column: one row per grid cell index intersecting the
    INCLUSIVE coordinate range [lo..hi] at cell side 2^shift.

    Negative coordinates (from radius padding near the grid edge) clamp to
    cell 0 — safe because the range is a candidate superset anyway, and
    the clamp cannot create duplicate cells (it only merges indices that
    were below 0, and sequence() low/high are clamped together).
    """
    return F.explode(
        F.sequence(
            F.greatest(F.shiftright(lo, shift), F.lit(0)),
            F.greatest(F.shiftright(hi, shift), F.lit(0)),
        )
    ).alias(name)


def rect_overlay_join(
    a: DataFrame,
    b: DataFrame,
    res: int,
    a_keep: tuple[str, ...] = ("a_id",),
    b_keep: tuple[str, ...] = ("b_id",),
) -> DataFrame:
    """All (a, b) rectangle pairs with a non-empty intersection.

    Inputs carry half-open integer rectangles as columns
    (y0, x0, y1, x1) with y0 < y1, x0 < x1 (the PIP half-open edge
    convention: a rectangle owns its low edges).  Output: a_keep + b_keep
    + inter_area + union_area (BIGINT; union = area_a + area_b - inter).

    Exactly-once without distinct: a pair is emitted only from the cell
    containing the intersection's min corner (reference-point dedup) —
    that cell is covered by both rectangles' cell sets, and only one cell
    contains the corner.
    """
    shift = GRID_BITS - res

    def side(df, keep, tag):
        return df.select(
            *keep,
            *[F.col(c).alias(f"{tag}{c}") for c in ("y0", "x0", "y1", "x1")],
            _cell_axis(F.col("y0"), F.col("y1") - 1, shift, "cy"),
        ).select(
            "*",
            _cell_axis(F.col(f"{tag}x0"), F.col(f"{tag}x1") - 1, shift, "cx"),
        )

    pairs = side(a, a_keep, "a").join(side(b, b_keep, "b"), ["cy", "cx"])
    iy0 = F.greatest("ay0", "by0")
    ix0 = F.greatest("ax0", "bx0")
    iy1 = F.least("ay1", "by1")
    ix1 = F.least("ax1", "bx1")
    inter = (iy1 - iy0) * (ix1 - ix0)
    area_a = (F.col("ay1") - F.col("ay0")) * (F.col("ax1") - F.col("ax0"))
    area_b = (F.col("by1") - F.col("by0")) * (F.col("bx1") - F.col("bx0"))
    return (
        pairs.filter((iy0 < iy1) & (ix0 < ix1))
        # the ref-corner cell index is clamped exactly like _cell_axis
        # clamps the cover, so geometries dipping below the grid still
        # dedup against the clamped cell-0 rows
        .filter((F.greatest(F.shiftright(iy0, shift), F.lit(0)) == F.col("cy"))
                & (F.greatest(F.shiftright(ix0, shift), F.lit(0)) == F.col("cx")))
        .select(
            *a_keep, *b_keep,
            inter.alias("inter_area"),
            (area_a + area_b - inter).alias("union_area"),
        )
    )


def _ccw(oy, ox, ay, ax, by, bx):
    """Sign-carrying orientation: cross(A-O, B-O).

    |values| < 2^17 per coordinate difference -> |cross| < 2^35: exact in
    BIGINT on both engines, no overflow anywhere in the predicate.
    """
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def segment_crossings(
    a: DataFrame,
    b: DataFrame,
    res: int,
    a_keep: tuple[str, ...] = ("a_id",),
    b_keep: tuple[str, ...] = ("b_id",),
) -> DataFrame:
    """All (a, b) pairs of integer segments that PROPERLY cross.

    Inputs carry segments as columns (y1, x1, y2, x2).  "Properly cross"
    is the strict convention: the two orientation products are both
    strictly negative — segments that only touch at an endpoint, are
    collinear, or share a point of tangency are NOT reported.  This keeps
    the predicate a pure sign test (document-stable across engines) and
    matches the usual computational-geometry definition of transversal
    intersection.

    Candidates: bounding-box cell cover + reference-point dedup on the
    bbox-intersection min corner (see module docstring).
    """
    shift = GRID_BITS - res

    def side(df, keep, tag):
        return df.select(
            *keep,
            *[F.col(c).alias(f"{tag}{c}") for c in ("y1", "x1", "y2", "x2")],
            F.least("y1", "y2").alias(f"{tag}loy"),
            F.greatest("y1", "y2").alias(f"{tag}hiy"),
            F.least("x1", "x2").alias(f"{tag}lox"),
            F.greatest("x1", "x2").alias(f"{tag}hix"),
            _cell_axis(F.least("y1", "y2"), F.greatest("y1", "y2"),
                       shift, "cy"),
        ).select(
            "*",
            _cell_axis(F.col(f"{tag}lox"), F.col(f"{tag}hix"), shift, "cx"),
        )

    pairs = side(a, a_keep, "a").join(side(b, b_keep, "b"), ["cy", "cx"])
    ry = F.greatest("aloy", "bloy")  # bbox-intersection min corner
    rx = F.greatest("alox", "blox")
    d1 = _ccw(F.col("ay1"), F.col("ax1"), F.col("ay2"), F.col("ax2"),
              F.col("by1"), F.col("bx1"))
    d2 = _ccw(F.col("ay1"), F.col("ax1"), F.col("ay2"), F.col("ax2"),
              F.col("by2"), F.col("bx2"))
    d3 = _ccw(F.col("by1"), F.col("bx1"), F.col("by2"), F.col("bx2"),
              F.col("ay1"), F.col("ax1"))
    d4 = _ccw(F.col("by1"), F.col("bx1"), F.col("by2"), F.col("bx2"),
              F.col("ay2"), F.col("ax2"))
    return (
        pairs
        # bbox overlap is implied by sharing a cell only at coarse res;
        # the reference-point rows require a real bbox intersection anyway
        .filter((ry <= F.least("ahiy", "bhiy")) & (rx <= F.least("ahix", "bhix")))
        .filter((F.greatest(F.shiftright(ry, shift), F.lit(0)) == F.col("cy"))
                & (F.greatest(F.shiftright(rx, shift), F.lit(0)) == F.col("cx")))
        # explicit opposite-sign tests, not d1*d2 < 0: each orientation is
        # < 2^35 but a PRODUCT of two could overflow int64 for candidates
        # at opposite grid corners (possible at coarse res)
        .filter(((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        .filter(((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
        .select(*a_keep, *b_keep)
    )


def hausdorff_join(
    a: DataFrame,
    b: DataFrame,
    threshold: int,
    res: int,
    a_id: str = "a_id",
    b_id: str = "b_id",
) -> DataFrame:
    """Trajectory-similarity join: all (a, b) trajectory pairs whose
    SYMMETRIC Hausdorff distance is <= threshold, with the exact squared
    distance.

    a(a_id, qlat, qlon) x b(b_id, qlat, qlon) -> (a_id, b_id, h2) where
    h2 = max(h(A->B), h(B->A)) and the directed distance
    h(A->B) = max over A-points of min over B-points of squared Euclidean
    grid distance — every step is integer min/max, so h2 is exact and the
    DuckDB mirror matches bit-for-bit.

    Plan (never all-pairs across the corpus):
      1. per-trajectory bounding boxes (one hash agg per side);
      2. candidate pairs = boxes within `threshold` of each other, found by
         the cell-cover equi-join (A boxes padded by threshold, B boxes
         exact, reference-point dedup) + the exact bbox-gap filter — a
         NECESSARY condition for H <= threshold since h(A->B) >= the bbox
         gap;
      3. exact phase: candidate pairs pull their own points through two
         equi-joins on the trajectory ids, d2 per point pair, min per
         (pair, a-point) then max per pair for each direction, final
         filter h2 <= threshold^2.
    Per-pair cost is |A|x|B| point pairs — bounded by trajectory length,
    and long trajectories compose with rdp_simplify upstream (the classic
    simplify-then-match pipeline; RDP guarantees its own epsilon bound).

    Ties/determinism: min/max over integers — deterministic at any
    parallelism by construction.
    """
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    shift = GRID_BITS - res
    t2 = int(threshold) * int(threshold)

    def boxes(df, key):
        return df.groupBy(key).agg(
            F.min("qlat").alias("loy"), F.max("qlat").alias("hiy"),
            F.min("qlon").alias("lox"), F.max("qlon").alias("hix"),
        )

    a_box = (
        boxes(a, a_id).select(
            a_id, F.col("loy").alias("aloy"), F.col("hiy").alias("ahiy"),
            F.col("lox").alias("alox"), F.col("hix").alias("ahix"),
            _cell_axis(F.col("loy") - threshold, F.col("hiy") + threshold,
                       shift, "cy"),
        ).select("*", _cell_axis(F.col("alox") - threshold,
                                 F.col("ahix") + threshold, shift, "cx"))
    )
    b_box = (
        boxes(b, b_id).select(
            b_id, F.col("loy").alias("bloy"), F.col("hiy").alias("bhiy"),
            F.col("lox").alias("blox"), F.col("hix").alias("bhix"),
            _cell_axis(F.col("loy"), F.col("hiy"), shift, "cy"),
        ).select("*", _cell_axis(F.col("blox"), F.col("bhix"), shift, "cx"))
    )
    gy = F.greatest(F.lit(0), F.col("bloy") - F.col("ahiy"),
                    F.col("aloy") - F.col("bhiy"))
    gx = F.greatest(F.lit(0), F.col("blox") - F.col("ahix"),
                    F.col("alox") - F.col("bhix"))
    ry = F.greatest(F.col("aloy") - threshold, F.col("bloy"))
    rx = F.greatest(F.col("alox") - threshold, F.col("blox"))
    cand = (
        a_box.join(b_box, ["cy", "cx"])
        .filter(gy * gy + gx * gx <= F.lit(t2))
        .filter((F.greatest(F.shiftright(ry, shift), F.lit(0)) == F.col("cy"))
                & (F.greatest(F.shiftright(rx, shift), F.lit(0)) == F.col("cx")))
        .select(a_id, b_id)
    )

    ap = a.select(a_id, F.col("qlat").alias("ay"), F.col("qlon").alias("ax"))
    bp = b.select(b_id, F.col("qlat").alias("by"), F.col("qlon").alias("bx"))
    d2 = ((F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
          + (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")))
    pp = (
        cand.join(ap, a_id).join(bp, b_id)
        .select(a_id, b_id, "ay", "ax", "by", "bx", d2.alias("d2"))
    )
    h_ab = (
        pp.groupBy(a_id, b_id, "ay", "ax").agg(F.min("d2").alias("dmin"))
        .groupBy(a_id, b_id).agg(F.max("dmin").alias("h_ab"))
    )
    h_ba = (
        pp.groupBy(a_id, b_id, "by", "bx").agg(F.min("d2").alias("dmin"))
        .groupBy(a_id, b_id).agg(F.max("dmin").alias("h_ba"))
    )
    return (
        h_ab.join(h_ba, [a_id, b_id])
        .select(a_id, b_id,
                F.greatest("h_ab", "h_ba").alias("h2"))
        .filter(F.col("h2") <= F.lit(t2))
    )


def snap_to_segments(
    points: DataFrame,
    segs: DataFrame,
    radius: int,
    res: int,
    p_keep: tuple[str, ...] = ("doc_id", "span_pos"),
    seg_id: str = "seg_id",
    nearest_only: bool = True,
) -> DataFrame:
    """Map-matching: snap each point to its nearest segment within `radius`.

    points(qlat, qlon, *p_keep) x segs(y1, x1, y2, x2, seg_id) -> one row
    per matched point: p_keep + seg_id + dist2_e6 (BIGINT,
    floor(d^2 * 10^6) where d is the Euclidean point-to-segment distance).
    Points with no segment within `radius` produce no row.  Ties on
    dist2_e6 break by ascending seg_id (deterministic at any parallelism).
    With nearest_only=False, ALL candidate segments within `radius` are
    returned (a segment-dwithin join).

    Exactness: for clamped endpoints d^2 is an integer; for an interior
    projection d^2 = cross^2 / len^2 is rational, and the reported key is
    the exact floor of its 10^6-scaled value, computed with DECIMAL(38,0)
    integral division (cross^2 * 10^6 <= ~3e26 at 16-bit coordinates, far
    inside 38 digits; DuckDB mirrors it with HUGEINT `//`).

    Completeness: every cell intersecting bbox(segment) expanded by
    `radius` is a candidate cell, a superset of the radius-disk around the
    segment, so the equi-join on the point's own cell misses nothing.
    Requires cell side >= 1 (any res); the explode factor is
    (extent/side + 2r/side + 2)^2 — pick res via
    overlay_res(max_seg_extent + 2 * radius) to bound it at 4.

    Plan: the segment side always broadcasts.  The segment layer is the
    reference side of a map-matching join (a road network, orders of
    magnitude smaller than the point stream), but Catalyst's size
    estimate for the exploded cover regularly exceeds the auto-broadcast
    threshold and the planner then SHUFFLES the full point side into a
    sort-merge join (measured: 8.2s vs 4.4s broadcast on the bench's 9.2M
    x 29k stage, identical rows).
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    shift = GRID_BITS - res

    s_side = segs.select(
        F.col(seg_id).alias("_seg_id"),
        "y1", "x1", "y2", "x2",
        _cell_axis(F.least("y1", "y2") - radius,
                   F.greatest("y1", "y2") + radius, shift, "cy"),
    ).select(
        "*",
        _cell_axis(F.least("x1", "x2") - radius,
                   F.greatest("x1", "x2") + radius, shift, "cx"),
    )
    p_side = points.select(
        *p_keep, "qlat", "qlon",
        F.shiftright("qlat", shift).alias("cy"),
        F.shiftright("qlon", shift).alias("cx"),
    )

    aby = F.col("y2") - F.col("y1")
    abx = F.col("x2") - F.col("x1")
    apy = F.col("qlat") - F.col("y1")
    apx = F.col("qlon") - F.col("x1")
    bpy = F.col("qlat") - F.col("y2")
    bpx = F.col("qlon") - F.col("x2")
    l2 = aby * aby + abx * abx
    tnum = apy * aby + apx * abx
    scale = F.lit(SNAP_SCALE)
    # interior case: floor(cross^2 * SCALE / l2), exact.  Fast path (r7):
    # with c = cross^2, q = c div l2, r = c mod l2 one has
    # (c * SCALE) div l2 == q * SCALE + (r * SCALE) div l2 exactly (all
    # operands nonnegative), and every term fits int64 whenever
    # |cross| <= 3e9 (c <= 9e18 < 2^63; q <= d^2 <= 2 * (2^17)^2 so
    # q * SCALE <= ~3.4e16; r < l2 <= ~3.4e10 so r * SCALE <= ~3.4e16) —
    # measured 2x faster than DECIMAL(38,0) over the bench's 138M
    # candidate rows, bit-identical on every matched pair.  Segments big
    # enough that |cross| can exceed 3e9 (near-grid-spanning extents)
    # take the old DECIMAL(38,0) branch, so the operator stays exact and
    # overflow-free for any 16-bit-grid input (`div` truncates; operands
    # are >= 0 so truncation == floor in both branches).
    _cross = "((qlon - x1) * (y2 - y1) - (qlat - y1) * (x2 - x1))"
    _l2 = "((y2 - y1) * (y2 - y1) + (x2 - x1) * (x2 - x1))"
    interior = F.expr(
        f"CASE WHEN abs({_cross}) <= 3000000000 THEN "
        f"({_cross} * {_cross} div {_l2}) * {SNAP_SCALE} "
        f"+ (({_cross} * {_cross} % {_l2}) * {SNAP_SCALE}) div {_l2} "
        f"ELSE CAST(CAST({_cross} AS DECIMAL(38,0)) "
        f"* CAST({_cross} AS DECIMAL(38,0)) * {SNAP_SCALE} "
        f"div {_l2} AS BIGINT) END"
    )
    d2e6 = (
        F.when(l2 == 0, (apy * apy + apx * apx) * scale)
        .when(tnum <= 0, (apy * apy + apx * apx) * scale)
        .when(tnum >= l2, (bpy * bpy + bpx * bpx) * scale)
        .otherwise(interior)
    )
    # NOTE (measured, sf0.1 / 9.2M points x 29k segments): a bbox-gap
    # int64 prefilter before the distance — as a post-join filter OR as
    # an explicit extra join condition — measured 7-8x SLOWER than this
    # plain form (141-155 s vs 17-22 s): Catalyst pushes the adjacent
    # distance filter into the BroadcastHashJoin condition with it, and
    # the decimal-division CASE then evaluates per candidate row in the
    # join condition AND again in the projection.  The simple
    # join -> project -> filter below keeps the distance expression
    # evaluated exactly once per candidate.
    cand = (
        p_side.join(F.broadcast(s_side), ["cy", "cx"])
        .withColumn("dist2_e6", d2e6)
        .filter(F.col("dist2_e6")
                <= F.lit(int(radius) * int(radius) * SNAP_SCALE))
        .select(*p_keep, F.col("_seg_id").alias(seg_id), "dist2_e6")
        # a long segment's padded bbox can cover a point's cell more than
        # once only if the same (cell, segment) pair were emitted twice —
        # it is not (sequence yields distinct cells) — so candidates are
        # already exactly-once per (point, segment)
    )
    if not nearest_only:
        return cand
    # nearest segment per point via min over struct(dist2_e6, seg_id) —
    # lexicographic struct comparison is exactly the window's
    # orderBy(dist2_e6, seg_id) row_number()==1, but a hash AGGREGATE
    # does partial (map-side) reduction: each scan partition emits at
    # most one row per point before the exchange, where the window form
    # local-sorts the full candidate stream (r7; measured 8.4s vs the
    # window's 19-170s on the bench's 31M in-radius candidates).
    m = cand.groupBy(*p_keep).agg(
        F.min(F.struct(F.col("dist2_e6"), F.col(seg_id))).alias("_m"))
    return m.select(
        *p_keep,
        F.col("_m")[seg_id].alias(seg_id),
        F.col("_m")["dist2_e6"].alias("dist2_e6"),
    )
