"""Batched point-in-polygon (PIP) operators: pip_join, pip_anti_join,
polygon_distance_join and nearest_polygon.

Shape (SURVEY.md §2.4): candidate-prune by cell bucket + exact predicate —
the 2-D generalization of the reference's point-in-interval scope join
(scope.go:96-130: prune + deepest-wins exact test).

Physical plan, designed for 10^12 points x 10^3..10^5 polygons:
 1. **Cover** (build side, once per PolygonIndex): every polygon's bbox
    cells at coarse resolution `res`, classified in one vectorized numpy
    pass as FULL (all corners inside, no edge crossing it) or BOUNDARY
    (fully-outside cells dropped), sorted by the packed cell key and
    broadcast once together with the padded edge tensors.
 2. **Prune**: one narrow pass over the points — no join, no exchange.
    `_cover_pairs` packs each point's res-cell key (plus, for the
    distance join, its Chebyshev-k neighbour cells) and `searchsorted`s
    it into the broadcast cover, so the 10^12-row point side never moves.
 3. **Exact**: in the same Python pass.  pip_join / pip_anti_join accept
    FULL-cell candidates outright and ray-cast only BOUNDARY-cell
    candidates over the edge tensors; polygon_distance_join computes
    containment and edge distance for every candidate.

Determinism: polygons and points live on the integer grid (config.GRID_BITS);
the crossing test is integer cross-multiplication — no float division, so
results are bit-exact across partitionings and cluster sizes.

Edge convention (documented, engine == oracle): even-odd ray cast with the
half-open rule `(y1 > py) != (y2 > py)`; a point exactly ON a horizontal-ray
crossing toward +x counts via strict `<`.  Points on a polygon's lower/left
boundary are inside, upper/right are outside (consistent tie-break).
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, StringType, StructField, StructType)

from ..config import GRID_BITS
from .geo import kring_offsets

DEFAULT_COVER_RES = 7
DIST_DECIMALS = 6  # per-edge d2 and final dist rounding (== DuckDB mirror)


def _rings_norm_col(polygons: DataFrame):
    """Column expression yielding array<array<struct<qlat,qlon>>> from
    EITHER geometry schema: `rings` (multi-ring: shell(s) + holes — ring
    orientation is irrelevant under the even-odd rule) or the single-ring
    `ring`.  Every operator here normalizes through this, so holes and
    multipolygons ride every path (cover, classification, exact test)."""
    cols = polygons.columns
    if "rings" in cols:
        return F.col("rings")
    if "ring" in cols:
        return F.array(F.col("ring"))
    raise ValueError("polygons need a 'ring' or 'rings' column")


def polygon_cover(polygons: DataFrame, res: int = DEFAULT_COVER_RES) -> DataFrame:
    """(polygon_id, ring|rings) -> (polygon_id, cov_cy, cov_cx) cover rows.

    Covering = all res-`res` grid cells intersecting the bbox (conservative
    superset of the true polygon cover; exactness is restored by step 3).
    """
    shift = GRID_BITS - res
    # bbox straight from the flattened ring array (array_min over a
    # projection) — a pure per-row expression: no explode, no groupBy, no
    # shuffle, no AQE rounds on the (small but latency-critical) build side
    ring = F.flatten(_rings_norm_col(polygons))
    bbox = polygons.select(
        "polygon_id",
        F.array_min(F.transform(ring, lambda p: p["qlat"])).alias("min_qlat"),
        F.array_max(F.transform(ring, lambda p: p["qlat"])).alias("max_qlat"),
        F.array_min(F.transform(ring, lambda p: p["qlon"])).alias("min_qlon"),
        F.array_max(F.transform(ring, lambda p: p["qlon"])).alias("max_qlon"),
    )
    return (
        bbox.select(
            "polygon_id",
            F.explode(
                F.sequence(
                    F.shiftright("min_qlat", shift),
                    F.shiftright("max_qlat", shift),
                )
            ).alias("cov_cy"),
            F.col("min_qlon"),
            F.col("max_qlon"),
        )
        .select(
            "polygon_id",
            "cov_cy",
            F.explode(
                F.sequence(
                    F.shiftright("min_qlon", shift),
                    F.shiftright("max_qlon", shift),
                )
            ).alias("cov_cx"),
        )
    )


def _close_np(ys: np.ndarray, xs: np.ndarray):
    if len(ys) and (ys[0] != ys[-1] or xs[0] != xs[-1]):
        ys = np.append(ys, ys[0])
        xs = np.append(xs, xs[0])
    return ys, xs


def _collect_polygon_pack(polygons: DataFrame) -> dict:
    """polygon_id -> [(ys, xs), ...] list of CLOSED int64 rings (build
    side).  Single-ring inputs (`ring` column) pack as a one-ring list;
    `rings` inputs (shells + holes / multipolygons) keep every ring —
    edges are enumerated per ring, so no phantom edge ever connects two
    rings.

    The vertices are collected as two parallel array<array<bigint>>
    columns instead of nested Row structs: py4j materializes one Python
    Row object PER VERTEX on the struct path, which dominated the index
    build (r7; measured 2.3s -> 0.36s on the 2000-polygon bench build
    side, identical pack)."""
    pack = {}
    rings = _rings_norm_col(polygons)
    sel = polygons.select(
        "polygon_id",
        F.transform(rings,
                    lambda r: F.transform(r, lambda v: v["qlat"])).alias("ys"),
        F.transform(rings,
                    lambda r: F.transform(r, lambda v: v["qlon"])).alias("xs"),
    )
    for row in sel.collect():
        rr = []
        for ys, xs in zip(row["ys"], row["xs"]):
            rr.append(_close_np(np.array(ys, dtype=np.int64),
                                np.array(xs, dtype=np.int64)))
        pack[row["polygon_id"]] = rr
    return pack


def ray_cast_np(ys: np.ndarray, xs: np.ndarray, py: np.ndarray, px: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast, integer-exact.  ys/xs: closed ring."""
    inside = np.zeros(len(py), dtype=bool)
    for i in range(len(ys) - 1):
        y1, x1, y2, x2 = int(ys[i]), int(xs[i]), int(ys[i + 1]), int(xs[i + 1])
        straddles = (y1 > py) != (y2 > py)
        if not straddles.any():
            continue
        dy = y2 - y1
        lhs = (px - x1) * dy
        rhs = (py - y1) * (x2 - x1)
        crossing = straddles & ((lhs < rhs) if dy > 0 else (lhs > rhs))
        inside ^= crossing
    return inside


def ray_cast_rings_np(rings: list, py: np.ndarray, px: np.ndarray) -> np.ndarray:
    """Even-odd ray cast over a list of closed rings: crossings sum over
    EVERY ring, so a hole's boundary flips its interior back to outside and
    disjoint shells union — the standard even-odd multi-ring semantics."""
    inside = np.zeros(len(py), dtype=bool)
    for ys, xs in rings:
        inside ^= ray_cast_np(ys, xs, py, px)
    return inside


def _closed_ring_col(ring):
    """Normalize ring closure (append first vertex when the ring is open) so
    a SQL-side edge walk never silently drops the closing edge — keeps it
    consistent with the numpy pack, which closes defensively."""
    first = F.element_at(ring, 1)
    last = F.element_at(ring, -1)
    return F.when(
        (first["qlat"] == last["qlat"]) & (first["qlon"] == last["qlon"]),
        ring,
    ).otherwise(F.concat(ring, F.array(first)))


def _classify_cells_np(ys: np.ndarray, xs: np.ndarray, res: int):
    """Single-closed-ring form of _classify_cells_rings_np (tests/oracles)."""
    return _classify_cells_rings_np([(ys, xs)], res)


def _classify_cells_rings_np(rings: list, res: int):
    """Closed rings -> [(cov_cy, cov_cx, is_full)] over the bbox cells at
    `res`, skipping fully-outside cells.  Conservative: a cell is 'full'
    only if all 4 corners are inside (even-odd over ALL rings) AND no edge
    bbox of ANY ring overlaps it — a hole edge therefore demotes the cells
    it crosses to boundary, and cells strictly inside a hole classify
    corners-out + no-overlap = dropped."""
    shift = GRID_BITS - res
    cell = 1 << shift
    all_y = np.concatenate([ys for ys, _ in rings])
    all_x = np.concatenate([xs for _, xs in rings])
    cy0, cy1 = int(all_y.min()) >> shift, int(all_y.max()) >> shift
    cx0, cx1 = int(all_x.min()) >> shift, int(all_x.max()) >> shift
    gy, gx = np.meshgrid(np.arange(cy0, cy1 + 1), np.arange(cx0, cx1 + 1),
                         indexing="ij")
    gy, gx = gy.ravel(), gx.ravel()
    lo_y, hi_y = gy * cell, (gy + 1) * cell - 1
    lo_x, hi_x = gx * cell, (gx + 1) * cell - 1
    ey0 = np.concatenate([np.minimum(ys[:-1], ys[1:]) for ys, _ in rings])
    ey1 = np.concatenate([np.maximum(ys[:-1], ys[1:]) for ys, _ in rings])
    ex0 = np.concatenate([np.minimum(xs[:-1], xs[1:]) for _, xs in rings])
    ex1 = np.concatenate([np.maximum(xs[:-1], xs[1:]) for _, xs in rings])
    overlap = (
        (lo_y[:, None] <= ey1[None, :]) & (hi_y[:, None] >= ey0[None, :])
        & (lo_x[:, None] <= ex1[None, :]) & (hi_x[:, None] >= ex0[None, :])
    ).any(axis=1)
    corners_in = np.ones(len(gy), dtype=bool)
    for py, px in ((lo_y, lo_x), (lo_y, hi_x), (hi_y, lo_x), (hi_y, hi_x)):
        corners_in &= ray_cast_rings_np(rings, py, px)
    full = corners_in & ~overlap
    keep = full | overlap  # corners-out + no-overlap == fully outside
    return gy[keep], gx[keep], full[keep]


def _classify_cells_all_np(pack: dict, ids: list, Y1, X1, Y2, X2, res: int):
    """Batch form of _classify_cells_np over EVERY polygon at once (same
    classification, same outputs): one flattened cell list for all bboxes,
    corner ray-casts and edge-bbox overlaps via poly_ix gathers into the
    padded edge tensors.  Replaces a 2000-iteration Python loop of small
    numpy calls (~1 s serial on the driver for the bench build side) with
    ~15 vectorized passes (~50 ms).

    Returns (poly_ix, cov_cy, cov_cx, is_full) for kept (full|boundary)
    cells; padding edges (all-zero rows) are masked out of the overlap
    test and are inert in the crossing test (y1 == y2 never straddles)."""
    shift = GRID_BITS - res
    cell = np.int64(1 << shift)
    P, E = Y1.shape
    cy0 = np.empty(P, np.int64); cy1 = np.empty(P, np.int64)
    cx0 = np.empty(P, np.int64); cx1 = np.empty(P, np.int64)
    n_edges = np.empty(P, np.int64)
    for i, pid in enumerate(ids):  # tiny per-poly mins; the heavy work below
        rr = pack[pid]
        cy0[i] = min(int(ys.min()) for ys, _ in rr) >> shift
        cy1[i] = max(int(ys.max()) for ys, _ in rr) >> shift
        cx0[i] = min(int(xs.min()) for _, xs in rr) >> shift
        cx1[i] = max(int(xs.max()) for _, xs in rr) >> shift
        n_edges[i] = sum(len(ys) - 1 for ys, _ in rr)
    ny = cy1 - cy0 + 1
    nx = cx1 - cx0 + 1
    ncells = ny * nx
    total = int(ncells.sum())
    offs = np.zeros(P, np.int64)
    np.cumsum(ncells[:-1], out=offs[1:])
    poly_ix = np.repeat(np.arange(P, dtype=np.int64), ncells)
    within = np.arange(total, dtype=np.int64) - offs[poly_ix]
    gy = cy0[poly_ix] + within // nx[poly_ix]
    gx = cx0[poly_ix] + within % nx[poly_ix]
    lo_y, hi_y = gy * cell, (gy + 1) * cell - 1
    lo_x, hi_x = gx * cell, (gx + 1) * cell - 1

    overlap = np.zeros(total, dtype=bool)
    corners_in = np.ones(total, dtype=bool)
    corner_cross = [np.zeros(total, dtype=np.int32) for _ in range(4)]
    corners = ((lo_y, lo_x), (lo_y, hi_x), (hi_y, lo_x), (hi_y, hi_x))
    for e in range(E):
        ey1 = Y1[poly_ix, e].astype(np.int64)
        ey2 = Y2[poly_ix, e].astype(np.int64)
        ex1 = X1[poly_ix, e].astype(np.int64)
        ex2 = X2[poly_ix, e].astype(np.int64)
        valid = e < n_edges[poly_ix]
        overlap |= valid & (
            (lo_y <= np.maximum(ey1, ey2)) & (hi_y >= np.minimum(ey1, ey2))
            & (lo_x <= np.maximum(ex1, ex2)) & (hi_x >= np.minimum(ex1, ex2))
        )
        dy = ey2 - ey1
        dx = ex2 - ex1
        for c, (py, px) in enumerate(corners):
            straddle = (ey1 > py) != (ey2 > py)
            lhs = (px - ex1) * dy
            rhs = (py - ey1) * dx
            corner_cross[c] += straddle & np.where(dy > 0, lhs < rhs, lhs > rhs)
    for c in range(4):
        corners_in &= (corner_cross[c] & 1).astype(bool)
    full = corners_in & ~overlap
    keep = full | overlap
    return poly_ix[keep], gy[keep], gx[keep], full[keep]


def _edge_tensor(pack: dict):
    """polygon pack -> (ids, Y1, X1, Y2, X2) padded [P, E_max] edge
    matrices; padding rows are degenerate (y1==y2) so they never cross.
    Edges concatenate over a polygon's rings PER RING (closure inside each
    ring), so holes and multipolygon shells contribute their own closed
    edge loops and no phantom edge connects two rings."""
    ids = sorted(pack)
    e_max = max(
        sum(len(ys) - 1 for ys, _ in pack[p]) for p in ids) if ids else 1
    e_max = max(e_max, 1)
    P = len(ids)
    # int32: grid coords are < 2^16; the kernel widens only the products
    Y1 = np.zeros((P, e_max), dtype=np.int32)
    X1 = np.zeros((P, e_max), dtype=np.int32)
    Y2 = np.zeros((P, e_max), dtype=np.int32)
    X2 = np.zeros((P, e_max), dtype=np.int32)
    for i, pid in enumerate(ids):
        o = 0
        for ys, xs in pack[pid]:
            n = len(ys) - 1
            Y1[i, o:o + n], X1[i, o:o + n] = ys[:-1], xs[:-1]
            Y2[i, o:o + n], X2[i, o:o + n] = ys[1:], xs[1:]
            o += n
    return ids, Y1, X1, Y2, X2


_RAY_TILE = 1 << 16  # (polygon, point) pairs per cache tile of the ray cast


def _ray_cast_pairs(edges, ix: np.ndarray, py: np.ndarray,
                    px: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of point i (py[i], px[i]) against polygon ix[i]
    over the padded int32 [P, E] edge tables: one gather + one crossing
    evaluation per edge column, no per-polygon grouping.

    Cache-tiled: the test is DRAM-bandwidth-bound at full batch width
    (measured: per-core throughput drops ~35% from 4 to 16 concurrent
    workers), so it works in 64k-pair tiles with int32 intermediates —
    every temporary stays cache-resident; only the two cross-products
    need int64."""
    y1, x1, y2, x2 = edges
    out = np.zeros(len(ix), dtype=bool)
    for s in range(0, len(ix), _RAY_TILE):
        tix = ix[s:s + _RAY_TILE]
        ty = py[s:s + _RAY_TILE]
        tx = px[s:s + _RAY_TILE]
        crossings = np.zeros(len(tix), dtype=np.int32)
        for e in range(y1.shape[1]):
            ey1 = y1[tix, e]
            ey2 = y2[tix, e]
            straddle = (ey1 > ty) != (ey2 > ty)
            if not straddle.any():
                continue
            ex1 = x1[tix, e]
            ex2 = x2[tix, e]
            dy = (ey2 - ey1).astype(np.int64)
            lhs = (tx - ex1) * dy
            rhs = (ty - ey1).astype(np.int64) * (ex2 - ex1)
            crossings += straddle & np.where(dy > 0, lhs < rhs, lhs > rhs)
        out[s:s + _RAY_TILE] = (crossings & 1).astype(bool)
    return out


def _on_grid(la: np.ndarray, lo: np.ndarray) -> np.ndarray:
    """Positions of the points whose coordinates both lie in
    [0, 2^GRID_BITS); a null (NaN) coordinate fails the test too.  Run it
    BEFORE any narrowing or key packing: an off-grid coordinate would
    overflow the cast, or its cell would alias into the next row of
    cells."""
    grid = 1 << GRID_BITS
    return np.flatnonzero((la >= 0) & (la < grid) & (lo >= 0) & (lo < grid))


def _cover_pairs(ckey: np.ndarray, res: int, py: np.ndarray, px: np.ndarray,
                 offsets) -> tuple[np.ndarray, np.ndarray]:
    """CSR candidate pairs of on-grid points against the sorted cover
    keys `ckey`: pair j is (point rep[j], cover position pos[j]).  Each
    point probes the cell (cy + dy, cx + dx) of every offset with one
    searchsorted range; a cell off the grid is skipped (its packed key
    would alias into the next row of cells).  Pairs come out offset-major
    and point-ascending within one offset."""
    shift = GRID_BITS - res
    cy = (py >> shift).astype(np.int64)
    cx = (px >> shift).astype(np.int64)
    top = 1 << res
    reps, poss = [], []
    for dy, dx in offsets:
        y, x = cy + dy, cx + dx
        pt = np.flatnonzero((y >= 0) & (y < top) & (x >= 0) & (x < top))
        key = (y[pt] << res) | x[pt]
        first = np.searchsorted(ckey, key, "left")
        n = np.searchsorted(ckey, key, "right") - first
        reps.append(np.repeat(pt, n))
        poss.append(np.arange(n.sum()) + np.repeat(first - (np.cumsum(n) - n), n))
    return np.concatenate(reps), np.concatenate(poss)


def _dist_pairs(edges, n_edges: np.ndarray, ix: np.ndarray, py: np.ndarray,
                px: np.ndarray) -> np.ndarray:
    """Grid distance of point i (int64 py[i], px[i]) to polygon ix[i]:
    0.0 when the even-odd crossings over its edges say inside, else the
    minimum point-to-segment distance to any of its edges (shell AND hole
    edges, so a point inside a hole gets its hole-boundary distance).
    One vectorized pass per edge column of the padded int32 [P, E] edge
    tables; padding rows are masked with the per-polygon edge count
    `n_edges` — a padding "segment" at (0, 0) would otherwise become a
    false nearest edge.

    Per-edge squared distances are float64 with the projection formula
    of the DuckDB mirror (integer inputs < 2^17, products exact; the one
    division rounds once) and rounded to DIST_DECIMALS BEFORE the min, so
    engine and oracle agree at ties and at the radius boundary."""
    y1, x1, y2, x2 = edges
    crossings = np.zeros(len(ix), dtype=np.int32)
    min_d2 = np.full(len(ix), np.inf)
    for e in range(y1.shape[1]):
        valid = e < n_edges[ix]
        if not valid.any():
            continue
        ay = y1[ix, e].astype(np.int64)
        ax = x1[ix, e].astype(np.int64)
        by = y2[ix, e].astype(np.int64)
        bx = x2[ix, e].astype(np.int64)
        # even-odd crossing (same half-open rule as pip_join)
        straddle = (ay > py) != (by > py)
        dy = by - ay
        lhs = (px - ax) * dy
        rhs = (py - ay) * (bx - ax)
        crossings += (valid & straddle
                      & np.where(dy > 0, lhs < rhs, lhs > rhs))
        # point-to-segment squared distance (projection clamp)
        l2 = (bx - ax) ** 2 + (by - ay) ** 2
        tn = (px - ax) * (bx - ax) + (py - ay) * (by - ay)
        d2a = (px - ax) ** 2 + (py - ay) ** 2
        d2b = (px - bx) ** 2 + (py - by) ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            d2m = d2a - tn.astype(np.float64) ** 2 / l2
        d2 = np.where((l2 == 0) | (tn <= 0), d2a,
                      np.where(tn >= l2, d2b, d2m))
        d2 = np.round(d2, DIST_DECIMALS)
        min_d2 = np.where(valid, np.minimum(min_d2, d2), min_d2)
    inside = (crossings & 1).astype(bool)
    return np.where(inside, 0.0,
                    np.round(np.sqrt(np.maximum(min_d2, 0.0)), DIST_DECIMALS))


class PolygonIndex:
    """Prepared build side of the PIP operators: packed edge tensors and
    the classified cover (sorted by res-cell key), both broadcast to
    executors once.

    Build ONCE per polygon set, probe many times — on a real cluster the
    polygon index outlives thousands of point batches, so the collect/
    classify/broadcast cost is not part of the per-query path.  (The
    reference's parser-pool/grammar-cache pattern, applied to geometry.)
    """

    def __init__(self, spark, polygons: DataFrame, res: int = DEFAULT_COVER_RES):
        self.res = res
        self._spark = spark
        self.pack = _collect_polygon_pack(polygons)
        ids, Y1, X1, Y2, X2 = _edge_tensor(self.pack)
        self.ids = ids
        sc = spark.sparkContext
        self.edges_bc = sc.broadcast((Y1, X1, Y2, X2))
        # per-polygon VALID edge counts, which the distance kernel needs
        # to mask the padded edge rows (see _dist_pairs)
        self.n_edges_bc = sc.broadcast(np.array(
            [sum(len(ys) - 1 for ys, _ in self.pack[p]) for p in ids],
            dtype=np.int64))
        pix, cy, cx, full = _classify_cells_all_np(
            self.pack, ids, Y1, X1, Y2, X2, res)
        # the cover as (key, poly_ix, is_full) sorted by the packed cell
        # key cy << res | cx: a point's candidates are one searchsorted
        # range.  Stable sort keeps each cell's polygons in poly_ix order.
        key = (cy << res) | cx
        order = np.argsort(key, kind="stable")
        self.cover = (key[order], pix[order].astype(np.int32), full[order])
        # ids as the string the output schema declares (a long id 7 -> "7")
        self.id_str = np.array([str(p) for p in ids], dtype=object)
        self.cover_bc = sc.broadcast((*self.cover, self.id_str))

    @cached_property
    def cover_ix(self) -> DataFrame:
        """The classified cover as a DataFrame (polygon_id, poly_ix,
        cov_cy, cov_cx, is_full).  No operator reads it — every PIP
        operator probes `cover_bc`; it is kept for the benchmark's cover
        diagnostics (`pip.cover_rows`, `pip.candidates`)."""
        key, pix, full = self.cover
        cover_pdf = pd.DataFrame({
            "polygon_id": self.id_str[pix],
            "poly_ix": pix,
            "cov_cy": key >> self.res,
            "cov_cx": key & ((1 << self.res) - 1),
            "is_full": full,
        })
        return self._spark.createDataFrame(
            cover_pdf,
            "polygon_id string, poly_ix int, cov_cy bigint, cov_cx bigint, "
            "is_full boolean",
        )


def build_polygon_index(polygons: DataFrame,
                        res: int = DEFAULT_COVER_RES) -> PolygonIndex:
    return PolygonIndex(polygons.sparkSession, polygons, res)


def _index(op: str, points: DataFrame, polygons: DataFrame | None, res: int,
           index: PolygonIndex | None) -> PolygonIndex:
    if index is not None:
        return index
    if polygons is None:
        raise ValueError(f"{op} needs a build side: pass polygons= "
                         "and/or index=")
    return PolygonIndex(points.sparkSession, polygons, res)


def _hits(idx: PolygonIndex):
    """Scalar pandas UDF (qlat, qlon) -> array<string>: the ids of the
    polygons of `idx` containing each point, [] for a null or off-grid
    point.  Probes the broadcast cover at the point's own cell, accepts
    FULL-cell candidates outright and ray-casts only BOUNDARY-cell
    candidates against the broadcast padded edge tensors."""
    cover_b, edges_b, res = idx.cover_bc, idx.edges_bc, idx.res

    @F.pandas_udf(ArrayType(StringType()))
    def hits(qlat: pd.Series, qlon: pd.Series) -> pd.Series:
        ckey, cpix, cfull, ids = cover_b.value
        la, lo = qlat.to_numpy(), qlon.to_numpy()
        if not len(la):
            return pd.Series([], dtype=object)
        row = _on_grid(la, lo)
        py = la[row].astype(np.int32)
        px = lo[row].astype(np.int32)
        rep, pos = _cover_pairs(ckey, res, py, px, [(0, 0)])
        pix = cpix[pos]
        # full cells accept outright; only boundary pairs are ray-cast
        acc = cfull[pos]
        bnd = np.flatnonzero(~acc)
        acc[bnd] = _ray_cast_pairs(edges_b.value, pix[bnd],
                                   py[rep[bnd]], px[rep[bnd]])
        per_row = np.bincount(row[rep[acc]], minlength=len(la))
        return pd.Series(np.split(ids[pix[acc]], np.cumsum(per_row)[:-1]))

    return hits


def pip_join(
    points: DataFrame,
    polygons: DataFrame = None,
    res: int = DEFAULT_COVER_RES,
    keep_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    index: PolygonIndex | None = None,
) -> DataFrame:
    """points(qlat, qlon, ...) x polygons(polygon_id, ring) -> matches.

    Returns one row per (point, containing polygon) with `keep_cols` +
    polygon_id + qlat/qlon.  Points with a null or off-grid coordinate
    (outside [0, 2^GRID_BITS) on either axis) match nothing.

    Physical plan: one narrow projection over the points, no join and no
    exchange — `explode` of the `_hits` pandas UDF.  The build side lives
    in PolygonIndex — pass one in to amortize the collect/classify/
    broadcast across probe batches (it is polygon-only, independent of
    the points).
    """
    hits = _hits(_index("pip_join", points, polygons, res, index))
    return (
        points.filter(F.col("qlat").isNotNull() & F.col("qlon").isNotNull())
        .select(*keep_cols, F.explode(hits("qlat", "qlon")).alias("polygon_id"),
                "qlat", "qlon")
    )


def pip_anti_join(
    points: DataFrame,
    polygons: DataFrame = None,
    res: int = DEFAULT_COVER_RES,
    index: PolygonIndex | None = None,
) -> DataFrame:
    """Points contained in NO polygon — the spatial filter-out (mask out
    covered regions, keep open water/unzoned points, etc.).

    Physical plan: one narrow filter over the points,
    `size(hits(qlat, qlon)) == 0` with pip_join's `_hits` UDF — no join,
    no exchange, no distinct.  Each row is judged by its own coordinates,
    so rows sharing a key never affect each other, and every row passes
    through with all of `points`' columns, in their order.  A point with a
    null or off-grid coordinate is in no polygon, so it is kept.
    """
    hits = _hits(_index("pip_anti_join", points, polygons, res, index))
    return points.filter(F.size(hits("qlat", "qlon")) == 0)


def polygon_distance_join(
    points: DataFrame,
    polygons: DataFrame = None,
    radius: int = 512,
    keep_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    index: PolygonIndex | None = None,
) -> DataFrame:
    """Distance-to-polygon join (nearest-feature matching): one row per
    (point, polygon) with grid distance <= radius — `keep_cols` +
    polygon_id + dist, where dist = 0.0 for contained points, else the
    minimum distance to any polygon edge (see `_dist_pairs`; rounded to
    DIST_DECIMALS dp).  Points with a null or off-grid coordinate match
    nothing.  Compose with a top-1 window for "nearest polygon".

    Physical plan: a null filter and ONE mapInArrow over the points, no
    join and no exchange.  Per Arrow batch, in numpy:
      1. prune — `_cover_pairs` probes the index's broadcast sorted cover
         at every cell of the point's Chebyshev-k neighbourhood,
         k = ceil(radius / cell_side).  A point within `radius` of a
         polygon lies within k cells of a cell the polygon intersects (a
         FULL or BOUNDARY cover cell), so no pair is lost; np.unique
         keeps one candidate per (point, polygon);
      2. exact — `_dist_pairs` computes containment and edge distance
         over the broadcast padded edge tensors; pairs within `radius`
         gather their `keep_cols` with Arrow `take`.

    Reference correspondence: the 2-D metric generalization of the
    deepest-containing-scope join (scope.go:96-130) — containment is the
    dist=0 case; the collar adds the near-miss band.
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    idx = _index("polygon_distance_join", points, polygons,
                 DEFAULT_COVER_RES, index)
    cover_b, edges_b, ne_b, res = (idx.cover_bc, idx.edges_bc,
                                   idx.n_edges_bc, idx.res)
    offsets = kring_offsets(-(-int(radius) // (1 << (GRID_BITS - res))))
    keep_cols = list(keep_cols)
    schema = StructType([*(points.schema[c] for c in keep_cols),
                         StructField("polygon_id", StringType()),
                         StructField("dist", DoubleType())])

    def near(batches):
        ckey, cpix, _, ids = cover_b.value
        edges, n_edges = edges_b.value, ne_b.value
        for rb in batches:
            la = rb.column("qlat").to_numpy(zero_copy_only=False)
            lo = rb.column("qlon").to_numpy(zero_copy_only=False)
            row = _on_grid(la, lo)
            py = la[row].astype(np.int64)
            px = lo[row].astype(np.int64)
            rep, pos = _cover_pairs(ckey, res, py, px, offsets)
            # one candidate per (point, polygon), however many of the
            # polygon's cells lie in the point's neighbourhood
            pair = np.unique(rep * len(ids) + cpix[pos])
            rep, pix = pair // len(ids), pair % len(ids)
            dist = _dist_pairs(edges, n_edges, pix, py[rep], px[rep])
            ok = np.flatnonzero(dist <= radius)
            yield pa.RecordBatch.from_arrays(
                [*rb.select(keep_cols).take(row[rep[ok]]).columns,
                 pa.array(ids[pix[ok]], pa.string()), pa.array(dist[ok])],
                names=schema.names)

    return (
        points.filter(F.col("qlat").isNotNull() & F.col("qlon").isNotNull())
        .select(*dict.fromkeys([*keep_cols, "qlat", "qlon"]))
        .mapInArrow(near, schema)
    )


def nearest_polygon(
    points: DataFrame,
    polygons: DataFrame = None,
    radius: int = 512,
    keep_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    index: PolygonIndex | None = None,
) -> DataFrame:
    """Each point's single nearest polygon within `radius` (the
    nearest-zone / nearest-road assignment): polygon_distance_join +
    top-1 per point, distance ties broken on polygon_id so the
    assignment is deterministic.  Points with no polygon in range emit
    no row (left-join against the original set to keep them)."""
    from pyspark.sql import Window

    cand = polygon_distance_join(points, polygons, radius,
                                 keep_cols=keep_cols, index=index)
    w = Window.partitionBy(*keep_cols).orderBy(
        F.col("dist").asc(), F.col("polygon_id").asc())
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def buffer_cover(polygons: DataFrame, res: int, k: int) -> DataFrame:
    """Buffered polygon cover: the polygon's res-`res` cell cover dilated
    by Chebyshev distance `k` (morphological dilation on the cell grid) —
    the cheap "within ~k cells of the zone" geofence-buffer primitive
    that turns any downstream cell equi-join (points, tiles, other
    covers) into a buffered containment test without touching geometry.

    Output: (polygon_id, cov_cy, cov_cx), one row per distinct buffered
    cell, clamped to the grid.

    Scale shape: cover explode x (2k+1)^2 offsets + one distinct — the
    only shuffle, bounded by |cover| * (2k+1)^2 per polygon, and the
    distinct collapses overlap between neighboring source cells.  For a
    metric (not cell-quantized) buffer use dwithin_join against the
    polygon boundary instead; this is the raster-style fast path.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    n_cells = 1 << res
    cov = polygon_cover(polygons, res)
    off = F.explode(F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy, dx in kring_offsets(k)
    ])).alias("off")
    return (
        cov.select("polygon_id", "cov_cy", "cov_cx", off)
        .select(
            "polygon_id",
            (F.col("cov_cy") + F.col("off.dy")).alias("cov_cy"),
            (F.col("cov_cx") + F.col("off.dx")).alias("cov_cx"),
        )
        .filter((F.col("cov_cy") >= 0) & (F.col("cov_cy") < n_cells)
                & (F.col("cov_cx") >= 0) & (F.col("cov_cx") < n_cells))
        .distinct()
    )
