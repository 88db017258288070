"""kNN join via cell-prefix search on the Morton grid (H3 k-ring contract),
plus a brute-force baseline.

Structure (SURVEY.md §2.4): the reference's `getSiblings` is kNN in 1-D
(prune to an ordered neighborhood, then take k — codechunk.go:653-689); this
is the same prune-then-top-k in 2-D.  One request is ONE narrow Spark job:
a filter and one mapInPandas over the probe — no join, no exchange, no
window (an earlier loop-of-joins version recomputed its whole lineage every
round and was ~20x slower; the later join plans cost 4-5 jobs per request).

 1. **Index** (`KnnIndex`, once per corpus): the projection (tie_cols,
    qlat, qlon) is collected once through Arrow, sorted by the tie columns
    under Spark's own ordering, so a row's position is its tie rank.  numpy
    builds from those arrays a cell-count summed-area table (SAT) at
    res_hist — O(1) "how many corpus points within Chebyshev radius rho" —
    and, for hot histogram cells, a unit-granularity SAT each (the fine
    tier).  The arrays are sorted by a cell-major key and broadcast once
    with the SATs, as `pip.PolygonIndex` broadcasts its cover.

 2. **Request** (`knn_ring`): queries with a null or off-grid coordinate
    are filtered out (they return no rows); every Arrow batch of the rest
    is ranked in numpy against the broadcast corpus:
      * radius planning: a VECTORIZED bisection over the SAT (log2(n)+1
        rounds of O(Q) lookups) finds the smallest disk holding >= k
        points and turns it into a guarantee distance dcap >= d_k
        (plan_radii_dcap_np); queries inside a hot cell plan a unit-scale
        Chebyshev radius instead (plan_radii_fine_np);
      * gather: one searchsorted slice of the cell-sorted corpus per cell
        row of the dcap disk, or per unit row and cell of a fine-tier
        query's box;
      * rank: keep d2 <= dcap^2, lexsort by (query, d2, tie rank), keep
        rank <= k.
    Queries are ranked in slices whose segments and candidates stay under
    MAX_SLICE_CANDIDATES, so the working set of a task is bounded.

**Self-join kNN** (`knn_self_join` — the 2-D generalization of reference
getSiblings, codechunk.go:653-689, where EVERY chunk is a query): the
corpus probes itself; each point plans for k+1 (its own disk count
includes itself) and an identity filter — not a distance filter,
co-located twins at d2=0 must survive — drops the self row before the
rank.

Exactness: guaranteed by construction (the planners' radius bounds),
verified against brute force in tests (including a >=1e5-query probe) and
against a DuckDB brute-force oracle by the driver gate.  All-integer math
-> bit-exact at any parallelism.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..config import DEFAULT_CELL_RES, GRID_BITS

SQRT2_NUM = 1449  # 1449/1024 > sqrt(2): conservative integer inflation
SQRT2_DEN = 1024

# Read at call time (never bound as defaults) so a test can monkeypatch
# them; neither changes an answer.
HOT_CELL_CAP = 4_096  # histogram-cell points above which the fine tier builds
MAX_SLICE_CANDIDATES = 1 << 21  # gather segments / candidate pairs per slice


def _topk(cand: DataFrame, k: int, tie_cols: list[str]) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), *[F.col(c).asc() for c in tie_cols]
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _scored(q: DataFrame, c: DataFrame) -> DataFrame:
    return q.crossJoin(c).withColumn(
        "d2",
        (F.col("qlat") - F.col("q_qlat")) * (F.col("qlat") - F.col("q_qlat"))
        + (F.col("qlon") - F.col("q_qlon")) * (F.col("qlon") - F.col("q_qlon")),
    )


def _self_key(tie_cols: list[str]) -> Column:
    """Identity key of a corpus row in self-join mode: must equal the
    probe-side query_id built by knn_self_join.

    Injective encoding: per column, backslashes double ('\\' -> '\\\\') and
    ':' escapes ('\\:') BEFORE joining on ':', and NULL becomes the marker
    '\\N' (unreachable from any real value — a real backslash is always
    doubled) — so distinct tie tuples can never collide ((NULL, 5) vs
    ('5', NULL), or ids containing ':').  For ':'-free, backslash-free,
    non-null keys (the engine contract: doc_id/span_pos) this is byte-
    identical to the plain concat_ws(':') of earlier rounds."""
    parts = []
    for c in tie_cols:
        s = F.col(c).cast("string")
        s = F.replace(s, F.lit("\\"), F.lit("\\\\"))
        s = F.replace(s, F.lit(":"), F.lit("\\:"))
        parts.append(F.coalesce(s, F.lit("\\N")))
    return F.concat_ws(":", *parts)


def knn_bruteforce(
    queries: DataFrame, corpus: DataFrame, k: int,
    tie_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    exclude_self: bool = False,
) -> DataFrame:
    """Exact baseline: broadcast queries x full corpus + window top-k.
    O(Q x N) — correctness oracle and small-corpus fallback."""
    q = F.broadcast(queries.select(
        "query_id", F.col("qlat").alias("q_qlat"), F.col("qlon").alias("q_qlon")))
    c = corpus.select(*tie_cols, "qlat", "qlon")
    scored = _scored(q, c)
    if exclude_self:
        scored = scored.filter(_self_key(tie_cols) != F.col("query_id"))
    return _topk(scored, k, tie_cols).select(
        "query_id", *tie_cols, "d2", "rank")


def plan_radii_dcap_np(sat: np.ndarray, qlat: np.ndarray, qlon: np.ndarray,
                       res_hist: int, res: int, k: int):
    """Guarantee radius (in res-cells) AND guarantee distance (in grid
    units) per query from the histogram SAT — returns (rho, dcap).

    Fully VECTORIZED: one bisection over all queries at once — each round
    is four fancy-indexed SAT reads over the whole query batch, and the
    loop runs at most log2(n)+1 rounds (n = 2^res_hist), so there is no
    per-query Python.  The ranking kernel runs it once per slice of an
    Arrow batch of queries — pinned equal to the scalar-loop golden by
    tests/test_knn_distributed.py::test_plan_radii_vectorized_matches_loop.

    Guarantee-radius bound (r7 tightening): the k points counted inside
    the CLAMPED rho_hit disk box lie within Euclidean distance of the
    probe's own position to the box's farthest corner — the planner knows
    the probe's exact coordinates, so the worst-case sqrt(2)*(box edge)
    inflation of earlier rounds is replaced by the per-probe exact corner
    distance (measured: rho 2 -> 1 on the bench's self-join, a ~2.8x
    candidate-volume cut).  d_max = floor(sqrt(dy^2+dx^2)) + 1 >= d_k
    stays a strict upper bound on the k-th neighbor distance: dy^2+dx^2
    < 2^35 is exact in float64 and any point at Euclid <= d_k from the
    probe has integer Chebyshev distance <= floor(d_k) <= d_max, so the
    (rho = d_max div s_res + 1)-cell box around the probe's cell still
    covers every possible k-th-neighbor candidate, ties included."""
    n = 1 << res_hist
    s_hist = 1 << (GRID_BITS - res_hist)
    s_res = 1 << (GRID_BITS - res)
    grid_cap = 1 << res  # full-grid radius cap

    qlat = qlat.astype(np.int64)
    qlon = qlon.astype(np.int64)
    hy = qlat >> (GRID_BITS - res_hist)
    hx = qlon >> (GRID_BITS - res_hist)

    def disk_counts(rho: np.ndarray) -> np.ndarray:
        y0 = np.maximum(hy - rho, 0)
        y1 = np.minimum(hy + rho, n - 1)
        x0 = np.maximum(hx - rho, 0)
        x1 = np.minimum(hx + rho, n - 1)
        return (sat[y1 + 1, x1 + 1] - sat[y0, x1 + 1]
                - sat[y1 + 1, x0] + sat[y0, x0])

    lo = np.zeros(hy.shape, dtype=np.int64)
    hi = np.full(hy.shape, n, dtype=np.int64)
    # disk at rho=n covers the whole grid; if even that holds < k points
    # the corpus is smaller than k and the caller must search everything
    feasible = disk_counts(hi) >= k
    while True:
        active = lo < hi
        if not active.any():
            break
        mid = (lo + hi) >> 1
        ge = disk_counts(mid) >= k
        hi = np.where(active & ge, mid, hi)
        lo = np.where(active & ~ge, mid + 1, lo)
    rho_hit = lo  # smallest rho with disk count >= k (where feasible)
    # exact probe-to-box-corner distance over the CLAMPED disk box (the
    # counted points are inside the clamped box by construction)
    y0c = np.maximum(hy - rho_hit, 0) * s_hist
    y1c = (np.minimum(hy + rho_hit, n - 1) + 1) * s_hist - 1
    x0c = np.maximum(hx - rho_hit, 0) * s_hist
    x1c = (np.minimum(hx + rho_hit, n - 1) + 1) * s_hist - 1
    dy = np.maximum(qlat - y0c, y1c - qlat)
    dx = np.maximum(qlon - x0c, x1c - qlon)
    d_max = np.floor(
        np.sqrt((dy * dy + dx * dx).astype(np.float64))
    ).astype(np.int64) + 1
    out = np.minimum(d_max // s_res + 1, grid_cap)
    rho = np.where(feasible, out, grid_cap).astype(np.int32)
    # dcap: the same d_max as a per-probe CANDIDATE bound — any point
    # with d2 > dcap^2 cannot be among the k nearest (d_k <= d_max), so
    # the gather reads only the dcap disk and drops the rest before the
    # sort.  Infeasible probes get 2^17 (above the grid diagonal, so the
    # disk covers the whole grid and dcap^2 = 2^34 stays far from int64
    # overflow).
    dcap = np.where(feasible, d_max, 1 << 17).astype(np.int64)
    return rho, dcap


def plan_radii_fine_np(fine_sats: dict, qlat: np.ndarray, qlon: np.ndarray,
                       res_hist: int, k: int,
                       fine_max_rho: int) -> np.ndarray:
    """UNIT-granularity guarantee radius for probes inside hot histogram
    cells (the density-adaptive tier).  Returns rho in GRID UNITS per
    probe, or -1 where the fine tier does not apply (probe not in a hot
    cell, clipped disk short of k, or radius past fine_max_rho).

    Exactness argument: each hot cell carries a local SAT of its own
    s_hist x s_hist unit grid.  If the disk of Chebyshev radius rho_hit
    UNITS around the probe, CLIPPED to the cell, holds >= k points, those
    k points are within Euclidean sqrt(2)*rho_hit of the probe — a valid
    upper bound on the true k-th distance d_k regardless of clipping
    (points outside the cell can only be closer).  Any point with
    Euclidean distance <= d_k has Chebyshev distance <= d_k, so searching
    Chebyshev radius d_max = floor(1449*rho_hit/1024)+1 >= d_k units
    around the probe (against the FULL corpus, margin-expanded — not just
    the hot cell) is exact.  Probes whose clipped disk never reaches k
    (cell-edge slivers) fall back to the coarse plan: exact either way.
    """
    s = 1 << (GRID_BITS - res_hist)
    out = np.full(qlat.shape, -1, dtype=np.int32)
    if not fine_sats:
        return out
    hy = qlat.astype(np.int64) >> (GRID_BITS - res_hist)
    hx = qlon.astype(np.int64) >> (GRID_BITS - res_hist)
    for (cy, cx), fsat in fine_sats.items():
        m = (hy == cy) & (hx == cx)
        if not m.any():
            continue
        ly = (qlat[m].astype(np.int64)) - cy * s
        lx = (qlon[m].astype(np.int64)) - cx * s

        def disk(rho):
            y0 = np.maximum(ly - rho, 0)
            y1 = np.minimum(ly + rho, s - 1)
            x0 = np.maximum(lx - rho, 0)
            x1 = np.minimum(lx + rho, s - 1)
            return (fsat[y1 + 1, x1 + 1] - fsat[y0, x1 + 1]
                    - fsat[y1 + 1, x0] + fsat[y0, x0])

        lo = np.zeros(ly.shape, dtype=np.int64)
        hi = np.full(ly.shape, s - 1, dtype=np.int64)
        feasible = disk(hi) >= k
        while True:
            active = lo < hi
            if not active.any():
                break
            mid = (lo + hi) >> 1
            ge = disk(mid) >= k
            hi = np.where(active & ge, mid, hi)
            lo = np.where(active & ~ge, mid + 1, lo)
        d_max = (SQRT2_NUM * lo) // SQRT2_DEN
        # no in-cell-offset +1 here, unlike the coarse planner: at unit
        # granularity the probe IS its cell.  And no rounding +1 either
        # (r7): every point with Euclid <= d_k <= sqrt(2)*rho_hit has
        # INTEGER Chebyshev distance <= floor(sqrt(2)*rho_hit)
        # <= (1449*rho_hit) div 1024 (1449/1024 > sqrt(2)), so a Chebyshev
        # search of d_max units covers every point with Euclid <= d_k,
        # ties included (Cheb <= Euclid, both endpoints integer).  In
        # particular rho_hit=0 (>= k points AT the probe's own coordinate,
        # the co-located-twin regime of dense clusters) searches exactly
        # one unit cell — 9 -> 1 candidate coords, and the top-k among the
        # d2=0 twins is decided by the tie-break alone.
        rho_f = d_max.astype(np.int32)
        out[m] = np.where(feasible & (rho_f <= fine_max_rho), rho_f, -1)
    return out


FINE_MAX_RHO = 64  # unit-radius cap for the fine tier


def _sat(grid: np.ndarray) -> np.ndarray:
    """Summed-area table of a 2-D count grid, one row/column of zeros
    in front: sat[y, x] = grid[:y, :x].sum()."""
    sat = np.zeros((grid.shape[0] + 1, grid.shape[1] + 1), dtype=np.int64)
    np.cumsum(grid, axis=0, out=sat[1:, 1:])
    np.cumsum(sat[1:, 1:], axis=1, out=sat[1:, 1:])
    return sat


def _on_grid(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, qlat, qlon) of df's rows whose coordinates both lie in
    [0, 2^GRID_BITS), as longs; rows with a null or off-grid coordinate
    are dropped (compared before the cast, which could overflow)."""
    top = (1 << GRID_BITS) - 1
    return df.filter(
        F.col("qlat").between(0, top) & F.col("qlon").between(0, top)
    ).select(*keep, F.col("qlat").cast("long").alias("qlat"),
             F.col("qlon").cast("long").alias("qlon"))


def _clip(v: np.ndarray) -> np.ndarray:
    return np.clip(v, 0, (1 << GRID_BITS) - 1)


def _expand(n: np.ndarray):
    """CSR expansion of counts n: for every item, its owner i (repeated
    n[i] times) and its offset 0..n[i]-1 within the owner."""
    owner = np.repeat(np.arange(len(n)), n)
    return owner, np.arange(len(owner)) - np.repeat(np.cumsum(n) - n, n)


def _runs(w: np.ndarray, cap: int):
    """Consecutive index ranges [a, b) of w, each summing to at most cap
    (an item above cap is a range of its own)."""
    c = np.cumsum(w)
    a = 0
    while a < len(w):
        b = int(np.searchsorted(c, (c[a - 1] if a else 0) + cap, "right"))
        yield a, max(b, a + 1)
        a = max(b, a + 1)


def _segment_counts(qlat, qlon, dcap, rho_f, res):
    """Per query, the number of key ranges `_segments` emits for it."""
    s = GRID_BITS - res
    fine = rho_f >= 0
    r = np.where(fine, rho_f, dcap)
    y0, y1 = _clip(qlat - r), _clip(qlat + r)
    x0, x1 = _clip(qlon - r), _clip(qlon + r)
    return np.where(fine, (y1 - y0 + 1) * ((x1 >> s) - (x0 >> s) + 1),
                    (y1 >> s) - (y0 >> s) + 1)


def _segments(qlat, qlon, dcap, rho_f, res):
    """Cell-sorted corpus key ranges [lo, hi) that together hold every
    point of each query's search region, as (query, lo, hi) sorted by
    query.  A coarse query (rho_f < 0) gets one range per res-cell row of
    its dcap disk, trimmed to the disk's chord on that row; a fine-tier
    query one per unit row and res cell of its Chebyshev box of rho_f
    units — unit rows are contiguous within a cell because the key is
    cell-major, then row-major inside the cell (see KnnIndex)."""
    s = GRID_BITS - res
    side, m = 1 << s, (1 << s) - 1
    fine = rho_f >= 0

    cq = np.flatnonzero(~fine)
    la, lo_, r = qlat[cq], qlon[cq], dcap[cq]
    y0, y1 = _clip(la - r), _clip(la + r)
    own, j = _expand((y1 >> s) - (y0 >> s) + 1)
    cy = (y0[own] >> s) + j
    la, lo_, r = la[own], lo_[own], r[own]
    # vertical gap from the query to the row; every disk point of the
    # row is within the chord h (floor sqrt is exact below 2^52)
    gy = np.maximum(0, np.maximum(cy * side - la, la - cy * side - m))
    h = np.floor(np.sqrt((r * r - gy * gy).astype(np.float64))).astype(np.int64)
    c_row = cy << res
    c_lo = (c_row | (_clip(lo_ - h) >> s)) << (2 * s)
    c_hi = ((c_row | (_clip(lo_ + h) >> s)) + 1) << (2 * s)

    fq = np.flatnonzero(fine)
    r = rho_f[fq].astype(np.int64)
    y0, y1 = _clip(qlat[fq] - r), _clip(qlat[fq] + r)
    x0, x1 = _clip(qlon[fq] - r), _clip(qlon[fq] + r)
    nc = (x1 >> s) - (x0 >> s) + 1
    f_own, j = _expand((y1 - y0 + 1) * nc)
    y = y0[f_own] + j // nc[f_own]
    cx = (x0[f_own] >> s) + j % nc[f_own]
    x0, x1 = x0[f_own] - (cx << s), x1[f_own] - (cx << s)
    f_row = ((((y >> s) << res) | cx) << (2 * s)) | ((y & m) << s)
    f_lo = f_row | np.maximum(x0, 0)
    f_hi = f_row + np.minimum(x1, m) + 1

    owner = np.concatenate([cq[own], fq[f_own]])
    order = np.argsort(owner, kind="stable")
    return (owner[order], np.concatenate([c_lo, f_lo])[order],
            np.concatenate([c_hi, f_hi])[order])


def _rank_np(cells: tuple, qlat: np.ndarray, qlon: np.ndarray, k: int,
             qid: np.ndarray | None = None,
             self_keys: np.ndarray | None = None):
    """Exact top-k of every query against the cell-sorted corpus arrays
    `cells` (KnnIndex's broadcast): returns (query index, corpus row,
    d2, rank) ordered by (query, rank).

    With qid/self_keys (exclude_self), each query plans for k+1 and drops
    the corpus rows whose self key equals its query_id — identity, not
    distance, so co-located twins stay.

    Queries are handled in slices whose gather segments, then whose
    candidate pairs, sum to at most MAX_SLICE_CANDIDATES (a single query
    above it is a slice of its own); each query's candidates are ranked
    in one slice, so slicing never changes an answer."""
    key, lat, lon, trank, sat, fine_sats, res, res_hist = cells
    k_plan = k if qid is None else k + 1
    _, dcap = plan_radii_dcap_np(sat, qlat, qlon, res_hist, res, k_plan)
    rho_f = plan_radii_fine_np(fine_sats, qlat, qlon, res_hist, k_plan,
                               FINE_MAX_RHO).astype(np.int64)
    # a fine-tier query keeps its whole Chebyshev box (its radius bounds
    # Chebyshev distance, not d2)
    d2cap = np.where(rho_f >= 0, np.iinfo(np.int64).max, dcap * dcap)
    cap = MAX_SLICE_CANDIDATES
    parts = [(np.zeros(0, np.int64),) * 4]
    for a, b in _runs(_segment_counts(qlat, qlon, dcap, rho_f, res), cap):
        own, lo, hi = _segments(qlat[a:b], qlon[a:b], dcap[a:b],
                                rho_f[a:b], res)
        first = np.searchsorted(key, lo)
        n = np.searchsorted(key, hi) - first
        per_q = np.bincount(own, weights=n, minlength=b - a)
        for c, d in _runs(per_q, cap):
            s0, s1 = np.searchsorted(own, [c, d])
            o, j = _expand(n[s0:s1])
            qi = own[s0:s1][o] + a
            ci = first[s0:s1][o] + j
            d2 = (lat[ci] - qlat[qi]) ** 2 + (lon[ci] - qlon[qi]) ** 2
            keep = d2 <= d2cap[qi]
            qi, ci, d2 = qi[keep], ci[keep], d2[keep]
            if qid is not None:
                keep = self_keys[ci] != qid[qi]
                qi, ci, d2 = qi[keep], ci[keep], d2[keep]
            o = np.lexsort((trank[ci], d2, qi))
            qi, ci, d2 = qi[o], ci[o], d2[o]
            rank = np.arange(1, len(qi) + 1) - np.searchsorted(qi, qi)
            keep = rank <= k
            parts.append((qi[keep], ci[keep], d2[keep], rank[keep]))
    return tuple(np.concatenate(c) for c in zip(*parts))


class KnnIndex:
    """Build-once corpus side of the ring kNN: the corpus as numpy arrays
    sorted by cell, plus the histogram SAT used for radius planning, all
    broadcast once.  Independent of k and of the query set, so it
    amortizes across probe batches (interactive query streams, the
    benchmark, foreachBatch) — the corpus analogue of pip.PolygonIndex.

    Build: the projection (tie_cols, qlat, qlon) — rows with a null or
    off-grid coordinate dropped, they are never neighbors — is sorted by
    the tie columns in Spark and collected once through Arrow, so a row's
    position is its tie rank under Spark's own ordering (nulls first,
    strings by UTF-8 bytes), the order knn_bruteforce breaks d2 ties by.
    numpy then builds the SATs and sorts the arrays by the cell-major key
    (res cell, then unit row, then unit column inside the cell), so a
    row of cells, or a unit row inside one cell, is one searchsorted
    slice.

    **Known limit**: the whole corpus lives on the driver and in each
    Python worker, as the polygon set does for PolygonIndex: 20 B per row
    (key, coordinates, tie rank) plus the tie values, plus a 2 MB unit
    SAT per hot cell at res_hist 7 — 15.6 MB pickled for a 256,000-point
    corpus with two long tie columns and three hot cells.  The corpus
    must fit in one process.

    **Density-adaptive fine tier** (HOT_CELL_CAP): histogram cells holding
    more than HOT_CELL_CAP points (a whole hot spot can fall inside ONE
    cell) additionally get a LOCAL unit-granularity SAT of their own
    s_hist x s_hist area (`fine_sats`).  Probes inside those cells then
    plan unit-scale guarantee radii (plan_radii_fine_np) and gather unit
    rows — turning a ~HOT_CELL_CAP-candidate coarse probe into a
    ~(2*rho+1)^2 unit-cell probe.

    The cap is LOW (4096 = 64^2, one point per unit coordinate at
    res_hist 10) on purpose: a hot spot that straddles histogram-cell
    edges splits its mass UNEVENLY across up to four cells (measured: a
    600k-point box quartered into three ~200k cells and one 9.6k cell;
    under a 20k cap the 9.6k cell's probes planned coarsely and pulled the
    three hot neighbors whole), while a false-positive hot cell costs
    only a small local SAT.  Uniform corpora never approach the cap at
    sane res_hist."""

    def __init__(self, corpus: DataFrame,
                 res: int = DEFAULT_CELL_RES,
                 tie_cols: tuple[str, ...] = ("doc_id", "span_pos"),
                 res_hist: int | None = None):
        if res_hist is None:
            # coarse is better for small probes: rh=7 -> a 16k-cell
            # histogram at the price of a somewhat larger guarantee
            # radius; knn_self_join picks a finer one
            res_hist = min(res, 7)
        self.res, self.res_hist, self.tie_cols = res, res_hist, list(tie_cols)
        self.corpus = corpus
        self._sc = corpus.sparkSession.sparkContext
        self.tie_fields = [corpus.schema[c] for c in tie_cols]
        self._proj = _on_grid(corpus, *tie_cols).orderBy(*tie_cols)
        pdf = self._proj.toPandas()
        lat = pdf["qlat"].to_numpy(np.int64)
        lon = pdf["qlon"].to_numpy(np.int64)

        n, sh = 1 << res_hist, GRID_BITS - res_hist
        hcell = (lat >> sh) * n + (lon >> sh)
        counts = np.bincount(hcell, minlength=n * n)
        self.sat = _sat(counts.reshape(n, n))
        # --- density-adaptive fine tier over hot histogram cells ---
        self.fine_sats: dict = {}
        side = 1 << sh
        for c in np.flatnonzero(counts > HOT_CELL_CAP):
            cy, cx = divmod(int(c), n)
            m = hcell == c
            g = np.bincount((lat[m] - cy * side) * side + lon[m] - cx * side,
                            minlength=side * side)
            self.fine_sats[(cy, cx)] = _sat(g.reshape(side, side))

        s, low = GRID_BITS - res, (1 << (GRID_BITS - res)) - 1
        key = (((((lat >> s) << res) | (lon >> s)) << (2 * s))
               | ((lat & low) << s) | (lon & low))
        # stable: equal keys keep tie order.  trank[i] is the tie rank
        # of cell-sorted row i
        self._trank = np.argsort(key, kind="stable")
        t = self._trank
        cells = (key[t], lat[t].astype(np.int32), lon[t].astype(np.int32),
                 t.astype(np.int32), self.sat, self.fine_sats, res, res_hist)
        ties = [pdf[c].to_numpy()[t] for c in tie_cols]
        self.corpus_bc = self._sc.broadcast((cells, ties))

    @cached_property
    def self_keys_bc(self):
        """Every corpus row's _self_key in broadcast (cell) order; built
        by one collect on the first exclude_self request.  Rows with equal
        tie tuples share a key, so the re-sort cannot misplace one."""
        keys = self._proj.select(_self_key(self.tie_cols).alias("k")) \
            .toPandas()["k"].to_numpy()
        return self._sc.broadcast(keys[self._trank])


def knn_ring(
    queries: DataFrame, corpus: DataFrame = None, k: int = 5,
    res: int = DEFAULT_CELL_RES,
    tie_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    index: KnnIndex | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Cell ring kNN.  queries(query_id, qlat, qlon); corpus(tie_cols...,
    qlat, qlon).  Returns (query_id, tie_cols..., d2, rank <= k), exact,
    ties broken by the tie columns.  A query with a null coordinate, or
    one outside [0, 2^GRID_BITS), returns no rows.

    Pass a prebuilt KnnIndex to amortize the corpus collect, SATs and
    broadcast across probe batches (res/tie_cols then come from the
    index).

    Plan: one narrow Spark job — a filter and ONE mapInPandas over the
    probe, no join, no exchange, no window.  Every Arrow batch of queries
    is planned, gathered and ranked by `_rank_np` against the index's
    broadcast arrays, whatever the probe's size.

    exclude_self: identity-exclusion for self-join probes — requires
    query_id == _self_key(tie_cols) of the probe's own corpus row (the
    escaped ':'-joined tie tuple; knn_self_join builds exactly that).
    Plans for k+1 (each query's disk count includes itself) and drops the
    identity row — NOT distance 0: co-located twins must survive —
    before the rank."""
    if index is None:
        if corpus is None:
            raise ValueError("knn_ring needs a corpus= or an index=")
        index = KnnIndex(corpus, res=res, tie_cols=tie_cols)
    elif corpus is not None and corpus is not index.corpus:
        raise ValueError(
            "knn_ring got BOTH corpus= and index= (built from a different "
            "DataFrame): the index's snapshot would silently win — pass "
            "one or the other")
    corpus_b = index.corpus_bc
    keys_b = index.self_keys_bc if exclude_self else None
    tie_cols = index.tie_cols
    schema = StructType([
        queries.schema["query_id"], *index.tie_fields,
        StructField("d2", LongType()), StructField("rank", IntegerType())])

    def rank(batches):
        cells, ties = corpus_b.value
        self_keys = keys_b.value if keys_b is not None else None
        for pdf in batches:
            qid = pdf["query_id"].to_numpy()
            qi, ci, d2, rk = _rank_np(
                cells, pdf["qlat"].to_numpy(np.int64),
                pdf["qlon"].to_numpy(np.int64), k,
                qid if exclude_self else None, self_keys)
            yield pd.DataFrame({
                "query_id": qid[qi],
                **{c: t[ci] for c, t in zip(tie_cols, ties)},
                "d2": d2, "rank": rk.astype(np.int32)})

    return _on_grid(queries, "query_id").mapInPandas(rank, schema)


def knn_self_join(
    corpus: DataFrame, k: int = 5,
    res: int = DEFAULT_CELL_RES,
    tie_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    index: KnnIndex | None = None,
) -> DataFrame:
    """Corpus-vs-corpus kNN: every corpus point probes for its k nearest
    OTHER points — the 2-D generalization of reference getSiblings
    (codechunk.go:653-689), and the ANN-dedup shape where the probe side
    equals the data.  The corpus is the probe of one knn_ring request
    with exclude_self: one mapInPandas over it, never collected as a
    probe.

    query_id in the output is the probe row's identity key (_self_key:
    ':'-joined tie tuple with '\\'/':' escaped and NULL as '\\N', so
    distinct tuples never collide) — for ':'-free, backslash-free,
    non-null key columns (the engine contract: doc_id/span_pos) this is
    the plain ':' join and splits back losslessly.
    Returns (query_id, tie_cols..., d2, rank <= k), exact; co-located
    twins (d2=0) of the probe row are real neighbors and kept — only the
    row's own identity is excluded.

    The index's res_hist is FINER here than in interactive knn_ring
    (min(res, 10) instead of min(res, 7)): the guarantee-radius
    overshoot of a coarse histogram is multiplied by EVERY corpus row
    when the probe side is the corpus — measured 625 candidate cells per
    probe at rh7 vs 25 at rh10 on a 9.2M-point corpus, a 25x
    candidate-volume swing (the rh10 SAT is 8 MB)."""
    if index is None:
        index = KnnIndex(corpus, res=res, tie_cols=tie_cols,
                         res_hist=min(res, 10))
    probes = index.corpus.select(
        _self_key(index.tie_cols).alias("query_id"), "qlat", "qlon")
    return knn_ring(probes, k=k, index=index, exclude_self=True)


def knn_within(
    queries: DataFrame, corpus: DataFrame, k: int, radius: int,
    tie_cols: tuple[str, ...] = ("doc_id", "span_pos"),
) -> DataFrame:
    """Bounded kNN: for each query, its k nearest corpus points WITHIN
    `radius` (fewer rows if the disk holds fewer) — the radius-capped
    variant every spatial engine ships next to pure kNN.

    Pure composition of existing exact plans: the dwithin cell-bucket
    radius join (3x3 neighborhood prune, exact integer d2 in the join)
    feeds the shared top-k window — no SAT planning needed, because the
    radius bound replaces the guarantee radius.  One bounded shuffle;
    map-side WindowGroupLimit prunes before the top-k exchange."""
    from .spatial import dwithin_join

    cand = dwithin_join(
        corpus, queries, radius,
        a_keep=tuple(tie_cols), b_keep=("query_id",), broadcast_b=True,
    )
    return _topk(cand, k, tie_cols).select(
        "query_id", *tie_cols, "d2", "rank")
