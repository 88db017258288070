"""kNN join via cell-prefix search on the Morton grid (H3 k-ring contract),
plus a brute-force baseline.

Structure (SURVEY.md §2.4): the reference's `getSiblings` is kNN in 1-D
(prune to an ordered neighborhood, then take k — codechunk.go:653-689); this
is the same prune-then-top-k in 2-D, planned to avoid iterative lineage
growth (an earlier loop-of-joins version recomputed its whole lineage every
round and was ~20x slower):

 1. **Radius planning** (tiny): a cell-count histogram of the corpus at
    res_hist is collected once and turned into a summed-area table (SAT) —
    O(1) "how many corpus points within Chebyshev radius rho" per query.
    A VECTORIZED numpy bisection (log2(n)+1 rounds of O(Q) SAT lookups —
    no per-query Python) finds the smallest rho_hit whose disk holds >= k
    points, then inflates it to a GUARANTEE radius rho_g with
    rho_g*S + 1 > sqrt(2) * ((rho_hit+1)*S_hist - 1) >= d_k, using the
    integer bound 1449/1024 > sqrt(2) — so no point outside the searched
    disk can beat the provisional k-th neighbor.  One histogram shuffle +
    one small collect, independent of corpus size.

    The probe's size picks where the planner runs:
      * **driver** (a probe of at most DRIVER_PROBE_CAP rows, the
        interactive contract): one tiny toPandas + in-process numpy → a
        literal DataFrame; the candidate join's DAG is pure JVM with zero
        Python workers.
      * **distributed** (larger probes, and always for the self-join): the
        SAT — an (n+1)^2 int64 array, ~130 KB at res_hist 7 — is broadcast
        and the same numpy kernel runs as an Arrow-batched mapInPandas over
        the probe DataFrame.  The probe side is NEVER collected in this
        mode; the only driver-sized data is one 4-value stats row.
    knn_ring sniffs at most DRIVER_PROBE_CAP+1 rows to pick; for a probe
    that fits, the sniff IS the driver collect.

 2. **Candidate join** (one shuffle): each query explodes its own
    (2*rho_g+1)^2 cell offsets via F.sequence (per-row bounds — no driver
    loop), equi-joins the corpus on the cell key, exact top-k by INTEGER
    squared distance with total-order tie-break (d2, doc_id, span_pos) via
    row_number.

**Self-join kNN** (`knn_self_join` — the 2-D generalization of reference
getSiblings, codechunk.go:653-689, where EVERY chunk is a query): the
corpus probes itself through the distributed planner; each point plans for
k+1 (its own disk count includes itself) and an identity filter — not a
distance filter, co-located twins at d2=0 must survive — drops the self
row before top-k.

Exactness: guaranteed by construction (step 1's radius bound), verified
against brute force in tests (including a >=1e5-query probe through the
distributed path) and against a DuckDB brute-force oracle by the driver
gate.  All-integer math -> bit-exact at any parallelism.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..config import DEFAULT_CELL_RES, GRID_BITS

SQRT2_NUM = 1449  # 1449/1024 > sqrt(2): conservative integer inflation
SQRT2_DEN = 1024

# Plan thresholds, read at call time (never bound as defaults) so a test
# can monkeypatch them.  Each only picks a physical path from an observed
# size; every path is exact.
DRIVER_PROBE_CAP = 100_000  # probe rows planned on the driver; above: executors
MAX_RHO = 64  # dense-branch guarantee radius cap (res cells); above: sparse
BROADCAST_CAP_ROWS = 4_000_000  # exploded probe rows broadcast; above: merge
SPARSE_BROADCAST_CAP = 200_000  # sparse probes broadcast; above: repartition
HOT_CELL_CAP = 4_096  # histogram-cell points above which the fine tier builds


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
    tie_cols: list[str] = ["doc_id", "span_pos"],
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
    per-query Python.  The same kernel serves both the driver planner
    (tiny probe sets) and the executor-side mapInPandas planner (large
    probe sets / self-join) — pinned equal to the scalar-loop golden by
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
    # dcap: the same d_max as a per-probe CANDIDATE filter bound — any
    # candidate with d2 > dcap^2 cannot be among the k nearest (d_k <=
    # d_max), so the dense branch drops it before the top-k window
    # (r7; measured 29.6M -> 5.6M window-input rows on the bench
    # self-join, identical top-k).  Infeasible probes get 2^17 (above
    # the grid diagonal, so the filter is vacuous and dcap^2 = 2^34
    # stays far from int64 overflow).
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


FINE_MAX_RHO = 64  # unit-radius cap for the fine tier (margin bound)


class KnnIndex:
    """Build-once corpus side of the ring kNN: the cell-keyed corpus
    projection plus the histogram SAT used for radius planning.

    Amortizes the one histogram shuffle + collect across many probe
    batches (interactive query streams, the bench, foreachBatch) — the
    corpus analogue of pip.PolygonIndex.  Independent of k and of the
    query set.

    **Density-adaptive fine tier** (HOT_CELL_CAP): histogram cells holding
    more than HOT_CELL_CAP points (a whole hot spot can fall inside ONE
    cell) additionally get a LOCAL unit-granularity SAT of their own
    s_hist x s_hist area, collected in one small aggregate (distinct
    coordinates within hot cells only).  Probes inside those cells then
    plan unit-scale guarantee radii (plan_radii_fine_np) and join against
    a margin-expanded slice of the corpus keyed by RAW coordinates —
    turning a ~HOT_CELL_CAP-candidate coarse probe into a ~(2*rho+1)^2
    unit-cell probe (measured 600k -> ~3.6k candidates on the bench's
    hot boxes).

    The cap is LOW (4096 = 64^2, one point per unit coordinate
    at res_hist 10) on purpose: a hot spot that straddles histogram-cell
    edges splits its mass UNEVENLY across up to four cells (measured r7:
    a 600k-point box quartered into three ~200k cells and one 9.6k cell
    — the 9.6k cell sat under the old 20k cap, so its 225 probes planned
    coarsely and pulled the three hot neighbors whole: 135M of the
    bench's 160M candidate rows came from those 225 probes alone), while
    a false-positive hot cell costs only a <=s^2-row slice of one small
    aggregate and a small local SAT.  Uniform corpora never approach the
    cap at sane res_hist."""

    def __init__(self, corpus: DataFrame,
                 res: int = DEFAULT_CELL_RES,
                 tie_cols: list[str] = ["doc_id", "span_pos"],
                 res_hist: int | None = None):
        if res_hist is None:
            # coarse is better: rh=7 -> 16k histogram groups (cheap
            # shuffle + collect) at the price of a somewhat larger
            # guarantee radius; the candidate join absorbs that far more
            # cheaply than a 200k-group histogram costs (measured: hist
            # 3.2s at rh=9 vs ~0.4s at rh=7)
            res_hist = min(res, 7)
        self.res, self.res_hist, self.tie_cols = res, res_hist, list(tie_cols)
        shift = GRID_BITS - res
        self.corpus = corpus
        self.corp = corpus.select(
            *tie_cols, "qlat", "qlon",
            F.shiftright("qlat", shift).alias("ccy"),
            F.shiftright("qlon", shift).alias("ccx"),
        )
        sh = GRID_BITS - res_hist
        hist = (
            self.corp.groupBy(
                F.shiftright("qlat", sh).alias("hy"),
                F.shiftright("qlon", sh).alias("hx"),
            ).agg(F.count("*").alias("n")).toPandas()  # Arrow path: a plain
            # collect() of ~10^5 hist rows through py4j dominated kNN time
        )
        n = 1 << res_hist
        grid = np.zeros((n, n), dtype=np.int64)
        grid[hist["hy"].to_numpy(), hist["hx"].to_numpy()] = \
            hist["n"].to_numpy()
        self.sat = np.zeros((n + 1, n + 1), dtype=np.int64)
        np.cumsum(grid, axis=0, out=self.sat[1:, 1:])
        np.cumsum(self.sat[1:, 1:], axis=1, out=self.sat[1:, 1:])
        self.total = int(self.sat[n, n])

        # --- density-adaptive fine tier over hot histogram cells ---
        self.fine_sats: dict = {}
        self.corp_fine = None
        s = 1 << sh
        hot = hist[hist["n"].to_numpy() > HOT_CELL_CAP]
        if len(hot):
            hot_cells = list(zip(hot["hy"].astype(int),
                                 hot["hx"].astype(int)))
            in_hot = None
            for cy, cx in hot_cells:
                c = ((F.shiftright("qlat", sh) == cy)
                     & (F.shiftright("qlon", sh) == cx))
                in_hot = c if in_hot is None else (in_hot | c)
            # one aggregate over hot-cell points only: rows bounded by
            # distinct coordinates (<= s^2 per hot cell), not points
            fine_pd = (corpus.filter(in_hot)
                       .groupBy("qlat", "qlon")
                       .agg(F.count("*").alias("n")).toPandas())
            fy = fine_pd["qlat"].to_numpy(np.int64)
            fx = fine_pd["qlon"].to_numpy(np.int64)
            fn = fine_pd["n"].to_numpy(np.int64)
            for cy, cx in hot_cells:
                m = ((fy >> sh) == cy) & ((fx >> sh) == cx)
                g = np.zeros((s, s), dtype=np.int64)
                g[fy[m] - cy * s, fx[m] - cx * s] = fn[m]
                fsat = np.zeros((s + 1, s + 1), dtype=np.int64)
                np.cumsum(g, axis=0, out=fsat[1:, 1:])
                np.cumsum(fsat[1:, 1:], axis=1, out=fsat[1:, 1:])
                self.fine_sats[(cy, cx)] = fsat
            # fine candidates join against the FULL corpus restricted
            # to the hot areas + the largest possible fine radius —
            # edge probes legitimately reach neighbors outside the
            # hot cell, so the margin is load-bearing for exactness
            marg = FINE_MAX_RHO + 1
            in_marg = None
            for cy, cx in hot_cells:
                c = (F.col("qlat").between(cy * s - marg,
                                           (cy + 1) * s - 1 + marg)
                     & F.col("qlon").between(cx * s - marg,
                                             (cx + 1) * s - 1 + marg))
                in_marg = c if in_marg is None else (in_marg | c)
            self.corp_fine = corpus.filter(in_marg).select(
                *tie_cols, "qlat", "qlon",
                F.col("qlat").alias("fcy"), F.col("qlon").alias("fcx"))


def knn_ring(
    queries: DataFrame, corpus: DataFrame = None, k: int = 5,
    res: int = DEFAULT_CELL_RES,
    tie_cols: list[str] = ["doc_id", "span_pos"],
    index: KnnIndex | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Cell ring kNN.  queries(query_id, qlat, qlon); corpus(tie_cols...,
    qlat, qlon).  Returns (query_id, tie_cols..., d2, rank <= k), exact.

    Pass a prebuilt KnnIndex to amortize the histogram/SAT across probe
    batches (res/tie_cols then come from the index).

    The probe's size picks the radius planner: a sniff of at most
    DRIVER_PROBE_CAP+1 rows either IS the whole probe (planned on the
    driver, no Python worker in the join DAG) or proves it too big, and
    then the SATs are broadcast and a vectorized mapInPandas plans it on
    the executors — the probe side is never collected.  One extra tiny
    action there (a 4-value stats agg over the checkpointed planned probe)
    picks broadcast-vs-shuffle per branch and which branches exist at all.

    Probes split THREE ways after planning, each to the join shape that
    fits its local density (all exact):
      * fine  — inside a hot histogram cell with a unit-scale radius
        (KnnIndex fine tier): explode (2*rho_f+1)^2 UNIT offsets, join
        the margin-expanded hot slice on raw coordinates.
      * dense — ordinary guarantee radius <= MAX_RHO: explode res-cell
        offsets, join the cell-keyed corpus; broadcast while the exploded
        probe fits BROADCAST_CAP_ROWS, else a (salted) sort-merge join.
      * sparse — guarantee radius > MAX_RHO (k-th neighbor far away):
        brute-force against the corpus (a handful of probes by
        construction; cheaper than exploding a giant disk), broadcast
        while at most SPARSE_BROADCAST_CAP probes take it.

    exclude_self: identity-exclusion for self-join probes — requires
    query_id == _self_key(tie_cols) of the probe's own corpus row (the
    escaped ':'-joined tie tuple; knn_self_join builds exactly that).
    Plans for k+1 (each query's disk count includes itself) and filters
    the identity row — NOT distance 0: co-located twins must survive —
    before top-k."""
    if index is None:
        if corpus is None:
            raise ValueError("knn_ring needs a corpus= or an index=")
        index = KnnIndex(corpus, res=res, tie_cols=tie_cols)
    elif corpus is not None and corpus is not index.corpus:
        raise ValueError(
            "knn_ring got BOTH corpus= and index= (built from a different "
            "DataFrame): the index's snapshot would silently win — pass "
            "one or the other")
    return _knn_planned(queries, index, k, exclude_self, may_collect=True)


def _knn_planned(queries: DataFrame, index: KnnIndex, k: int,
                 exclude_self: bool, may_collect: bool) -> DataFrame:
    """knn_ring's plan.  may_collect=False skips the size sniff and plans
    on the executors (the self-join, whose probe side is the corpus)."""
    spark = queries.sparkSession
    res, res_hist, tie_cols = index.res, index.res_hist, index.tie_cols
    corp, sat = index.corp, index.sat
    corp_fine = index.corp_fine
    fine_sats = index.fine_sats
    shift = GRID_BITS - res
    k_plan = k + 1 if exclude_self else k  # self row occupies one disk slot
    if exclude_self:
        # materialize the identity key ON THE CORPUS SIDE (one concat per
        # corpus row, below the join) instead of re-deriving it per
        # CANDIDATE row above the join — the candidate stream is 10-100x
        # the corpus (r7; measured 166M candidate rows vs 9.2M corpus on
        # the bench self-join)
        corp = corp.withColumn("_skey", _self_key(tie_cols))
        if corp_fine is not None:
            corp_fine = corp_fine.withColumn("_skey", _self_key(tie_cols))
        self_pred = F.col("_skey") != F.col("query_id")
    else:
        self_pred = None
    if index.total < k_plan:  # whole corpus smaller than k: no prune possible
        return knn_bruteforce(queries, index.corpus, k, tie_cols,
                              exclude_self=exclude_self)

    qsel = queries.select(
        "query_id",
        F.col("qlat").cast("long").alias("q_qlat"),
        F.col("qlon").cast("long").alias("q_qlon"),
    )
    qid_type = dict(queries.dtypes)["query_id"]
    plan_schema = (f"query_id {qid_type}, q_qlat bigint, q_qlon bigint, "
                   f"rho int, dcap bigint, rho_fine int")

    def plan_arrays(la, lo):
        rho, dcap = plan_radii_dcap_np(sat, la, lo, res_hist, res, k_plan)
        rho_f = plan_radii_fine_np(fine_sats, la, lo, res_hist, k_plan,
                                   FINE_MAX_RHO)
        return rho, dcap, rho_f

    q_pd = None
    if may_collect:
        # sniff: for a small probe set this IS the driver collect (no
        # wasted work); for a large one it is bounded at cap+1 rows
        q_pd = qsel.limit(DRIVER_PROBE_CAP + 1).toPandas()
        if len(q_pd) > DRIVER_PROBE_CAP:
            q_pd = None  # too big for the driver: plan on the executors

    if q_pd is not None:
        # --- driver planning: literal probe DataFrame, pure-JVM join DAG ---
        q_pd["rho"], q_pd["dcap"], q_pd["rho_fine"] = plan_arrays(
            q_pd["q_qlat"].to_numpy(np.int64),
            q_pd["q_qlon"].to_numpy(np.int64))
        q_all = spark.createDataFrame(q_pd, plan_schema)
        rho_col = q_pd["rho"].to_numpy()
        fine_col = q_pd["rho_fine"].to_numpy()
        coarse_m = (rho_col <= MAX_RHO) & (fine_col < 0)
        est_exploded = int(((2 * rho_col[coarse_m] + 1) ** 2).sum())
        n_sparse = int(((rho_col > MAX_RHO) & (fine_col < 0)).sum())
        has_sparse = n_sparse > 0
        est_fine = int(((2 * fine_col[fine_col >= 0] + 1) ** 2).sum())
        has_fine = bool((fine_col >= 0).any())
    else:
        # --- distributed planning: broadcast SATs + vectorized
        # mapInPandas; the probe side is NEVER collected in this mode ---
        import pandas as pd

        sat_b = spark.sparkContext.broadcast((sat, fine_sats))
        rh, r, kp = res_hist, res, k_plan

        def plan_part(batches):
            for pdf in batches:
                if len(pdf):
                    pdf = pdf.copy()
                    csat, cfine = sat_b.value
                    la = pdf["q_qlat"].to_numpy(np.int64)
                    lo_ = pdf["q_qlon"].to_numpy(np.int64)
                    rho, dcap = plan_radii_dcap_np(csat, la, lo_, rh, r, kp)
                    pdf["rho"] = rho
                    pdf["dcap"] = dcap
                    pdf["rho_fine"] = plan_radii_fine_np(
                        cfine, la, lo_, rh, kp, FINE_MAX_RHO)
                else:
                    pdf["rho"] = pd.Series([], dtype="int32")
                    pdf["dcap"] = pd.Series([], dtype="int64")
                    pdf["rho_fine"] = pd.Series([], dtype="int32")
                yield pdf

        # materialize ONCE via localCheckpoint (eager): the planned probe
        # is read several times (stats agg + one branch each) and the
        # planning UDF must not rerun.  Unlike .persist(), whose entry the
        # CacheManager pins until an explicit unpersist (repeated calls —
        # bench, foreachBatch — would accumulate probe-sized cache entries
        # forever), checkpoint blocks are released by the ContextCleaner
        # as soon as the returned DataFrame is garbage-collected.
        # Coalesce to the cluster's parallelism first: the planning UDF is
        # a vectorized batch kernel, so fewer/larger python tasks amortize
        # the per-task Arrow IPC round-trip (r7; 96 -> 32 tasks halved the
        # planning job on the bench probe) while staying one task per core.
        npar = spark.sparkContext.defaultParallelism
        qplan_src = qsel
        if qsel.rdd.getNumPartitions() > npar:
            qplan_src = qsel.coalesce(npar)
        q_all = qplan_src.mapInPandas(plan_part, plan_schema) \
            .localCheckpoint(eager=True)
        not_fine = F.col("rho_fine") < 0
        stats = q_all.agg(
            F.sum(F.when(
                (F.col("rho") <= MAX_RHO) & not_fine,
                (2 * F.col("rho") + 1) * (2 * F.col("rho") + 1),
            ).otherwise(F.lit(0))).alias("est"),
            F.count(F.when((F.col("rho") > MAX_RHO) & not_fine, 1))
            .alias("n_sparse"),
            F.sum(F.when(
                ~not_fine,
                (2 * F.col("rho_fine") + 1) * (2 * F.col("rho_fine") + 1),
            ).otherwise(F.lit(0))).alias("est_fine"),
            F.count(F.when(~not_fine, 1)).alias("n_fine"),
        ).first()
        est_exploded = int(stats["est"] or 0)
        n_sparse = int(stats["n_sparse"])
        has_sparse = n_sparse > 0
        est_fine = int(stats["est_fine"] or 0)
        has_fine = int(stats["n_fine"]) > 0

    not_fine = F.col("rho_fine") < 0
    q = q_all.filter((F.col("rho") <= MAX_RHO) & not_fine)
    q_sparse = q_all.filter((F.col("rho") > MAX_RHO) & not_fine)
    q_fine = q_all.filter(~not_fine)

    _nparts_cache: list[int] = []

    def nparts_lazy() -> int:
        # evaluated only when a merge-join branch is actually taken; the
        # conf can be non-numeric on some deployments ("auto" under
        # AQE-managed platforms) — fall back to the context parallelism
        if not _nparts_cache:
            try:
                _nparts_cache.append(
                    int(spark.conf.get("spark.sql.shuffle.partitions")))
            except (TypeError, ValueError):
                _nparts_cache.append(spark.sparkContext.defaultParallelism)
        return _nparts_cache[0]

    def joined(probe_df, est, build, keys):
        # broadcast only while the estimated exploded size fits
        # comfortably in memory; past the cap, FORCE a sort-merge join
        # (spill-safe) over EXPLICITLY co-repartitioned inputs.  All
        # three deviations from the default plan are load-bearing,
        # measured at >=162k probes vs the 9.2M bench corpus: (a)
        # Catalyst sizes an explode at its child's row count, so a large
        # probe set still looks broadcastable to AQE and the un-hinted
        # plan OOMs building the broadcast table; (b) a shuffle_hash
        # hint OOMs too once AQE partition coalescing folds the
        # underestimated build side into a few oversized partitions
        # (hash builds cannot spill); (c) even sort-merge straggles if
        # AQE coalesces the small-LOOKING inputs of an OUTPUT-exploding
        # join into a few partitions — join-output explosion is
        # invisible to input-size-based coalescing, so the explicit
        # numPartitions repartition (which AQE must respect) keeps the
        # output spread across the cluster.
        if est <= BROADCAST_CAP_ROWS:
            return F.broadcast(probe_df).join(build, keys, "inner")
        np_ = nparts_lazy()
        return (probe_df.repartition(np_, *keys).hint("merge")
                .join(build.repartition(np_, *keys), keys, "inner"))

    d2_expr = (
        (F.col("qlat") - F.col("q_qlat")) * (F.col("qlat") - F.col("q_qlat"))
        + (F.col("qlon") - F.col("q_qlon")) * (F.col("qlon") - F.col("q_qlon"))
    )

    # --- dense branch: res-cell candidate join with per-query radius ---
    probe = (
        q.withColumn(
            "ccy",
            F.explode(F.sequence(
                F.shiftright("q_qlat", shift) - F.col("rho"),
                F.shiftright("q_qlat", shift) + F.col("rho"),
            )),
        )
        .withColumn(
            "ccx",
            F.explode(F.sequence(
                F.shiftright("q_qlon", shift) - F.col("rho"),
                F.shiftright("q_qlon", shift) + F.col("rho"),
            )),
        )
        .select("query_id", "q_qlat", "q_qlon", "dcap", "ccy", "ccx")
    )
    # cell-level disk prune (r7): a box cell whose nearest point to the
    # probe is already beyond dcap cannot hold any top-k candidate, so
    # drop it BEFORE the join — this shrinks the broadcast build (the
    # serial part of the dense plan) and the join probes by the square-
    # minus-disk corner fraction (~35% on the bench probe)
    s_res = 1 << shift
    _gy = F.greatest(F.lit(0), F.col("ccy") * s_res - F.col("q_qlat"),
                     F.col("q_qlat") - ((F.col("ccy") + 1) * s_res - 1))
    _gx = F.greatest(F.lit(0), F.col("ccx") * s_res - F.col("q_qlon"),
                     F.col("q_qlon") - ((F.col("ccx") + 1) * s_res - 1))
    probe = probe.filter(
        _gy * _gy + _gx * _gx <= F.col("dcap") * F.col("dcap"))
    # guarantee-distance candidate filter: d_k <= dcap by construction,
    # so any candidate beyond dcap can never reach the top-k (ties at
    # d_k survive: d_k^2 <= dcap^2) — the (2rho+1)^2-cell box is a
    # SQUARE around a DISK of radius dcap, and dropping the corners
    # before the top-k window cuts its sorted input ~5x (r7 measured)
    dcap_pred = F.col("d2") <= F.col("dcap") * F.col("dcap")
    if est_exploded <= BROADCAST_CAP_ROWS or not fine_sats:
        cand = joined(probe, est_exploded, corp, ["ccy", "ccx"]) \
            .withColumn("d2", d2_expr).filter(dcap_pred)
    else:
        # KNOWN-skew salting for the merge path: a probe NEAR a hot cell
        # (not inside it — those take the fine tier) legitimately pulls
        # the whole hot cell into its candidate set, and every such
        # probe's rows land on the SAME few join keys.  AQE cannot help:
        # the hot cells' INPUT partitions are small (a few MB), only the
        # join OUTPUT explodes, which input-size-based skew splitting
        # never sees (measured: 3 straggler tasks, 264s vs 31s salted).
        # The hot keys are known from the index, so salt exactly them:
        # corp rows in hot cells get a deterministic xxhash64 salt,
        # probe rows exploding onto hot cells replicate across all
        # salts; everything else keeps salt 0 (no expansion).
        SALT = 16
        dr = res - res_hist  # res cells per hist cell edge = 2^dr
        hot_ids = [cy * (1 << res_hist) + cx for cy, cx in fine_sats]

        def hot_key(cy_col, cx_col):
            return (F.shiftright(cy_col, dr) * (1 << res_hist)
                    + F.shiftright(cx_col, dr))

        corp_j = corp.withColumn(
            "_salt",
            F.when(hot_key(F.col("ccy"), F.col("ccx")).isin(hot_ids),
                   F.pmod(F.xxhash64(*tie_cols), F.lit(SALT)).cast("int"))
            .otherwise(F.lit(0)))
        probe_j = probe.withColumn(
            "_salt",
            F.explode(
                F.when(hot_key(F.col("ccy"), F.col("ccx")).isin(hot_ids),
                       F.sequence(F.lit(0), F.lit(SALT - 1)))
                .otherwise(F.sequence(F.lit(0), F.lit(0)))))
        keys_s = ["ccy", "ccx", "_salt"]
        np_ = nparts_lazy()
        cand = (probe_j.repartition(np_, *keys_s).hint("merge")
                .join(corp_j.repartition(np_, *keys_s), keys_s, "inner")
                .drop("_salt").withColumn("d2", d2_expr).filter(dcap_pred))
    if self_pred is not None:
        cand = cand.filter(self_pred)
    # every query is in exactly one branch, so the top-k of the branches'
    # union is the union of their top-ks: ONE window for all branches
    cand_cols = ["query_id", *tie_cols, "d2"]
    cand = cand.select(*cand_cols)

    # --- fine branch: unit-cell candidate join in hot regions ---
    if has_fine and corp_fine is not None:
        fprobe = (
            q_fine.withColumn(
                "fcy",
                F.explode(F.sequence(
                    F.col("q_qlat") - F.col("rho_fine"),
                    F.col("q_qlat") + F.col("rho_fine"),
                )),
            )
            .withColumn(
                "fcx",
                F.explode(F.sequence(
                    F.col("q_qlon") - F.col("rho_fine"),
                    F.col("q_qlon") + F.col("rho_fine"),
                )),
            )
            .select("query_id", "q_qlat", "q_qlon", "fcy", "fcx")
        )
        cand_f = joined(fprobe, est_fine, corp_fine,
                        ["fcy", "fcx"]).withColumn("d2", d2_expr)
        if self_pred is not None:
            cand_f = cand_f.filter(self_pred)
        cand = cand.unionByName(cand_f.select(*cand_cols))

    # --- sparse branch: only pay the brute-force corpus scan if some
    # query actually needs it ---
    if has_sparse:
        # broadcast only while the sparse probe count is bounded: in
        # distributed mode the probe side is unbounded by design, and a
        # workload where MANY probes plan rho > MAX_RHO (large k on a
        # thin/clustered corpus) would otherwise broadcast an unbounded
        # probe subset.  Past the cap, run the same scored cross join
        # non-broadcast over a repartitioned probe side — still brute
        # force (that is the branch's contract) but spill-safe.
        q_sp = q_sparse.drop("rho", "dcap", "rho_fine")
        if n_sparse <= SPARSE_BROADCAST_CAP:
            q_sp = F.broadcast(q_sp)
        else:
            q_sp = q_sp.repartition(nparts_lazy())
        sparse_scored = _scored(
            q_sp, corp.select(*tie_cols, "qlat", "qlon",
                              *(["_skey"] if exclude_self else [])))
        if self_pred is not None:
            sparse_scored = sparse_scored.filter(self_pred)
        cand = cand.unionByName(sparse_scored.select(*cand_cols))
    return _topk(cand, k, tie_cols).select(*cand_cols, "rank")


def knn_self_join(
    corpus: DataFrame, k: int = 5,
    res: int = DEFAULT_CELL_RES,
    tie_cols: list[str] = ["doc_id", "span_pos"],
    index: KnnIndex | None = None,
) -> DataFrame:
    """Corpus-vs-corpus kNN: every corpus point probes for its k nearest
    OTHER points — the 2-D generalization of reference getSiblings
    (codechunk.go:653-689), and the ANN-dedup shape where the probe side
    equals the data.  Runs the distributed planner unconditionally (the
    probe side is the corpus — never collect it).

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
    probe at rh7 vs 25 at rh10 on the 9.2M-point bench corpus, a 25x
    candidate-volume swing for a one-off 3s histogram (SAT at rh10 is
    8 MB, still a trivial broadcast)."""
    if index is None:
        index = KnnIndex(corpus, res=res, tie_cols=tie_cols,
                         res_hist=min(res, 10))
    probes = index.corpus.select(
        _self_key(index.tie_cols).alias("query_id"), "qlat", "qlon")
    return _knn_planned(probes, index, k, exclude_self=True,
                        may_collect=False)


def knn_within(
    queries: DataFrame, corpus: DataFrame, k: int, radius: int,
    tie_cols: list[str] = ["doc_id", "span_pos"],
    res: int | None = None,
    broadcast_queries: bool = True,
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
        a_keep=tuple(tie_cols), b_keep=("query_id",),
        res=res, broadcast_b=broadcast_queries,
    )
    return _topk(cand, k, tie_cols).select(
        "query_id", *tie_cols, "d2", "rank")
