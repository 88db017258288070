"""Iterative graph analytics: integer-exact PageRank.

Complements the connected-components clustering in operators/dedup.py with
a centrality measure, built to the engine's determinism contract:

**All arithmetic is INTEGER.**  Ranks live in fixed-point units of
1/SCALE; each iteration a node sends `rank div out_degree` along every
out-edge and collects `base + damping_num * (sum of arrivals) div
damping_den`.  Integer sums are associative, so the result is bit-exact
at any parallelism / aggregation order — unlike float PageRank, where the
per-partition sum order perturbs low bits — and the DuckDB oracle mirrors
it exactly with chained per-iteration CTEs.  The integer divisions
truncate a little probability mass per hop (as does a dangling node);
that loss is part of the DEFINED semantics here, not an approximation
error, and vanishes as SCALE grows.

Scale shape per iteration: one equi-join of the edge list with the
current rank vector on src (shuffle on node id), one hash aggregation on
dst, one left join back to the node set.  Rank/degree vectors are
node-sized (small side), the edge list is the data — the same shape as
the LSH candidate join.  localCheckpoint per iteration keeps lineage and
codegen bounded (same reasoning as geo.compact_cover).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SCALE = 1_000_000
# pagerank_int broadcasts the node-sized sides at or under this many nodes
BROADCAST_NODES_CAP = 4_000_000


def pagerank_int(
    edges: DataFrame,
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
    dangling: str = "drop",
    deltas_out: list | None = None,
    tol: int | None = None,
) -> DataFrame:
    """edges(src, dst) directed -> (node, rank) after `iters` iterations.

    Every node starts at `scale` units; base = scale*(den-num) div den.
    Nodes = distinct src union dst.  Returns node, rank (bigint,
    fixed-point 1/scale units).

    dangling:
      * 'drop' (default) — dangling nodes keep receiving base but forward
        nothing; their mass is dropped (the classic simple variant).
      * 'redistribute' — each iteration the total dangling mass M is
        split evenly: every node additionally receives M div n_nodes
        inside the damped term.  M and n_nodes ride the plan as one-row
        cross-joined aggregates (broadcast nested loop of a single row),
        so the variant stays fully lazy — no per-iteration driver action
        — and stays integer-exact / CTE-mirrorable (scalar subqueries).

    deltas_out: pass a list to receive the per-iteration L1 rank delta
    sum(|rank_i - rank_{i-1}|) in scale units — ONE extra agg per
    iteration over the node-sized vector (an action, so only pay it when
    asked).  The deltas decay geometrically with the damping factor,
    so `iters` can be chosen from data instead of guessed.

    tol: with deltas enabled (implies the per-iteration agg), stop early
    once the L1 delta <= tol scale units; the returned vector is the
    first one meeting the tolerance.

    Plan: when the node count is at or under BROADCAST_NODES_CAP,
    every node-sized side (rank, degree, the gathered contributions, the
    delta comparison) rides as an explicit broadcast, so the EDGE LIST —
    the data-sized input — is never shuffled: the only exchange per
    iteration is the partially-aggregated groupBy(dst).  The checkpointed
    rank vector is a LogicalRDD whose size estimate defaults to "huge",
    so the planner never picks these broadcasts on its own (measured: 4
    exchanges/iteration un-hinted vs 1 with the cap).  Graphs with more
    nodes than the cap keep the all-shuffle plan, which scales without a
    memory-resident node vector; results are bit-identical either way
    (integer sums are order-independent).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"unknown dangling mode {dangling!r}")
    base = scale * (damping_den - damping_num) // damping_den
    e = edges.select(F.col("src"), F.col("dst")).localCheckpoint(eager=False)
    # node set, out-degree, and the seed rank vector from ONE aggregation
    # (r7): tag each edge endpoint with whether it is the source, sum the
    # tags per node — distinct nodes and out-degrees fall out of the same
    # shuffle, replacing the former distinct + groupBy + left-join
    # prologue (three exchanges + a join) with one exchange.  A node with
    # tag-sum 0 has no out-edges: its deg is NULL, exactly the dangling
    # semantics of the old left join (NULL contributions can never reach
    # the edge join — a dangling node never appears as src).
    rank = (
        e.select(F.col("src").alias("node"), F.lit(1).alias("_s"))
        .unionByName(e.select(F.col("dst").alias("node"),
                              F.lit(0).alias("_s")))
        .groupBy("node")
        .agg(F.sum("_s").alias("_deg0"))
        .select(
            "node", F.lit(scale).cast("long").alias("rank"),
            F.when(F.col("_deg0") > 0, F.col("_deg0")).alias("deg"))
        .localCheckpoint(eager=False)
    )
    n_nodes_df = rank.agg(F.count("*").alias("n_nodes"))
    track = deltas_out is not None or tol is not None
    # node-vector broadcast regime: one count() (materializes the seed
    # checkpoint that every iteration reuses anyway) decides the plan
    bcast = rank.count() <= BROADCAST_NODES_CAP

    def b(df):
        return F.broadcast(df) if bcast else df
    for _ in range(iters):
        # per-edge contribution = floor(src rank / src out-degree);
        # `div` = Spark's INTEGRAL division: bit-exact vs DuckDB `//`
        # (the float `/` operator + cast can round up across the
        # truncation boundary once quotients near 2^53 / half-ulp 0.01)
        contrib = (
            e.join(b(rank.filter(F.col("deg").isNotNull()).select(
                "node", F.expr("rank div deg").alias("c"))),
                F.col("node") == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("arrived"))
        )
        # rank is node-complete by induction (seeded from nodes, rebuilt
        # from it every round), so gathering against rank instead of
        # nodes carries the previous rank along for free — the delta agg
        # below then needs NO extra join
        gathered = rank.withColumnRenamed("rank", "_prev") \
            .join(b(contrib), "node", "left")
        if dangling == "redistribute":
            # one-row aggregates ride the plan via crossJoin (broadcast
            # nested loop of a single row) — lazy, deterministic, integer
            dang_df = (
                rank.filter(F.col("deg").isNull())
                .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long")
                     .alias("dang_mass"))
            )
            gathered = gathered.crossJoin(dang_df).crossJoin(n_nodes_df)
            damped = F.expr(
                f"(({damping_num} * (coalesce(arrived, CAST(0 AS BIGINT))"
                f" + (dang_mass div n_nodes))) div {damping_den})")
        else:
            damped = F.expr(
                f"(({damping_num} * coalesce(arrived, CAST(0 AS BIGINT)))"
                f" div {damping_den})")
        if track:
            step = (
                gathered.select(
                    "node", "_prev", "deg",
                    (F.lit(base) + damped).cast("long").alias("rank"))
                .localCheckpoint(eager=False)
            )
            delta = int(
                step.agg(F.sum(F.abs(F.col("rank") - F.col("_prev"))))
                .first()[0])
            if deltas_out is not None:
                deltas_out.append(delta)
            rank = step.drop("_prev")
            if tol is not None and delta <= tol:
                break
        else:
            rank = (
                gathered.select(
                    "node", "deg",
                    (F.lit(base) + damped).cast("long").alias("rank"))
                .localCheckpoint(eager=False)
            )
    return rank.select("node", "rank")


def pagerank_int_sql(
    edges_cte: str,
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
    dangling: str = "drop",
) -> str:
    """DuckDB mirror: chained per-iteration CTEs over `edges_cte`(src, dst).

    Returns 'cte1 AS (...), ..., cteN AS (...)' plus a final SELECT of
    (node, rank).  Integer ops match pagerank_int exactly: both engines use
    INTEGRAL division (`div` / `//`) on non-negative operands.  The
    dangling='redistribute' variant mirrors the engine's one-row mass
    aggregates as scalar subqueries (per-iteration dangling mass via an
    anti-join on out-degree, split M div n_nodes inside the damped term).
    """
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"unknown dangling mode {dangling!r}")
    base = scale * (damping_den - damping_num) // damping_den
    ctes = [
        f"pr_nodes AS (SELECT DISTINCT node FROM "
        f"(SELECT src AS node FROM {edges_cte} "
        f"UNION ALL SELECT dst FROM {edges_cte}))",
        f"pr_deg AS (SELECT src AS node, count(*) AS deg "
        f"FROM {edges_cte} GROUP BY 1)",
        f"pr_r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank "
        f"FROM pr_nodes)",
    ]
    for i in range(1, iters + 1):
        prev = f"pr_r{i - 1}"
        if dangling == "redistribute":
            recv = (
                f"(COALESCE(s.arrived, 0) + "
                f"(SELECT COALESCE(SUM(r.rank), 0) FROM {prev} r "
                f"LEFT JOIN pr_deg d ON r.node = d.node "
                f"WHERE d.node IS NULL) "
                f"// (SELECT count(*) FROM pr_nodes))")
        else:
            recv = "COALESCE(s.arrived, 0)"
        ctes.append(
            f"pr_r{i} AS (SELECT n.node, CAST({base} + "
            f"({damping_num} * {recv}) // {damping_den} "
            f"AS BIGINT) AS rank "
            f"FROM pr_nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, CAST(SUM(r.rank // d.deg) AS BIGINT) "
            f"AS arrived "
            f"FROM {edges_cte} e "
            f"JOIN {prev} r ON e.src = r.node "
            f"JOIN pr_deg d ON e.src = d.node "
            f"GROUP BY e.dst) s ON n.node = s.node)")
    return (", ".join(ctes)
            + f"\nSELECT node, rank FROM pr_r{iters}")


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle count, degree, and local clustering coefficient
    over an undirected graph (edges may arrive directed/duplicated; they
    are canonicalized first).

    Output: (node, deg, n_tri, cc) for every node with at least one edge,
    cc = 2*n_tri / (deg*(deg-1)) rounded to 6 places (0.0 when deg < 2).

    Scale shape — degree-ordered wedge join (the classic heavy-hitter
    fix, public: Suri & Vassilvitskii 2011): orient every edge from its
    lower-(deg, id) endpoint to the higher one, so each node's out-degree
    is bounded by ~sqrt(|E|) regardless of skew; wedges are one self-join
    of the oriented list on the CENTER node and each triangle is counted
    exactly once at its lowest-ordered corner.  A hot node of degree d no
    longer spawns d^2 wedges — its in-edges don't wedge.  The triangle
    SET is orientation-invariant, so a plain id-ordered SQL oracle
    matches the counts exactly."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    )
    # orient low-(deg, id) -> high-(deg, id)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    ori = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lo_first, F.col("da")).otherwise(F.col("db")).alias("du"),
            F.when(lo_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
    )
    e1 = ori.select("u", F.col("v").alias("w1"),
                    F.col("dv").alias("dw1"))
    e2 = ori.select("u", F.col("v").alias("w2"),
                    F.col("dv").alias("dw2"))
    wedge_lt = (F.col("dw1") < F.col("dw2")) | (
        (F.col("dw1") == F.col("dw2")) & (F.col("w1") < F.col("w2")))
    wedges = e1.join(e2, "u").filter(wedge_lt)
    closing = ori.select(F.col("u").alias("w1"), F.col("v").alias("w2"))
    tri = wedges.join(closing, ["w1", "w2"]).select("u", "w1", "w2")
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("w1").alias("node")))
        .unionAll(tri.select(F.col("w2").alias("node")))
        .groupBy("node").agg(F.count("*").cast("long").alias("n_tri"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node", "deg",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.when(F.col("deg") < 2, F.lit(0.0)).otherwise(
                F.round(2.0 * F.coalesce("n_tri", F.lit(0))
                        / (F.col("deg") * (F.col("deg") - 1.0)), 6)
            ).alias("cc"),
        )
    )


def triangle_counts_sql(edges_cte: str) -> str:
    """DuckDB mirror: plain id-ordered triangle join over `edges_cte`
    (src, dst) — the triangle set is orientation-invariant, so this
    matches the degree-ordered engine plan exactly."""
    return f"""
tc_und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM {edges_cte} WHERE src != dst
), tc_deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM tc_und UNION ALL SELECT b FROM tc_und
  ) GROUP BY node
), tc_tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM tc_und e1
  JOIN tc_und e2 ON e2.a = e1.b
  JOIN tc_und e3 ON e3.a = e1.a AND e3.b = e2.b
), tc_per AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
    SELECT x AS node FROM tc_tri
    UNION ALL SELECT y FROM tc_tri
    UNION ALL SELECT z FROM tc_tri
  ) GROUP BY node
)
SELECT d.node, d.deg, COALESCE(p.n_tri, 0) AS n_tri,
       CASE WHEN d.deg < 2 THEN 0.0
            ELSE round(2.0 * COALESCE(p.n_tri, 0)
                       / (d.deg * (d.deg - 1.0)), 6) END AS cc
FROM tc_deg d LEFT JOIN tc_per p ON p.node = d.node
"""


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
           max_rounds: int = 100) -> DataFrame:
    """k-core of an undirected graph: iteratively peel nodes of degree < k
    until the remainder is stable; output (node, core_deg) for survivors,
    core_deg = degree inside the core (>= k once converged).

    Synchronized-round contract: round i removes ALL nodes whose degree
    within round i-1's survivor set is < k.  The fixpoint is stable under
    further rounds, so early-stopping equals running any larger fixed
    round count — which is what makes a chained-CTE SQL mirror with a
    fixed round budget exact (same trick as pagerank_int_sql).

    Scale shape: each round is one degree aggregation + two left-semi
    joins on the edge list (all key-partitioned on node ids — no
    broadcast of anything growing), a localCheckpoint bounds lineage,
    and the loop exits on the first stable round (one count() action per
    round; rounds needed <= nodes removed + 1, and in practice a
    handful)."""
    und = (
        edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                     F.greatest(F.col(src), F.col(dst)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = und
    prev_nodes = -1
    for _ in range(max_rounds):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionAll(cur.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count("*").cast("long").alias("core_deg"))
        )
        keep = deg.filter(F.col("core_deg") >= k).localCheckpoint(eager=False)
        n = keep.count()
        if n == prev_nodes:
            return keep
        prev_nodes = n
        cur = (
            cur.join(keep.select(F.col("node").alias("a")), "a", "leftsemi")
            .join(keep.select(F.col("node").alias("b")), "b", "leftsemi")
            .localCheckpoint(eager=False)
        )
    # a non-fixpoint result is a silent SUPERSET of the true k-core (long
    # peel chains legitimately need O(n) rounds) — fail loudly instead,
    # matching sssp's convergence-guard contract
    raise RuntimeError(
        f"k_core did not converge within max_rounds={max_rounds}; "
        f"the peel was still removing nodes (last survivor count "
        f"{prev_nodes}).  Raise max_rounds — each round is one degree "
        "aggregation, and rounds needed is bounded by the longest peel "
        "chain, not the node count in practice.")


def k_core_sql(edges_cte: str, k: int, rounds: int) -> str:
    """DuckDB mirror: `rounds` chained peel CTEs over `edges_cte`
    (src, dst).  Exact when the peel converges within `rounds` (the
    engine's fixpoint equals any larger fixed budget).  Every per-round
    CTE is MATERIALIZED — each references its predecessor three times,
    and inlining would re-expand the whole chain exponentially (observed
    as a too-many-open-files blowup on the base parquet scan)."""
    ctes = [
        f"kc_e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
        f"greatest(src, dst) AS b FROM {edges_cte} WHERE src != dst)",
    ]
    for i in range(1, rounds + 1):
        prev = f"kc_e{i - 1}"
        ctes.append(
            f"kc_s{i} AS MATERIALIZED (SELECT node FROM ("
            f"SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}"
            f") GROUP BY node HAVING count(*) >= {k})")
        ctes.append(
            f"kc_e{i} AS MATERIALIZED (SELECT a, b FROM {prev} "
            f"WHERE a IN (SELECT node FROM kc_s{i}) "
            f"AND b IN (SELECT node FROM kc_s{i}))")
    last = f"kc_e{rounds}"
    return (", ".join(ctes) + f"""
SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM (
  SELECT a AS node FROM {last} UNION ALL SELECT b FROM {last}
) GROUP BY node""")


def bfs_hops(edges: DataFrame, seeds: DataFrame,
             max_hops: int = 10) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed, capped at
    ``max_hops``.  ``edges`` (src, dst) directed; ``seeds`` one column
    ``node``.  Output: (node, hops) for every reached node (seeds at 0,
    whether or not they appear in the edge list).

    Level-synchronous frontier expansion — the textbook distributed BFS:
    each round is ONE equi-join of the current frontier against the edge
    list (shuffle on src) plus one anti-join against the visited set, so
    round cost is O(frontier-adjacent edges), not O(all edges).  The
    visited set is localCheckpoint-ed per round to keep lineage bounded
    (same discipline as pagerank_int); the loop stops early when a
    frontier comes back empty — hop counts are integers, so the result is
    bit-exact at any parallelism.

    DuckDB mirror: bfs_hops_sql (a recursive CTE whose UNION dedup plays
    the visited-set role).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = (edges.select(F.col("src"), F.col("dst"))
         .filter(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=False))
    frontier = (seeds.select(F.col("node")).distinct()
                .localCheckpoint(eager=False))
    visited = frontier.select("node", F.lit(0).cast("int").alias("hops"))
    for i in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier["node"] == e["src"])
               .select(F.col("dst").alias("node"))
               .distinct()
               .join(visited.select("node"), ["node"], "left_anti")
               .localCheckpoint(eager=False))
        if nxt.isEmpty():
            break
        visited = (visited
                   .unionByName(nxt.select(
                       "node", F.lit(i).cast("int").alias("hops")))
                   .localCheckpoint(eager=False))
        frontier = nxt
    return visited


def bfs_hops_sql(edges_cte: str, seeds_cte: str, max_hops: int) -> str:
    """DuckDB mirror of bfs_hops: recursive CTE over ``edges_cte``
    (src, dst) from ``seeds_cte`` (node).  The UNION (distinct) dedups
    (node, d) pairs so the recursion terminates at the d < max_hops
    bound; min(d) per node is the BFS distance."""
    return f"""bfs_walk(node, d) AS (
  SELECT node, 0 FROM {seeds_cte}
  UNION
  SELECT e.dst, w.d + 1
  FROM bfs_walk w JOIN {edges_cte} e ON e.src = w.node AND e.src != e.dst
  WHERE w.d < {max_hops}
)
SELECT node, CAST(min(d) AS INT) AS hops FROM bfs_walk GROUP BY node"""


def sssp(edges: DataFrame, seeds: DataFrame, max_dist: int,
         max_rounds: int = 256) -> DataFrame:
    """Multi-seed single-source shortest paths over positive integer
    edge weights, capped at total distance ``max_dist``.  ``edges``
    (src, dst, w) directed with w >= 1; ``seeds`` one column ``node``.
    Output: (node, dist) for every node whose shortest distance from any
    seed is <= max_dist (seeds at 0).

    Distributed Bellman-Ford with frontier pruning — each round relaxes
    ONLY the edges out of nodes improved last round: one frontier-edges
    equi-join (shuffle on src), a map-side-combinable min-agg, and one
    join against the current distance table to keep strict improvements.
    Round cost is O(frontier-adjacent edges), not O(all edges); the
    distance table is localCheckpoint-ed per round to bound lineage
    (same discipline as bfs_hops/pagerank_int).  Distances are integers,
    so the fixed point is bit-exact at any parallelism; the loop stops
    when a round improves nothing, which is guaranteed within
    max_dist/min(w) rounds by the cap.

    The cap is part of the CONTRACT, not just a bound: nodes farther
    than max_dist are absent from the output, which is what makes the
    recursive-CTE mirror (sssp_sql) terminate — every recursive step
    grows d by >= 1, so walk depth <= max_dist.

    Parallel (src, dst) duplicates are collapsed to their min weight;
    self-loops and non-positive weights are rejected rows (w < 1 raises
    — silent dropping would hide a modelling bug).
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    # The w >= 1 guard rides the consumed weight expression (no extra
    # eager scan of a possibly-huge edge list, and Catalyst cannot
    # prune it away because w feeds the relaxation arithmetic).
    w_checked = F.when(
        (F.col("w").cast("long") >= 1)
        & (F.col("w").cast("double")
           == F.col("w").cast("long").cast("double")),
        F.col("w").cast("long")
    ).otherwise(F.raise_error(F.concat(
        F.lit("sssp requires positive integer weights; got w="),
        F.col("w").cast("string"))))
    e = (edges.select("src", "dst", w_checked.alias("w"))
         .filter(F.col("src") != F.col("dst")))
    e = (e.filter(F.col("w") <= max_dist)
         .groupBy("src", "dst").agg(F.min("w").alias("w"))
         .localCheckpoint(eager=False))
    dist = (seeds.select(F.col("node")).distinct()
            .select("node", F.lit(0).cast("long").alias("dist"))
            .localCheckpoint(eager=False))
    frontier = dist
    converged = False
    # max_rounds bounds the IMPROVING rounds; the +1 is the confirming
    # round that observes an empty improvement set, so a graph needing
    # exactly max_rounds rounds converges instead of spuriously raising
    for _ in range(max_rounds + 1):
        cand = (frontier.join(e, frontier["node"] == e["src"])
                .select(F.col("dst").alias("node"),
                        (F.col("dist") + F.col("w")).alias("d"))
                .filter(F.col("d") <= max_dist)
                .groupBy("node").agg(F.min("d").alias("d")))
        improved = (cand.join(dist, ["node"], "left")
                    .filter(F.col("dist").isNull()
                            | (F.col("d") < F.col("dist")))
                    .select("node", F.col("d").alias("dist"))
                    .localCheckpoint(eager=False))
        if improved.isEmpty():
            converged = True
            break
        dist = (dist.join(improved.select("node"), ["node"], "left_anti")
                .unionByName(improved)
                .localCheckpoint(eager=False))
        frontier = improved
    if not converged:
        # returning unconverged distances would silently violate the
        # output contract (missing / stale-larger entries)
        raise RuntimeError(
            f"sssp did not reach its fixed point within max_rounds="
            f"{max_rounds}; raise max_rounds (<= max_dist rounds always "
            "suffice for w >= 1)")
    return dist


def sssp_sql(edges_cte: str, seeds_cte: str, max_dist: int) -> str:
    """DuckDB mirror of sssp: recursive CTE over ``edges_cte``
    (src, dst, w) from ``seeds_cte`` (node), pruned to cumulative
    distance <= max_dist BEFORE emitting (so the walk set is exactly
    the capped path set and min(d) per node is the capped shortest
    distance).  Terminates because w >= 1 bounds depth at max_dist and
    the UNION dedups (node, d) pairs."""
    return f"""sssp_walk(node, d) AS (
  SELECT node, CAST(0 AS BIGINT) FROM {seeds_cte}
  UNION
  SELECT e.dst, w.d + e.w
  FROM sssp_walk w JOIN {edges_cte} e ON e.src = w.node AND e.src != e.dst
  WHERE w.d + e.w <= {max_dist}
)
SELECT node, min(d) AS dist FROM sssp_walk GROUP BY node"""


def pagerank_weighted(
    edges: DataFrame,
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
) -> DataFrame:
    """Weighted PageRank: edges(src, dst, w) with positive integer
    weights — each node splits its rank across out-edges PROPORTIONALLY
    to weight instead of evenly: per-edge contribution =
    (rank * w) div sum_w(src), everything else as pagerank_int's 'drop'
    mode (base + damped arrivals, integer fixed point, bit-exact at any
    parallelism, chained-CTE mirrorable via pagerank_weighted_sql).

    Parallel (src, dst) rows are independent edges (their truncated
    contributions add; NOT identical to one merged-weight edge — the
    defined semantics is per edge row, and the mirror does the same).
    Overflow bound: rank * w must stay under 2^63; rank <= n_nodes *
    scale, so with the default scale=1e6 any w <= ~9e18 / (n * 1e6) is
    safe.  Past the bound the engine THROWS (ArithmeticException) —
    pinned by test — because the project sessions run Spark 4's
    default ANSI mode; on an ANSI-off deployment the caller must keep
    within the bound (document-checked, not silently wrapped, ONLY
    under ANSI).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    base = scale * (damping_den - damping_num) // damping_den
    w_checked = F.when(
        (F.col("w").cast("long") >= 1)
        & (F.col("w").cast("double")
           == F.col("w").cast("long").cast("double")),
        F.col("w").cast("long")
    ).otherwise(F.raise_error(F.concat(
        F.lit("pagerank_weighted requires positive integer weights; "
              "got w="), F.col("w").cast("string"))))
    e = (edges.select("src", "dst", w_checked.alias("w"))
         .localCheckpoint(eager=False))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    wsum = e.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("wsum"))
    # (w, wsum) are loop-invariant: join them onto the edge list ONCE so
    # each iteration is one rank-to-edges join + one agg, same shape as
    # pagerank_int (the per-iteration wsum join the first cut had was a
    # review finding)
    e_w = (e.join(wsum, e["src"] == wsum["node"])
           .select("src", "dst", "w", "wsum")
           .localCheckpoint(eager=False))
    rank = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iters):
        contrib = (
            rank.join(e_w, rank["node"] == e_w["src"])
            .select(F.col("dst").alias("node"),
                    F.expr("(rank * w) div wsum").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("arrived"))
        )
        damped = F.expr(
            f"(({damping_num} * coalesce(arrived, CAST(0 AS BIGINT)))"
            f" div {damping_den})")
        rank = (
            nodes.join(contrib, "node", "left")
            .select("node", (F.lit(base) + damped).cast("long").alias("rank"))
            .localCheckpoint(eager=False)
        )
    return rank


def pagerank_weighted_sql(
    edges_cte: str,
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = SCALE,
) -> str:
    """DuckDB mirror of pagerank_weighted over `edges_cte`(src, dst, w):
    chained per-iteration CTEs, INTEGRAL `//` division on non-negative
    operands matching Spark's `div` bit-for-bit."""
    base = scale * (damping_den - damping_num) // damping_den
    ctes = [
        f"prw_nodes AS (SELECT DISTINCT node FROM "
        f"(SELECT src AS node FROM {edges_cte} "
        f"UNION ALL SELECT dst FROM {edges_cte}))",
        f"prw_wsum AS (SELECT src AS node, SUM(w) AS wsum "
        f"FROM {edges_cte} GROUP BY 1)",
        f"prw_r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank "
        f"FROM prw_nodes)",
    ]
    for i in range(1, iters + 1):
        prev = f"prw_r{i - 1}"
        ctes.append(
            f"prw_r{i} AS (SELECT n.node, CAST({base} + "
            f"(({damping_num} * COALESCE(s.arrived, 0)) // {damping_den})"
            f" AS BIGINT) AS rank FROM prw_nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, SUM((r.rank * e.w) // ws.wsum) AS arrived"
            f" FROM {prev} r JOIN prw_wsum ws ON r.node = ws.node"
            f" JOIN {edges_cte} e ON e.src = r.node"
            f" GROUP BY 1) s ON n.node = s.node)")
    return (", ".join(ctes)
            + f" SELECT node, rank FROM prw_r{iters}")


def label_propagation(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Synchronous label propagation communities over an UNDIRECTED view
    of edges(src, dst): every node starts as its own label; each
    iteration every node adopts the most frequent label among its
    neighbors, ties broken toward the SMALLEST label — a deterministic
    total order, so unlike classic randomized LPA the result is
    bit-identical at any parallelism and mirrorable in plain python.
    Fixed `iters` sweeps (synchronous LPA need not converge — it can
    two-cycle on bipartite-ish structure — so a fixed sweep count IS
    the contract, not a truncation).

    Per iteration: one labels-to-edges equi-join, one (node, label)
    count agg, one per-node max + join + min — all hash shuffles on
    node-sized or edge-sized keys, localCheckpoint per round.  Isolated
    labels never move; nodes keep their own label only when they have
    no neighbors (mode-of-neighbors excludes self).

    Output: (node, label) — community id = the label that survived.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    d = (edges.select("src", "dst")
         .filter(F.col("src") != F.col("dst")))
    und = (d.unionByName(d.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
           .distinct().localCheckpoint(eager=False))
    nodes = und.select(F.col("src").alias("node")).distinct() \
        .localCheckpoint(eager=False)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        # neighbor label histogram: label of src arrives at dst
        hist = (labels.join(und, labels["node"] == und["src"])
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count("*").alias("n")))
        top = hist.groupBy("node").agg(F.max("n").alias("mx"))
        pick = (hist.join(top, "node")
                .filter(F.col("n") == F.col("mx"))
                .groupBy("node").agg(F.min("label").alias("new_label")))
        labels = (labels.join(pick, "node", "left")
                  .select("node",
                          F.coalesce("new_label", "label").alias("label"))
                  .localCheckpoint(eager=False))
    return labels


def label_propagation_sql(edges_cte: str, iters: int) -> str:
    """DuckDB mirror of label_propagation over `edges_cte`(src, dst):
    chained per-iteration CTEs (the fixed-sweep contract makes a fixed
    chain exact, same trick as pagerank_weighted_sql); every CTE is
    MATERIALIZED because each level is referenced multiple times (the
    k_core_sql inlining-blowup lesson)."""
    ctes = [
        f"lp_und AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        f"SELECT src, dst FROM {edges_cte} WHERE src != dst "
        f"UNION ALL SELECT dst AS src, src AS dst FROM {edges_cte} "
        f"WHERE src != dst))",
        "lp_l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label "
        "FROM lp_und)",
    ]
    for i in range(1, iters + 1):
        prev = f"lp_l{i - 1}"
        ctes.append(
            f"lp_h{i} AS MATERIALIZED (SELECT u.dst AS node, l.label, "
            f"count(*) AS n FROM {prev} l JOIN lp_und u ON l.node = u.src "
            f"GROUP BY 1, 2)")
        ctes.append(
            f"lp_p{i} AS MATERIALIZED (SELECT node, min(label) AS new_label "
            f"FROM (SELECT node, label, n, max(n) OVER (PARTITION BY node) "
            f"AS mx FROM lp_h{i}) WHERE n = mx GROUP BY node)")
        ctes.append(
            f"lp_l{i} AS MATERIALIZED (SELECT l.node, "
            f"COALESCE(p.new_label, l.label) AS label "
            f"FROM {prev} l LEFT JOIN lp_p{i} p USING (node))")
    return ", ".join(ctes) + f" SELECT node, label FROM lp_l{iters}"
