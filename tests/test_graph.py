"""Integer-exact PageRank vs a pure-python fixed-point mirror."""

import numpy as np

from tree_code_chunker_spark.operators.graph import (
    SCALE,
    pagerank_int,
    pagerank_int_sql,
)


def _pagerank_py(edges, iters=5, num=85, den=100, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    base = scale * (den - num) // den
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        arrived = {}
        for s, d in edges:
            arrived[d] = arrived.get(d, 0) + rank[s] // deg[s]
        rank = {n: base + num * arrived.get(n, 0) // den for n in nodes}
    return rank


def _rand_edges(rng, n_nodes=40, n_edges=200):
    out = set()
    while len(out) < n_edges:
        s, d = int(rng.randint(0, n_nodes)), int(rng.randint(0, n_nodes))
        if s != d:
            out.add((s, d))
    return sorted(out)


def test_pagerank_vs_python_and_parallelism(spark):
    rng = np.random.RandomState(61)
    edges = _rand_edges(rng)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.rank for r in pagerank_int(df, iters=5).collect()}
    want = _pagerank_py(edges, iters=5)
    assert got == want
    rp = {r.node: r.rank
          for r in pagerank_int(df.repartition(13), iters=5).collect()}
    assert rp == want  # integer sums: bit-exact at any parallelism


def test_pagerank_duckdb_mirror(spark):
    import duckdb

    rng = np.random.RandomState(67)
    edges = _rand_edges(rng, n_nodes=25, n_edges=90)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = sorted((r.node, r.rank)
                 for r in pagerank_int(df, iters=4).collect())
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    sql = (f"WITH e(src, dst) AS (VALUES {vals}), "
           + pagerank_int_sql("e", iters=4))
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def test_pagerank_over_cap_shuffle_plan_matches(spark, monkeypatch):
    """Above BROADCAST_NODES_CAP no node-sized side is broadcast: same
    ranks as the broadcast plan and as pagerank_int_sql in DuckDB."""
    import duckdb
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators import graph

    rng = np.random.RandomState(71)
    edges = _rand_edges(rng, n_nodes=30, n_edges=120)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    real, hinted = F.broadcast, []
    monkeypatch.setattr(F, "broadcast", lambda d: hinted.append(d) or real(d))

    def ranks():
        hinted.clear()
        return sorted(map(tuple, pagerank_int(df, iters=4).collect()))

    broadcast = ranks()
    assert hinted
    monkeypatch.setattr(graph, "BROADCAST_NODES_CAP", 0)
    shuffled = ranks()
    assert not hinted
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    sql = (f"WITH e(src, dst) AS (VALUES {vals}), "
           + pagerank_int_sql("e", iters=4))
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert shuffled == broadcast == want


def test_pagerank_sink_concentrates_rank(spark):
    # star graph: every spoke points at the hub -> hub rank dominates
    edges = [(i, 99) for i in range(1, 20)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.rank for r in pagerank_int(df, iters=5).collect()}
    hub = got[99]
    assert all(hub > v for n, v in got.items() if n != 99)
    # spokes have no in-edges: rank = base every iteration
    assert got[1] == SCALE * 15 // 100


def _pagerank_py_dangling(edges, iters=5, num=85, den=100, scale=SCALE):
    """Python mirror of dangling='redistribute' (integer semantics)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    base = scale * (den - num) // den
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        arrived = {}
        for s, d in edges:
            arrived[d] = arrived.get(d, 0) + rank[s] // deg[s]
        mass = sum(rank[n] for n in nodes if n not in deg)
        share = mass // len(nodes)
        rank = {n: base + num * (arrived.get(n, 0) + share) // den
                for n in nodes}
    return rank


def test_pagerank_deltas_monotone(spark):
    """L1 rank deltas decay geometrically with damping — the telemetry a
    user reads to choose `iters` from data."""
    rng = np.random.RandomState(71)
    edges = _rand_edges(rng, n_nodes=30, n_edges=150)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    deltas = []
    pagerank_int(df, iters=6, deltas_out=deltas).collect()
    assert len(deltas) == 6
    assert deltas[0] > 0
    assert all(deltas[i + 1] <= deltas[i] for i in range(5))
    assert deltas[5] < deltas[0] // 4  # geometric decay, not a plateau


def test_pagerank_tol_early_stop(spark):
    rng = np.random.RandomState(73)
    edges = _rand_edges(rng, n_nodes=20, n_edges=80)
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    deltas = []
    out = pagerank_int(df, iters=50, tol=10_000, deltas_out=deltas)
    got = {r.node: r.rank for r in out.collect()}
    assert len(deltas) < 50  # converged early
    assert deltas[-1] <= 10_000 and all(d > 10_000 for d in deltas[:-1])
    # the returned vector is exactly the len(deltas)-iteration result
    want = _pagerank_py(edges, iters=len(deltas))
    assert got == want


def test_pagerank_dangling_redistribute_vs_python(spark):
    # chain + star with true sinks: nodes with no out-edges hold mass
    edges = [(1, 2), (2, 3), (1, 3), (4, 3), (5, 1), (5, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.rank
           for r in pagerank_int(df, iters=5,
                                 dangling="redistribute").collect()}
    assert got == _pagerank_py_dangling(edges, iters=5)
    # redistribution conserves the dangling mass the drop variant loses
    drop = {r.node: r.rank for r in pagerank_int(df, iters=5).collect()}
    assert sum(got.values()) > sum(drop.values())


def test_pagerank_dangling_noop_without_sinks(spark):
    # symmetric edges -> every node has out-degree >= 1 -> zero dangling
    # mass -> redistribute == drop bit-for-bit
    base = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4)]
    edges = base + [(d, s) for s, d in base]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    a = sorted(map(tuple, pagerank_int(df, iters=4).collect()))
    b = sorted(map(tuple, pagerank_int(
        df, iters=4, dangling="redistribute").collect()))
    assert a == b


def test_pagerank_dangling_duckdb_mirror(spark):
    import duckdb

    rng = np.random.RandomState(79)
    # asymmetric random edges (keep src < dst) -> guaranteed sinks
    edges = sorted({(s, d) if s < d else (d, s)
                    for s, d in _rand_edges(rng, n_nodes=25, n_edges=90)})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = sorted((r.node, r.rank)
                 for r in pagerank_int(
                     df, iters=4, dangling="redistribute").collect())
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    sql = (f"WITH e(src, dst) AS (VALUES {vals}), "
           + pagerank_int_sql("e", iters=4, dangling="redistribute"))
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def test_triangle_counts_hand_fixture(spark):
    """K4 + a triangle-free path, with duplicated/reversed/self-loop edge
    noise: per-node triangle counts and clustering coefficients are exact,
    and the degree-ordered wedge orientation changes nothing."""
    from tree_code_chunker_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    edges = k4 + [(b, a) for a, b in k4]          # reversed duplicates
    edges += [(5, 6), (6, 7), (6, 5), (8, 8)]     # path + self-loop
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["deg"], r["n_tri"], r["cc"])
           for r in triangle_counts(df).collect()}
    assert got == {
        1: (3, 3, 1.0), 2: (3, 3, 1.0), 3: (3, 3, 1.0), 4: (3, 3, 1.0),
        5: (1, 0, 0.0), 6: (2, 0, 0.0), 7: (1, 0, 0.0),
    }


def test_k_core_cascade_and_empty(spark):
    """k=2 core: a tail peels in cascade (removing its tip drops the next
    node below k), leaving the triangle; a pure path peels to nothing."""
    from tree_code_chunker_spark.operators.graph import k_core

    tri_tail = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(tri_tail, "src long, dst long")
    got = {r["node"]: r["core_deg"] for r in k_core(df, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}

    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                 "src long, dst long")
    assert k_core(path, 2).count() == 0


# --- bfs_hops ---

from tree_code_chunker_spark.operators.graph import bfs_hops, bfs_hops_sql


def _mk_edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_bfs_chain_and_disconnected(spark):
    # 0-1-2-3 chain (directed both ways) plus isolated component 10-11
    pairs = [(a, b) for a, b in [(0, 1), (1, 2), (2, 3), (10, 11)]]
    pairs += [(b, a) for a, b in pairs]
    seeds = spark.createDataFrame([(0,), (99,)], "node long")
    out = {r.node: r.hops for r in
           bfs_hops(_mk_edges(spark, pairs), seeds, max_hops=10).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 99: 0}  # 99 isolated seed at 0
    assert 10 not in out and 11 not in out


def test_bfs_max_hops_cap_and_min_distance(spark):
    # two routes to node 3: long chain 0-1-2-3 and shortcut 0-3
    pairs = [(0, 1), (1, 2), (2, 3), (0, 3)]
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r.node: r.hops for r in
           bfs_hops(_mk_edges(spark, pairs), seeds, max_hops=1).collect()}
    assert out == {0: 0, 1: 1, 3: 1}               # min distance, capped
    assert 2 not in out


def test_bfs_matches_duckdb_recursive(spark):
    import duckdb
    import random
    rng = random.Random(7)
    pairs = sorted({(rng.randrange(30), rng.randrange(30))
                    for _ in range(120)})
    seeds = [(0,), (7,)]
    got = sorted((r.node, r.hops) for r in bfs_hops(
        _mk_edges(spark, pairs),
        spark.createDataFrame(seeds, "node long"), max_hops=5).collect())
    ev = ", ".join(f"({a}, {b})" for a, b in pairs)
    sql = ("WITH RECURSIVE e(src, dst) AS (VALUES " + ev + "), "
           "s(node) AS (VALUES (0), (7)), "
           + bfs_hops_sql("e", "s", 5))
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


from tree_code_chunker_spark.operators.graph import sssp, sssp_sql


def _mk_wedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, w long")


def _dijkstra_py(triples, seeds, cap):
    import heapq
    adj = {}
    for s, d, w in triples:
        if s != d and 1 <= w <= cap:
            cur = adj.setdefault(s, {})
            cur[d] = min(cur.get(d, cap + 1), w)
    dist = {}
    heap = [(0, s) for s in seeds]
    heapq.heapify(heap)
    while heap:
        d, n = heapq.heappop(heap)
        if n in dist:
            continue
        dist[n] = d
        for m, w in adj.get(n, {}).items():
            if m not in dist and d + w <= cap:
                heapq.heappush(heap, (d + w, m))
    return dist


def test_sssp_vs_python_dijkstra(spark):
    import random
    rng = random.Random(13)
    triples = sorted({(rng.randrange(40), rng.randrange(40),
                       rng.randrange(1, 10)) for _ in range(200)})
    seeds = [0, 9]
    got = {r.node: r.dist for r in sssp(
        _mk_wedges(spark, triples),
        spark.createDataFrame([(s,) for s in seeds], "node long"),
        max_dist=12).collect()}
    assert got == _dijkstra_py(triples, seeds, 12)


def test_sssp_parallel_edges_cap_and_isolated_seed(spark):
    # parallel edges 0->1 of weight 9 and 2: min wins; chain 1->2 puts
    # node 2 at 5; node 3 costs 105 — outside the cap, absent; seed 99
    # isolated at 0
    triples = [(0, 1, 9), (0, 1, 2), (1, 2, 3), (2, 3, 100)]
    seeds = spark.createDataFrame([(0,), (99,)], "node long")
    got = {r.node: r.dist for r in
           sssp(_mk_wedges(spark, triples), seeds, max_dist=10).collect()}
    assert got == {0: 0, 1: 2, 2: 5, 99: 0}
    # widen the cap and the far node appears with the exact distance
    got2 = {r.node: r.dist for r in
            sssp(_mk_wedges(spark, triples), seeds, max_dist=200).collect()}
    assert got2[3] == 105


def test_sssp_relaxation_beats_greedy_first_path(spark):
    # the 1-hop path 0->2 (w=9) must lose to the 2-hop 0->1->2 (w=2+2)
    triples = [(0, 2, 9), (0, 1, 2), (1, 2, 2)]
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.dist for r in
           sssp(_mk_wedges(spark, triples), seeds, max_dist=20).collect()}
    assert got == {0: 0, 1: 2, 2: 4}


def test_sssp_nonpositive_weight_raises(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    triples = [(0, 1, 2), (1, 2, 0)]
    seeds = spark.createDataFrame([(0,)], "node long")
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception),
                       match="positive integer weights"):
        sssp(_mk_wedges(spark, triples), seeds, max_dist=10).collect()


def test_sssp_matches_duckdb_recursive(spark):
    import duckdb
    import random
    rng = random.Random(29)
    triples = sorted({(rng.randrange(25), rng.randrange(25),
                       rng.randrange(1, 8)) for _ in range(100)})
    got = sorted((r.node, r.dist) for r in sssp(
        _mk_wedges(spark, triples),
        spark.createDataFrame([(0,), (5,)], "node long"),
        max_dist=15).collect())
    ev = ", ".join(f"({a}, {b}, {w})" for a, b, w in triples)
    sql = ("WITH RECURSIVE e(src, dst, w) AS (VALUES " + ev + "), "
           "s(node) AS (VALUES (0), (5)), "
           + sssp_sql("e", "s", 15))
    want = sorted((int(n), int(d)) for n, d in
                  duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_sssp_deterministic_across_parallelism(spark):
    import random
    rng = random.Random(31)
    triples = sorted({(rng.randrange(40), rng.randrange(40),
                       rng.randrange(1, 10)) for _ in range(200)})
    seeds = spark.createDataFrame([(0,)], "node long")
    outs = []
    for nparts in (1, 7):
        e = _mk_wedges(spark, triples).repartition(nparts)
        outs.append(sorted((r.node, r.dist) for r in
                           sssp(e, seeds, max_dist=14).collect()))
    assert outs[0] == outs[1]


def test_sssp_raises_when_rounds_exhausted(spark):
    import pytest
    # a 12-hop unit chain cannot converge in 5 rounds; silent truncation
    # would return a partial frontier as if it were the answer
    triples = [(i, i + 1, 1) for i in range(12)]
    seeds = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(RuntimeError, match="max_rounds"):
        sssp(_mk_wedges(spark, triples), seeds, max_dist=12, max_rounds=5)
    # enough rounds: full chain, exact distances
    got = {r.node: r.dist for r in
           sssp(_mk_wedges(spark, triples), seeds,
                max_dist=12, max_rounds=12).collect()}
    assert got == {i: i for i in range(13)}


from tree_code_chunker_spark.operators.graph import (  # noqa: E402
    pagerank_weighted,
    pagerank_weighted_sql,
)


def _pagerank_weighted_py(triples, iters=5, num=85, den=100, scale=SCALE):
    nodes = sorted({s for s, _, _ in triples} | {d for _, d, _ in triples})
    wsum = {}
    for s, _, w in triples:
        wsum[s] = wsum.get(s, 0) + w
    base = scale * (den - num) // den
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        arrived = {}
        for s, d, w in triples:
            arrived[d] = arrived.get(d, 0) + (rank[s] * w) // wsum[s]
        rank = {n: base + num * arrived.get(n, 0) // den for n in nodes}
    return rank


def _rand_wedges(rng, n_nodes=40, n_edges=200, wmax=9):
    out = {}
    while len(out) < n_edges:
        s, d = int(rng.randint(0, n_nodes)), int(rng.randint(0, n_nodes))
        if s != d:
            out[(s, d)] = int(rng.randint(1, wmax + 1))
    return sorted((s, d, w) for (s, d), w in out.items())


def test_pagerank_weighted_vs_python_and_parallelism(spark):
    import numpy as np
    rng = np.random.RandomState(67)
    triples = _rand_wedges(rng)
    df = spark.createDataFrame(triples, "src bigint, dst bigint, w bigint")
    want = _pagerank_weighted_py(triples)
    for nparts in (1, 7):
        got = {r.node: r.rank for r in
               pagerank_weighted(df.repartition(nparts)).collect()}
        assert got == want
    # all weight on one edge == that edge gets the full uniform share
    tri2 = [(0, 1, 1000000), (0, 2, 1)]
    got2 = {r.node: r.rank for r in pagerank_weighted(
        spark.createDataFrame(tri2, "src bigint, dst bigint, w bigint"),
        iters=1).collect()}
    assert got2[1] > got2[2]


def test_pagerank_weighted_duckdb_mirror(spark):
    import duckdb
    import numpy as np
    rng = np.random.RandomState(71)
    triples = _rand_wedges(rng, n_nodes=25, n_edges=100)
    df = spark.createDataFrame(triples, "src bigint, dst bigint, w bigint")
    got = sorted((r.node, r.rank)
                 for r in pagerank_weighted(df, iters=4).collect())
    ev = ", ".join(f"({s}, {d}, {w})" for s, d, w in triples)
    sql = ("WITH e(src, dst, w) AS (VALUES " + ev + "), "
           + pagerank_weighted_sql("e", iters=4))
    want = sorted((int(n), int(r)) for n, r in
                  duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_pagerank_weighted_rejects_bad_weights(spark):
    import pytest
    df = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 0)], "src bigint, dst bigint, w bigint")
    with pytest.raises(Exception, match="positive integer weights"):
        pagerank_weighted(df, iters=1).collect()


def test_weighted_ops_reject_fractional_weights(spark):
    import pytest
    frac = spark.createDataFrame(
        [(0, 1, 2.7), (1, 2, 1.0)], "src bigint, dst bigint, w double")
    with pytest.raises(Exception, match="positive integer weights"):
        pagerank_weighted(frac, iters=1).collect()
    seeds = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(Exception, match="positive integer weights"):
        sssp(frac, seeds, max_dist=10).collect()
    # integral doubles are fine
    ok = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0)], "src bigint, dst bigint, w double")
    assert pagerank_weighted(ok, iters=1).count() == 3
    assert sssp(ok, seeds, max_dist=10).count() == 3


def test_pagerank_weighted_overflow_throws_not_wraps(spark):
    import pytest
    # rank * w past 2^63 must THROW under the project's ANSI sessions,
    # never wrap silently (the docstring's overflow contract)
    big = spark.createDataFrame(
        [(0, 1, 9_000_000_000_000_000)], "src bigint, dst bigint, w bigint")
    with pytest.raises(Exception, match="(?i)overflow|arithmetic"):
        pagerank_weighted(big, iters=1).collect()


from tree_code_chunker_spark.operators.graph import label_propagation  # noqa: E402


def _lpa_py(pairs, iters):
    und = set()
    for s, d in pairs:
        if s != d:
            und.add((s, d)); und.add((d, s))
    nodes = sorted({s for s, _ in und} | {d for _, d in und})
    adj = {}
    for s, d in und:
        adj.setdefault(d, []).append(s)
    lab = {n: n for n in nodes}
    for _ in range(iters):
        new = {}
        for n in nodes:
            cnt = {}
            for m in adj.get(n, []):
                cnt[lab[m]] = cnt.get(lab[m], 0) + 1
            if cnt:
                mx = max(cnt.values())
                new[n] = min(l for l, c in cnt.items() if c == mx)
            else:
                new[n] = lab[n]
        lab = new
    return lab


def test_label_propagation_two_cliques_and_python_mirror(spark):
    # two 4-cliques joined by one bridge edge: LPA should give each
    # clique one label (the clique minimum)
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    pairs = c1 + c2 + [(3, 10)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, iters=5).collect()}
    assert got == _lpa_py(pairs, 5)
    assert len({got[n] for n in range(4)}) == 1
    assert len({got[n] for n in range(10, 14)}) == 1


def test_label_propagation_random_mirror_and_parallelism(spark):
    import random
    rng = random.Random(17)
    pairs = sorted({(rng.randrange(30), rng.randrange(30))
                    for _ in range(90)})
    df = spark.createDataFrame(pairs, "src long, dst long")
    want = _lpa_py(pairs, 4)
    for nparts in (1, 7):
        got = {r.node: r.label for r in
               label_propagation(df.repartition(nparts), iters=4).collect()}
        assert got == want


def test_k_core_raises_on_round_exhaustion(spark):
    """ADVICE r5 (medium): exhausting max_rounds used to silently return a
    non-fixpoint SUPERSET of the true core; it must raise instead (the
    sssp convergence-guard contract)."""
    import pytest as _pytest

    from tree_code_chunker_spark.operators.graph import k_core

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(24)], "src long, dst long")
    # a 25-node path peels 2 ends per round: needs ~12 rounds for k=2
    with _pytest.raises(RuntimeError, match="did not converge"):
        k_core(path, 2, max_rounds=3).collect()
    # and with enough rounds the same graph converges to the empty core
    assert k_core(path, 2, max_rounds=100).count() == 0
