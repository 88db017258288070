"""kNN: vectorized radius planning, the one-job mapInPandas ranking on
small and >=1e5-query probe sets, the fine tier, and self-join kNN (the
2-D generalization of reference getSiblings, codechunk.go:653-689).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tree_code_chunker_spark.config import GRID_BITS
from tree_code_chunker_spark.operators.geo import derive_point_cols
from tree_code_chunker_spark.operators import knn
from tree_code_chunker_spark.operators.knn import (
    KnnIndex, knn_bruteforce, knn_ring, knn_self_join, plan_radii_dcap_np,
)


def _plan_radii_loop(sat, qlat, qlon, res_hist, res, k):
    """Scalar reference implementation (per-query Python binary search) —
    kept here as the golden for the vectorized kernel.  r7: d_max is the
    exact probe-to-clamped-box-corner distance (integer isqrt + 1), the
    per-probe tightening of the old worst-case sqrt(2) inflation."""
    import math

    n = 1 << res_hist
    s_hist = 1 << (GRID_BITS - res_hist)
    s_res = 1 << (GRID_BITS - res)
    grid_cap = 1 << res

    def disk_count(hy, hx, rho):
        y0, y1 = max(hy - rho, 0), min(hy + rho, n - 1)
        x0, x1 = max(hx - rho, 0), min(hx + rho, n - 1)
        return (sat[y1 + 1, x1 + 1] - sat[y0, x1 + 1]
                - sat[y1 + 1, x0] + sat[y0, x0])

    out = np.empty(len(qlat), dtype=np.int32)
    for i in range(len(qlat)):
        py, px = int(qlat[i]), int(qlon[i])
        hy = py >> (GRID_BITS - res_hist)
        hx = px >> (GRID_BITS - res_hist)
        lo, hi = 0, n
        if disk_count(hy, hx, hi) < k:
            out[i] = grid_cap
            continue
        while lo < hi:
            mid = (lo + hi) // 2
            if disk_count(hy, hx, mid) >= k:
                hi = mid
            else:
                lo = mid + 1
        rho_hit = lo
        y0c, y1c = max(hy - rho_hit, 0) * s_hist, \
            (min(hy + rho_hit, n - 1) + 1) * s_hist - 1
        x0c, x1c = max(hx - rho_hit, 0) * s_hist, \
            (min(hx + rho_hit, n - 1) + 1) * s_hist - 1
        dy = max(py - y0c, y1c - py)
        dx = max(px - x0c, x1c - px)
        d_max = math.isqrt(dy * dy + dx * dx) + 1
        out[i] = min(d_max // s_res + 1, grid_cap)
    return out


def _sat_from_grid(grid):
    n = grid.shape[0]
    sat = np.zeros((n + 1, n + 1), dtype=np.int64)
    np.cumsum(grid, axis=0, out=sat[1:, 1:])
    np.cumsum(sat[1:, 1:], axis=1, out=sat[1:, 1:])
    return sat


@pytest.mark.parametrize("k", [1, 5, 64])
def test_plan_radii_vectorized_matches_loop(k):
    rng = np.random.RandomState(7)
    res_hist, res = 6, 10
    n = 1 << res_hist
    # sparse grid with hot spots and empty swathes (the shapes that
    # stress the bisection): ~10% occupied cells + two dense blocks
    grid = np.where(rng.rand(n, n) < 0.1,
                    rng.randint(1, 5, (n, n)), 0).astype(np.int64)
    grid[3:6, 3:6] += 500
    grid[40:42, 50:52] += 100
    sat = _sat_from_grid(grid)
    qlat = rng.randint(0, 1 << GRID_BITS, 4000).astype(np.int64)
    qlon = rng.randint(0, 1 << GRID_BITS, 4000).astype(np.int64)
    got = plan_radii_dcap_np(sat, qlat, qlon, res_hist, res, k)[0]
    want = _plan_radii_loop(sat, qlat, qlon, res_hist, res, k)
    assert np.array_equal(got, want)


def test_plan_radii_infeasible_caps_to_grid():
    res_hist, res = 5, 8
    n = 1 << res_hist
    grid = np.zeros((n, n), dtype=np.int64)
    grid[0, 0] = 3  # corpus of 3 points total
    sat = _sat_from_grid(grid)
    q = np.array([12345], dtype=np.int64)
    out = plan_radii_dcap_np(sat, q, q, res_hist, res, k=10)[0]
    assert out[0] == (1 << res)  # k > corpus: search the whole grid


def _corpus(spark, n, tag="c"):
    """Deterministic integer-grid corpus derived from range ids (same
    derivation as the bench points; no external data)."""
    base = spark.range(n).select(
        F.concat(F.lit(tag), F.col("id").cast("string")).alias("doc_id"),
        (F.col("id") % 13).alias("span_pos"), F.col("id"))
    qlat, qlon = derive_point_cols(F.col("id"), F.col("span_pos"))
    return base.select("doc_id", "span_pos",
                       qlat.alias("qlat"), qlon.alias("qlon"))


def _key(rows):
    return sorted((r["query_id"], r["rank"], r["doc_id"],
                   r["span_pos"], r["d2"]) for r in rows)


def test_knn_distributed_matches_bruteforce_large_probe(spark):
    """>=1e5 probe rows (several Arrow batches per task; the probe side is
    never collected) == brute force."""
    n_q = 120_000
    corpus = _corpus(spark, 250).cache()
    qlat, qlon = derive_point_cols(F.col("id") * 7 + 3, F.lit(5))
    queries = spark.range(n_q).select(
        F.col("id").cast("string").alias("query_id"),
        qlat.alias("qlat"), qlon.alias("qlon")).cache()
    k = 3
    got = knn_ring(queries, corpus, k, res=8).collect()
    want = knn_bruteforce(queries, corpus, k).collect()
    assert _key(got) == _key(want)
    assert len(want) == n_q * k


def test_knn_ring_string_and_null_tie_columns(spark):
    """Co-located corpus points rank by their tie columns under Spark's
    ordering (nulls first, strings by UTF-8 bytes: 'Z' < 'a' < 'é'), as
    knn_bruteforce's window does; string and long query ids both work."""
    rows = [(a, b, 100 + (i % 3), 100) for i, (a, b) in enumerate([
        ("a", "x"), (None, "x"), ("é", None), ("Z", "y"), ("a", None),
        (None, None), ("ab", "x"), ("a:b", "\\"), ("", "x")])]
    rows += [(f"f{i}", "x", 3000 + 97 * i, 4000 - 31 * i) for i in range(40)]
    corpus = spark.createDataFrame(
        rows, "k1 string, k2 string, qlat long, qlon long")
    idx = KnnIndex(corpus, res=9, tie_cols=["k1", "k2"])
    for qtype, ids in (("string", ["q0", "q1", "q2"]), ("long", [7, 8, 9])):
        queries = spark.createDataFrame(
            list(zip(ids, [100, 101, 3500], [100, 100, 3900])),
            f"query_id {qtype}, qlat long, qlon long")
        got = knn_ring(queries, k=6, index=idx).collect()
        want = knn_bruteforce(queries, corpus, 6, ["k1", "k2"]).collect()

        def key(rs):
            return sorted((r["query_id"], r["rank"], str(r["k1"]),
                           str(r["k2"]), r["d2"]) for r in rs)
        assert key(got) == key(want), qtype
        assert len(got) == 18


def test_knn_request_is_one_narrow_job(spark, plan_nodes):
    """A request is one mapInPandas over the probe: no shuffle, no
    broadcast exchange, no join, no window, and exactly one Spark job."""
    import uuid

    corpus = _corpus(spark, 2_000).cache()
    idx = KnnIndex(corpus, res=10)
    rows = [(f"q{i}", (i * 733) % 65536, (i * 577) % 65536)
            for i in range(20)]
    schema = "query_id string, qlat long, qlon long"
    nodes = plan_nodes(knn_ring(spark.createDataFrame(rows, schema),
                                k=5, index=idx))
    assert not [n for n in nodes
                if "Exchange" in n or "Join" in n or "Window" in n], nodes

    sc = spark.sparkContext
    group = f"knn-request-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "knn request")
    try:
        got = knn_ring(spark.createDataFrame(rows, schema),
                       k=5, index=idx).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    want = knn_bruteforce(spark.createDataFrame(rows, schema), corpus,
                          5).collect()
    assert _key(got) == _key(want)


def test_knn_null_and_off_grid_queries_return_no_rows(spark):
    """A query with a null coordinate or one outside [0, 2^GRID_BITS)
    returns no rows and does not fail the request; the rest of the batch
    is answered exactly."""
    corpus = _corpus(spark, 500).cache()
    idx = KnnIndex(corpus, res=10)
    top = 1 << GRID_BITS
    good = [("g0", 100, 200), ("g1", 40000, 12345), ("g2", 0, top - 1)]
    bad = [("n_lat", None, 5), ("n_lon", 5, None), ("neg", -(1 << 20), 5),
           ("lat_hi", top, 5), ("lon_hi", 5, top + 7), ("far", 1 << 40, 5)]
    schema = "query_id string, qlat long, qlon long"
    got = knn_ring(spark.createDataFrame(good + bad, schema),
                   k=4, index=idx).collect()
    want = knn_bruteforce(spark.createDataFrame(good, schema), corpus,
                          4).collect()
    assert _key(got) == _key(want)
    assert len(got) == 3 * 4


def test_knn_self_join_matches_bruteforce(spark):
    corpus = _corpus(spark, 400).cache()
    k = 3
    got = knn_self_join(corpus, k=k, res=8).collect()
    probes = corpus.select(
        F.concat_ws(":", F.col("doc_id"),
                    F.col("span_pos").cast("string")).alias("query_id"),
        "qlat", "qlon")
    want = knn_bruteforce(probes, corpus, k, exclude_self=True).collect()
    assert _key(got) == _key(want)
    assert len(got) == 400 * k
    # identity exclusion, not distance exclusion: no row may be its own
    # neighbor
    for r in got:
        assert r["query_id"] != f"{r['doc_id']}:{r['span_pos']}"


def test_knn_self_join_keeps_colocated_twins(spark):
    """Two points at the SAME coordinates must be each other's rank-1
    neighbor at d2=0 — exclusion is by identity, never by distance."""
    rows = [("a", 0, 100, 100), ("b", 0, 100, 100),
            ("c", 0, 5000, 5000), ("d", 0, 5001, 5001),
            ("e", 0, 60000, 60000), ("f", 0, 60002, 60001)]
    corpus = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long")
    out = {r["query_id"]: (r["doc_id"], r["d2"])
           for r in knn_self_join(corpus, k=1, res=8).collect()}
    assert out["a:0"] == ("b", 0)
    assert out["b:0"] == ("a", 0)
    assert out["c:0"] == ("d", 2)
    assert out["e:0"] == ("f", 5)


def _cluster_corpus(spark, n_hot=20_000, n_uniform=3_000):
    """Dense cluster straddling a hist-cell boundary + uniform background.

    At res=10/res_hist=10 the hist cell side is 64; the cluster spans
    coords 1000..1063 on both axes, crossing the 1024 cell edge, so FOUR
    hist cells go hot and edge probes exercise the clipped-disk fallback.
    """
    hot = spark.range(n_hot).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("doc_id"),
        F.lit(0).cast("long").alias("span_pos"),
        (1000 + F.xxhash64(F.col("id")) % 64
         + F.when(F.xxhash64(F.col("id")) % 64 < 0, 64).otherwise(0)
         ).alias("qlat"),
        (1000 + F.xxhash64(F.col("id"), F.lit(1)) % 64
         + F.when(F.xxhash64(F.col("id"), F.lit(1)) % 64 < 0, 64)
         .otherwise(0)).alias("qlon"),
    )
    uni = spark.range(n_uniform).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("doc_id"),
        F.lit(0).cast("long").alias("span_pos"),
        (F.abs(F.xxhash64(F.col("id"), F.lit(2))) % 65536).alias("qlat"),
        (F.abs(F.xxhash64(F.col("id"), F.lit(3))) % 65536).alias("qlon"),
    )
    return hot.unionByName(uni)


def test_knn_fine_tier_self_join_matches_bruteforce(spark, monkeypatch):
    """Self-join kNN over a corpus with a dense cluster: the fine tier
    must activate (hot cells get local SATs) and the result must equal
    brute force — including co-located duplicates inside the cluster and
    cell-edge probes that fall back to the coarse plan."""
    monkeypatch.setattr(knn, "HOT_CELL_CAP", 2_000)
    corpus = _cluster_corpus(spark).cache()
    idx = KnnIndex(corpus, res=10, res_hist=10)
    assert idx.fine_sats, "dense cluster must trigger the fine tier"
    from tree_code_chunker_spark.operators.knn import knn_self_join

    k = 3
    # probe subset: 1200 cluster points + 300 uniform (bruteforce cost)
    probes_src = corpus.filter(
        ((F.col("doc_id").startswith("h"))
         & (F.substring("doc_id", 2, 10).cast("long") % 17 == 0))
        | ((F.col("doc_id").startswith("u"))
           & (F.substring("doc_id", 2, 10).cast("long") % 10 == 0))
    ).cache()
    probes = probes_src.select(
        F.concat_ws(":", F.col("doc_id"),
                    F.col("span_pos").cast("string")).alias("query_id"),
        "qlat", "qlon")
    got = knn_ring(probes, k=k, index=idx, exclude_self=True).collect()
    want = knn_bruteforce(probes, corpus, k, exclude_self=True).collect()
    assert _key(got) == _key(want)
    assert len(got) == probes_src.count() * k


def test_knn_fine_tier_interactive_queries(spark, monkeypatch):
    """A small probe set inside and around the dense cluster routes
    through the fine tier and stays exact."""
    monkeypatch.setattr(knn, "HOT_CELL_CAP", 2_000)
    corpus = _cluster_corpus(spark).cache()
    idx = KnnIndex(corpus, res=10, res_hist=10)
    rows = [("inhot", 1030, 1030), ("edge", 1000, 1063),
            ("nearhot", 1100, 1100), ("far", 50000, 50000)]
    queries = spark.createDataFrame(
        rows, "query_id string, qlat long, qlon long")
    want = knn_bruteforce(queries, corpus, 5).collect()
    got = knn_ring(queries, k=5, index=idx).collect()
    assert _key(got) == _key(want)


def test_knn_mixed_fine_coarse_far_batch(spark, monkeypatch):
    """One batch holding fine-tier, coarse and far queries (the far ones
    in empty swathes, planning radii of thousands of units) is ranked by
    one kernel and equals brute force."""
    monkeypatch.setattr(knn, "HOT_CELL_CAP", 2_000)
    corpus = _cluster_corpus(spark, n_uniform=300).cache()
    idx = KnnIndex(corpus, res=10, res_hist=10)
    rows = [("inhot", 1030, 1030), ("inhot2", 1060, 1001),
            ("edge", 1000, 1063), ("nearhot", 1100, 1100),
            ("mid", 20000, 9000), ("far", 50000, 50000),
            ("corner", 65535, 0), ("origin", 0, 0)]
    queries = spark.createDataFrame(
        rows, "query_id string, qlat long, qlon long")
    la = np.array([r[1] for r in rows], dtype=np.int64)
    lo = np.array([r[2] for r in rows], dtype=np.int64)
    rho_f = knn.plan_radii_fine_np(idx.fine_sats, la, lo, idx.res_hist, 5,
                                   knn.FINE_MAX_RHO)
    _, dcap = plan_radii_dcap_np(idx.sat, la, lo, idx.res_hist, 10, 5)
    assert (rho_f >= 0).any() and (rho_f < 0).any(), rho_f
    assert (dcap[rho_f < 0] > 2_000).any(), dcap
    got = knn_ring(queries, k=5, index=idx).collect()
    want = knn_bruteforce(queries, corpus, 5).collect()
    assert _key(got) == _key(want)


def test_knn_rank_slices_match_one_slice(spark, monkeypatch):
    """The kernel's query slicing never changes an answer: a cap far
    below one query's candidates ranks every query alone and equals the
    default cap, fine-tier, coarse and exclude_self queries alike."""
    monkeypatch.setattr(knn, "HOT_CELL_CAP", 2_000)
    corpus = _cluster_corpus(spark, n_hot=6_000, n_uniform=600).cache()
    idx = KnnIndex(corpus, res=10, res_hist=10)
    (cells, ties), keys = idx.corpus_bc.value, idx.self_keys_bc.value
    rng = np.random.RandomState(3)
    pick = rng.choice(len(cells[0]), 300, replace=False)
    la, lo = cells[1][pick].astype(np.int64), cells[2][pick].astype(np.int64)
    for qid in (None, keys[pick]):
        one = knn._rank_np(cells, la, lo, 4, qid, keys)
        monkeypatch.setattr(knn, "MAX_SLICE_CANDIDATES", 7)
        sliced = knn._rank_np(cells, la, lo, 4, qid, keys)
        monkeypatch.undo()
        assert all(np.array_equal(a, b) for a, b in zip(one, sliced))
        assert len(one[0]) == 300 * 4


def test_knn_fine_tier_disabled_still_exact(spark, monkeypatch):
    corpus = _cluster_corpus(spark, n_hot=5_000, n_uniform=500).cache()
    # a cap of the corpus size is above any cell count: no hot cells
    monkeypatch.setattr(knn, "HOT_CELL_CAP", 5_500)
    idx = KnnIndex(corpus, res=10, res_hist=10)
    assert not idx.fine_sats
    queries = spark.createDataFrame(
        [("a", 1030, 1030), ("b", 40000, 40000)],
        "query_id string, qlat long, qlon long")
    got = knn_ring(queries, k=4, index=idx).collect()
    want = knn_bruteforce(queries, corpus, 4).collect()
    assert _key(got) == _key(want)


def test_knn_exclude_self_on_cluster_corpus(spark, monkeypatch):
    """exclude_self over the cluster corpus, whose probes sit inside,
    beside and far from hot cells (many co-located twins at d2=0), equals
    brute force with identity exclusion."""
    monkeypatch.setattr(knn, "HOT_CELL_CAP", 2_000)
    corpus = _cluster_corpus(spark, n_hot=8_000, n_uniform=2_000).cache()
    idx = KnnIndex(corpus, res=10, res_hist=10)
    assert idx.fine_sats
    probes = corpus.filter(
        F.substring("doc_id", 2, 10).cast("long") % 23 == 0
    ).select(
        F.concat_ws(":", F.col("doc_id"),
                    F.col("span_pos").cast("string")).alias("query_id"),
        "qlat", "qlon").cache()
    got = knn_ring(probes, k=3, index=idx, exclude_self=True).collect()
    want = knn_bruteforce(probes, corpus, 3, exclude_self=True).collect()
    assert _key(got) == _key(want)
    assert len(got) == probes.count() * 3


def test_knn_within_matches_filtered_bruteforce(spark):
    """Radius-bounded kNN == brute force filtered to the radius then
    top-k; queries whose disk holds fewer than k points return fewer
    rows (never padded), and empty disks return nothing."""
    from tree_code_chunker_spark.operators.knn import knn_within

    corpus = _corpus(spark, 300).cache()
    qlat, qlon = derive_point_cols(F.col("id") * 13 + 5, F.lit(1))
    queries = spark.range(60).select(
        F.col("id").cast("string").alias("query_id"),
        qlat.alias("qlat"), qlon.alias("qlon")).cache()
    k, radius = 4, 3000
    got = knn_within(queries, corpus, k=k, radius=radius).collect()
    scored = knn_bruteforce(queries, corpus, 300)  # all ranks
    want = [r for r in scored.collect()
            if r["d2"] <= radius * radius and r["rank"] <= k]
    # bruteforce ranks all corpus rows; within the radius the relative
    # order is identical, but ranks can shift if a closer point was
    # OUTSIDE the radius — impossible (closer => smaller d2 => inside),
    # so ranks agree and the sets must match exactly
    assert _key(got) == _key(want)
    assert any(len([r for r in got if r["query_id"] == q]) < k
               for q in {r["query_id"] for r in got}) or len(got) == 60 * k


def test_knn_self_key_collision_safe(spark):
    """Tie tuples that collide under a naive concat_ws(':') — ':' inside a
    value, NULL-skipping, or a literal '\\N' vs a real NULL — must stay
    distinct identity keys (ADVICE r4): each probe excludes ONLY itself,
    so every co-located twin survives as the rank-1 neighbor at d2=0."""
    rows = [
        ("a:b", "5", 100, 100), ("a", "b:5", 100, 100),
        (None, "x", 300, 300), ("x", None, 300, 300),
        ("\\N", "y", 500, 500), (None, "y", 500, 500),
    ]
    corpus = spark.createDataFrame(
        rows, "k1 string, k2 string, qlat long, qlon long")
    out = knn_self_join(corpus, k=1, res=8, tie_cols=["k1", "k2"]).collect()
    assert len(out) == 6
    assert all(r["d2"] == 0 for r in out), [r.asDict() for r in out]

    def esc(v):
        if v is None:
            return "\\N"
        return v.replace("\\", "\\\\").replace(":", "\\:")

    def key(k1, k2):
        return esc(k1) + ":" + esc(k2)

    twin = {}
    for a, b in ((0, 1), (2, 3), (4, 5)):
        twin[key(rows[a][0], rows[a][1])] = (rows[b][0], rows[b][1])
        twin[key(rows[b][0], rows[b][1])] = (rows[a][0], rows[a][1])
    for r in out:
        assert (r["k1"], r["k2"]) == twin[r["query_id"]], r.asDict()


def test_knn_far_radii_on_tiny_corpus(spark):
    """A 50-point corpus makes every query plan a far radius (thousands of
    units); with k above the corpus size every query gets the whole
    corpus.  Both equal brute force."""
    corpus = _corpus(spark, 50).cache()
    queries = spark.range(200).select(
        F.col("id").cast("string").alias("query_id"),
        (F.abs(F.xxhash64("id")) % 65536).alias("qlat"),
        (F.abs(F.xxhash64("id", F.lit(7))) % 65536).alias("qlon"),
    ).cache()
    idx = KnnIndex(corpus, res=8)
    for k in (3, 60):
        got = knn_ring(queries, k=k, index=idx).collect()
        want = knn_bruteforce(queries, corpus, k).collect()
        assert _key(got) == _key(want), k
        assert len(got) == 200 * min(k, 50)
