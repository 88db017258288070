"""Spatiotemporal co-location join + RDP simplification.

st_colocate_join is pinned against an all-pairs brute force (the 14-offset
half-neighbourhood prune must be a pure optimization, grid corners
included), against dwithin_self_join when the time tolerance is vacuous,
and on exact boundary pairs (dt inclusive, bucket straddle).  rdp_simplify
is pinned against an independent recursive reference implementation and
its endpoint/epsilon contracts.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from tree_code_chunker_spark.operators.spatial import (
    dwithin_self_join,
    rdp_simplify,
    st_colocate_join,
)


def _mkpoints(spark, n=240):
    """Deterministic clustered point cloud with integer timestamps."""
    rows = []
    for i in range(n):
        # three spatial clusters + a sprinkle, times striped over a day
        c = i % 3
        base_y, base_x = (8000 + 9000 * c), (12000 + 7000 * c)
        rows.append((
            str(i // 7), i,
            base_y + (i * 37) % 160,
            base_x + (i * 53) % 160,
            (i * 911) % 86400,
        ))
    return spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long, t_s long")


def _brute_pairs(pdf, radius, dt):
    out = set()
    recs = list(pdf.itertuples(index=False))
    for a, b in itertools.combinations(recs, 2):
        if (a.doc_id, a.span_pos) > (b.doc_id, b.span_pos):
            a, b = b, a
        d2 = (a.qlat - b.qlat) ** 2 + (a.qlon - b.qlon) ** 2
        if d2 <= radius * radius and abs(a.t_s - b.t_s) <= dt:
            out.add((a.doc_id, a.span_pos, b.doc_id, b.span_pos,
                     d2, abs(a.t_s - b.t_s)))
    return out


def _spark_pairs(df):
    return set(map(tuple, df.collect()))


def _mkcorners(spark, n=120):
    """Points clustered in the four grid corners, the corners included:
    their off-grid neighbour cells must be dropped, not clamped."""
    rows = [("c", i, (0, 0, 65535, 65535)[i], (0, 65535, 0, 65535)[i], 0)
            for i in range(4)]
    for i in range(4, n):
        dy, dx = (i * 37) % 300, (i * 53) % 300
        rows.append((str(i // 7), i,
                     dy if i % 2 else 65535 - dy,
                     dx if (i // 2) % 2 else 65535 - dx,
                     (i * 97) % 3000))
    return spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long, t_s long")


def test_st_colocate_matches_brute_force(spark):
    for pts in (_mkpoints(spark), _mkcorners(spark)):
        pdf = pts.toPandas()
        for radius, dt in [(200, 2000), (50, 900), (300, 100)]:
            rows = st_colocate_join(pts, radius, dt).collect()
            got = set(map(tuple, rows))
            assert len(rows) == len(got), (radius, dt)  # each pair once
            want = _brute_pairs(pdf, radius, dt)
            assert got == want, (radius, dt, len(got), len(want))
        assert _brute_pairs(pdf, 200, 2000)  # non-vacuous fixture


def test_st_colocate_time_vacuous_equals_dwithin_self(spark):
    pts = _mkpoints(spark)
    st = st_colocate_join(pts, 200, 86400).drop("dt_s")
    dw = dwithin_self_join(pts, 200)
    assert _spark_pairs(st) == _spark_pairs(dw)


def test_st_colocate_boundaries(spark):
    # dt inclusive at exactly dt; excluded at dt+1; bucket-straddle pair
    # (times 899 and 901 sit in different dt=900 buckets, diff 2 <= dt);
    # spatial radius inclusive at exactly radius.
    rows = [
        ("a", 0, 1000, 1000, 0),
        ("a", 1, 1000, 1000, 900),     # dt exactly -> in
        ("a", 2, 1000, 1000, 1801),    # 901 past row1 -> out vs row0
        ("b", 0, 2000, 2000, 899),
        ("b", 1, 2000, 2000, 901),     # straddles bucket edge -> in
        ("c", 0, 3000, 3000, 5000),
        ("c", 1, 3000, 3048, 5000),    # d = radius exactly -> in
        ("c", 2, 3000, 3049, 5000),    # d = radius+1 -> out vs c0
    ]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long, t_s long")
    got = _spark_pairs(st_colocate_join(pts, 48, 900))
    want = _brute_pairs(pts.toPandas(), 48, 900)
    assert got == want
    assert ("a", 0, "a", 1, 0, 900) in got
    assert ("b", 0, "b", 1, 0, 2) in got
    assert ("c", 0, "c", 1, 48 * 48, 0) in got
    assert not any(p[:4] == ("a", 0, "a", 2) for p in got)
    assert not any(p[:4] == ("c", 0, "c", 2) for p in got)


def test_st_colocate_validates_args(spark):
    pts = _mkpoints(spark, n=10)
    with pytest.raises(ValueError):
        st_colocate_join(pts, 48, 0)


# ------------------------------------------------------------------ RDP ----


def _rdp_ref(pts, eps):
    """Independent recursive reference (exact ints, same > contract)."""
    if len(pts) <= 2:
        return list(pts)
    ay, ax = pts[0][1], pts[0][2]
    by, bx = pts[-1][1], pts[-1][2]
    dy, dx = by - ay, bx - ax
    chord2 = dy * dy + dx * dx
    best_k, best_num = -1, -1
    for k in range(1, len(pts) - 1):
        if chord2 == 0:
            num = (pts[k][1] - ay) ** 2 + (pts[k][2] - ax) ** 2
            thresh = eps * eps
        else:
            cross = dx * (pts[k][1] - ay) - dy * (pts[k][2] - ax)
            num = cross * cross
            thresh = eps * eps * chord2
        if num > thresh and num > best_num:
            best_num, best_k = num, k
    if best_k < 0:
        return [pts[0], pts[-1]]
    return _rdp_ref(pts[: best_k + 1], eps)[:-1] + _rdp_ref(pts[best_k:], eps)


def _traj_rows():
    rows = []
    for d in range(6):
        n = 5 + 9 * d
        for i in range(n):
            # noisy sawtooth path; doc 3 is a closed loop (chord2 == 0 at top)
            y = 500 * d + (i * 97) % 337 + (i * i) % 13
            x = 300 + 41 * i
            if d == 3:
                x = 300 + 41 * (i % 5)
                y = 500 * d + (i * 97) % 337
            rows.append((str(d), i, y, x))
    rows.append(("solo", 0, 9, 9))          # single-point trajectory
    rows.append(("pair", 0, 1, 1))
    rows.append(("pair", 1, 2, 2))
    return rows


@pytest.mark.parametrize("eps", [0, 10, 60, 100000])
def test_rdp_matches_reference(spark, eps):
    rows = _traj_rows()
    traj = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long")
    got = {}
    for r in rdp_simplify(traj, eps).collect():
        got.setdefault(r.doc_id, []).append((r.span_pos, r.qlat, r.qlon))
    for k in got:
        got[k].sort()
    by_doc = {}
    for d, i, y, x in rows:
        by_doc.setdefault(d, []).append((i, y, x))
    for d, pts in by_doc.items():
        want = sorted(_rdp_ref(sorted(pts), eps))
        assert got[d] == want, (d, eps)
        # contracts: endpoints always kept; huge eps -> endpoints only
        assert want[0] == min(pts) and want[-1] == max(pts)
        if eps == 100000 and len(pts) > 1:
            assert len(want) == 2


def test_rdp_deterministic_across_parallelism(spark):
    traj = spark.createDataFrame(
        _traj_rows(), "doc_id string, span_pos long, qlat long, qlon long")
    a = sorted(map(tuple, rdp_simplify(traj.coalesce(1), 25).collect()))
    b = sorted(map(tuple, rdp_simplify(traj.repartition(16), 25).collect()))
    assert a == b


# -------------------------------------------------------- two-sided / stream


from tree_code_chunker_spark.operators.spatial import st_colocate_ab


def _brute_ab(apdf, bpdf, radius, dt):
    out = []
    for a in apdf.itertuples(index=False):
        for b in bpdf.itertuples(index=False):
            d2 = (a.qlat - b.qlat) ** 2 + (a.qlon - b.qlon) ** 2
            if d2 <= radius * radius and abs(a.t_s - b.t_s) <= dt:
                out.append((a.doc_id, a.span_pos, b.b_doc_id, b.b_span_pos,
                            d2, abs(a.t_s - b.t_s)))
    return sorted(out)


def test_st_colocate_ab_matches_brute_force(spark):
    a = _mkpoints(spark, 150)
    b = (_mkpoints(spark, 210)
         .select(F.col("doc_id").alias("b_doc_id"),
                 F.col("span_pos").alias("b_span_pos"),
                 (F.col("qlat") + 31).alias("qlat"),
                 (F.col("qlon") - 17).alias("qlon"),
                 (F.col("t_s") + 500).alias("t_s")))
    for radius, dt in [(200, 2000), (60, 700)]:
        got = sorted(map(tuple, st_colocate_ab(a, b, radius, dt).collect()))
        want = _brute_ab(a.toPandas(), b.toPandas(), radius, dt)
        assert got == want, (radius, dt, len(got), len(want))
    assert _brute_ab(a.toPandas(), b.toPandas(), 200, 2000)  # non-vacuous


def test_st_colocate_ab_validates_args(spark):
    pts = _mkpoints(spark, 10)
    with pytest.raises(ValueError, match="overlap"):
        st_colocate_ab(pts, pts, 48, 60,
                       a_keep=("doc_id",), b_keep=("doc_id",))
    with pytest.raises(ValueError):
        st_colocate_ab(pts, pts, 48, 0, b_keep=("x",))


def test_self_joins_drop_duplicate_id_pairs(spark):
    # two DISTINCT rows sharing one id key, within radius/dt but in
    # DIFFERENT grid cells: the half-neighborhood forms must drop the
    # equal-key pair exactly like the full 9/27-offset + a<b forms (and
    # the SQL oracles) do
    from tree_code_chunker_spark.operators.spatial import dwithin_self_join
    rows = [("dup", 0, 4090, 4090, 100),   # cell boundary at 4096 (res 4..)
            ("dup", 0, 4100, 4100, 120),   # same key, adjacent cell
            ("ok", 1, 4090, 4092, 100)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long, t_s long")
    st = st_colocate_join(pts, 48, 900).collect()
    assert all(not (r.doc_id == r.b_doc_id and r.span_pos == r.b_span_pos)
               for r in st)
    dw = dwithin_self_join(pts, 48).collect()
    assert all(not (r.doc_id == r.b_doc_id and r.span_pos == r.b_span_pos)
               for r in dw)
    # the distinct-key pairs still come through
    assert any(r.doc_id == "dup" and r.b_doc_id == "ok" or
               r.doc_id == "ok" and r.b_doc_id == "dup" for r in dw)


def test_st_colocate_odd_t_col_name(spark):
    # a t column whose name would misparse if spliced unquoted into SQL
    pts = (_mkpoints(spark, 240)
           .withColumnRenamed("t_s", "t-s")
           .withColumn("t", F.lit(999999)).withColumn("s", F.lit(0)))
    got = sorted(map(tuple, st_colocate_join(
        pts.drop("t", "s"), 200, 2000, t_col="t-s").collect()))
    want = sorted(map(tuple, st_colocate_join(
        _mkpoints(spark, 240), 200, 2000).collect()))
    assert got == want and got


def test_st_colocate_anti_complement(spark):
    from tree_code_chunker_spark.operators.spatial import st_colocate_anti

    a = _mkpoints(spark, 150)
    b = (_mkpoints(spark, 90)
         .select((F.col("qlat") + 25).alias("qlat"),
                 (F.col("qlon") - 13).alias("qlon"),
                 (F.col("t_s") + 200).alias("t_s")))
    radius, dt = 120, 1200
    anti = {(r.doc_id, r.span_pos)
            for r in st_colocate_anti(a, b, radius, dt).collect()}
    hit = {(r.doc_id, r.span_pos) for r in st_colocate_ab(
        a, b.select(F.lit(0).alias("b_doc_id"),
                    F.lit(0).alias("b_span_pos"), "qlat", "qlon", "t_s"),
        radius, dt).collect()}
    allk = {(r.doc_id, r.span_pos) for r in a.collect()}
    assert anti == allk - hit
    assert anti and hit                     # both sides non-vacuous
    # anti keeps ALL original columns
    cols = st_colocate_anti(a, b, radius, dt).columns
    assert set(cols) == set(a.columns)


def test_st_colocate_hot_dt_regime_keys_stay_spread(spark):
    """VERDICT r5 item 4: with dt >= the whole time span (every row in ONE
    time bucket — the 'same day' degenerate regime), the join key is still
    the 3-part (cell_y, cell_x, t_bucket) key whose SPATIAL parts carry the
    distribution, so no single hot partition serializes the join.  Pins
    (a) correctness at vacuous dt (== the pure spatial self-join) with all
    timestamps EQUAL (worst case: one bucket holds the corpus), and (b) the
    key-histogram evidence: max bucket share bounded by the spatial spread."""
    from tree_code_chunker_spark.operators.spatial import (
        dwithin_res,
        dwithin_self_join,
    )

    pts = _mkpoints(spark, 400).withColumn("t_s", F.lit(777))  # all equal
    radius, dt = 200, 10_000_000  # dt >> span: single time bucket
    got = sorted(map(tuple, st_colocate_join(pts, radius, dt)
                     .drop("dt_s").collect()))
    want = sorted(map(tuple, dwithin_self_join(
        pts.drop("t_s"), radius).collect()))
    assert got == want and got
    # key-spread evidence: recompute the engine's 3-part join key under
    # the hot time bucket and compare against the PURE-SPATIAL 2-part key
    # histogram — the degenerate dt must not concentrate the distribution
    # beyond what the spatial key already has (no new straggler)
    res = dwithin_res(radius)
    shift = 16 - res
    keys3 = (pts.select(F.shiftright("qlat", shift).alias("ccy"),
                        F.shiftright("qlon", shift).alias("ccx"),
                        (F.col("t_s").cast("long") / dt).cast("long")
                        .alias("ctb"))
             .groupBy("ccy", "ccx", "ctb").count().collect())
    keys2 = (pts.select(F.shiftright("qlat", shift).alias("ccy"),
                        F.shiftright("qlon", shift).alias("ccx"))
             .groupBy("ccy", "ccx").count().collect())
    assert len(keys3) == len(keys2) > 1
    assert (sorted(r["count"] for r in keys3)
            == sorted(r["count"] for r in keys2))
