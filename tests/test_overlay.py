"""Vector-overlay joins: rectangle overlay, segment crossings, map-matching.

Every test checks the distributed operator against an independent
brute-force python oracle over the same rows (all-pairs loops the
operators themselves must never run), plus the documented edge
conventions: half-open rectangle edges, strict proper-crossing signs,
exactly-once reference-point dedup, radius boundary inclusion, and
deterministic tie-breaks.
"""

import random

import pyspark.sql.functions as F

from tree_code_chunker_spark.operators.overlay import (
    SNAP_SCALE,
    overlay_res,
    rect_overlay_join,
    segment_crossings,
    snap_to_segments,
)

SEED = 0x5EED


def _rects(n, rng, max_side=1200):
    out = []
    for i in range(n):
        y0 = rng.randrange(0, 60000)
        x0 = rng.randrange(0, 60000)
        out.append((i, y0, x0,
                    y0 + rng.randrange(1, max_side),
                    x0 + rng.randrange(1, max_side)))
    return out


def _brute_overlay(ra, rb):
    got = {}
    for (ai, ay0, ax0, ay1, ax1) in ra:
        for (bi, by0, bx0, by1, bx1) in rb:
            iy0, ix0 = max(ay0, by0), max(ax0, bx0)
            iy1, ix1 = min(ay1, by1), min(ax1, bx1)
            if iy0 < iy1 and ix0 < ix1:
                inter = (iy1 - iy0) * (ix1 - ix0)
                union = ((ay1 - ay0) * (ax1 - ax0)
                         + (by1 - by0) * (bx1 - bx0) - inter)
                got[(ai, bi)] = (inter, union)
    return got


def test_rect_overlay_matches_brute_force(spark):
    rng = random.Random(SEED)
    ra, rb = _rects(300, rng), _rects(300, rng)
    schema = "a_id long, y0 long, x0 long, y1 long, x1 long"
    da = spark.createDataFrame(ra, schema)
    db = spark.createDataFrame(rb, schema.replace("a_id", "b_id"))
    res = overlay_res(1200)
    got = {(r.a_id, r.b_id): (r.inter_area, r.union_area)
           for r in rect_overlay_join(da, db, res).collect()}
    assert got == _brute_overlay(ra, rb)
    assert got  # non-vacuous


def test_rect_overlay_exactly_once_across_cells(spark):
    # one huge rect overlapping many cells x one small rect inside it:
    # the pair must appear exactly once (reference-point dedup), with
    # touching-edge pairs excluded by the half-open convention
    da = spark.createDataFrame(
        [(1, 0, 0, 40000, 40000)], "a_id long, y0 long, x0 long, y1 long, x1 long")
    db = spark.createDataFrame(
        [(1, 20000, 20000, 20500, 20700),   # strictly inside
         (2, 40000, 0, 40100, 100),         # touches a's high edge: no overlap
         (3, 39999, 39999, 50000, 50000)],  # 1x1 corner overlap
        "b_id long, y0 long, x0 long, y1 long, x1 long")
    rows = rect_overlay_join(da, db, res=8).collect()
    got = {(r.a_id, r.b_id): r.inter_area for r in rows}
    assert len(rows) == len(got) == 2
    assert got[(1, 1)] == 500 * 700
    assert got[(1, 3)] == 1


def _segs(n, rng, max_len=900):
    out = []
    for i in range(n):
        y1 = rng.randrange(0, 60000)
        x1 = rng.randrange(0, 60000)
        out.append((i, y1, x1,
                    y1 + rng.randrange(-max_len, max_len + 1),
                    x1 + rng.randrange(-max_len, max_len + 1)))
    return out


def _ccw(oy, ox, ay, ax, by, bx):
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def _crosses(sa, sb):
    _, ay1, ax1, ay2, ax2 = sa
    _, by1, bx1, by2, bx2 = sb
    d1 = _ccw(ay1, ax1, ay2, ax2, by1, bx1)
    d2 = _ccw(ay1, ax1, ay2, ax2, by2, bx2)
    d3 = _ccw(by1, bx1, by2, bx2, ay1, ax1)
    d4 = _ccw(by1, bx1, by2, bx2, ay2, ax2)
    return d1 * d2 < 0 and d3 * d4 < 0


def test_segment_crossings_matches_brute_force(spark):
    rng = random.Random(SEED + 1)
    sa, sb = _segs(250, rng), _segs(250, rng)
    schema = "a_id long, y1 long, x1 long, y2 long, x2 long"
    da = spark.createDataFrame(sa, schema)
    db = spark.createDataFrame(sb, schema.replace("a_id", "b_id"))
    res = overlay_res(2 * 900)
    got = sorted((r.a_id, r.b_id)
                 for r in segment_crossings(da, db, res).collect())
    want = sorted((a[0], b[0]) for a in sa for b in sb if _crosses(a, b))
    assert got == want
    assert got  # non-vacuous


def test_segment_crossings_strict_convention(spark):
    schema_a = "a_id long, y1 long, x1 long, y2 long, x2 long"
    schema_b = schema_a.replace("a_id", "b_id")
    da = spark.createDataFrame([(1, 100, 100, 100, 500)], schema_a)
    db = spark.createDataFrame(
        [(1, 50, 300, 200, 300),    # proper crossing
         (2, 100, 500, 300, 500),   # touches a's endpoint: excluded
         (3, 100, 200, 100, 400),   # collinear overlap: excluded
         (4, 100, 300, 300, 300)],  # endpoint ON a's interior: excluded
        schema_b)
    got = sorted((r.a_id, r.b_id)
                 for r in segment_crossings(da, db, res=8).collect())
    assert got == [(1, 1)]


def _brute_snap(pts, segs, radius):
    best = {}
    for pid, py, px in pts:
        for sid, y1, x1, y2, x2 in segs:
            aby, abx = y2 - y1, x2 - x1
            apy, apx = py - y1, px - x1
            l2 = aby * aby + abx * abx
            tnum = apy * aby + apx * abx
            if l2 == 0 or tnum <= 0:
                d = (apy * apy + apx * apx) * SNAP_SCALE
            elif tnum >= l2:
                bpy, bpx = py - y2, px - x2
                d = (bpy * bpy + bpx * bpx) * SNAP_SCALE
            else:
                cross = apx * aby - apy * abx
                d = (cross * cross * SNAP_SCALE) // l2
            if d <= radius * radius * SNAP_SCALE:
                if pid not in best or (d, sid) < best[pid]:
                    best[pid] = (d, sid)
    return {pid: (sid, d) for pid, (d, sid) in best.items()}


def test_snap_to_segments_matches_brute_force(spark):
    rng = random.Random(SEED + 2)
    segs = _segs(200, rng, max_len=700)
    pts = [(i, rng.randrange(0, 61000), rng.randrange(0, 61000))
           for i in range(800)]
    radius = 900
    dp = spark.createDataFrame(pts, "pid long, qlat long, qlon long")
    ds = spark.createDataFrame(
        segs, "seg_id long, y1 long, x1 long, y2 long, x2 long")
    res = overlay_res(2 * 700 + 2 * radius)
    got = {r.pid: (r.seg_id, r.dist2_e6)
           for r in snap_to_segments(
               dp, ds, radius, res, p_keep=("pid",)).collect()}
    assert got == _brute_snap(pts, segs, radius)
    assert got  # non-vacuous


def test_snap_interior_projection_exact_floor(spark):
    # point (10, 3) vs segment (0,0)->(0,7): interior projection,
    # d2 = 100 exactly; vs diagonal (0,0)->(5,5) from (2,0):
    # cross=-2? d2 = 4/2 = 2.0 -> 2_000_000
    dp = spark.createDataFrame(
        [(1, 10, 3), (2, 2, 0)], "pid long, qlat long, qlon long")
    ds = spark.createDataFrame(
        [(1, 0, 0, 0, 7), (2, 0, 0, 5, 5)],
        "seg_id long, y1 long, x1 long, y2 long, x2 long")
    got = {(r.pid, r.seg_id): r.dist2_e6
           for r in snap_to_segments(
               dp, ds, 20, overlay_res(64), p_keep=("pid",),
               nearest_only=False).collect()}
    assert got[(1, 1)] == 100 * SNAP_SCALE
    # point (2,0) vs diagonal: cross = 0*5 - 2*5 = -10, l2 = 50,
    # d2 = 100/50 = 2 exactly
    assert got[(2, 2)] == 2 * SNAP_SCALE
    # non-divisible case: point (1,0) vs diagonal: cross=-5, l2=50,
    # d2 = 25/50 = 0.5 -> floor(0.5e6) = 500000
    dp2 = spark.createDataFrame([(3, 1, 0)], "pid long, qlat long, qlon long")
    got2 = snap_to_segments(
        dp2, ds.filter(F.col("seg_id") == 2), 20, overlay_res(64),
        p_keep=("pid",)).collect()
    assert got2[0].dist2_e6 == SNAP_SCALE // 2


def test_snap_radius_boundary_and_ties(spark):
    # point exactly at radius from a segment endpoint is INCLUDED
    # (<=); two segments at identical distance tie-break by seg_id
    dp = spark.createDataFrame([(1, 100, 100)], "pid long, qlat long, qlon long")
    ds = spark.createDataFrame(
        [(7, 100, 150, 100, 200), (3, 100, 50, 100, 0)],
        "seg_id long, y1 long, x1 long, y2 long, x2 long")
    rows = snap_to_segments(dp, ds, 50, overlay_res(300),
                            p_keep=("pid",)).collect()
    assert len(rows) == 1
    assert rows[0].seg_id == 3  # tie at d2=2500e6 -> lower id wins
    assert rows[0].dist2_e6 == 2500 * SNAP_SCALE
    # radius 49: nothing within
    assert not snap_to_segments(dp, ds, 49, overlay_res(300),
                                p_keep=("pid",)).collect()


def test_snap_huge_segment_takes_decimal_fallback(spark):
    # near-grid-spanning segment: |cross| = 65535^2 ~ 4.3e9 > 3e9, so the
    # int64 fast path would overflow — the guarded DECIMAL branch must
    # produce the exact floor without an ANSI arithmetic error.
    dp = spark.createDataFrame([(1, 0, 65535)],
                               "pid long, qlat long, qlon long")
    ds = spark.createDataFrame(
        [(9, 0, 0, 65535, 65535)],
        "seg_id long, y1 long, x1 long, y2 long, x2 long")
    rows = snap_to_segments(dp, ds, 46341, overlay_res(65535),
                            p_keep=("pid",)).collect()
    assert len(rows) == 1
    # d2 = cross^2/l2 = 65535^4 / (2*65535^2) = 65535^2/2 exactly
    assert rows[0].dist2_e6 == 65535 * 65535 * SNAP_SCALE // 2


def test_determinism_across_parallelism(spark):
    rng = random.Random(SEED + 3)
    ra, rb = _rects(150, rng), _rects(150, rng)
    schema = "a_id long, y0 long, x0 long, y1 long, x1 long"
    da = spark.createDataFrame(ra, schema)
    db = spark.createDataFrame(rb, schema.replace("a_id", "b_id"))
    res = overlay_res(1200)
    one = sorted(map(tuple, rect_overlay_join(
        da.coalesce(1), db.coalesce(1), res).collect()))
    many = sorted(map(tuple, rect_overlay_join(
        da.repartition(13), db.repartition(7), res).collect()))
    assert one == many


def _brute_hausdorff(pa, pb, threshold):
    """pa/pb: dict id -> list[(y, x)] — directed max-min, symmetric max."""
    out = {}
    t2 = threshold * threshold
    for ai, aps in pa.items():
        for bi, bps in pb.items():
            h_ab = max(min((ay - by) ** 2 + (ax - bx) ** 2
                           for by, bx in bps) for ay, ax in aps)
            h_ba = max(min((ay - by) ** 2 + (ax - bx) ** 2
                           for ay, ax in aps) for by, bx in bps)
            h2 = max(h_ab, h_ba)
            if h2 <= t2:
                out[(ai, bi)] = h2
    return out


def _traj_points(n_trajs, rng, id_base=0, extent=2500, n_pts=8):
    out = {}
    for i in range(n_trajs):
        oy = rng.randrange(0, 60000)
        ox = rng.randrange(0, 60000)
        out[id_base + i] = [
            (oy + rng.randrange(0, extent), ox + rng.randrange(0, extent))
            for _ in range(n_pts)]
    return out


def test_hausdorff_join_matches_brute_force(spark):
    from tree_code_chunker_spark.operators.overlay import hausdorff_join

    rng = random.Random(SEED + 4)
    # clustered trajectories so some pairs are near, most far
    pa = _traj_points(120, rng)
    pb = _traj_points(120, rng, id_base=1000)
    threshold = 4000
    rows_a = [(i, y, x) for i, ps in pa.items() for y, x in ps]
    rows_b = [(i, y, x) for i, ps in pb.items() for y, x in ps]
    da = spark.createDataFrame(rows_a, "a_id long, qlat long, qlon long")
    db = spark.createDataFrame(rows_b, "b_id long, qlat long, qlon long")
    res = overlay_res(2500 + 2 * threshold)
    got = {(r.a_id, r.b_id): r.h2
           for r in hausdorff_join(da, db, threshold, res).collect()}
    assert got == _brute_hausdorff(pa, pb, threshold)
    assert got  # non-vacuous


def test_hausdorff_symmetric_direction(spark):
    from tree_code_chunker_spark.operators.overlay import hausdorff_join

    # A is a single point inside B's hull: h(A->B) is small but h(B->A)
    # is large — the symmetric distance must take the max
    da = spark.createDataFrame(
        [(1, 100, 100)], "a_id long, qlat long, qlon long")
    db = spark.createDataFrame(
        [(2, 100, 100), (2, 100, 400)], "b_id long, qlat long, qlon long")
    got = hausdorff_join(da, db, 300, overlay_res(1000)).collect()
    assert len(got) == 1 and got[0].h2 == 300 * 300
    # threshold just under the far point's distance: pair excluded
    assert not hausdorff_join(da, db, 299, overlay_res(1000)).collect()


def test_buffer_cover_dilation_and_clamp(spark):
    from tree_code_chunker_spark.operators.pip import buffer_cover, polygon_cover

    def rect_poly(pid, y0, x0, y1, x1):
        ring = [(y0, x0), (y0, x1), (y1, x1), (y1, x0), (y0, x0)]
        return (pid, [{"qlat": y, "qlon": x} for y, x in ring])

    polys = spark.createDataFrame(
        [rect_poly("corner", 0, 0, 100, 100),        # clamps at the origin
         rect_poly("mid", 30000, 30000, 33000, 34000)],
        "polygon_id string, ring array<struct<qlat:long,qlon:long>>")
    res, k = 6, 2
    side = 1 << (16 - res)
    got = {}
    for r in buffer_cover(polys, res, k).collect():
        got.setdefault(r.polygon_id, set()).add((r.cov_cy, r.cov_cx))
    # corner rect covers cell (0,0); dilation clamps negatives -> 3x3
    assert got["corner"] == {(y, x) for y in range(3) for x in range(3)}
    # mid rect: cover range dilated by k on each side, all distinct
    y_lo, y_hi = 30000 // side - k, 33000 // side + k
    x_lo, x_hi = 30000 // side - k, 34000 // side + k
    assert got["mid"] == {(y, x) for y in range(y_lo, y_hi + 1)
                          for x in range(x_lo, x_hi + 1)}
    # k=0 degenerates to the plain cover
    plain = {(r.cov_cy, r.cov_cx)
             for r in polygon_cover(polys.filter(
                 F.col("polygon_id") == "mid"), res).collect()}
    k0 = {(r.cov_cy, r.cov_cx)
          for r in buffer_cover(polys.filter(
              F.col("polygon_id") == "mid"), res, 0).collect()}
    assert k0 == plain


def _brute_containment(docs, n=3):
    def nw(t):
        return len(t.split(" "))

    out = []
    for ai, at in docs:
        if nw(at) < n:
            continue
        for bi, bt in docs:
            if ai == bi or f" {at} " not in f" {bt} ":
                continue
            if nw(at) < nw(bt) or (at == bt and ai < bi):
                out.append((ai, bi))
    return sorted(out)


def test_containment_pairs_matches_brute_force(spark):
    from tree_code_chunker_spark.operators.dedup import containment_pairs

    rng = random.Random(SEED + 6)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        docs.append((i, " ".join(rng.choice(vocab)
                                 for _ in range(rng.randrange(6, 16)))))
    # plant truncations, an exact duplicate, an embedded excerpt, and a
    # too-short doc (excluded from the contained side by contract)
    docs.append((100, " ".join(docs[0][1].split(" ")[:5])))
    docs.append((101, docs[1][1]))
    docs.append((102, "pre " + docs[2][1] + " post"))
    docs.append((103, "w0 w1"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted((r.a_id, r.b_id)
                 for r in containment_pairs(df).collect())
    assert got == _brute_containment(docs)
    assert (100, 0) in got and (2, 102) in got
    assert (1, 101) in got and (101, 1) not in got  # equal text: one way
    assert not any(a == 103 for a, _ in got)  # short doc not contained side


def _textbook_geohash(lat, lon, precision):
    """Independent reference: classic interval-bisection geohash."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_iv, lon_iv = [-90.0, 90.0], [-180.0, 180.0]
    bits, out, even = 0, [], True
    bit_vals = [16, 8, 4, 2, 1]
    ch = 0
    while len(out) < precision:
        iv, v = (lon_iv, lon) if even else (lat_iv, lat)
        mid = (iv[0] + iv[1]) / 2
        if v >= mid:
            ch |= bit_vals[bits]
            iv[0] = mid
        else:
            iv[1] = mid
        even = not even
        if bits < 4:
            bits += 1
        else:
            out.append(b32[ch])
            bits, ch = 0, 0
    return "".join(out)


def test_geohash_matches_textbook(spark):
    from tree_code_chunker_spark.operators.geo import geohash_col

    rng = random.Random(SEED + 7)
    rows = [(i, rng.randrange(0, 65536), rng.randrange(0, 65536))
            for i in range(300)]
    # include the corners and the bisection boundary
    rows += [(1000, 0, 0), (1001, 65535, 65535), (1002, 32768, 32768),
             (1003, 32767, 32767)]
    df = spark.createDataFrame(rows, "pid long, qlat long, qlon long")
    for p in (1, 4, 6):
        got = {r.pid: r.gh
               for r in df.select("pid", geohash_col(
                   "qlat", "qlon", p).alias("gh")).collect()}
        for pid, qlat, qlon in rows:
            lat = (qlat + 0.5) / 65536 * 180 - 90
            lon = (qlon + 0.5) / 65536 * 360 - 180
            assert got[pid] == _textbook_geohash(lat, lon, p), (
                pid, qlat, qlon, p)


def test_skyline2d_matches_brute_force(spark):
    from tree_code_chunker_spark.operators.profile import skyline2d

    rng = random.Random(SEED + 8)
    pts = [(rng.randrange(0, 2000), rng.randrange(0, 2000))
           for _ in range(3000)]
    pts += pts[:50]  # duplicates collapse to set semantics
    pts += [(0, 1999), (1999, 0), (5, 5)]
    df = spark.createDataFrame(pts, "x long, y long").repartition(17)
    got = sorted((r.x, r.y) for r in skyline2d(df, "x", "y").collect())
    uniq = set(pts)
    want = sorted(
        (x, y) for x, y in uniq
        if not any(bx <= x and by <= y and (bx < x or by < y)
                   for bx, by in uniq))
    assert got == want
    assert (5, 5) in got and len(got) >= 3
