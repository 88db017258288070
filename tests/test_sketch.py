"""HyperLogLog sketch: cross-engine register equality + accuracy bounds.

The operator's contract (sketch.py) is that Spark and DuckDB compute the
SAME registers from the same integer hash, so the estimate matches to the
rounded 3 places — covering BOTH estimator branches (linear counting for
small groups, raw harmonic mean for large)."""

import duckdb

from pyspark.sql import functions as F

from tree_code_chunker_spark.operators.sketch import (
    hll_distinct,
    hll_distinct_sql,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "g bigint, v bigint")


def _both(spark, rows, p):
    df = hll_distinct(_mk(spark, rows), ("g",), "v", p=p)
    got = sorted((r.g, r.hll_est, r.v_zero, r.m) for r in df.collect())
    vals = ", ".join(f"({g}, {v})" for g, v in rows)
    sql = (f"WITH cells(g, v) AS (VALUES {vals}), "
           + hll_distinct_sql("cells", ("g",), "v", p=p))
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    return got, want


def test_hll_matches_duckdb_small_linear_branch(spark):
    # tiny groups -> v_zero > 0 and raw <= 2.5m -> linear-counting branch
    rows = [(g, g * 1000 + i) for g in range(3) for i in range(g * 5 + 2)]
    got, want = _both(spark, rows, p=4)
    assert got == want


def test_hll_matches_duckdb_raw_branch(spark):
    # 600 distincts vs m=16 registers -> raw branch (v_zero == 0 w.h.p.)
    rows = [(0, i * 7919 + 13) for i in range(600)]
    got, want = _both(spark, rows, p=4)
    assert got == want
    assert got[0][2] == 0  # v_zero: every register hit


def test_hll_accuracy_and_duplicate_insensitivity(spark):
    # p=8 -> relative error ~1.04/sqrt(256) = 6.5%; allow 3 sigma.
    n = 2000
    rows = [(0, i * 104729 + 7) for i in range(n)]
    est = hll_distinct(_mk(spark, rows), ("g",), "v", p=8).collect()[0]
    assert abs(est.hll_est - n) / n < 0.20
    # duplicates must not move any register
    est2 = hll_distinct(_mk(spark, rows * 3), ("g",), "v", p=8).collect()[0]
    assert est2.hll_est == est.hll_est and est2.v_zero == est.v_zero


def test_hll_exact_small_sets_identical_registers(spark):
    # same value set in different row orders/duplication -> identical output
    base = [(0, v) for v in (5, 17, 29, 3, 99991)]
    a = hll_distinct(_mk(spark, base), ("g",), "v", p=6).collect()[0]
    b = hll_distinct(_mk(spark, base[::-1] + base), ("g",), "v",
                     p=6).collect()[0]
    assert (a.hll_est, a.v_zero, a.m) == (b.hll_est, b.v_zero, b.m)
    assert a.m == 64


def test_hll_gate_query_alignment(spark, sf_dir):
    # the gate entry itself at sf0.001: estimates within 3 sigma of exact
    import __spark_entry__ as em

    est = {(r.cy, r.cx): r.hll_est
           for r in em.q_hll_cells(spark, sf_dir).collect()}
    exact = {(r.cy, r.cx): r.n for r in em._points(spark, sf_dir)
             .select(F.shiftright("qlat", 13).alias("cy"),
                     F.shiftright("qlon", 13).alias("cx"), "doc_id")
             .groupBy("cy", "cx")
             .agg(F.countDistinct("doc_id").alias("n")).collect()}
    assert set(est) == set(exact)
    for k, n in exact.items():
        if n >= 50:
            assert abs(est[k] - n) / n < 0.20, (k, est[k], n)


# --- count-min sketch ---

from tree_code_chunker_spark.operators.sketch import (  # noqa: E402
    cms_build,
    cms_estimate,
    cms_sql,
)


def test_cms_counters_match_duckdb_exactly(spark):
    rows = [(v,) for v in list(range(40)) * 3 + [7] * 50 + [100003] * 9]
    df = spark.createDataFrame(rows, "item bigint")
    sk = cms_build(df, "item", w=64, d=3)
    truth = df.groupBy("item").agg(F.count("*").cast("long").alias("n"))
    got = sorted((r.item, r.n, r.cms_est)
                 for r in cms_estimate(truth, sk, "item", w=64, d=3).collect())
    vals = ", ".join(f"({v})" for (v,) in rows)
    sql = (f"WITH cells(item) AS (VALUES {vals}), "
           + cms_sql("cells", "item", w=64, d=3))
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def test_cms_overestimates_never_under(spark):
    # 300 distinct items into w=64 buckets -> collisions guaranteed
    rows = [(v,) for v in range(300) for _ in range(v % 5 + 1)]
    df = spark.createDataFrame(rows, "item bigint")
    sk = cms_build(df, "item", w=64, d=4)
    truth = df.groupBy("item").agg(F.count("*").cast("long").alias("n"))
    out = cms_estimate(truth, sk, "item", w=64, d=4).collect()
    assert len(out) == 300
    assert all(r.cms_est >= r.n for r in out)
    # with d=4 rows, SOME estimate should still be exact
    assert any(r.cms_est == r.n for r in out)


def test_cms_exact_when_no_collisions(spark):
    rows = [(v,) for v in (3, 9, 12) for _ in range(v)]
    df = spark.createDataFrame(rows, "item bigint")
    sk = cms_build(df, "item", w=1024, d=4)
    truth = df.groupBy("item").agg(F.count("*").cast("long").alias("n"))
    out = {r.item: (r.n, r.cms_est)
           for r in cms_estimate(truth, sk, "item", w=1024, d=4).collect()}
    assert out == {3: (3, 3), 9: (9, 9), 12: (12, 12)}


def test_cms_merge_is_counter_addition(spark):
    a = spark.createDataFrame([(v,) for v in range(50)], "item bigint")
    b = spark.createDataFrame([(v,) for v in range(25, 75)], "item bigint")
    whole = {(r.r, r.bucket): r.cnt
             for r in cms_build(a.union(b), "item", w=32, d=2).collect()}
    pa = {(r.r, r.bucket): r.cnt for r in cms_build(a, "item", w=32, d=2).collect()}
    pb = {(r.r, r.bucket): r.cnt for r in cms_build(b, "item", w=32, d=2).collect()}
    summed = {k: pa.get(k, 0) + pb.get(k, 0) for k in set(pa) | set(pb)}
    assert whole == summed


def test_cms_absent_item_estimate(spark):
    df = spark.createDataFrame([(1,), (2,)], "item bigint")
    sk = cms_build(df, "item", w=256, d=4)
    probe = spark.createDataFrame([(999999,)], "item bigint")
    out = cms_estimate(probe, sk, "item", w=256, d=4).collect()
    assert out[0].cms_est == 0  # empty buckets -> coalesce(0) floor holds


# --- bloom filter ---

from tree_code_chunker_spark.operators.sketch import (  # noqa: E402
    bloom_flags,
    bloom_flags_sql,
    bloom_positions,
)


def test_bloom_no_false_negatives_and_duckdb_mirror(spark):
    items = spark.createDataFrame([(v,) for v in range(200)], "item bigint")
    keys = spark.createDataFrame([(v,) for v in range(0, 200, 3)], "k bigint")
    out = bloom_flags(items, "item", keys, "k", m_bits=256, k=3).collect()
    assert all(r.bloom_pass for r in out if r.member)  # no false negatives
    kv = ", ".join(f"({v})" for v in range(200))
    sql = (f"WITH points(doc_id) AS (VALUES {kv}), "
           + bloom_flags_sql("points", "doc_id",
                             "(SELECT doc_id FROM points WHERE doc_id % 3 = 0)",
                             "doc_id", m_bits=256, k=3))
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    got = sorted((r.item, r.bloom_pass, r.member) for r in out)
    assert got == want


def test_bloom_positions_bounded(spark):
    keys = spark.createDataFrame([(v,) for v in range(10000)], "k bigint")
    npos = bloom_positions(keys, "k", m_bits=128, k=4).count()
    assert npos <= 128  # saturated filter still bounded


def test_bloom_prune_actually_prunes(spark):
    # disjoint probe/key ranges: almost every probe should fail the prune
    df = spark.createDataFrame([(v,) for v in range(100000, 100400)],
                               "item bigint")
    keys = spark.createDataFrame([(v,) for v in range(40)], "k bigint")
    out = bloom_flags(df, "item", keys, "k", m_bits=2048, k=4).collect()
    passed = sum(1 for r in out if r.bloom_pass)
    assert all(not r.member for r in out)
    assert passed < 40  # FP rate far below 10% at this load factor


# --- hll merge ---

from tree_code_chunker_spark.operators.sketch import (  # noqa: E402
    hll_estimate,
    hll_merge,
    hll_registers,
)


def test_hll_merge_equals_direct(spark):
    df = spark.createDataFrame(
        [(v % 7, v % 3, v * 31 % 997) for v in range(3000)],
        "g long, sub long, x long")
    fine = hll_registers(df, ("g", "sub"), "x", p=6)
    merged = hll_estimate(
        hll_merge(fine.drop("sub"), ("g",)), ("g",), p=6)
    direct = hll_estimate(hll_registers(df, ("g",), "x", p=6), ("g",), p=6)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_hll_merge_idempotent_and_replay_safe(spark):
    df = spark.createDataFrame([(1, v) for v in range(500)], "g long, x long")
    regs = hll_registers(df, ("g",), "x", p=6)
    # merging a register table with ITSELF (a replayed batch) is a no-op
    doubled = hll_merge(regs.unionByName(regs), ("g",))
    assert sorted(map(tuple, doubled.collect())) == \
        sorted(map(tuple, regs.collect()))


