"""as-of join / funnel / rolling time aggregates / BM25 — semantics pins
plus DuckDB cross-engine equality on the gate tables."""

import duckdb
import pytest

from tree_code_chunker_spark.operators.events import (
    asof_join,
    funnel,
    rolling_time_agg,
)
from tree_code_chunker_spark.operators.rank import bm25_topk, bm25_topk_sql


# --- asof_join ---


def _quotes(spark):
    # (sym, ts_us, px) — includes duplicate-timestamp rows for the tie pin
    rows = [("a", 10, 100), ("a", 20, 101), ("a", 20, 99), ("a", 40, 105),
            ("b", 15, 50)]
    return spark.createDataFrame(rows, "sym string, qts long, px long")


def _trades(spark):
    rows = [("a", 5), ("a", 10), ("a", 25), ("a", 40), ("a", 100),
            ("b", 14), ("c", 30)]
    return spark.createDataFrame(rows, "sym string, tts long")


def test_asof_backward_inclusive(spark):
    out = {(r.sym, r.tts): (r.r_px, r.r_qts_us)
           for r in asof_join(_trades(spark), _quotes(spark),
                              ["sym"], "tts", "qts").collect()}
    assert out[("a", 5)] == (None, None)          # nothing at-or-before
    assert out[("a", 10)] == (100, 10)            # equal ts matches
    assert out[("a", 25)] == (101, 20)            # dup-ts: max payload wins
    assert out[("a", 40)] == (105, 40)
    assert out[("a", 100)] == (105, 40)
    assert out[("b", 14)] == (None, None)
    assert out[("c", 30)] == (None, None)         # key absent on right


def test_asof_strict_excludes_equal_ts(spark):
    out = {(r.sym, r.tts): r.r_qts_us
           for r in asof_join(_trades(spark), _quotes(spark),
                              ["sym"], "tts", "qts", strict=True).collect()}
    assert out[("a", 10)] is None                 # equal ts no longer matches
    assert out[("a", 40)] == 20


def test_asof_tolerance(spark):
    out = {(r.sym, r.tts): r.r_qts_us
           for r in asof_join(_trades(spark), _quotes(spark),
                              ["sym"], "tts", "qts",
                              tolerance_us=10).collect()}
    assert out[("a", 25)] == 20                   # gap 5 <= 10
    assert out[("a", 100)] is None                # gap 60 > 10


def test_asof_deterministic_across_parallelism(spark):
    a = asof_join(_trades(spark).repartition(7), _quotes(spark),
                  ["sym"], "tts", "qts").collect()
    b = asof_join(_trades(spark).coalesce(1), _quotes(spark),
                  ["sym"], "tts", "qts").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- funnel ---


def _funnel_events(spark):
    rows = [
        # u1 completes: s@10, c@20, p@30
        (1, 10, "s"), (1, 20, "c"), (1, 30, "p"),
        # u2 breaks order: p before c
        (2, 10, "s"), (2, 50, "p"), (2, 60, "c"),
        # u3: second step beyond horizon (horizon 100 from t0)
        (3, 10, "s"), (3, 200, "c"), (3, 210, "p"),
        # u4: no step-0 at all
        (4, 10, "c"), (4, 20, "p"),
        # u5: greedy t0 is the FIRST s even though a later s would convert
        (5, 10, "s"), (5, 300, "s"), (5, 320, "c"),
    ]
    return spark.createDataFrame(rows, "u long, t long, e string")


def test_funnel_semantics(spark):
    out = {r.u: (r.t0_us, r.t1_us, r.t2_us, r.depth)
           for r in funnel(_funnel_events(spark), "u", "t", "e",
                           ["s", "c", "p"], horizon_us=100).collect()}
    assert out[1] == (10, 20, 30, 3)
    assert out[2] == (10, 60, None, 2)            # p@50 precedes c -> no t2
    assert out[3] == (10, None, None, 1)          # c@200 beyond 10+100
    assert out[4] == (None, None, None, 0)
    assert out[5] == (10, None, None, 1)          # greedy: t0=10, not 300


# --- rolling_time_agg ---


def test_rolling_range_frame_includes_equal_ts_peers(spark):
    rows = [(1, 0, 1.0), (1, 100, 2.0), (1, 100, 3.0), (1, 250, 4.0),
            (2, 0, 10.0)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    out = sorted((r.k, r.ts_us, r.n_w, r.sum_w, r.avg_w) for r in
                 rolling_time_agg(df, "k", "t", "v", window_us=150).collect())
    # both t=100 rows see each other (RANGE peers) plus t=0
    assert (1, 100, 3, 6.0, 2.0) in out
    assert out.count((1, 100, 3, 6.0, 2.0)) == 2
    # t=250 window [100, 250] -> the two t=100 rows + itself
    assert (1, 250, 3, 9.0, 3.0) in out
    assert (2, 0, 1, 10.0, 10.0) in out


def test_rolling_matches_duckdb_on_events(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = sorted(
        (r.event_id, r.user_id, r.ts_us, r.n_w, r.sum_w, r.avg_w)
        for r in rolling_time_agg(ev, "user_id", "ts", "value",
                                  window_us=3_600_000_000,
                                  id_cols=["event_id"]).collect())
    want = sorted(map(tuple, duckdb.connect().execute(f"""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               count(*) OVER w AS n_w,
               round(CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w
                          AS DOUBLE), 6) AS sum_w,
               round(CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w
                          AS DOUBLE) / count(*) OVER w, 6) AS avg_w
        FROM read_parquet('{sf_dir}/events.parquet')
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """).fetchall()))
    assert got == want


# --- bm25 ---

QUERIES = [(1, "spark window join"), (2, "fast table scan")]


def test_bm25_matches_duckdb(spark, sf_dir):
    got = sorted(map(tuple, bm25_topk(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        "doc_id", "text", QUERIES, topk=10).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = sorted(map(tuple, con.execute(
        bm25_topk_sql("documents", "doc_id", "text", QUERIES,
                      topk=10)).fetchall()))
    assert got == want
    assert len(got) == 20                          # 10 per query


def test_bm25_rare_term_outranks_common(spark):
    rows = [(0, "aardvark cat"), (1, "cat cat cat"), (2, "cat dog"),
            (3, "dog dog"), (4, "fish")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, "doc_id", "text", [(1, "aardvark cat")],
                    topk=5).collect()
    by_rank = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert by_rank[0] == 0                         # only aardvark doc
    assert set(by_rank) == {0, 1, 2}               # fish/dog-only never score
    scores = {r.doc_id: r.score for r in out}
    assert scores[1] > scores[2]                   # higher tf for 'cat'


def test_bm25_query_term_dedup_and_unknown_terms(spark):
    rows = [(0, "cat"), (1, "cat cat")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = bm25_topk(df, "doc_id", "text", [(1, "cat")], topk=5).collect()
    twice = bm25_topk(df, "doc_id", "text",
                      [(1, "cat cat zzz_unseen")], topk=5).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))


# --- retention ---

from tree_code_chunker_spark.operators.events import retention_matrix  # noqa: E402

DAY = 86_400_000_000


def test_retention_semantics(spark):
    rows = [
        # u1: signup day 0, active day 0 / day 2
        (1, 0 * DAY + 5, "signup"), (1, 0 * DAY + 9, "click"),
        (1, 2 * DAY + 1, "view"),
        # u2: signup day 0, PRE-anchor activity must not count
        (2, 0 * DAY + 7, "signup"), (2, 0 * DAY + 1, "click"),
        (2, 1 * DAY, "click"),
        # u3: never signs up -> excluded entirely
        (3, 0 * DAY, "click"),
        # u4: signup day 1, activity beyond max_offset dropped
        (4, 1 * DAY, "signup"), (4, 40 * DAY, "click"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, e string")
    out = {(r.cohort_day, r.day_offset): r.n_users
           for r in retention_matrix(df, "u", "t", "e", "signup",
                                     max_offset_days=30).collect()}
    # day 0 cohort: u1 and u2 both active on their cohort day (u2's
    # pre-anchor click at +1us is SAME day as the signup -> offset 0 counts;
    # the day-2 row is only u1, day-1 only u2)
    assert out[(0, 0)] == 2
    assert out[(0, 1)] == 1
    assert out[(0, 2)] == 1
    assert out[(1, 0)] == 1          # u4 cohort day 1, only signup itself
    assert (1, 39) not in out        # beyond max_offset_days
    assert all(c != 3 for (c, _o) in out)  # u3 has no cohort


# --- ohlc / twa ---

from tree_code_chunker_spark.operators.events import (  # noqa: E402
    ohlc_bars,
    time_weighted_avg,
)


def test_ohlc_semantics_and_ties(spark):
    rows = [
        # key 1, bar 0 (bar_us=100): open by (t,i) order, equal-ts tie at
        # t=0 broken by id -> open is v=5.0 (id 1), not 9.0 (id 2)
        (1, 0, 1, 5.0), (1, 0, 2, 9.0), (1, 50, 3, 1.0), (1, 99, 4, 7.0),
        # key 1, bar 1
        (1, 100, 5, 2.0),
    ]
    df = spark.createDataFrame(rows, "k long, t long, i long, v double")
    out = {(r.k, r.bar_start_us): (r.n, r.open, r.high, r.low, r.close,
                                   r.sum_v)
           for r in ohlc_bars(df, "k", "t", "v", 100, id_col="i").collect()}
    assert out[(1, 0)] == (4, 5.0, 9.0, 1.0, 7.0, 22.0)
    assert out[(1, 100)] == (1, 2.0, 2.0, 2.0, 2.0, 2.0)


def test_twa_zero_order_hold_and_fallback(spark):
    rows = [
        # key 1: v=10 for 10us, v=20 for 30us -> twa = (100+600)/40 = 17.5
        (1, 0, 1, 10.0), (1, 10, 2, 20.0), (1, 40, 3, 99.0),
        # key 2: single observation -> plain mean fallback
        (2, 5, 4, 7.0),
        # key 3: all at one instant -> zero duration -> mean of values
        (3, 9, 5, 1.0), (3, 9, 6, 2.0),
    ]
    df = spark.createDataFrame(rows, "k long, t long, i long, v double")
    out = {r.k: (r.n, r.twa) for r in
           time_weighted_avg(df, "k", "t", "v", id_col="i").collect()}
    assert out[1] == (3, 17.5)     # last observation carries no weight
    assert out[2] == (1, 7.0)
    assert out[3] == (2, 1.5)


def test_ohlc_deterministic_across_parallelism(spark):
    import random
    rng = random.Random(3)
    rows = [(rng.randrange(4), rng.randrange(1000), i,
             round(rng.uniform(0, 50), 2)) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, t long, i long, v double")
    a = sorted(map(tuple, ohlc_bars(df.repartition(13), "k", "t", "v", 100,
                                    id_col="i").collect()))
    b = sorted(map(tuple, ohlc_bars(df.coalesce(1), "k", "t", "v", 100,
                                    id_col="i").collect()))
    assert a == b


# --- corr / pmi ---

from tree_code_chunker_spark.operators.profile import (  # noqa: E402
    corr_matrix,
    corr_matrix_sql,
)
from tree_code_chunker_spark.operators.textstats import (  # noqa: E402
    pmi_collocations,
)


def test_corr_known_values_and_nulls(spark):
    rows = [(1.0, 2.0, 5.0), (2.0, 4.0, 4.0), (3.0, 6.0, 3.0),
            (4.0, 8.0, None), (None, 1.0, 1.0)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = {(r.col_x, r.col_y): (r.n, r.corr)
           for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert out[("x", "y")] == (4, 1.0)            # exact linear
    assert out[("x", "z")] == (3, -1.0)           # pairwise null drop
    assert out[("y", "z")][0] == 4


def test_corr_constant_column_sentinel(spark):
    df = spark.createDataFrame([(1.0, 7.0), (2.0, 7.0)], "x double, c double")
    out = corr_matrix(df, ["x", "c"]).collect()
    assert out[0].corr == 0.0                     # zero variance -> 0


def test_corr_matches_duckdb_on_lineitem(spark, sf_dir):
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    got = sorted(map(tuple, corr_matrix(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), cols).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    want = sorted(map(tuple, con.execute(
        "WITH " + corr_matrix_sql("lineitem", cols)).fetchall()))
    assert got == want


def test_pmi_prefers_exclusive_pairs(spark):
    # "strong glue" always co-occur; "weak" pairs are independent-ish
    docs = [("strong glue a b", )] * 6 + [("a b c d", )] * 6 \
        + [("b a d c", )] * 6
    df = spark.createDataFrame(docs, "text string")
    out = pmi_collocations(df, "text", min_count=5, topk=3).collect()
    top = sorted(out, key=lambda r: r.rank)[0]
    assert (top.a, top.b) == ("strong", "glue")
    assert top.cab == 6
    ranks = [r.rank for r in out]
    assert ranks == [1, 2, 3]                     # dense, deterministic


def test_resample_ffill_locf_and_leading_nulls(spark):
    from tree_code_chunker_spark.operators.events import resample_ffill

    rows = [("a", 3, 30.0), ("a", 12, 120.0), ("a", 12, 125.0),  # dup ts
            ("b", 25, 1.0)]
    ev = spark.createDataFrame(rows, "sym string, ts long, v double")
    out = {(r.sym, r.t): (r.r_v, r.r_ts) for r in
           resample_ffill(ev, ["sym"], "ts", 0, 30, 10).collect()}
    assert len(out) == 8   # 2 keys x 4 grid points
    assert out[("a", 0)] == (None, None)          # before first event
    assert out[("a", 10)] == (30.0, 3)
    # grid point lands ON the dup-ts pair: max payload struct wins (125.0)
    assert out[("a", 20)] == (125.0, 12)
    assert out[("a", 30)] == (125.0, 12)
    assert out[("b", 20)] == (None, None)
    assert out[("b", 30)] == (1.0, 25)


def test_resample_ffill_deterministic_and_args(spark):
    import pytest
    from tree_code_chunker_spark.operators.events import resample_ffill

    import random
    rng = random.Random(3)
    rows = [("k%d" % (i % 5), rng.randrange(0, 1000), float(i))
            for i in range(400)]
    ev = spark.createDataFrame(rows, "sym string, ts long, v double")
    outs = []
    for nparts in (1, 11):
        outs.append(sorted(map(tuple, resample_ffill(
            ev.repartition(nparts), ["sym"], "ts", 0, 1000, 50).collect())))
    assert outs[0] == outs[1] and len(outs[0]) == 5 * 21
    with pytest.raises(ValueError, match="step"):
        resample_ffill(ev, ["sym"], "ts", 0, 100, 0)
    with pytest.raises(ValueError, match="< start"):
        resample_ffill(ev, ["sym"], "ts", 100, 0, 10)


def test_resample_ffill_rejects_t_collision(spark):
    import pytest
    from tree_code_chunker_spark.operators.events import resample_ffill

    ev = spark.createDataFrame([("a", 1, 2.0)], "t string, ts long, v double")
    with pytest.raises(ValueError, match="'t' collides"):
        resample_ffill(ev, ["t"], "ts", 0, 10, 5)
    ev2 = spark.createDataFrame([("a", 1, 2.0)], "k string, t long, v double")
    with pytest.raises(ValueError, match="'t' collides"):
        resample_ffill(ev2, ["k"], "t", 0, 10, 5)


def test_rolling_zscore_flags_spike_not_steady(spark):
    from tree_code_chunker_spark.operators.events import rolling_zscore

    rows = ([("a", t, 10.0 + (t % 3) * 0.1) for t in range(0, 200, 10)]
            + [("a", 205, 500.0)]              # spike
            + [("b", t, 7.0) for t in range(0, 100, 10)])   # constant
    ev = spark.createDataFrame(rows, "sym string, ts long, v double")
    out = rolling_zscore(ev, "sym", "ts", "v", window_us=100,
                         k_sigma=3.0, min_points=5).collect()
    flagged = {(r.sym, r.ts_us) for r in out if r.is_anomaly}
    assert flagged == {("a", 205)}
    # constant series: zero variance -> z NULL, never flagged
    bs = [r for r in out if r.sym == "b"]
    assert all(r.z is None and not r.is_anomaly for r in bs)
    # python mirror of the BASELINE moments (strictly earlier events)
    win = [v for s, t, v in rows if s == "a" and 105 <= t <= 204]
    m = sum(win) / len(win)
    var = sum(x * x for x in win) / len(win) - m * m
    spike = [r for r in out if r.sym == "a" and r.ts_us == 205][0]
    assert spike.n_w == len(win)
    # relative tolerance: the engine's decimal-exact moments and the
    # mirror's float moments agree to ~1e-12 relative, not absolute
    want_z = (500.0 - m) / var ** 0.5
    assert abs(spike.z - want_z) / abs(want_z) < 1e-9


def test_rolling_zscore_min_points_gate(spark):
    from tree_code_chunker_spark.operators.events import rolling_zscore
    # an early wild value with < min_points context must NOT flag
    rows = [("a", 0, 1.0), ("a", 10, 99.0)]
    ev = spark.createDataFrame(rows, "sym string, ts long, v double")
    out = rolling_zscore(ev, "sym", "ts", "v", window_us=100,
                         k_sigma=1.0, min_points=5).collect()
    assert not any(r.is_anomaly for r in out)


def test_rolling_zscore_numerics_hard_cases(spark):
    import pytest
    from tree_code_chunker_spark.operators.events import rolling_zscore

    # cancellation regime: huge mean, tiny variance — the naive double
    # E[x^2] - mean^2 silently returns var <= 0 here and never flags
    rows = ([("a", t, 1e8 + ((t // 10) % 3) * 0.0014)
             for t in range(0, 200, 10)] + [("a", 205, 1e8 + 50.0)])
    ev = spark.createDataFrame(rows, "sym string, ts long, v double")
    out = {r.ts_us: r for r in rolling_zscore(
        ev, "sym", "ts", "v", window_us=100, min_points=5).collect()}
    assert out[205].is_anomaly and out[205].z > 1000
    # sub-milli values: 6dp-quantized squares must stay exact
    rows2 = ([("b", t, 0.001 + ((t // 10) % 5) * 0.0002)
              for t in range(0, 200, 10)] + [("b", 205, 0.05)])
    ev2 = spark.createDataFrame(rows2, "sym string, ts long, v double")
    out2 = {r.ts_us: r for r in rolling_zscore(
        ev2, "sym", "ts", "v", window_us=100, min_points=5).collect()}
    win = [v for s, t, v in rows2 if s == "b" and 105 <= t <= 204]
    m = sum(win) / len(win)
    var = sum(x * x for x in win) / len(win) - m * m
    want = (0.05 - m) / var ** 0.5
    assert out2[205].is_anomaly
    assert abs(out2[205].z - want) / want < 1e-9
    # domain guard: wild sentinel raises with a clear message
    ev3 = spark.createDataFrame(
        [("c", 0, 1.0), ("c", 10, 9.9e15)], "sym string, ts long, v double")
    with pytest.raises(Exception, match="domain"):
        rolling_zscore(ev3, "sym", "ts", "v", window_us=100).collect()
    # mis-unit'd window raises instead of silently never flagging
    with pytest.raises(ValueError, match="window_us"):
        rolling_zscore(ev, "sym", "ts", "v", window_us=0)


class TestResampleInterp:
    def _ev(self, spark):
        rows = [("a", 10, 1.0), ("a", 20, 3.0), ("a", 20, 5.0),
                ("a", 40, 4.0), ("b", 15, 2.0)]
        return spark.createDataFrame(rows, "k string, ts long, v double"), rows

    def test_linear_interp_matches_python_mirror(self, spark):
        from tree_code_chunker_spark.operators.events import resample_interp

        ev, rows = self._ev(spark)
        out = {(r["k"], r["t"]): (r["v"], r["t_prev"], r["t_next"])
               for r in resample_interp(ev, ["k"], "ts", "v",
                                        0, 50, 5).collect()}

        def mirror(key, t):
            evs = sorted([(ts, v) for k, ts, v in rows if k == key])
            prevs = [(ts, v) for ts, v in evs if ts <= t]
            nexts = [(ts, v) for ts, v in evs if ts >= t]
            if prevs:
                pt = max(prevs)[0]
                pv = max(v for ts, v in prevs if ts == pt)
            else:
                pt = pv = None
            nt = min(nexts)[0] if nexts else None
            nv = max(v for ts, v in nexts if ts == nt) if nexts else None
            if pt is None:
                return (None, None, nt)
            if nt is None or nt == pt:
                return (pv, pt, nt)
            return (pv + (nv - pv) * (t - pt) / (nt - pt), pt, nt)

        assert len(out) == 2 * 11
        for key in ("a", "b"):
            for t in range(0, 51, 5):
                want = mirror(key, t)
                got = out[(key, t)]
                if want[0] is None:
                    assert got[0] is None, (key, t, got)
                else:
                    assert got[0] == pytest.approx(want[0], abs=1e-12)
                assert got[1:] == want[1:], (key, t, got, want)

    def test_exact_hit_and_duplicate_ts_tie(self, spark):
        # grid instant exactly at a duplicated (key, ts): greatest value
        # wins, no 0/0
        from tree_code_chunker_spark.operators.events import resample_interp

        ev, _ = self._ev(spark)
        row = (resample_interp(ev, ["k"], "ts", "v", 20, 20, 1)
               .filter("k = 'a'").collect()[0])
        assert (row["v"], row["t_prev"], row["t_next"]) == (5.0, 20, 20)

    def test_before_first_null_after_last_holds(self, spark):
        from tree_code_chunker_spark.operators.events import resample_interp

        ev, _ = self._ev(spark)
        by_t = {r["t"]: r["v"] for r in
                resample_interp(ev, ["k"], "ts", "v", 0, 50, 5)
                .filter("k = 'b'").collect()}
        assert by_t[10] is None and by_t[0] is None
        assert by_t[15] == 2.0 and by_t[50] == 2.0

    def test_determinism_across_parallelism(self, spark):
        from tree_code_chunker_spark.operators.events import resample_interp

        ev, _ = self._ev(spark)
        a = sorted(map(tuple, resample_interp(
            ev.repartition(1), ["k"], "ts", "v", 0, 50, 5).collect()))
        b = sorted(map(tuple, resample_interp(
            ev.repartition(13), ["k"], "ts", "v", 0, 50, 5).collect()))
        assert a == b

    def test_rejects_bad_args(self, spark):
        from tree_code_chunker_spark.operators.events import resample_interp

        ev, _ = self._ev(spark)
        with pytest.raises(ValueError):
            resample_interp(ev, ["k"], "ts", "v", 0, 50, 0)
        with pytest.raises(ValueError):
            resample_interp(ev, ["k"], "ts", "v", 50, 0, 5)

    def test_single_windowexec_one_exchange(self, spark):
        # both direction frames must ride ONE sort / ONE exchange
        from tree_code_chunker_spark.operators.events import resample_interp

        ev, _ = self._ev(spark)
        plan = (resample_interp(ev, ["k"], "ts", "v", 0, 50, 5)
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange hashpartitioning") <= 2  # grid + union
        assert "Join" not in plan
