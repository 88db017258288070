"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[N], N from get_spark's default (SPARK_GRAFT_CPUS, else the
CPUs available).  Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline is the north-star pipeline: chunk -> geocode -> PIP join +
tile rollup (BASELINE.json "metric": PIP-join + tile-assignment throughput,
docs/sec).  The repository benchmark is perfbench/run.py; this script keeps
the older per-stage timings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def run(cores: int | None = None, sf_dir: str | None = None) -> dict:
    from tree_code_chunker_spark.operators.chunker import chunk_documents
    from tree_code_chunker_spark.operators.geo import cell_col, derive_point_cols, tile_cols
    from tree_code_chunker_spark.operators.knn import knn_ring
    from tree_code_chunker_spark.operators.pip import pip_join
    from tree_code_chunker_spark.plans.session import get_spark
    from tree_code_chunker_spark.sources.adapter import spanify, spanify_exploded
    from tree_code_chunker_spark.sources.datagen import gen_knn_queries, gen_polygons

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark("bench", cores=cores)
    cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    timings: dict[str, float] = {}

    def timed(name, fn, trials=2):
        # best-of-N everywhere: hypervisor steal swings minute-scale
        # throughput ~3x on this sandbox and the FIRST execution of any
        # stage additionally pays codegen/python-worker/broadcast warmup
        # (measured: tpch 5.0s cold vs 0.48s warm), so single cold
        # readings track the weather, not the engine
        best = None
        for _ in range(trials):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # chunking throughput (the reference's core pipeline)
    spans = spanify(docs)
    chunks = chunk_documents(spans, max_size=1500)
    timed("chunk", lambda: chunks.count())

    # point corpus: exploded spans x REPLICATE deterministic sub-keys, so the
    # spatial stages run at the bench scale (~9.2M points,
    # BASELINE.md) instead of being fixed-overhead-dominated; still derived
    # 1:1 from the driver tables (no external data)
    REPLICATE = 256
    base = spanify_exploded(docs).select(
        "doc_id", F.col("span_pos").cast("long").alias("span_pos"))
    keys = base.crossJoin(
        spark.range(REPLICATE).select(F.col("id").alias("rep"))
    ).select(
        "doc_id", (F.col("span_pos") * REPLICATE + F.col("rep")).alias("span_pos")
    )
    qlat, qlon = derive_point_cols(F.col("doc_id").cast("long"), F.col("span_pos"))
    pts = keys.select("doc_id", "span_pos", qlat.alias("qlat"), qlon.alias("qlon"))
    pts = pts.withColumn("cell", cell_col(F.col("qlat"), F.col("qlon")))
    pts = pts.repartition(max(cores * 3, 24)).cache()
    n_points = pts.count()  # materialize before timing compute stages
    timed("geocode", lambda: pts.count())

    # HEADLINE: PIP join + tile rollup at ~9.2M points x 2000 polygons.
    # Tiles: aggregate ONCE at the deepest zoom, then roll parents up from
    # the child rollup (quadtree prefix: parent = child >> 4 for z-4 steps)
    # — one scan of the point set instead of one per zoom.
    # Best of 2 trials: this sandbox's hypervisor steal swings minute-scale
    # throughput ~3x (BENCH/BASELINE.md), so a single cold reading tracks
    # the weather, not the engine.
    polys = gen_polygons(spark, 2000, seed=43)
    # polygon index built ONCE (like any real deployment: the build side
    # outlives many probe batches); its cost is reported separately
    from tree_code_chunker_spark.operators.pip import build_polygon_index
    t0 = time.perf_counter()
    pidx = build_polygon_index(polys)
    timings["pip_index_build"] = round(time.perf_counter() - t0, 3)

    def pip_tile_once():
        t0 = time.perf_counter()
        pip_join(pts, index=pidx).groupBy("polygon_id") \
            .agg(F.count("*").alias("n")).collect()
        tx, ty = tile_cols(F.col("qlat"), F.col("qlon"), 12)
        cur = pts.select(tx.alias("x"), ty.alias("y")) \
            .groupBy("x", "y").agg(F.count("*").alias("n")).cache()
        for z in (12, 8, 4):
            cur.count()
            if z > 4:
                cur = cur.select(
                    F.shiftright("x", 4).alias("x"),
                    F.shiftright("y", 4).alias("y"), "n",
                ).groupBy("x", "y").agg(F.sum("n").alias("n")).cache()
        return time.perf_counter() - t0

    headline = min(pip_tile_once() for _ in range(2))
    timings["pip_tile"] = round(headline, 3)

    # kNN ring (best of 2, same drift rationale); the corpus histogram/SAT
    # is a build-once KnnIndex like the polygon index — its cost is
    # reported separately and amortizes across probe batches
    from tree_code_chunker_spark.operators.knn import KnnIndex
    queries = gen_knn_queries(spark, 50, seed=44)
    t0 = time.perf_counter()
    kidx = KnnIndex(pts, res=10)
    timings["knn_index_build"] = round(time.perf_counter() - t0, 3)

    def knn_once():
        t0 = time.perf_counter()
        knn_ring(queries, k=5, index=kidx).count()
        return time.perf_counter() - t0

    timings["knn"] = round(min(knn_once() for _ in range(2)), 3)

    # corpus-vs-corpus kNN (one mapInPandas over the probe, ranked against
    # the index's broadcast arrays — the probe side is never collected):
    # a ~200k-point slice of the corpus, INCLUDING the hot boxes, probes
    # the full 9.2M-point index for its nearest other points.  This is
    # the ANN-dedup / getSiblings shape; hot probes ride the index's
    # density-adaptive fine tier (unit-granularity local SATs).
    from tree_code_chunker_spark.operators.knn import _self_key

    probe_self = pts.filter(F.col("span_pos") % 46 == 0).select(
        _self_key(["doc_id", "span_pos"]).alias("query_id"), "qlat", "qlon")
    # self-probing needs the FINE histogram (rh10): coarse-rh radius
    # overshoot multiplies by every probe (see knn_self_join docstring)
    t0 = time.perf_counter()
    kidx_self = KnnIndex(pts, res=10, res_hist=10)
    timings["knn_self_index_build"] = round(time.perf_counter() - t0, 3)

    def knn_self_once():
        t0 = time.perf_counter()
        knn_ring(probe_self, k=4, index=kidx_self, exclude_self=True).count()
        return time.perf_counter() - t0

    timings["knn_self_200k"] = round(
        min(knn_self_once() for _ in range(2)), 3)

    # dwithin radius join (spatial-join breadth): ~9.2M points x ~800
    # queries, cell-bucket prune + exact integer filter.  Non-hot queries
    # only — a hot-center query at radius 800 matches every point in its
    # 64x64 hot box, so hot x hot is output-bound (~100M rows), measuring
    # row materialization rather than the join engine; pip/tile already
    # covers the skew path.
    from tree_code_chunker_spark.operators.spatial import dwithin_join
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet") \
        .filter(F.col("s_suppkey") % 5 != 0)
    sqlat, sqlon = derive_point_cols(F.col("s_suppkey").cast("long"), F.lit(777))
    sq = sup.select(
        F.col("s_suppkey").cast("long").alias("query_id"),
        sqlat.alias("qlat"), sqlon.alias("qlon"),
    )
    timed("dwithin", lambda: dwithin_join(
        pts, sq, 800, broadcast_b=True).count())

    # spatiotemporal co-location SELF-join (contact detection) over a
    # 577k-point deterministic subsample (span_pos % 16): the 3-D
    # (cell, cell, time-bucket) 27-neighborhood equi-join, radius 16 /
    # dt 300 s on a derived day-clock -> ~2.3M contact pairs.  The time
    # bucketing divides each hot cell's candidates across ~288 day-clock
    # buckets — without it the 2-D form is output-bound in hot cells.
    # Subsampled for the same reason knn_self_200k subsamples its probe:
    # the full 9.2M-point form measures 223 s / 10.5M pairs (r=4,
    # dt=60) and is dominated by the same candidate-join term this
    # stage already isolates at bench-budget cost.
    from tree_code_chunker_spark.operators.spatial import st_colocate_join
    pts_t = pts.filter(F.col("span_pos") % 16 == 0).withColumn(
        "t_s",
        (F.col("doc_id").cast("long") * 7919 + F.col("span_pos") * 131)
        % 86400)
    timed("st_colocate", lambda: st_colocate_join(pts_t, 16, 300).count())

    # map-matching (round-6): snap the full ~9.2M-point corpus to a ~29k
    # synthetic road-segment set (one segment per base span, non-hot docs
    # only) within radius 200 — the cell-bucketed candidate join + exact
    # scaled point-to-segment distance + per-point argmin.  Hot docs are
    # excluded from the SEGMENT side for the same reason dwithin excludes
    # hot queries: thousands of co-located segments inside a 64x64 hot box
    # make hot x hot output-bound (every hot point x every hot segment),
    # measuring row materialization rather than the matcher.
    from tree_code_chunker_spark.operators.overlay import (
        overlay_res, snap_to_segments)

    segs = pts.filter((F.col("span_pos") % 256 == 0)
                      & (F.col("doc_id").cast("long") % 5 != 0)).select(
        (F.col("doc_id").cast("long") * 100000 + F.col("span_pos"))
        .alias("seg_id"),
        F.col("qlat").alias("y1"), F.col("qlon").alias("x1"),
        (F.col("qlat") + (F.col("qlat") * 7 + F.col("qlon") * 3) % 2401
         - 1200).alias("y2"),
        (F.col("qlon") + (F.col("qlat") * 5 + F.col("qlon") * 11) % 2401
         - 1200).alias("x2"))
    timed("map_match", lambda: snap_to_segments(
        pts, segs, 200, overlay_res(512),
        p_keep=("doc_id", "span_pos")).count())

    # rectangle overlay join (round-6): ~200k x ~200k data-derived rects
    # (extent <= 600), cell-bucketed with reference-point exactly-once
    # dedup -> ~3M intersecting pairs with exact inter/union areas.  Hot
    # docs excluded from BOTH sides: inside a 64x64 hot box every rect
    # overlaps every other (extent 600 >> box 64), so hot x hot is pure
    # output materialization, not join work (same rationale as dwithin).
    from tree_code_chunker_spark.operators.overlay import rect_overlay_join

    def _bench_rects(residue):
        return pts.filter((F.col("span_pos") % 46 == residue)
                          & (F.col("doc_id").cast("long") % 5 != 0)).select(
            "doc_id", "span_pos",
            F.col("qlat").alias("y0"), F.col("qlon").alias("x0"),
            (F.col("qlat") + 100 + F.col("qlat") % 501).alias("y1"),
            (F.col("qlon") + 100 + F.col("qlon") % 501).alias("x1"))

    ra = _bench_rects(0).withColumnsRenamed(
        {"doc_id": "a_doc", "span_pos": "a_pos"})
    rb = _bench_rects(23).withColumnsRenamed(
        {"doc_id": "b_doc", "span_pos": "b_pos"})
    timed("rect_overlay", lambda: rect_overlay_join(
        ra, rb, overlay_res(601),
        a_keep=("a_doc", "a_pos"), b_keep=("b_doc", "b_pos")).count())

    # relational baseline query (pushdown + partial agg showcase)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    timed("tpch_pricing", lambda: (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count("*"))
        .collect()
    ))

    # analytics breadth stages (round-4 additions): the two-phase batch
    # sessionizer, the OD-flow aggregation over the full 9.2M-point
    # corpus, and one PageRank iteration over the order->part bipartite
    # graph (the per-iteration edge-join + agg is THE unit of iterative
    # graph cost; edge count scales with lineitem)
    from tree_code_chunker_spark.operators.graph import pagerank_int
    from tree_code_chunker_spark.operators.spatial import od_matrix
    from tree_code_chunker_spark.streaming.windows import sessionize_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    timed("sessionize", lambda: sessionize_batch(ev).count())
    timed("od_matrix", lambda: od_matrix(pts, 4).count())

    # as-of join at corpus scale: all ~9.2M points as the probe ("trades")
    # against a 1/16 sample as the reference series ("quotes"), keyed by
    # doc_id (~n_docs keys) — measures the union-tag + running-last window
    # (ONE shuffle, no join node) on the full derived input
    from tree_code_chunker_spark.operators.events import asof_join

    trades = pts.select("doc_id",
                        (F.col("span_pos") * 7919).alias("ts_us"))
    quotes = pts.filter(F.col("span_pos") % 16 == 0).select(
        "doc_id", (F.col("span_pos") * 6151).alias("qts_us"),
        F.col("span_pos").alias("qid"))
    # consume the matched column: a bare count() lets Catalyst prune the
    # (unreferenced) window entirely and measures nothing
    timed("asof", lambda: asof_join(
        trades, quotes, ["doc_id"], "ts_us", "qts_us")
        .select(F.sum("r_qid")).collect())

    # BM25 keyword retrieval over the full document table (tokenize ->
    # tf/df aggregates -> broadcast-scored top-k)
    from tree_code_chunker_spark.operators.rank import bm25_topk

    timed("bm25", lambda: bm25_topk(
        docs, "doc_id", "text",
        [(1, "spark window join"), (2, "fast table scan"),
         (3, "stream batch merge group")], topk=10).count())
    pr_edges = li.select(F.col("l_orderkey").alias("src"),
                         F.col("l_partkey").alias("dst"))
    timed("pagerank_1it", lambda: pagerank_int(pr_edges, iters=1).count())

    # PageRank to CONVERGENCE (tol mode, the user-facing knob): stop when
    # the per-iteration L1 delta drops under 1% of a rank unit per node —
    # the telemetry turns "guess iters" into "measure iters" (round-5).
    from tree_code_chunker_spark.operators.graph import SCALE
    pr_nodes = pr_edges.select("src").union(
        pr_edges.select("dst")).distinct().count()
    pr_tol = pr_nodes * SCALE // 100
    pr_deltas: list[int] = []

    def pagerank_tol_once():
        pr_deltas.clear()
        t0 = time.perf_counter()
        pagerank_int(pr_edges, iters=20, tol=pr_tol,
                     deltas_out=pr_deltas).count()
        return time.perf_counter() - t0

    timings["pagerank_tol"] = round(pagerank_tol_once(), 3)
    pagerank_tol_iters = len(pr_deltas)
    pagerank_tol_delta = int(pr_deltas[-1]) if pr_deltas else 0

    # embedding near-dup via the LSH scale path (round-5): planted twins
    # (deterministic jitter) over the embeddings table; candidate volume
    # recorded vs n^2/2 — the number that makes this the default at scale
    from tree_code_chunker_spark.operators.dedup import (
        embedding_lsh_candidates,
        embedding_near_dup_pairs_lsh,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    emb_twins = emb_base.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("orig_id"),
        F.transform("v", lambda x, i: x * (
            1 + ((F.col("vec_id") * 31 + i) % 7 - 3) / 1000.0)).alias("v"),
    ).select((F.col("orig_id") + 100000).alias("vec_id"), "v")
    emb_aug = emb_base.unionByName(emb_twins).cache()
    n_vecs = emb_aug.count()
    timed("embed_near_dup_lsh", lambda: embedding_near_dup_pairs_lsh(
        emb_aug, "vec_id", "v", dim=64, threshold=0.99,
        n_bits=32, bands=4).count())
    lsh_candidates = embedding_lsh_candidates(
        emb_aug, "vec_id", "v", dim=64, n_bits=32, bands=4).count()
    emb_aug.unpersist()

    # DATA-LAYOUT pair (round-6): the same bbox count over (a) a z-order
    # laid-out parquet table (operators/tiles.layout_by_cell) and (b) the
    # same rows written in arrival order.  The laid-out scan reads only the
    # files whose min/max stats intersect the box (parquet row-group
    # pruning under the pushed-down predicate); skippable-file counts are
    # recorded from the files' own stats so the delta is attributable.
    import shutil
    import tempfile

    from tree_code_chunker_spark.operators.tiles import layout_by_cell

    lay_dir = tempfile.mkdtemp(prefix="bench_zlay_")
    unlay_dir = tempfile.mkdtemp(prefix="bench_unlay_")
    n_lay_files = max(cores, 16)
    layout_by_cell(pts.drop("cell"), n_lay_files) \
        .write.mode("overwrite").parquet(lay_dir)
    pts.drop("cell").repartition(n_lay_files, "doc_id") \
        .write.mode("overwrite").parquet(unlay_dir)
    BBOX = (20000, 26000, 38000, 46000)  # ~0.8% of the grid area

    def _bbox_count(path):
        t = spark.read.parquet(path)
        return (t.filter((F.col("qlat") >= BBOX[0]) & (F.col("qlat") < BBOX[1])
                         & (F.col("qlon") >= BBOX[2]) & (F.col("qlon") < BBOX[3]))
                .count())

    timed("layout_scan_laid", lambda: _bbox_count(lay_dir), trials=3)
    timed("layout_scan_unlaid", lambda: _bbox_count(unlay_dir), trials=3)

    def _skippable(path):
        """Files whose own (qlat, qlon) stats rule out the bbox — the
        row-group-pruning headroom written into the layout."""
        import glob as _glob

        import pyarrow.parquet as pq
        skip = total_files = 0
        for f in _glob.glob(f"{path}/*.parquet"):
            total_files += 1
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i
                     for i in range(md.num_columns)}
            lo = {c: min(md.row_group(g).column(names[c]).statistics.min
                         for g in range(md.num_row_groups))
                  for c in ("qlat", "qlon")}
            hi = {c: max(md.row_group(g).column(names[c]).statistics.max
                         for g in range(md.num_row_groups))
                  for c in ("qlat", "qlon")}
            if (hi["qlat"] < BBOX[0] or lo["qlat"] >= BBOX[1]
                    or hi["qlon"] < BBOX[2] or lo["qlon"] >= BBOX[3]):
                skip += 1
        return skip, total_files

    lay_skip, lay_files = _skippable(lay_dir)
    unlay_skip, unlay_files = _skippable(unlay_dir)
    shutil.rmtree(lay_dir, ignore_errors=True)
    shutil.rmtree(unlay_dir, ignore_errors=True)
    assert lay_skip > 0, (lay_skip, lay_files)

    # BUCKETED-JOIN pair (round-6): orders x lineitem on l_orderkey, both
    # sides persisted as same-bucketed tables (checkpoint.write_bucketed)
    # vs the plain parquet join.  The bucketed JOIN must plan with ZERO
    # hash-partitioning exchanges — asserted here, not assumed — which is
    # the whole point: every repeated join on the bucket key skips its
    # shuffle.  The measured query is join + count so the only exchange
    # anywhere is count()'s SinglePartition gather (a downstream groupBy
    # on a non-bucket key would legitimately add its own exchange and
    # muddy the zero-exchange claim).
    from tree_code_chunker_spark.operators.checkpoint import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed(orders, "bench_bkt_orders", ("o_orderkey",), 16,
                   sort_cols=("o_orderkey",))
    write_bucketed(li.select("l_orderkey", "l_quantity"),
                   "bench_bkt_lineitem", ("l_orderkey",), 16,
                   sort_cols=("l_orderkey",))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    bo, bl = spark.table("bench_bkt_orders"), spark.table("bench_bkt_lineitem")
    bucketed_j = (bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
                  .select(bo["o_orderkey"], "o_orderstatus", "l_quantity"))
    bucketed_plan = bucketed_j._jdf.queryExecution().executedPlan().toString()
    n_exchanges_bucketed = bucketed_plan.count("Exchange hashpartitioning")
    timed("join_bucketed", lambda: bucketed_j.count(), trials=3)
    plain_j = (orders.join(li.select("l_orderkey", "l_quantity"),
                           orders["o_orderkey"] == li["l_orderkey"])
               .select(orders["o_orderkey"], "o_orderstatus", "l_quantity"))
    n_exchanges_plain = (plain_j._jdf.queryExecution().executedPlan()
                         .toString().count("Exchange hashpartitioning"))
    timed("join_shuffled", lambda: plain_j.count(), trials=3)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS bench_bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bench_bkt_lineitem")
    assert n_exchanges_bucketed == 0, bucketed_plan
    assert n_exchanges_plain >= 2, "plain join should shuffle both sides"

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "pip_tile_docs_per_sec",
        "value": round(n_docs / headline, 2),
        "points_per_sec": round(n_points / headline, 2),
        "unit": "docs/sec",
        "total_sec": total,
        "queries": timings,
        "sf": sf,
        "cores": cores,
        "n_docs": n_docs,
        "n_points": n_points,
        "pagerank_tol_iters": pagerank_tol_iters,
        "pagerank_tol_delta": pagerank_tol_delta,
        "lsh_n_vecs": n_vecs,
        "lsh_candidates": int(lsh_candidates),
        "lsh_all_pairs": n_vecs * (n_vecs - 1) // 2,
        "layout_files_skippable": lay_skip,
        "layout_files_total": lay_files,
        "unlaid_files_skippable": unlay_skip,
        "unlaid_files_total": unlay_files,
        "bucketed_join_exchanges": n_exchanges_bucketed,
        "shuffled_join_exchanges": n_exchanges_plain,
    }
    spark.stop()
    return result


if __name__ == "__main__":
    print(json.dumps(run()))
