"""The benchmark workloads.

Each workload calls the public functions of ``tree_code_chunker_spark`` the
way a user of the engine would, and nothing else:

* ``op(i)`` is one operation as a user runs it (lazy plans forced only by
  the action the user would take);
* ``op_traced(i)`` is the same operation with each layer's output forced by
  its own action inside a span, so every layer's time and Spark jobs can be
  told apart;
* ``setup_rep()`` is one repetition of the timed set-up (inputs, corpus,
  indexes); ``prepare_checks()`` builds the untimed oracles.

Both op forms return ``(items, evidence)``; ``check(evidence)`` lists what is
wrong with one operation's output.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.harness import median, median_rate

MAX_CHUNK_SIZE = 1500  # jobs/pip_tile_job.py default
ZOOMS = (4, 8, 12)
HOT_TILE_ROWS = 256  # a z12 tile holding more points than this is hot
K = 5
# The polygon layer is the fixed reference set that jobs/pip_tile_job.py and
# bench.py generate (seed 43): the run seed varies documents, corpus points
# and requests, while the PIP work per operation stays comparable.
POLYGON_SEED = 43


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


class Workload:
    # Timed operations per run, however short --seconds is: the first ones
    # after the warm-up still speed up as the JIT compiles, and a median of
    # three also drops one operation stalled by the host.
    min_ops = 3

    def __init__(self, spark, tmp: str, seed: int, tracer):
        self.spark, self.tmp, self.seed, self.tr = spark, tmp, seed, tracer
        self.setup_parts: list[dict] = []  # one {metric: seconds} per rep
        self.layer: dict[str, float] = {}  # per-run per-layer counts

    def warmup(self) -> float:
        """One operation left out of the metrics that takes the JVM and
        Python workers past their first-run costs (class loading, codegen,
        JIT, worker start).  Returns its latency."""
        return _timed(lambda: self.op(-1))[1]

    def check_all(self, evidence: list) -> list[list[str]]:
        return [self.check(ev) for ev in evidence]

    def diagnostics(self, evidence: list) -> None:
        """Traced runs only, after the operations: per-layer counts that
        need extra Spark jobs (index cover, candidate rows, hot tiles)."""

    def detail(self, lat_s: list[float], items: list[int], evidence) -> dict:
        return {}


# --------------------------------------------------------------- ingest ----


def build_points(chunks):
    """The `points` stage of jobs/pip_tile_job.py: one point per chunk."""
    from tree_code_chunker_spark.operators.geo import cell_col, derive_point_cols

    p = chunks.select("doc_id", F.col("chunk_index").alias("span_pos"))
    qlat, qlon = derive_point_cols(
        F.abs(F.hash("doc_id")).cast("long"), F.col("span_pos"))
    return p.select(
        "doc_id", "span_pos", qlat.alias("qlat"), qlon.alias("qlon")
    ).withColumn("cell", cell_col(F.col("qlat"), F.col("qlon")))


class Ingest(Workload):
    """The batch job of jobs/pip_tile_job.py over freshly generated documents:
    chunks -> points -> pip_matches -> vector_tiles -> raster_tiles, each
    stage committed by ``checkpoint.run_stage`` under a fresh root."""

    min_ops = 2  # a job run is ~45 Spark jobs, ~8 s; a third makes runs too long

    N_DOCS = 600
    N_FILES = 8
    N_POLYGONS = 100

    def setup_rep(self) -> None:
        t0 = time.perf_counter()
        table, stats = gen.gen_documents_table(self.N_DOCS, self.seed)
        self.input_dir = os.path.join(self.tmp, "input")
        shutil.rmtree(self.input_dir, ignore_errors=True)
        os.makedirs(self.input_dir)
        step = -(-table.num_rows // self.N_FILES)
        for f in range(self.N_FILES):
            part = table.slice(f * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(self.input_dir,
                                                  f"part-{f:02d}.parquet"))
        gen_s = time.perf_counter() - t0
        self.table, self.stats = table, stats
        self.input_bytes = _dir_bytes(self.input_dir)
        self.setup_parts.append({"sources.gen_s": gen_s})
        self.layer.update({"sources.docs": stats["docs"],
                           "sources.spans": stats["spans"],
                           "sources.input_bytes": self.input_bytes})

    def prepare_checks(self) -> None:
        self.want = checks.doc_spans(self.table)

    def _root(self, i: int) -> str:
        return os.path.join(self.tmp, "out", f"op{i:05d}")

    def op(self, i: int):
        from tree_code_chunker_spark.operators.checkpoint import run_stage
        from tree_code_chunker_spark.operators.chunker import chunk_documents
        from tree_code_chunker_spark.operators.pip import pip_join
        from tree_code_chunker_spark.operators.tiles import raster_tiles, vector_tiles
        from tree_code_chunker_spark.sources.datagen import gen_polygons

        spark, root = self.spark, self._root(i)
        docs = spark.read.parquet(self.input_dir)
        chunks = run_stage(spark, root, "chunks",
                           lambda: chunk_documents(docs, MAX_CHUNK_SIZE))
        points = run_stage(spark, root, "points", lambda: build_points(chunks))
        polys = gen_polygons(spark, self.N_POLYGONS, seed=POLYGON_SEED)
        run_stage(spark, root, "pip_matches", lambda: pip_join(points, polys))
        run_stage(spark, root, "vector_tiles",
                  lambda: vector_tiles(points, ZOOMS), partition_by=["z"])
        run_stage(spark, root, "raster_tiles",
                  lambda: raster_tiles(points, ZOOMS), partition_by=["z"])
        return self.stats["docs"], root

    def op_traced(self, i: int):
        from tree_code_chunker_spark.operators.checkpoint import commit_stage
        from tree_code_chunker_spark.operators.chunker import chunk_documents
        from tree_code_chunker_spark.operators.pip import build_polygon_index, pip_join
        from tree_code_chunker_spark.operators.tiles import raster_tiles, vector_tiles
        from tree_code_chunker_spark.sources.datagen import gen_polygons

        spark, root, tr, lay = self.spark, self._root(i), self.tr, self.layer
        cached, manifests = [], []

        def commit(df, stage, partition_by=None):
            with tr.span(f"checkpoint.{stage}"):
                manifests.append(commit_stage(df, root, stage, partition_by))
            return spark.read.parquet(os.path.join(root, stage))

        def force(df):
            df = df.cache()
            cached.append(df)
            return df

        with tr.span("op"):
            docs = spark.read.parquet(self.input_dir)
            with tr.span("chunker"):
                chunks = force(chunk_documents(docs, MAX_CHUNK_SIZE))
                c = chunks.agg(
                    F.count("*").alias("rows"),
                    F.count("error").alias("errors"),
                    F.sum(F.size(F.filter("spans", lambda s: (s["parts"] > 1)
                                          & (s["part"] == 0)))).alias("split"),
                ).first()
            chunks = commit(chunks, "chunks")
            with tr.span("geo"):
                points = force(build_points(chunks))
                n_points = points.count()
            points = commit(points, "points")
            with tr.span("sources.polygons"):
                polys = gen_polygons(spark, self.N_POLYGONS, seed=POLYGON_SEED)
            with tr.span("pip.index"):
                idx = build_polygon_index(polys)
            with tr.span("pip"):
                matches = force(pip_join(points, index=idx))
                n_matches = matches.count()
            commit(matches, "pip_matches")
            with tr.span("tiles.vector"):
                vt = force(vector_tiles(points, ZOOMS))
                v = vt.agg(F.count("*").alias("n"),
                           F.sum("n_dropped").alias("dropped")).first()
            commit(vt, "vector_tiles", ["z"])
            with tr.span("tiles.raster"):
                rt = force(raster_tiles(points, ZOOMS))
                n_raster = rt.count()
            commit(rt, "raster_tiles", ["z"])
        for df in cached:
            df.unpersist()
        lay.update({
            "chunker.chunks": c["rows"], "chunker.error_rows": c["errors"],
            "chunker.split_spans": c["split"] or 0, "geo.points": n_points,
            "pip.matches": n_matches, "tiles.out": v["n"] + n_raster,
            "tiles.features_dropped": v["dropped"] or 0,
            "checkpoint.rows_written": sum(m["n_rows"] for m in manifests),
            "checkpoint.bytes_written": sum(m["n_bytes"] for m in manifests)})
        return self.stats["docs"], root

    def diagnostics(self, evidence: list) -> None:
        from tree_code_chunker_spark.operators.pip import build_polygon_index
        from tree_code_chunker_spark.sources.datagen import gen_polygons

        points = self.spark.read.parquet(os.path.join(evidence[-1], "points"))
        idx = build_polygon_index(
            gen_polygons(self.spark, self.N_POLYGONS, seed=POLYGON_SEED))
        _cover_diagnostics(self.layer, points, idx)
        _hot_tiles(self.layer, points)

    def check(self, root: str) -> list[str]:
        fails = checks.check_manifests(root)
        rows = checks.read_stage(root, "chunks").to_pylist()
        return fails + checks.check_chunks(rows, self.want)

    def detail(self, lat_s, items, evidence) -> dict:
        written = [sum(_dir_bytes(os.path.join(r, s))
                       for s in checks.INGEST_STAGES) for r in evidence]
        return {"docs_per_s": {"value": median_rate(items, lat_s), "unit": "1/s"},
                "bytes_written_per_input_byte": {
                    "value": median(written) / self.input_bytes, "unit": "ratio"}}


def _cover_diagnostics(lay: dict, points, idx) -> None:
    from tree_code_chunker_spark.config import GRID_BITS

    cov = idx.cover_ix.agg(F.count("*").alias("n"),
                           F.avg(F.col("is_full").cast("double")).alias("full")
                           ).first()
    shift = GRID_BITS - idx.res
    cand = points.join(
        F.broadcast(idx.cover_ix),
        (F.shiftright(points["qlat"], shift) == idx.cover_ix["cov_cy"])
        & (F.shiftright(points["qlon"], shift) == idx.cover_ix["cov_cx"]))
    lay.update({"pip.cover_rows": cov["n"], "pip.cover_full_share": cov["full"],
                "pip.candidates": cand.count()})


def _hot_tiles(lay: dict, points) -> None:
    from tree_code_chunker_spark.operators.geo import tile_cols
    from tree_code_chunker_spark.operators.skew import hot_keys

    tx, ty = tile_cols(F.col("qlat"), F.col("qlon"), 12)
    keyed = points.select((tx * F.lit(1 << 16) + ty).alias("tile"))
    lay["tiles.hot_tiles"] = hot_keys(keyed, "tile", HOT_TILE_ROWS).count()


# ---------------------------------------------------------------- probe ----


class Probe(Workload):
    """Closed loop, one client, against a point corpus cached at set-up with
    a prebuilt polygon index and kNN index: each round is one knn_ring
    request (a batch of KNN_BATCH queries, k=5) followed by one pip_join
    lookup of PIP_BATCH points."""

    N_DOCS = 1000
    SPANS_PER_DOC = 256
    N_POLYGONS = 2000
    KNN_BATCH = 20
    PIP_BATCH = 64

    def setup_rep(self) -> None:
        from tree_code_chunker_spark.operators.geo import cell_col, derive_point_cols
        from tree_code_chunker_spark.operators.knn import KnnIndex
        from tree_code_chunker_spark.operators.pip import build_polygon_index
        from tree_code_chunker_spark.sources.datagen import gen_polygons

        from perfbench.harness import cores

        if getattr(self, "pts", None) is not None:
            self.pts.unpersist()
        parts = {}
        (keys, polys), parts["sources.gen_s"] = _timed(lambda: (
            gen.corpus_keys(self.spark, self.N_DOCS, self.SPANS_PER_DOC, self.seed),
            gen_polygons(self.spark, self.N_POLYGONS, seed=POLYGON_SEED)))

        def corpus():
            qlat, qlon = derive_point_cols(F.col("doc_id"), F.col("span_pos"))
            pts = keys.select("doc_id", "span_pos", qlat.alias("qlat"),
                              qlon.alias("qlon"))
            pts = pts.withColumn("cell", cell_col(F.col("qlat"), F.col("qlon")))
            pts = pts.repartition(cores() * 3).cache()
            return pts, pts.count()

        (self.pts, self.n_points), parts["geo.points_s"] = _timed(corpus)
        self.pidx, parts["pip.index_build_s"] = _timed(
            lambda: build_polygon_index(polys))
        self.kidx, parts["knn.index_build_s"] = _timed(
            lambda: KnnIndex(self.pts, res=10))
        self.setup_parts.append(parts)
        self.layer.update({"sources.docs": self.N_DOCS,
                           "sources.spans": self.n_points,
                           "geo.points": self.n_points,
                           "knn.hot_cells": len(self.kidx.fine_sats)})

    def prepare_checks(self) -> None:
        """Oracles, and the seeded request stream."""
        from tree_code_chunker_spark.operators.geo import HOT_CENTERS

        self.bbox = checks.polygon_bboxes(self.pidx.pack)
        self.hot_centers = HOT_CENTERS
        self.rng = np.random.default_rng(self.seed)
        self.bbox_arr = np.array(list(self.bbox.values()), dtype=np.int64)

    def _requests(self, i: int):
        q = gen.knn_query_batch(self.rng, self.KNN_BATCH, self.hot_centers,
                                f"r{i}")
        p = gen.pip_point_batch(self.rng, self.PIP_BATCH, self.bbox_arr, f"r{i}")
        return q, p

    def _knn(self, q):
        from tree_code_chunker_spark.operators.knn import knn_ring

        qdf = self.spark.createDataFrame(q, "query_id string, qlat bigint, qlon bigint")
        return [tuple(r) for r in knn_ring(qdf, k=K, index=self.kidx).select(
            "query_id", "doc_id", "span_pos", "d2", "rank").collect()]

    def _pip(self, p):
        from tree_code_chunker_spark.operators.pip import pip_join

        pdf = self.spark.createDataFrame(
            p, "doc_id string, span_pos bigint, qlat bigint, qlon bigint")
        return {(r["span_pos"], r["polygon_id"])
                for r in pip_join(pdf, index=self.pidx).collect()}

    def _round(self, i: int, traced: bool):
        q, p = self._requests(i)
        span = self.tr.span if traced else (lambda name: nullcontext())
        with span("op"):
            with span("knn"):
                rows, knn_s = _timed(lambda: self._knn(q))
            with span("pip"):
                matches, pip_s = _timed(lambda: self._pip(p))
        self.layer["knn.rows_out"] = len(rows)
        self.layer["pip.matches"] = len(matches)
        return 2, {"q": q, "rows": rows, "p": p, "matches": matches,
                   "knn_s": knn_s, "pip_s": pip_s}

    def op(self, i: int):
        return self._round(i, traced=False)

    def op_traced(self, i: int):
        return self._round(i, traced=True)

    def check(self, ev) -> list[str]:
        want = checks.pip_matches_np(self.pidx.pack, self.bbox, ev["p"])
        return (checks.check_knn_ranks(ev["rows"], [q[0] for q in ev["q"]], K)
                + checks.check_pip_matches(ev["matches"], want))

    def check_all(self, evidence: list) -> list[list[str]]:
        """Per-round checks, plus one seeded query of every round compared
        with knn.knn_bruteforce in a single Spark job."""
        from tree_code_chunker_spark.operators.knn import knn_bruteforce

        fails = super().check_all(evidence)
        if not evidence:
            return fails
        rng = np.random.default_rng(self.seed + 1)
        picks = [ev["q"][int(rng.integers(len(ev["q"])))] for ev in evidence]
        qdf = self.spark.createDataFrame(picks, "query_id string, qlat bigint, qlon bigint")
        want: dict = {}
        for r in knn_bruteforce(qdf, self.pts, K).collect():
            want.setdefault(r["query_id"], []).append(
                (r["query_id"], r["doc_id"], r["span_pos"], r["d2"], r["rank"]))
        for j, (ev, pick) in enumerate(zip(evidence, picks)):
            got = [r for r in ev["rows"] if r[0] == pick[0]]
            fails[j] += checks.check_knn_rows(got, want.get(pick[0], []))
        return fails

    def diagnostics(self, evidence: list) -> None:
        """Cover and candidate counts of the last lookup batch."""
        pdf = self.spark.createDataFrame(
            evidence[-1]["p"], "doc_id string, span_pos bigint, qlat bigint, qlon bigint")
        _cover_diagnostics(self.layer, pdf, self.pidx)
        _hot_tiles(self.layer, self.pts)

    def detail(self, lat_s, items, evidence) -> dict:
        from perfbench.harness import tail

        out = {}
        for kind in ("knn", "pip"):
            xs = [ev[f"{kind}_s"] * 1000 for ev in evidence]
            t, pct = tail(xs)
            out[f"{kind}_p50_ms"] = {"value": median(xs), "unit": "ms"}
            out[f"{kind}_tail_ms"] = {"value": t, "unit": "ms"}
            out[f"{kind}_tail_pct"] = {"value": pct, "unit": "%"}
            out[f"{kind}_samples"] = {"value": len(xs), "unit": "count"}
        return out


WORKLOADS = {"ingest": Ingest, "probe": Probe}
