"""Spark-side end-to-end tests: chunking on real DataFrames, PIP join vs
numpy brute-force oracle, ring kNN vs brute force, determinism."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracle_fold import oracle_chunks
from tree_code_chunker_spark.operators.chunker import chunk_documents
from tree_code_chunker_spark.operators.geo import derive_point_cols
from tree_code_chunker_spark.operators.knn import knn_bruteforce, knn_ring
from tree_code_chunker_spark.operators.pip import (
    _collect_polygon_pack,
    ray_cast_rings_np,
    pip_join,
)
from tree_code_chunker_spark.sources.datagen import (
    gen_documents,
    gen_knn_queries,
    gen_polygons,
)


@pytest.fixture(scope="module")
def docs(spark):
    return gen_documents(spark, 60, seed=42).cache()


def test_chunk_documents_matches_oracle(spark, docs):
    out = chunk_documents(docs, max_size=1500).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    src = {r["doc_id"]: r["spans"] for r in docs.collect()}
    assert set(by_doc) == set(src)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_index"])
        spans = src[doc_id]
        want = oracle_chunks(
            [s["kind"] for s in spans],
            [s["text"] for s in spans],
            [s["media_ref"] for s in spans],
            [s["offset"] for s in spans],
            1500,
        )
        assert len(rows) == len(want)
        for g, w in zip(rows, want):
            assert (g["text"], g["byte_start"], g["byte_end"], g["nws_size"],
                    g["is_partial"], g["line_start"], g["line_end"]) == w
            assert g["total_chunks"] == len(want)


def test_chunk_streaming_sentinel(spark, docs):
    # ChunkStream sentinel: total_chunks = -1 (reference codechunk.go:284)
    out = chunk_documents(docs.limit(5), max_size=1500, streaming=True)
    assert out.select(F.collect_set("total_chunks")).first()[0] == [-1]


def test_pip_join_matches_bruteforce(spark, docs):
    polys = gen_polygons(spark, 12, seed=43)
    chunks = chunk_documents(docs, max_size=1500)
    pts = chunks.select(
        "doc_id", F.col("chunk_index").alias("span_pos")
    ).withColumn("doc_key", F.abs(F.hash("doc_id")).cast("long"))
    qlat, qlon = derive_point_cols(F.col("doc_key"), F.col("span_pos"))
    pts = pts.select("doc_id", "span_pos", qlat.alias("qlat"), qlon.alias("qlon"))
    got = {
        (r["doc_id"], r["span_pos"], r["polygon_id"])
        for r in pip_join(pts, polys).collect()
    }
    # numpy brute force over all pairs
    pack = _collect_polygon_pack(polys)
    prows = pts.collect()
    py = np.array([r["qlat"] for r in prows], dtype=np.int64)
    px = np.array([r["qlon"] for r in prows], dtype=np.int64)
    want = set()
    for pid, rings in pack.items():
        inside = ray_cast_rings_np(rings, py, px)
        for i in np.nonzero(inside)[0]:
            want.add((prows[i]["doc_id"], prows[i]["span_pos"], pid))
    assert got == want
    assert len(want) > 0  # fixture must actually exercise matches


def test_knn_ring_matches_bruteforce(spark, docs):
    queries = gen_knn_queries(spark, 20, seed=44)
    chunks = chunk_documents(docs, max_size=1500)
    pts = chunks.select(
        "doc_id", F.col("chunk_index").alias("span_pos")
    ).withColumn("doc_key", F.abs(F.hash("doc_id")).cast("long"))
    qlat, qlon = derive_point_cols(F.col("doc_key"), F.col("span_pos"))
    pts = pts.select("doc_id", "span_pos", qlat.alias("qlat"), qlon.alias("qlon")).cache()
    k = 5
    got = knn_ring(queries, pts, k, res=8).collect()
    want = knn_bruteforce(queries, pts, k).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"],
                               r["span_pos"], r["d2"]) for r in rows)
    assert key(got) == key(want)
    assert len(want) == 20 * k


def test_determinism_across_parallelism(spark, docs):
    out1 = chunk_documents(docs.repartition(1), max_size=1500)
    out8 = chunk_documents(docs.repartition(8), max_size=1500)
    k = ["doc_id", "chunk_index"]
    a = sorted(map(tuple, out1.select(*k, "text", "nws_size").collect()))
    b = sorted(map(tuple, out8.select(*k, "text", "nws_size").collect()))
    assert a == b


def test_pip_anti_partitions_points(spark, docs):
    """pip_anti_join is the exact complement of pip_join's matched key
    set: hits + anti == all points, disjoint, nothing dropped."""
    from tree_code_chunker_spark.operators.pip import pip_anti_join, pip_join
    from tree_code_chunker_spark.sources.datagen import gen_polygons

    chunks = chunk_documents(docs, max_size=1500)
    pts = chunks.select(
        "doc_id", F.col("chunk_index").alias("span_pos")
    ).withColumn("doc_key", F.abs(F.hash("doc_id")).cast("long"))
    qlat, qlon = derive_point_cols(F.col("doc_key"), F.col("span_pos"))
    pts = pts.select("doc_id", "span_pos",
                     qlat.alias("qlat"), qlon.alias("qlon")).cache()
    polys = gen_polygons(spark, 60, seed=43)
    hits = pip_join(pts, polys).select("doc_id", "span_pos").distinct().cache()
    anti = pip_anti_join(pts, polys).cache()
    n_pts, n_hits, n_anti = pts.count(), hits.count(), anti.count()
    assert 0 < n_hits < n_pts
    assert n_anti == n_pts - n_hits
    assert anti.join(hits, ["doc_id", "span_pos"], "inner").count() == 0
    # anti rows pass through with all their columns intact
    assert anti.columns == pts.columns
