"""Boundary-input drive probes (the verify recipe's standard five), pinned:
empty doc, single-word doc, media-only doc, zero-match polygon set, kNN
query in an empty region (ring expansion must widen and terminate)."""

from tree_code_chunker_spark.operators.chunker import chunk_documents
from tree_code_chunker_spark.operators.knn import knn_ring
from tree_code_chunker_spark.operators.pip import pip_join
from tree_code_chunker_spark.sources.datagen import gen_polygons

SPAN_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>")


def test_empty_text_doc_yields_one_empty_chunk(spark):
    d = spark.createDataFrame(
        [("e", [{"kind": "text", "text": "", "media_ref": "", "offset": 0}])],
        SPAN_SCHEMA)
    rows = chunk_documents(d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["text"], r["nws_size"], r["total_chunks"], r["error"]) == \
        ("", 0, 1, None)


def test_single_word_doc(spark):
    d = spark.createDataFrame(
        [("w", [{"kind": "text", "text": "hello", "media_ref": "",
                 "offset": 0}])], SPAN_SCHEMA)
    rows = chunk_documents(d).collect()
    assert len(rows) == 1
    assert rows[0]["text"] == "hello" and rows[0]["nws_size"] == 5


def test_media_only_doc_serializes_markers(spark):
    d = spark.createDataFrame(
        [("m", [{"kind": "media", "text": "", "media_ref": "ref://m/1",
                 "offset": 0},
                {"kind": "media", "text": "", "media_ref": "ref://m/2",
                 "offset": 1}])], SPAN_SCHEMA)
    rows = chunk_documents(d).collect()
    assert len(rows) == 1
    assert rows[0]["text"] == "<media:ref://m/1>\n<media:ref://m/2>"
    assert [s["kind"] for s in rows[0]["spans"]] == ["media", "media"]


def test_pip_zero_match_polygons_return_no_rows(spark):
    pts = spark.createDataFrame(
        [("d", 0, 100, 100)],
        "doc_id string, span_pos long, qlat long, qlon long")
    rows = pip_join(pts, gen_polygons(spark, 5, seed=43)).collect()
    assert rows == []


def test_knn_query_in_empty_region_widens_and_terminates(spark):
    # all corpus points live in the far corner; the query sits at the
    # origin — ring expansion must keep widening until it finds them and
    # still return exactly k ranked neighbors
    pts = spark.createDataFrame(
        [(f"d{i}", i, 60000 + i, 60000 + i) for i in range(30)],
        "doc_id string, span_pos long, qlat long, qlon long")
    q = spark.createDataFrame([(0, 5, 5)], "query_id long, qlat long, qlon long")
    rows = knn_ring(q, pts, k=5, res=10).collect()
    assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]
