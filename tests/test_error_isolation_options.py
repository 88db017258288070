"""Per-row error isolation (reference codechunk_test.go:297-318), per-row
option merge (codechunk.go:342-359), embedding near-dup."""

from tree_code_chunker_spark.operators.chunker import chunk_documents
from tree_code_chunker_spark.operators.dedup import embedding_near_dup_pairs


def test_chunk_error_isolation(spark):
    """One poisoned row (spans = null) must not fail the job; others
    succeed (ChunkBatch semantics)."""
    good = [("d1", [{"kind": "text", "text": "hello world", "media_ref": "",
                     "offset": 0}]),
            ("d2", None),
            ("d3", [{"kind": "text", "text": "more text", "media_ref": "",
                     "offset": 0}])]
    df = spark.createDataFrame(
        good,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = chunk_documents(df).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert by_doc["d1"]["error"] is None and by_doc["d1"]["text"] == "hello world"
    assert by_doc["d3"]["error"] is None
    assert by_doc["d2"]["error"] is not None and by_doc["d2"]["chunk_index"] == -1


def test_per_row_option_merge(spark):
    """Row option max_chunk_size overrides; null inherits the default."""
    text = "\n".join("word " * 10 for _ in range(20))  # ~1000 NWS
    rows = [
        ("small", [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
         {"max_chunk_size": 100}),
        ("inherit", [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
         {"max_chunk_size": None}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, "
        "options struct<max_chunk_size:int>",
    )
    out = chunk_documents(df, max_size=1500, options_col="options").collect()
    n = {}
    for r in out:
        n[r["doc_id"]] = max(n.get(r["doc_id"], 0), r["total_chunks"])
    assert n["small"] > 1        # forced tiny windows
    assert n["inherit"] == 1     # default 1500 swallows the doc


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(df, "vec_id", "embedding", 0.95).collect()}
    assert pairs == {(1, 2)}


def test_progress_accumulator(spark):
    """A5: per-document progress counting (reference codechunk.go:377-382)."""
    from tree_code_chunker_spark.sources.datagen import gen_documents

    acc = spark.sparkContext.accumulator(0)
    docs = gen_documents(spark, 15, seed=3)
    chunk_documents(docs, progress=acc).count()
    assert acc.value == 15
