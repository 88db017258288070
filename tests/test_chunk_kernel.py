"""The Arrow batch kernel (chunker.chunk_arrow_batch) against the
per-document oracle chunk_spans_py: for ANY multi-document batch every
output row, spans structs included, equals the oracle's, failed documents
become exactly one error row each, and chunk_documents plans one
MapInArrow with no shuffle."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from tree_code_chunker_spark.config import ChunkOptions
from tree_code_chunker_spark.operators.chunker import (
    chunk_arrow_batch,
    chunk_documents,
    chunk_spans_py,
    merge_row_options,
    row_max_sizes,
)

IN_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
    ("options", pa.struct([("max_chunk_size", pa.int32())])),
])

text = st.one_of(
    st.none(),
    st.text(alphabet=st.sampled_from("ab c\t\nx!?.é\x00"), max_size=300),
    st.text(alphabet=st.sampled_from("ab \n"), max_size=40)
    .map(lambda t: t + "\n" * 3),  # trailing newlines
)
span = st.fixed_dictionaries({
    "kind": st.sampled_from(["text", "text", "media", None, "code"]),
    "text": text,
    "media_ref": st.sampled_from([None, "", "ref://a", "ref://é/7"]),
    # few distinct values: unsorted and duplicate offsets
    "offset": st.integers(-2, 6),
})
ok_doc = st.lists(span, max_size=10)  # [] is an empty document
bad_doc = st.one_of(
    st.none(),  # null spans list
    st.lists(span, min_size=1, max_size=4).map(
        lambda ss: ss + [dict(ss[0], offset=None)]),  # a null offset
)
options = st.one_of(
    st.none(),
    st.fixed_dictionaries({"max_chunk_size": st.one_of(
        st.none(), st.sampled_from([-3, 0, 1, 7, 40, 200]))}),
)
docs = st.lists(
    st.tuples(st.one_of(ok_doc, ok_doc, ok_doc, bad_doc), options),
    max_size=8,
)


def _oracle_rows(batch_docs, max_size, streaming):
    """Each document through chunk_spans_py, failures isolated per
    document as the per-document fold did it."""
    base = ChunkOptions(max_chunk_size=max_size)
    rows = []
    for i, (spans, opts) in enumerate(batch_docs):
        doc_id = f"d{i}"
        try:
            spans = list(spans)
            chunks = chunk_spans_py(
                [s["kind"] for s in spans], [s["text"] for s in spans],
                [s["media_ref"] for s in spans], [s["offset"] for s in spans],
                merge_row_options(base, opts).max_chunk_size)
        except TypeError:
            rows.append({"doc_id": doc_id, "chunk_index": -1,
                         "total_chunks": 0, "text": "", "byte_start": 0,
                         "byte_end": 0, "line_start": 0, "line_end": 0,
                         "nws_size": 0, "is_partial": False, "spans": [],
                         "error": "<set>"})
            continue
        for c in chunks:
            rows.append(dict(c, doc_id=doc_id, error=None,
                             total_chunks=-1 if streaming
                             else c["total_chunks"]))
    return rows


@settings(max_examples=300, deadline=None)
@given(batch_docs=docs, max_size=st.sampled_from([1, 7, 40, 200, 1500]),
       streaming=st.booleans(), sliced=st.booleans())
def test_kernel_equals_oracle(batch_docs, max_size, streaming, sliced):
    records = [{"doc_id": f"d{i}", "spans": spans, "options": opts}
               for i, (spans, opts) in enumerate(batch_docs)]
    if sliced:  # a batch that is a slice of a larger one
        records = [{"doc_id": "x", "spans": [
            {"kind": "text", "text": "skip me", "media_ref": "",
             "offset": 0}], "options": None}] + records
    batch = pa.RecordBatch.from_pylist(records, schema=IN_SCHEMA)
    if sliced:
        batch = batch.slice(1)
    out = chunk_arrow_batch(batch, row_max_sizes(batch, "options", max_size),
                            streaming)
    got = out.rows.to_pylist()
    for r in got:
        if r["chunk_index"] == -1:
            assert r["error"]
            r["error"] = "<set>"
    assert got == _oracle_rows(batch_docs, max_size, streaming)
    assert out.rows.schema.equals(
        chunk_arrow_batch(batch.slice(0, 0), np.zeros(0)).rows.schema)
    want_err = [spans is None or any(s["offset"] is None for s in spans)
                for spans, _ in batch_docs]
    assert out.err.tolist() == want_err


def test_bad_documents_do_not_disturb_neighbours():
    good = [{"kind": "text", "text": "alpha beta\ngamma", "media_ref": "",
             "offset": 1},
            {"kind": "media", "text": None, "media_ref": "ref://m",
             "offset": 0}]
    batch = pa.RecordBatch.from_pylist([
        {"doc_id": "a", "spans": good},
        {"doc_id": "null_spans", "spans": None},
        {"doc_id": "b", "spans": good},
        {"doc_id": "null_offset", "spans": [dict(good[0], offset=None)]},
        {"doc_id": "null_span", "spans": [good[0], None]},
        {"doc_id": "c", "spans": good},
    ], schema=IN_SCHEMA)
    rows = chunk_arrow_batch(batch, np.full(6, 7)).rows.to_pylist()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert list(by_doc) == ["a", "null_spans", "b", "null_offset",
                            "null_span", "c"]
    for d in ("null_spans", "null_offset", "null_span"):
        (r,) = by_doc[d]
        assert r["chunk_index"] == -1 and r["error"] and r["spans"] == []
    assert by_doc["a"] == [dict(r, doc_id="a") for r in by_doc["b"]] \
        == [dict(r, doc_id="a") for r in by_doc["c"]]
    assert all(r["error"] is None for r in by_doc["a"])


SPAN_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>")


def test_chunk_documents_plans_one_map_in_arrow(spark, plan_nodes):
    docs = spark.createDataFrame(
        [("d", [{"kind": "text", "text": "hello", "media_ref": "",
                 "offset": 0}])], SPAN_DDL)
    nodes = plan_nodes(chunk_documents(docs, max_size=40))
    assert "MapInArrow" in nodes, nodes
    assert not [n for n in nodes if "MapInPandas" in n or "Exchange" in n], \
        nodes


def test_progress_counts_successful_documents_only(spark):
    span = {"kind": "text", "text": "one two three", "media_ref": "",
            "offset": 0}
    docs = spark.createDataFrame(
        [("ok1", [span]), ("bad", None), ("empty", []), ("ok2", [span])],
        SPAN_DDL)
    acc = spark.sparkContext.accumulator(0)
    rows = chunk_documents(docs, progress=acc, streaming=True).collect()
    assert acc.value == 3  # the empty document succeeds with no chunks
    assert sorted((r["doc_id"], r["chunk_index"], r["total_chunks"])
                  for r in rows) == [("bad", -1, 0), ("ok1", 0, -1),
                                     ("ok2", 0, -1)]
