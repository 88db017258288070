"""Entity/scope/context semantics vs reference contracts (scope_test.go
truth tables, codechunk_test.go formatting contract)."""

import pytest

from tree_code_chunker_spark.operators.entities import (
    assign_scope_parents,
    detect_language,
    entities_in_range,
    format_chunk_with_context,
    overlap_from_prev,
    parse_entities,
    relevant_imports,
    scope_chain_at,
    siblings_for,
)


def _ent(type_, name, bs, be, sig="", src=None):
    return {"type": type_, "name": name, "signature": sig, "docstring": None,
            "source": src, "byte_start": bs, "byte_end": be,
            "line_start": 0, "line_end": 0, "parent": None}


# reference scope_test.go:7-27 — containment truth table
# rangeContains(outer, inner) == outer.start <= inner.start && inner.end <= outer.end
@pytest.mark.parametrize(
    "outer,inner,contained",
    [
        ((0, 100), (10, 50), True),
        ((0, 100), (0, 100), True),   # equal ranges contain
        ((10, 50), (0, 100), False),
        ((0, 50), (40, 60), False),   # overlap but not contained
        ((50, 100), (0, 49), False),
    ],
)
def test_containment(outer, inner, contained):
    ents = [_ent("function", "outer", *outer), _ent("function", "inner", *inner)]
    parents = assign_scope_parents(ents)
    if contained and outer != inner:
        assert parents[1] == 0
    elif outer == inner:
        # insertion order: first-at-same-start becomes the parent of second
        assert parents[1] == 0
    else:
        assert parents[1] in (-1, 0) if inner[0] <= outer[0] else parents[1] == -1


def test_deepest_parent_wins():
    ents = [
        _ent("class", "Outer", 0, 200),
        _ent("function", "mid", 10, 150),
        _ent("function", "inner", 20, 100),
    ]
    parents = assign_scope_parents(ents)
    assert parents == [-1, 0, 1]


# reference scope_test.go:140-214 — offset probes: gap => no scope;
# nested offset => innermost-first chain
def test_scope_at_offset():
    ents = [
        _ent("function", "a", 0, 50),
        _ent("function", "b", 60, 120),
        _ent("class", "C", 130, 300),
        _ent("method", "m", 140, 200),
    ]
    parents = assign_scope_parents(ents)
    assert [e["name"] for e in scope_chain_at(ents, parents, 55)] == []  # gap
    assert [e["name"] for e in scope_chain_at(ents, parents, 150)] == ["m", "C"]
    assert [e["name"] for e in scope_chain_at(ents, parents, 49)] == ["a"]
    assert [e["name"] for e in scope_chain_at(ents, parents, 50)] == []  # end-exclusive


def test_entities_in_range_partial_flag():
    # codechunk.go:631-651: overlap predicate + is_partial
    ents = [_ent("function", "f", 10, 90)]
    got = entities_in_range(ents, 0, 100)
    assert got[0]["is_partial"] is False
    got = entities_in_range(ents, 20, 100)
    assert got[0]["is_partial"] is True
    assert entities_in_range(ents, 90, 100) == []  # end-exclusive


def test_siblings_first_in_doc_order():
    # codechunk.go:653-689: first 3 per side by document order, imports skipped
    ents = [_ent("import", "fmt", 0, 5)] + [
        _ent("function", f"f{i}", i * 10 + 10, i * 10 + 18) for i in range(6)
    ]
    sibs = siblings_for(ents, 100, 110)
    before = [s for s in sibs if s["position"] == "before"]
    assert [s["name"] for s in before] == ["f0", "f1", "f2"]
    assert [s["distance"] for s in before] == [1, 2, 3]


def test_relevant_imports_semi_join():
    # codechunk.go:691-720: name equality OR signature contains
    ents = [
        _ent("import", "fmt", 0, 5, src="fmt"),
        _ent("import", "os", 6, 10, src="os"),
        _ent("import", "unused", 11, 20, src="x"),
    ]
    chunk_ents = [
        {"name": "main", "signature": "func main() { fmt.Println }", "type": "function"},
        {"name": "os", "signature": "", "type": "function"},
    ]
    got = relevant_imports(chunk_ents, ents, True)
    assert [i["name"] for i in got] == ["fmt", "os"]
    got_all = relevant_imports(chunk_ents, ents, False)
    assert [i["name"] for i in got_all] == ["fmt", "os", "unused"]


# codechunk_test.go:441-511 — formatting contract
def test_format_empty_context_identity():
    assert format_chunk_with_context("raw text") == "raw text"


def test_format_header_order_and_inversion():
    out = format_chunk_with_context(
        "body",
        filepath="r/a/b/c/d.go",
        scope=[{"name": "inner"}, {"name": "outer"}],  # innermost-first in
        entities=[
            {"name": "f", "type": "function", "signature": "func f()"},
            {"name": "fmt", "type": "import", "signature": "import \"fmt\""},
        ],
        imports=[{"name": f"i{k}", "source": ""} for k in range(12)],
        siblings=[
            {"name": "pre", "position": "before"},
            {"name": "post", "position": "after"},
        ],
        overlap_text="prev1\nprev2",
    )
    lines = out.split("\n")
    assert lines[0] == "# b/c/d.go"                      # last 3 segments
    assert lines[1] == "# Scope: outer > inner"          # reversed
    assert lines[2] == "# Defines: func f()"             # imports excluded
    assert lines[3] == "# Uses: " + ", ".join(f"i{k}" for k in range(10))  # cap 10
    assert lines[4] == "# After: pre"                    # inversion pinned
    assert lines[5] == "# Before: post"
    assert lines[6] == ""
    assert lines[7] == "# ..."
    assert lines[8:10] == ["prev1", "prev2"]
    assert lines[10] == "# ---"
    assert lines[11] == "body"


def test_overlap_from_prev_clamped():
    assert overlap_from_prev("a\nb\nc", 10) == "a\nb\nc"
    assert overlap_from_prev("a\nb\nc", 2) == "b\nc"
    assert overlap_from_prev(None, 5) == ""
    assert overlap_from_prev("x", 0) == ""


def test_parse_entities_go_golden():
    code = ('import "fmt"\n\n// Add adds\nfunc Add(a, b int) int {\n'
            '\treturn a + b\n}\n')
    ents = parse_entities(code, "go")
    assert [(e["type"], e["name"]) for e in ents] == [
        ("import", "fmt"), ("function", "Add")]
    assert ents[1]["signature"] == "func Add(a, b int) int"
    assert ents[1]["docstring"] == "Add adds"


def test_parse_entities_python_method():
    code = ("class A:\n    def m(self):\n        return 1\n\ndef f():\n"
            "    pass\n")
    ents = parse_entities(code, "python")
    types = {e["name"]: e["type"] for e in ents}
    assert types == {"A": "class", "m": "method", "f": "function"}
    assert ents[1]["parent"] == "A"


def test_detect_language():
    assert detect_language("func main() {}", None) == "go"
    assert detect_language("def f():\n    pass") == "python"
    assert detect_language("whatever", "x/y/z.rs") == "rust"
    assert detect_language("no markers at all") == "unknown"


def test_anonymous_and_arrow_functions():
    """extract.go:179-181 + :271-306: arrow functions and function
    expressions map to 'function'; nameless forms get '<anonymous>'."""
    code = "\n".join([
        "const add = (a, b) => a + b",
        "var mul = function(a, b) { return a * b }",
        "(function() {",
        "  run()",
        "})()",
        "() => {}",
        "function named() {}",
        "export const go = async (x) => x",
    ])
    ents = parse_entities(code, "javascript")
    got = [(e["name"], e["type"]) for e in ents]
    assert ("add", "function") in got
    assert ("mul", "function") in got
    assert ("named", "function") in got
    assert ("go", "function") in got
    assert got.count(("<anonymous>", "function")) == 2  # IIFE + bare arrow


def test_parse_error_for_unbalanced():
    from tree_code_chunker_spark.operators.entities import parse_error_for

    ok = "func main() {\n    x := 1\n}"
    assert parse_error_for(ok, "go") is None
    bad = "func main() {\n    x := 1\n"  # unclosed brace
    err = parse_error_for(bad, "go")
    assert err == {"message": "parse error in source code",
                   "recoverable": True}
    # premature close
    assert parse_error_for("}\nfunc f() {}", "go") is not None
    # unknown grammar -> no parse, no error struct
    assert parse_error_for("anything {", "unknown") is None


def test_parse_error_attached_to_all_chunks(spark):
    """codechunk.go:97-101: the recoverable error is stamped on EVERY chunk
    of the document; extraction still proceeds (tolerant grammar)."""
    from tree_code_chunker_spark.operators.entities import (
        chunk_documents_with_context,
    )

    bad_code = "func broken() {\n" + "\n".join(
        f"    v{i} := compute({i})" for i in range(40)
    )  # unclosed body, ~40 lines so several chunks at max_size=100
    good_code = "func fine() {\n    return\n}"
    df = spark.createDataFrame(
        [("bad", [{"kind": "text", "text": bad_code, "media_ref": "",
                   "offset": 0}]),
         ("good", [{"kind": "text", "text": good_code, "media_ref": "",
                    "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    rows = chunk_documents_with_context(df, max_size=100).collect()
    bad_rows = [r for r in rows if r["doc_id"] == "bad"]
    assert len(bad_rows) > 1
    for r in bad_rows:
        assert r["parse_error"]["message"] == "parse error in source code"
        assert r["parse_error"]["recoverable"] is True
    assert any(e["name"] == "broken" for r in bad_rows for e in r["entities"])
    assert all(r["parse_error"] is None
               for r in rows if r["doc_id"] == "good")


def test_sibling_detail_none(spark):
    """codechunk.go:653-657 / coverage_test.go:1707-1708: SiblingDetailNone
    returns empty siblings, session-level and per-row."""
    from tree_code_chunker_spark.operators.entities import (
        chunk_documents_with_context,
    )

    code = "func a() {}\nfunc b() {}\nfunc c() {}"
    span = [{"kind": "text", "text": code, "media_ref": "", "offset": 0}]
    df = spark.createDataFrame(
        [("d1", span)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    with_sibs = chunk_documents_with_context(df, max_size=10).collect()
    assert any(len(r["siblings"]) > 0 for r in with_sibs)
    none = chunk_documents_with_context(
        df, max_size=10, sibling_detail="none").collect()
    assert all(len(r["siblings"]) == 0 for r in none)
    # entities/scope untouched by the sibling switch
    assert any(len(r["entities"]) > 0 for r in none)


def test_per_row_option_merge_all_six_fields(spark):
    """codechunk.go:341-358: MaxChunkSize/OverlapLines merge when > 0,
    ContextMode/SiblingDetail/Language when non-empty, and FilterImports is
    overwritten UNCONDITIONALLY whenever an options struct is present."""
    from tree_code_chunker_spark.operators.entities import (
        chunk_documents_with_context,
    )

    code = ('import "strings"\n'
            "func used() { strings.Join(nil, \"\") }\n"
            "func helper() {}\nfunc other() {}")
    span = [{"kind": "text", "text": code, "media_ref": "", "offset": 0}]
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>, options struct<"
              "max_chunk_size:int, overlap_lines:int, context_mode:string,"
              "sibling_detail:string, language:string, filter_imports:boolean>")
    rows = [
        ("inherit", span, None),
        ("zeros", span,  # zero/empty values all inherit...
         {"max_chunk_size": 0, "overlap_lines": 0, "context_mode": "",
          "sibling_detail": "", "language": "", "filter_imports": None}),
        ("override", span,
         {"max_chunk_size": 25, "overlap_lines": 1, "context_mode": "full",
          "sibling_detail": "none", "language": "python",
          "filter_imports": True}),
    ]
    df = spark.createDataFrame(rows, schema)
    out = chunk_documents_with_context(
        df, max_size=1000, filter_imports=True, options_col="options",
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(r)
    # inherit: no struct -> session values (filter_imports=True keeps only
    # imports matched by chunk entities)
    assert by["inherit"][0]["total_chunks"] == 1
    assert by["inherit"][0]["lang"] == "go"
    # zeros: ...EXCEPT filter_imports, which the bare struct resets to
    # false (the reference quirk) -> the unused import now shows up
    assert by["zeros"][0]["total_chunks"] == 1
    assert len(by["zeros"][0]["imports"]) >= len(by["inherit"][0]["imports"])
    assert by["zeros"][0]["lang"] == "go"
    # override: tiny windows, forced language, no siblings
    assert by["override"][0]["total_chunks"] > 1
    assert by["override"][0]["lang"] == "python"
    assert all(len(r["siblings"]) == 0 for r in by["override"])


def test_detect_language_col_agrees_with_python(spark):
    """S6: the JVM column classifier and the Python heuristic agree on the
    shared hint patterns."""
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.entities import detect_language_col

    samples = [
        "func main() {\n\tx := 1\n}",
        "pub fn run() -> i64 { 1 }",
        "def handler(x):\n    return x",
        "public class Main { }",
        "export interface Shape { x: number }",
        "const x = 1",
        "just some plain words",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "code string")
    got = [r["lang"] for r in
           df.select(detect_language_col(F.col("code")).alias("lang")).collect()]
    assert got == [detect_language(s) for s in samples]


def test_context_pipeline_error_isolation(spark):
    """A poisoned row (spans = null) must not fail the fused context job;
    other docs still succeed (ChunkBatch semantics for the fused path)."""
    from tree_code_chunker_spark.operators.entities import (
        chunk_documents_with_context,
    )

    df = spark.createDataFrame(
        [("good", [{"kind": "text", "text": "func a() {}", "media_ref": "",
                    "offset": 0}]),
         ("bad", None)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    rows = {r["doc_id"]: r for r in
            chunk_documents_with_context(df, max_size=100).collect()}
    assert rows["good"]["error"] is None
    assert rows["good"]["contextualized_text"]
    assert rows["bad"]["error"] is not None
    assert rows["bad"]["chunk_index"] == -1


def test_detect_language_extension_table_full():
    """Full reference extension table (languages.go:18-32,
    languages_test.go path variants incl. case-insensitive ext)."""
    cases = {
        "src/index.ts": "typescript", "src/component.tsx": "typescript",
        "m.mts": "typescript", "m.cts": "typescript",
        "app.js": "javascript", "component.jsx": "javascript",
        "module.mjs": "javascript", "script.cjs": "javascript",
        "main.py": "python", "types.pyi": "python",
        "/absolute/path/to/file.ts": "typescript",
        "./relative/path/file.py": "python",
        "file.go": "go", "../parent/file.rs": "rust",
        "deeply/nested/path/to/file.java": "java",
        "UPPER.GO": "go",
    }
    for path, want in cases.items():
        assert detect_language("", path) == want, path
    # unknown extension falls back to the marker heuristic
    assert detect_language("plain words here", "notes.txt") == "unknown"


def test_context_mode_none_zeroes_context_but_keeps_overlap(spark):
    """ContextModeNone (coverage_test.go:1854-1877 + codechunk.go:161-185):
    scope/entities/siblings/imports all empty AND the filepath header is
    suppressed, but the overlap block still survives formatting."""
    from tree_code_chunker_spark.operators.entities import (
        chunk_documents_with_context,
    )

    code = "func a() {}\n" + "\n".join(
        f"func f{i}() {{ x := {i} }}" for i in range(20))
    df = spark.createDataFrame(
        [("d", [{"kind": "text", "text": code, "media_ref": "",
                 "offset": 0}], "pkg/main.go")],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, path string",
    )
    rows = sorted(
        chunk_documents_with_context(
            df, max_size=80, context_mode="none", filepath_col="path",
        ).collect(),
        key=lambda r: r["chunk_index"],
    )
    assert len(rows) > 1
    for r in rows:
        assert r["scope"] == [] and r["entities"] == []
        assert r["siblings"] == [] and r["imports"] == []
        assert "main.go" not in r["contextualized_text"]  # no path header
    assert rows[0]["contextualized_text"] == rows[0]["text"]  # identity
    assert rows[1]["contextualized_text"].startswith("# ...\n")  # overlap


def test_ctx_entity_wrap_constants_match_grammar():
    """The hand-written entity offset/signature constants embedded in the
    chunk_context_entities DuckDB oracle (CTX_ENTITY_TABLE) must agree with
    what the line grammar actually extracts from the synthetic Go wrapper —
    at two different body lengths, so the clen-relative tail encoding is
    exercised too."""
    from __spark_entry__ import (
        CTX_ENTITY_POST,
        CTX_ENTITY_PRE,
        CTX_ENTITY_TABLE,
    )
    from tree_code_chunker_spark.operators.entities import (
        detect_language,
        parse_entities,
    )

    for body in (["the fast key order spark group"],
                 ["agg line group hash", "<media:ref://7/4>",
                  "join a filter window " * 3]):
        code = "\n".join(CTX_ENTITY_PRE + body + CTX_ENTITY_POST)
        clen = len(code)
        assert detect_language(code) == "go"
        ents = parse_entities(code, "go")
        got = [(i, e["name"], e["type"], e["signature"],
                e["byte_start"], e["byte_end"]) for i, e in enumerate(ents)]
        want = [(ix, nm, ty, sig,
                 clen + bs if bs < 0 else bs,
                 clen + be if be <= 0 else be)
                for ix, nm, ty, sig, bs, be in CTX_ENTITY_TABLE]
        assert got == want
