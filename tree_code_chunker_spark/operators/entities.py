"""Entity extraction + scope tree + chunk context (reference P2-P14, J1-J5,
and FormatChunkWithContext), over a line-based miniature grammar.

tree-sitter is unavailable in this environment (SURVEY.md preamble), so the
"tree-sitter-inspired" contract is carried by (a) the window algebra in
chunker.py and (b) these entity/scope/sibling/import semantics, which mirror
the reference's behavior exactly where it is AST-independent:

 * scope containment: outer.start <= inner.start AND inner.end <= outer.end,
   deepest parent wins                         (reference scope.go:4-6,18-39)
 * scope-at-offset: half-open start <= o < end, deepest, chain innermost-
   first                                       (scope.go:96-130)
 * entities-in-range overlap + is_partial      (codechunk.go:631-651)
 * siblings: first 3 in document order per side, 1-based insertion distance,
   imports/exports excluded                    (codechunk.go:653-689)
 * relevant imports: all, or semi-join on name-equality OR signature-contains
   when filter_imports                         (codechunk.go:691-720)
 * FormatChunkWithContext: exact header order, Scope reversed to outermost-
   first, before-siblings under '# After:' (pinned inversion), empty context
   formats to the raw text identically         (codechunk.go:506-577)

Entity recognition itself is a line grammar over the 6 pseudo-language
styles (func/def/class/fn/type/trait/import headers, brace- or indentation-
delimited bodies, doc comments by per-language prefix).
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

from ..config import IMPORT_HEADER_CAP, MAX_SIBLINGS
from ..functions.doccomment import clean_doc_comment, clean_python_docstring, is_doc_comment
from ..functions.imports_ext import extract_import_symbols
from ..functions.strings import clean_signature, extract_signature, last_path_segments

# ---------------------------------------------------------- line grammar ----

_PATTERNS = {
    "go": [
        (re.compile(r"^func\s+\([^)]*\)\s+(\w+)"), "method"),
        (re.compile(r"^func\s+(\w+)"), "function"),
        (re.compile(r"^type\s+(\w+)\s+interface"), "interface"),
        (re.compile(r"^type\s+(\w+)\s+struct"), "class"),
        (re.compile(r"^type\s+(\w+)"), "type"),
        (re.compile(r"^import\b"), "import"),
    ],
    "python": [
        (re.compile(r"^(\s*)def\s+(\w+)"), "function"),
        (re.compile(r"^(\s*)class\s+(\w+)"), "class"),
        (re.compile(r"^(?:import|from)\s+\S"), "import"),
    ],
    "typescript": [
        (re.compile(r"^(?:export\s+)?(?:async\s+)?function\s*\*?\s*(\w+)"), "function"),
        (re.compile(r"^(?:export\s+)?(?:abstract\s+)?class\s+(\w+)"), "class"),
        (re.compile(r"^(?:export\s+)?interface\s+(\w+)"), "interface"),
        (re.compile(r"^(?:export\s+)?enum\s+(\w+)"), "enum"),
        (re.compile(r"^(?:export\s+)?type\s+(\w+)"), "type"),
        # arrow functions / function expressions bound to a declarator take
        # its name (extract.go:271-306 name search); the reference maps
        # arrow_function/function_expression -> 'function' (extract.go:66-67)
        (re.compile(r"^(?:export\s+)?(?:const|let|var)\s+(\w+)\s*=\s*"
                    r"(?:async\s+)?(?:\([^)]*\)|\w+)\s*=>"), "function"),
        (re.compile(r"^(?:export\s+)?(?:const|let|var)\s+(\w+)\s*=\s*"
                    r"(?:async\s+)?function\b"), "function"),
        # nameless function expression / arrow at line start: the 3-tier
        # name search finds nothing -> '<anonymous>' (extract.go:179-181)
        (re.compile(r"^\(?\s*(?:async\s+)?function\s*\("), "function"),
        (re.compile(r"^\([^)]*\)\s*=>"), "function"),
        (re.compile(r"^import\b"), "import"),
        (re.compile(r"^export\b"), "export"),
    ],
    "rust": [
        (re.compile(r"^(?:pub\s+)?(?:async\s+)?fn\s+(\w+)"), "function"),
        (re.compile(r"^(?:pub\s+)?struct\s+(\w+)"), "class"),
        (re.compile(r"^(?:pub\s+)?trait\s+(\w+)"), "interface"),
        (re.compile(r"^(?:pub\s+)?enum\s+(\w+)"), "enum"),
        (re.compile(r"^(?:pub\s+)?type\s+(\w+)"), "type"),
        (re.compile(r"^(?:pub\s+)?use\b"), "import"),
    ],
    "java": [
        (re.compile(r"^(?:public\s+|private\s+|protected\s+)?(?:abstract\s+|final\s+)?class\s+(\w+)"), "class"),
        (re.compile(r"^(?:public\s+|private\s+|protected\s+)?interface\s+(\w+)"), "interface"),
        (re.compile(r"^(?:public\s+|private\s+|protected\s+)?enum\s+(\w+)"), "enum"),
        (re.compile(r"^(?:public|private|protected)\s+(?:static\s+)?[\w<>\[\]]+\s+(\w+)\s*\("), "method"),
        (re.compile(r"^import\b"), "import"),
    ],
}
_PATTERNS["javascript"] = _PATTERNS["typescript"]

# S6 DetectLanguage marker heuristics, shared verbatim by three regex
# engines: Python re (re.M), Spark/Java rlike and DuckDB RE2 (both via the
# (?m) inline flag) — only portable constructs (\s, \w, non-capturing
# groups, ^/$ multiline) are used so all three agree.
LANG_HINT_PATTERNS = [
    ("go", r"^func\s|^type\s+\w+\s+struct"),
    ("rust", r"^(?:pub\s+)?fn\s|^use\s+\w+::"),
    ("python", r"^def\s|^class\s+\w+.*:\s*$|^from\s+\w+\s+import"),
    ("java", r"^public\s+(?:class|int|void|String)"),
    ("typescript", r"^(?:export\s+)?(?:function|interface)\s|: number|: string"),
    ("javascript", r"^function\s|^const\s+\w+\s*="),
]

_LANG_HINTS = [(lang, re.compile(p, re.M)) for lang, p in LANG_HINT_PATTERNS]


def detect_language(text: str, path: str | None = None) -> str:
    """Extension dispatch when a path is given (reference languages.go:18-42);
    marker heuristic otherwise (the engine's docs carry no path)."""
    if path:
        ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
        # full reference extension table (languages.go:18-32)
        by_ext = {"go": "go", "py": "python", "pyi": "python",
                  "ts": "typescript", "tsx": "typescript",
                  "mts": "typescript", "cts": "typescript",
                  "js": "javascript", "jsx": "javascript",
                  "mjs": "javascript", "cjs": "javascript",
                  "rs": "rust", "java": "java"}
        if ext in by_ext:
            return by_ext[ext]
    for lang, rx in _LANG_HINTS:
        if rx.search(text):
            return lang
    return "unknown"


def detect_language_col(code):
    """Spark-column form of the marker heuristic (JVM rlike, no Python):
    first matching hint in LANG_HINT_PATTERNS order, else 'unknown'."""
    from pyspark.sql import functions as F

    out = F.lit("unknown")
    for lang, pat in reversed(LANG_HINT_PATTERNS):
        out = F.when(code.rlike("(?m)" + pat), F.lit(lang)).otherwise(out)
    return out


def detect_language_sql(code_expr: str) -> str:
    """DuckDB SQL mirror of detect_language_col (RE2 (?m) flag)."""
    whens = " ".join(
        f"WHEN regexp_matches({code_expr}, '(?m){p}') THEN '{lang}'"
        for lang, p in LANG_HINT_PATTERNS
    )
    return f"(CASE {whens} ELSE 'unknown' END)"


def parse_error_for(code: str, lang: str) -> dict | None:
    """Recoverable parse-error detection, the line-grammar analog of
    tree-sitter's RootNode().HasError() (parser.go:57-66): unbalanced or
    prematurely-closed braces/parens flag the document.  Mirrors the
    reference contract that the error is attached per document with
    Recoverable=true (extraction still proceeds on the tolerant grammar,
    like tree-sitter's error recovery — parser_test.go:83-100)."""
    if lang not in _PATTERNS:
        return None  # no grammar -> no parse (reference: unsupported lang)
    pairs = "{}()" if lang != "python" else "()"
    depth = {o: 0 for o in pairs[::2]}
    bad = False
    for ch in code:
        i = pairs.find(ch)
        if i < 0:
            continue
        o = pairs[i - i % 2]
        depth[o] += 1 if i % 2 == 0 else -1
        if depth[o] < 0:
            bad = True
            break
    if bad or any(v != 0 for v in depth.values()):
        return {"message": "parse error in source code", "recoverable": True}
    return None


def _body_end_brace(lines: list[str], start_ix: int) -> int:
    """Index of the last line of a brace-delimited body starting at
    start_ix (depth scan; returns start_ix if no opening brace)."""
    depth = 0
    opened = False
    for i in range(start_ix, len(lines)):
        for ch in lines[i]:
            if ch == "{":
                depth += 1
                opened = True
            elif ch == "}":
                depth -= 1
        if opened and depth <= 0:
            return i
    return len(lines) - 1 if opened else start_ix


def _body_end_indent(lines: list[str], start_ix: int, indent: int) -> int:
    """Last line of an indentation-delimited (Python) body."""
    end = start_ix
    for i in range(start_ix + 1, len(lines)):
        s = lines[i]
        if not s.strip():
            continue
        cur = len(s) - len(s.lstrip())
        if cur <= indent:
            break
        end = i
    return end


def parse_entities(code: str, lang: str, doc_id: str = "") -> list[dict]:
    """Line-grammar entity extraction in document order (≙ extract.go DFS).

    Returns dicts: type, name, signature, docstring, source, byte_start,
    byte_end (end-exclusive), line_start, line_end (inclusive), parent.
    """
    pats = _PATTERNS.get(lang)
    if not pats:
        return []
    lines = code.split("\n")
    # byte offset of each line start
    offs = [0]
    for l in lines:
        offs.append(offs[-1] + len(l.encode("utf-8")) + 1)
    out: list[dict] = []
    for ix, line in enumerate(lines):
        for rx, etype in pats:
            m = rx.match(line)
            if not m:
                continue
            if etype == "import":
                stmt = line
                # go block import: extend to closing paren
                end_ix = ix
                if lang == "go" and "(" in line and ")" not in line:
                    for j in range(ix + 1, len(lines)):
                        if ")" in lines[j]:
                            end_ix = j
                            break
                    stmt = "\n".join(lines[ix:end_ix + 1])
                for name, source in extract_import_symbols(stmt, lang):
                    out.append({
                        "type": "import", "name": name,
                        "signature": clean_signature(stmt),
                        "docstring": None, "source": source or None,
                        "byte_start": offs[ix],
                        "byte_end": offs[end_ix] + len(lines[end_ix].encode("utf-8")),
                        "line_start": ix, "line_end": end_ix, "parent": None,
                    })
                break
            if etype == "export" and lang in ("typescript", "javascript"):
                out.append({
                    "type": "export", "name": "export",
                    "signature": clean_signature(line), "docstring": None,
                    "source": None, "byte_start": offs[ix],
                    "byte_end": offs[ix] + len(line.encode("utf-8")),
                    "line_start": ix, "line_end": ix, "parent": None,
                })
                break
            # named entity with a body
            if lang == "python":
                indent = len(m.group(1))
                name = m.group(2)
                end_ix = _body_end_indent(lines, ix, indent)
            else:
                # patterns without a capture group are nameless constructs
                # (anonymous function expressions / arrows) -> '<anonymous>'
                name = m.group(1) if rx.groups else ""
                end_ix = _body_end_brace(lines, ix)
            bs, be = offs[ix], offs[end_ix] + len(lines[end_ix].encode("utf-8"))
            text = "\n".join(lines[ix:end_ix + 1])
            sig = extract_signature(text, etype, lang)
            doc = _docstring_for(lines, ix, end_ix, lang)
            out.append({
                "type": etype, "name": name or "<anonymous>",
                "signature": sig, "docstring": doc, "source": None,
                "byte_start": bs, "byte_end": be,
                "line_start": ix, "line_end": end_ix, "parent": None,
            })
            break
    # parent naming (reference extract.go:214-222): nested entity carries the
    # name of its narrowest container of type class/interface/function/method
    containers = [e for e in out
                  if e["type"] in ("class", "interface", "function", "method")]
    for e in out:
        best = None
        for c in containers:
            if c is e:
                continue
            if (c["byte_start"] <= e["byte_start"]
                    and e["byte_end"] <= c["byte_end"]):
                if best is None or (c["byte_end"] - c["byte_start"]
                                    < best["byte_end"] - best["byte_start"]):
                    best = c
        if best is not None:
            e["parent"] = best["name"]
            # python: def nested in class is a method (mirror of tree-sitter's
            # method_definition mapping for other languages)
            if e["type"] == "function" and best["type"] == "class":
                e["type"] = "method"
    return out


def _docstring_for(lines, ix, end_ix, lang):
    if lang == "python":
        for j in range(ix + 1, min(end_ix + 1, ix + 3)):
            s = lines[j].strip()
            if not s:
                continue
            if s.startswith(('"""', "'''")):
                return clean_python_docstring(s)
            break
        return None
    # leading sibling comment, doc-prefixed (docstring.go:101-140)
    j = ix - 1
    buf = []
    while j >= 0 and lines[j].strip().startswith(("//", "/*", "*", "///", "//!")):
        buf.insert(0, lines[j])
        if lines[j].strip().startswith(("/*", "/**", "/*!")):
            break
        j -= 1
    if not buf:
        return None
    text = "\n".join(buf)
    if not is_doc_comment(text, lang):
        return None
    cleaned = clean_doc_comment(text, lang)
    return cleaned or None


# ----------------------------------------------------------- scope tree ----


def assign_scope_parents(entities: list[dict]) -> list[int]:
    """Parent index per entity (-1 = root): deepest already-inserted
    container, insertion in byte_start order (scope.go:42-80; stable sort
    scope.go:83-93)."""
    scope_ents = [(i, e) for i, e in enumerate(entities)
                  if e["type"] not in ("import", "export")]
    scope_ents.sort(key=lambda t: t[1]["byte_start"])
    parents = [-1] * len(entities)
    inserted: list[int] = []
    for i, e in scope_ents:
        best = -1
        best_width = None
        for j in inserted:
            o = entities[j]
            if (o["byte_start"] <= e["byte_start"]
                    and e["byte_end"] <= o["byte_end"]):
                w = o["byte_end"] - o["byte_start"]
                if best_width is None or w < best_width:
                    best, best_width = j, w
        parents[i] = best
        inserted.append(i)
    return parents


def scope_chain_at(entities: list[dict], parents: list[int], offset: int) -> list[dict]:
    """Innermost-first chain of entities containing offset (half-open
    start <= o < end; scope.go:96-130)."""
    best = -1
    best_width = None
    for i, e in enumerate(entities):
        if e["type"] in ("import", "export"):
            continue
        if e["byte_start"] <= offset < e["byte_end"]:
            w = e["byte_end"] - e["byte_start"]
            if best_width is None or w < best_width:
                best, best_width = i, w
    chain = []
    while best != -1:
        chain.append(entities[best])
        best = parents[best]
    return chain


def entities_in_range(entities: list[dict], start: int, end: int) -> list[dict]:
    """Overlap join + is_partial (codechunk.go:631-651); iterates ALL
    entities (imports included) in extraction order."""
    out = []
    for e in entities:
        if e["byte_start"] < end and e["byte_end"] > start:
            out.append(dict(e, is_partial=(
                e["byte_start"] < start or e["byte_end"] > end)))
    return out


def siblings_for(entities: list[dict], start: int, end: int,
                 max_siblings: int = MAX_SIBLINGS) -> list[dict]:
    """First max_siblings per side in document order, 1-based insertion
    distance; imports/exports excluded (codechunk.go:653-689)."""
    out = []
    before = after = 0
    for e in entities:
        if e["type"] in ("import", "export"):
            continue
        if e["byte_end"] <= start and before < max_siblings:
            before += 1
            out.append({"name": e["name"], "type": e["type"],
                        "position": "before", "distance": before})
        if e["byte_start"] >= end and after < max_siblings:
            after += 1
            out.append({"name": e["name"], "type": e["type"],
                        "position": "after", "distance": after})
    return out


def relevant_imports(chunk_entities: list[dict], entities: list[dict],
                     filter_imports: bool) -> list[dict]:
    """All imports, or the name-equality/signature-contains semi-join
    (codechunk.go:691-720)."""
    out = []
    for imp in (e for e in entities if e["type"] == "import"):
        if not filter_imports:
            out.append({"name": imp["name"], "source": imp["source"] or ""})
            continue
        for ce in chunk_entities:
            if ce["name"] == imp["name"] or imp["name"] in (ce["signature"] or ""):
                out.append({"name": imp["name"], "source": imp["source"] or ""})
                break
    return out


# ----------------------------------------------------------- formatting ----


def format_chunk_with_context(
    text: str,
    filepath: str = "",
    scope: list[dict] | None = None,
    entities: list[dict] | None = None,
    imports: list[dict] | None = None,
    siblings: list[dict] | None = None,
    overlap_text: str = "",
) -> str:
    """Exact header assembly (codechunk.go:506-577).  Pinned quirks: Scope
    reversed to outermost-first; '# Defines:' excludes imports; '# Uses:'
    caps at 10; before-siblings listed under '# After:' and after-siblings
    under '# Before:' (inversion); empty context -> output == text."""
    parts: list[str] = []
    if filepath:
        parts.append("# " + last_path_segments(filepath, 3))
    if scope:
        names = [s["name"] for s in scope][::-1]
        parts.append("# Scope: " + " > ".join(names))
    sigs = [e["signature"] for e in (entities or [])
            if e.get("signature") and e["type"] != "import"]
    if sigs:
        parts.append("# Defines: " + ", ".join(sigs))
    if imports:
        parts.append("# Uses: " + ", ".join(
            i["name"] for i in imports[:IMPORT_HEADER_CAP]))
    before = [s["name"] for s in (siblings or []) if s["position"] == "before"]
    after = [s["name"] for s in (siblings or []) if s["position"] == "after"]
    if before:
        parts.append("# After: " + ", ".join(before))
    if after:
        parts.append("# Before: " + ", ".join(after))
    if parts:
        parts.append("")
    if overlap_text:
        parts.extend(["# ...", overlap_text, "# ---"])
    parts.append(text)
    return "\n".join(parts)


def overlap_from_prev(prev_text: str | None, overlap_lines: int) -> str:
    """Last overlap_lines lines of the previous chunk's raw text
    (codechunk.go:172-183)."""
    if not prev_text or overlap_lines <= 0:
        return ""
    lines = prev_text.split("\n")
    return "\n".join(lines[-overlap_lines:])


# -------------------------------------------------------- Spark operator ----

ENRICHED_SCHEMA = (
    "doc_id string, chunk_index int, total_chunks int, text string, "
    "contextualized_text string, byte_start bigint, byte_end bigint, "
    "line_start int, line_end int, nws_size int, is_partial boolean, "
    "lang string, "
    "scope array<struct<name:string,type:string,signature:string>>, "
    "entities array<struct<name:string,type:string,signature:string,"
    "docstring:string,is_partial:boolean>>, "
    "siblings array<struct<name:string,type:string,position:string,"
    "distance:int>>, "
    "imports array<struct<name:string,source:string>>, "
    "spans array<struct<kind:string,text:string,media_ref:string,"
    "order:int,part:int,parts:int>>, "
    "parse_error struct<message:string,recoverable:boolean>, "
    "error string"
)


def chunk_documents_with_context(
    df,
    max_size: int = 1500,
    overlap_lines: int = 10,
    context_mode: str = "full",
    filter_imports: bool = False,
    sibling_detail: str = "signatures",
    language: str | None = None,
    filepath_col: str | None = None,
    lang_col: str | None = None,
    options_col: str | None = None,
):
    """Fused pipeline: chunk (W1-W4) + entities + scope + context + format,
    ONE mapInArrow pass (SURVEY.md §4.2: fuse the UDFs to cross the
    JVM<->Python boundary once).  Each Arrow batch is chunked whole by
    chunker.chunk_arrow_batch; the entity, scope and context work then runs
    per document over that document's chunks.

    Input: documents (doc_id, spans[, filepath][, lang][, options]).
    Output: one row per chunk with full nested context (schema ≙ reference
    CodeChunk, types.go:142-150) + the per-doc recoverable parse_error
    struct stamped on every chunk (codechunk.go:97-101).

    options_col names a struct column carrying per-row overrides of ALL six
    ChunkOptions fields with the reference merge semantics
    (codechunk.go:341-358, see chunker.merge_row_options); sibling_detail
    'none' returns empty siblings (codechunk.go:653-657).
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    from ..config import ChunkOptions
    from .chunker import chunk_arrow_batch, merge_row_options

    base = ChunkOptions(
        max_chunk_size=max_size, overlap_lines=overlap_lines,
        context_mode=context_mode, filter_imports=filter_imports,
        sibling_detail=sibling_detail, language=language,
    )
    schema = DataType.fromDDL(ENRICHED_SCHEMA)
    arrow_schema = to_arrow_schema(schema)

    def error_row(doc_id, e):
        # per-row isolation, same contract as chunk_documents: a bad
        # document yields ONE error row, the job never fails
        # (ChunkBatch semantics, codechunk.go:363-375)
        return {
            "doc_id": doc_id, "chunk_index": -1, "total_chunks": 0,
            "text": "", "contextualized_text": "", "byte_start": 0,
            "byte_end": 0, "line_start": 0, "line_end": 0,
            "nws_size": 0, "is_partial": False, "lang": "",
            "scope": [], "entities": [], "siblings": [], "imports": [],
            "spans": [], "parse_error": None, "error": str(e)[:500],
        }

    def column(batch, name):
        return (batch.column(name).to_pylist() if name
                else [None] * batch.num_rows)

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            doc_ids = batch.column("doc_id").to_pylist()
            paths, langs = column(batch, filepath_col), column(batch, lang_col)
            opts = [merge_row_options(base, ro)
                    for ro in column(batch, options_col)]
            ck = chunk_arrow_batch(
                batch, np.array([o.max_chunk_size for o in opts], np.int64))
            chunks = ck.rows.to_pylist()
            bounds = np.searchsorted(ck.row_doc, np.arange(n + 1))
            rows = []
            for d in range(n):
                doc_chunks = chunks[bounds[d]:bounds[d + 1]]
                if ck.err[d]:
                    rows.append(error_row(doc_ids[d], doc_chunks[0]["error"]))
                    continue
                code = ck.buf[ck.doc_lo[d]:ck.doc_hi[d]].tobytes().decode(
                    "utf-8", errors="replace")
                try:  # row-level isolation
                    rows.extend(one_doc(doc_ids[d], code, doc_chunks,
                                        paths[d], langs[d], opts[d]))
                except Exception as e:
                    rows.append(error_row(doc_ids[d], e))
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    def one_doc(doc_id, code, chunks, filepath, lang0, o):
        doc_rows = []
        filepath = filepath or ""
        lang = o.language or lang0 or detect_language(code, filepath or None)
        ents = parse_entities(code, lang, doc_id)
        perr = parse_error_for(code, lang)
        parents = assign_scope_parents(ents)
        prev_text = None
        for c in chunks:
            bs, be = c["byte_start"], c["byte_end"]
            if o.context_mode == "none":
                scope, ce, sibs, imps = [], [], [], []
            else:
                scope = [
                    {"name": e["name"], "type": e["type"],
                     "signature": e["signature"]}
                    for e in scope_chain_at(ents, parents, bs)
                ]
                ce = entities_in_range(ents, bs, be)
                sibs = ([] if o.sibling_detail == "none"
                        else siblings_for(ents, bs, be))
                imps = relevant_imports(ce, ents, o.filter_imports)
            ov = overlap_from_prev(prev_text, o.overlap_lines) \
                if c["chunk_index"] > 0 else ""
            # ContextModeNone zeroes the whole context INCLUDING the
            # filepath header; formatting is still applied so the
            # overlap block survives (codechunk.go:161-185)
            ctext = format_chunk_with_context(
                c["text"],
                "" if o.context_mode == "none" else filepath,
                scope,
                [{"name": e["name"], "type": e["type"],
                  "signature": e["signature"]} for e in ce],
                imps, sibs, ov,
            )
            prev_text = c["text"]
            doc_rows.append({
                "doc_id": doc_id,
                "chunk_index": c["chunk_index"],
                "total_chunks": c["total_chunks"],
                "text": c["text"],
                "contextualized_text": ctext,
                "byte_start": bs, "byte_end": be,
                "line_start": c["line_start"],
                "line_end": c["line_end"],
                "nws_size": c["nws_size"],
                "is_partial": c["is_partial"],
                "lang": lang,
                "scope": scope,
                "entities": [
                    {"name": e["name"], "type": e["type"],
                     "signature": e["signature"],
                     "docstring": e.get("docstring"),
                     "is_partial": e["is_partial"]} for e in ce
                ],
                "siblings": sibs,
                "imports": imps,
                "spans": c["spans"],
                "parse_error": perr,
                "error": None,
            })
        return doc_rows

    return df.mapInArrow(fn, schema=schema)
