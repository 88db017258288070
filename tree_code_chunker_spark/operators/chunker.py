"""Core chunking operator: the reference window algebra over span sequences.

A document is an ordered sequence of spans ``(kind, text, media_ref, offset)``
(BASELINE input_hint).  Spans play the role of the reference's top-level AST
nodes; the document's canonical byte stream is the span payloads joined by
single ``\\n`` separators, where a media span's payload is the token
``<media:{media_ref}>``.  The window algebra is an exact re-expression of
/root/reference/chunking.go:

 * W1 greedy window assignment  — chunking.go:77-134
 * W2 oversized-leaf line split — chunking.go:137-197 (spans are leaves here,
   so an oversized span is split by lines with IsPartialNode=True and
   explicit LineRanges)
 * W3 adjacent-window merge     — chunking.go:214-242
 * W4 text rebuild              — chunking.go:252-310 (including the pinned
   trailing-'\\n' trim loop with endByte decrement, chunking.go:283-287, and
   the LineRanges override of the computed line range)

The per-document functions above ``CHUNK_ARROW_SCHEMA`` (``chunk_spans_py``
and its W-steps) state that algebra one document at a time; they are the
oracle the engine is tested against.

Spark packaging: ``chunk_documents(df)`` is ONE ``mapInArrow`` flatMap — each
input row (one document, spans nested in-row) independently produces N chunk
rows, and ``chunk_arrow_batch`` chunks a whole Arrow batch in numpy: the
batch's spans are flattened and sorted by (document, offset), their payloads
joined into one byte stream, NWS and newline prefixes built once, and W1,
W2 and W3 run as one bounded-sum greedy split (``_greedy_windows``) that
advances one window per step for every document at once.  No shuffle, no
groupBy: documents are the parallel unit, so this scales linearly with
executors at 10^12 docs (SURVEY.md §7.2).  The fold is data-dependent
sequential state and cannot be a SQL window function (SURVEY.md §2.6).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import DEFAULT_MAX_CHUNK_SIZE, ChunkOptions
from ..functions.nws import WS_MAX, count_nws, nws_cumsum, nws_range


def merge_row_options(base: ChunkOptions, row_opts) -> ChunkOptions:
    """Reference per-file option merge (codechunk.go:341-358), field for
    field: MaxChunkSize/OverlapLines inherit unless > 0, ContextMode/
    SiblingDetail/Language inherit unless non-empty, and FilterImports is
    overwritten UNCONDITIONALLY whenever a per-row options struct is present
    (the reference quirk — a bare struct resets it to its zero value false).

    row_opts: a mapping-like row (pandas struct cell) or None."""
    if row_opts is None:
        return base
    get = row_opts.get
    kw = {}
    v = get("max_chunk_size")
    if v is not None and int(v) > 0:
        kw["max_chunk_size"] = int(v)
    v = get("overlap_lines")
    if v is not None and int(v) > 0:
        kw["overlap_lines"] = int(v)
    for field in ("context_mode", "sibling_detail", "language"):
        v = get(field)
        if v:
            kw[field] = str(v)
    fi = get("filter_imports")
    kw["filter_imports"] = bool(fi) if fi is not None else False
    return base.merged(**kw)

MEDIA_TOKEN_FMT = "<media:{ref}>"
SPAN_SEP = "\n"


def span_payload(kind: str, text: str, media_ref: str) -> str:
    """Canonical byte payload of one span in the document stream."""
    if kind == "media":
        return MEDIA_TOKEN_FMT.format(ref=media_ref or "")
    return text or ""


def serialize_document(kinds, texts, refs) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Spans -> (doc_bytes, span byte starts, span byte ends).

    Payloads joined by a single '\\n'; offsets are byte offsets (UTF-8).
    """
    payloads = [
        span_payload(k, t, r).encode("utf-8")
        for k, t, r in zip(kinds, texts, refs)
    ]
    starts = np.zeros(len(payloads), dtype=np.int64)
    ends = np.zeros(len(payloads), dtype=np.int64)
    pos = 0
    for i, p in enumerate(payloads):
        starts[i] = pos
        pos += len(p)
        ends[i] = pos
        pos += 1  # separator
    doc = SPAN_SEP.encode().join(payloads)
    return doc, starts, ends


@dataclass
class _Window:
    """An assigned window: list of (span_idx, byte_start, byte_end, partial)."""

    items: list = field(default_factory=list)
    size: int = 0
    is_partial: bool = False
    line_ranges: list = field(default_factory=list)  # [(start_line, end_line)]


def _count_newlines(code: bytes, start: int, end: int) -> int:
    """Newline count in code[start:end] (chunking.go:200-211, clamped end)."""
    end = min(end, len(code))
    if end <= start:
        return 0
    return code.count(b"\n", start, end)


def _split_oversized_leaf(
    span_idx: int, start: int, end: int, code: bytes, max_size: int
) -> list[_Window]:
    """W2 — greedy line-packing of one oversized span (chunking.go:137-197).

    Exact parity notes: the running chunk length is measured in BYTES
    (``currentChunk.Len()``), each non-final line keeps its trailing '\\n',
    a line that does not fit starts a new chunk even if it alone exceeds
    max_size, and every emitted window is IsPartialNode with one LineRange
    computed by counting newlines from byte 0 of the document.
    """
    text = code[start:end]
    lines = text.split(b"\n")
    windows: list[_Window] = []
    cur_len = 0  # bytes in current chunk
    cur_size = 0  # NWS in current chunk
    chunk_start_offset = 0

    def emit(cur_len: int, cur_size: int, chunk_start_offset: int) -> None:
        s = start + chunk_start_offset
        e = s + cur_len
        start_line = _count_newlines(code, 0, s)
        end_line = _count_newlines(code, 0, e)
        windows.append(
            _Window(
                items=[(span_idx, s, e, True)],
                size=cur_size,
                is_partial=True,
                line_ranges=[(start_line, end_line)],
            )
        )

    for i, line in enumerate(lines):
        line_nws = count_nws(line)
        line_len = len(line) + (1 if i < len(lines) - 1 else 0)
        if cur_size + line_nws <= max_size:
            cur_len += line_len
            cur_size += line_nws
        else:
            if cur_len > 0:
                emit(cur_len, cur_size, chunk_start_offset)
            chunk_start_offset += cur_len
            cur_len = line_len
            cur_size = line_nws
    if cur_len > 0:
        emit(cur_len, cur_size, chunk_start_offset)
    return windows


def greedy_assign_windows(
    span_ranges: list[tuple[int, int, int]],
    code: bytes,
    cumsum: np.ndarray,
    max_size: int,
) -> list[_Window]:
    """W1 — greedy fold over spans in document order (chunking.go:77-134).

    span_ranges: [(span_idx, byte_start, byte_end)].  Rules, in order:
      (a) cur.size + span.size <= max  -> append to current window
      (b) span.size > max              -> flush current; line-split the span
                                          (spans are leaves — no children)
      (c) else                         -> flush current; start new with span
    Trailing window flushed.
    """
    windows: list[_Window] = []
    cur = _Window()
    for idx, s, e in span_ranges:
        size = nws_range(cumsum, s, e)
        if cur.size + size <= max_size:
            cur.items.append((idx, s, e, False))
            cur.size += size
        elif size > max_size:
            if cur.items:
                windows.append(cur)
                cur = _Window()
            windows.extend(_split_oversized_leaf(idx, s, e, code, max_size))
        else:
            if cur.items:
                windows.append(cur)
            cur = _Window(items=[(idx, s, e, False)], size=size)
    if cur.items:
        windows.append(cur)
    return windows


def merge_adjacent_windows(windows: list[_Window], max_size: int) -> list[_Window]:
    """W3 — single left-to-right merge pass (chunking.go:214-242)."""
    if not windows:
        return windows
    merged: list[_Window] = []
    cur = windows[0]
    for nxt in windows[1:]:
        if cur.size + nxt.size <= max_size:
            cur = _Window(
                items=cur.items + nxt.items,
                size=cur.size + nxt.size,
                is_partial=cur.is_partial or nxt.is_partial,
                line_ranges=cur.line_ranges + nxt.line_ranges,
            )
        else:
            merged.append(cur)
            cur = nxt
    merged.append(cur)
    return merged


def rebuild_text(win: _Window, code: bytes) -> tuple[str, int, int, int, int]:
    """W4 — (text, byte_start, byte_end, line_start, line_end).

    chunking.go:252-310: range = [min starts, max ends) clamped; ALL trailing
    newlines trimmed with byte_end decremented per trim; line range from
    newline counts, overridden by explicit LineRanges when present.
    """
    if not win.items:
        return "", 0, 0, 0, 0
    start = min(it[1] for it in win.items)
    end = max(it[2] for it in win.items)
    end = min(end, len(code))
    start = max(start, 0)
    while end > start and code[end - 1 : end] == b"\n":
        end -= 1
    text = code[start:end].decode("utf-8", errors="replace")
    start_line = _count_newlines(code, 0, start)
    end_line = _count_newlines(code, 0, end)
    if win.line_ranges:
        start_line = win.line_ranges[0][0]
        end_line = win.line_ranges[-1][1]
    return text, start, end, start_line, end_line


def chunk_spans_py(
    kinds: list[str],
    texts: list[str],
    refs: list[str],
    orders: list[int],
    max_size: int = DEFAULT_MAX_CHUNK_SIZE,
) -> list[dict]:
    """Full per-document fold: serialize -> W1 -> W3 -> W4 -> chunk dicts.

    Output chunk dict: chunk_index, total_chunks, text, byte_start, byte_end,
    line_start, line_end, nws_size, is_partial, spans=[{kind, text, media_ref,
    order, part, parts}] where split spans appear as fragments (part k of n)
    whose concatenation in (chunk_index, part) order restores the payload —
    the span-sequence equality invariant.
    """
    order_ix = np.argsort(np.asarray(orders, dtype=np.int64), kind="stable")
    kinds = [kinds[i] for i in order_ix]
    texts = [texts[i] for i in order_ix]
    refs = [refs[i] for i in order_ix]
    orders = [int(orders[i]) for i in order_ix]

    code, starts, ends = serialize_document(kinds, texts, refs)
    cumsum = nws_cumsum(code)
    ranges = [(i, int(starts[i]), int(ends[i])) for i in range(len(kinds))]
    windows = merge_adjacent_windows(
        greedy_assign_windows(ranges, code, cumsum, max_size), max_size
    )

    # fragment counts per span (for part/parts bookkeeping)
    frag_total: dict[int, int] = {}
    for w in windows:
        for idx, _s, _e, _p in w.items:
            frag_total[idx] = frag_total.get(idx, 0) + 1

    out: list[dict] = []
    frag_seen: dict[int, int] = {}
    total = len(windows)
    for ci, w in enumerate(windows):
        text, bs, be, ls, le = rebuild_text(w, code)
        spans = []
        for idx, s, e, partial in w.items:
            part = frag_seen.get(idx, 0)
            frag_seen[idx] = part + 1
            parts = frag_total[idx]
            if parts == 1:
                frag_text = texts[idx] if kinds[idx] == "text" else ""
            else:
                # split spans (text OR media) keep the byte-slice fragment so
                # concatenation in (chunk_index, part) order restores the
                # payload — the span-sequence equality invariant holds for
                # every kind, not just text
                frag_text = code[s:e].decode("utf-8", errors="replace")
            spans.append(
                {
                    "kind": kinds[idx],
                    "text": frag_text,
                    "media_ref": refs[idx] if kinds[idx] == "media" else "",
                    "order": orders[idx],
                    "part": part,
                    "parts": parts,
                }
            )
        out.append(
            {
                "chunk_index": ci,
                "total_chunks": total,
                "text": text,
                "byte_start": bs,
                "byte_end": be,
                "line_start": ls,
                "line_end": le,
                "nws_size": w.size,
                "is_partial": w.is_partial,
                "spans": spans,
            }
        )
    return out


# ------------------------------------------------------ Arrow batch kernel --

_SPAN_OUT = pa.struct([
    ("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
    ("order", pa.int32()), ("part", pa.int32()), ("parts", pa.int32()),
])
CHUNK_ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("chunk_index", pa.int32()),
    ("total_chunks", pa.int32()), ("text", pa.string()),
    ("byte_start", pa.int64()), ("byte_end", pa.int64()),
    ("line_start", pa.int32()), ("line_end", pa.int32()),
    ("nws_size", pa.int32()), ("is_partial", pa.bool_()),
    ("spans", pa.list_(_SPAN_OUT)), ("error", pa.string()),
])
CHUNK_SCHEMA = from_arrow_schema(CHUNK_ARROW_SCHEMA)

_MEDIA_PREFIX, _MEDIA_SUFFIX = MEDIA_TOKEN_FMT.split("{ref}")


class ChunkedBatch(NamedTuple):
    """chunk_arrow_batch's result: ``rows`` holds one row per chunk plus one
    error row per failed document, in document order (``row_doc`` is the
    input row of each); ``buf[doc_lo[d]:doc_hi[d]]`` is document d's
    serialized byte stream."""

    rows: pa.RecordBatch
    row_doc: np.ndarray
    err: np.ndarray
    buf: np.ndarray
    doc_lo: np.ndarray
    doc_hi: np.ndarray


def _valid(arr) -> np.ndarray:
    if arr.null_count == 0:
        return np.ones(len(arr), dtype=bool)
    return np.asarray(arr.is_valid().to_numpy(zero_copy_only=False))


def _prefix(sizes: np.ndarray) -> np.ndarray:
    out = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=out[1:])
    return out


def _ragged_arange(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """concat(arange(s, s + n) for s, n in zip(starts, lens))."""
    lens = np.asarray(lens, dtype=np.int64)
    ends = np.cumsum(lens)
    return (np.arange(int(ends[-1]) if len(ends) else 0, dtype=np.int64)
            + np.repeat(np.asarray(starts, dtype=np.int64) - (ends - lens),
                        lens))


def _greedy_windows(prefix: np.ndarray, lo: np.ndarray, hi: np.ndarray,
                    cap: np.ndarray) -> np.ndarray:
    """The bounded-sum greedy split W1, W2 and W3 all are: each group of
    items [lo[g], hi[g]) is cut left to right into windows that take their
    first item unconditionally and then extend while the window's sum stays
    <= cap[g].  ``prefix`` is the items' size prefix sum (nondecreasing).
    One loop step emits one window for every group still open, so the step
    count is the most windows any group has.  The groups tile the item
    array, so window w ends where window w + 1 starts (the last at the end);
    returns the sorted window starts."""
    open_ = hi > lo
    cur, hi, cap = lo[open_], hi[open_], cap[open_]
    starts = [np.zeros(0, dtype=np.int64)]
    while cur.size:
        starts.append(cur)
        nxt = np.searchsorted(prefix, prefix[cur] + cap, side="right") - 1
        nxt = np.minimum(np.maximum(nxt, cur + 1), hi)
        open_ = nxt < hi
        cur, hi, cap = nxt[open_], hi[open_], cap[open_]
    return np.sort(np.concatenate(starts))


def _window_ends(starts: np.ndarray, n_items: int) -> np.ndarray:
    """_greedy_windows' window ends: the next start, the last at n_items."""
    return np.append(starts[1:], n_items) if len(starts) else starts


def _gather_text(buf: np.ndarray, starts: np.ndarray,
                 ends: np.ndarray) -> pa.StringArray:
    """String array of buf[starts[i]:ends[i]] for ranges that are disjoint
    and ascending (chunks and span fragments are), copied in one mask."""
    bounds = np.empty(2 * len(starts) + 2, dtype=np.int64)
    bounds[0], bounds[-1] = 0, len(buf)
    bounds[1:-1:2], bounds[2:-1:2] = starts, ends
    inside = np.zeros(len(bounds) - 1, dtype=bool)
    inside[1::2] = True
    data = buf[np.repeat(inside, np.diff(bounds))]
    offsets = np.zeros(len(starts) + 1, dtype=np.int32)
    np.cumsum(ends - starts, out=offsets[1:])
    return pa.StringArray.from_buffers(len(starts), pa.py_buffer(offsets),
                                       pa.py_buffer(data))


def row_max_sizes(batch: pa.RecordBatch, options_col: str | None,
                  max_size: int) -> np.ndarray:
    """Per-row window cap: the row's ``options.max_chunk_size`` when it is
    > 0, else max_size (merge_row_options' rule for that field)."""
    caps = np.full(batch.num_rows, max_size, dtype=np.int64)
    if options_col is None:
        return caps
    opts = batch.column(options_col)
    if opts.type.get_field_index("max_chunk_size") < 0:
        return caps
    v = opts.field("max_chunk_size")
    vals = v.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    use = _valid(opts) & _valid(v) & (vals > 0)
    caps[use] = vals[use]
    return caps


def chunk_arrow_batch(batch: pa.RecordBatch, caps: np.ndarray,
                      streaming: bool = False) -> ChunkedBatch:
    """W1-W4 over one Arrow batch of documents (doc_id, spans), in numpy.

    Row for row equal to chunk_spans_py on each document (caps[d] is
    document d's max size).  A null spans list, a null span or a null span
    offset fails only its document: it yields one error row
    (chunk_index = -1).  streaming=True stamps total_chunks = -1."""
    n = batch.num_rows
    docs = np.arange(n)
    caps = np.minimum(np.asarray(caps, dtype=np.int64), 1 << 62)

    # -- flatten the span lists, flag failed documents, sort by offset
    spans = batch.column("spans")
    list_ok = _valid(spans)
    loffs = spans.offsets.to_numpy().astype(np.int64)
    lens = np.where(list_ok, np.diff(loffs), 0)
    vix = _ragged_arange(loffs[:-1], lens)
    parent = np.repeat(docs, lens)
    vals = spans.values
    off_col = vals.field("offset")
    offset = off_col.fill_null(0).to_numpy(zero_copy_only=False)[vix]
    bad = ~(_valid(vals)[vix] & _valid(off_col)[vix])
    err = ~list_ok | (np.bincount(parent[bad], minlength=n) > 0)
    keep = np.flatnonzero(~err[parent])
    sel = keep[np.lexsort((offset[keep], parent[keep]))]
    parent, offset = parent[sel], offset[sel].astype(np.int32)
    take = pa.array(vix[sel])
    kind, text, ref = (pc.cast(vals.field(f).take(take), pa.string())
                       for f in ("kind", "text", "media_ref"))
    m = len(parent)

    # -- the batch byte stream: payloads, '\n' inside each document
    is_media = pc.fill_null(pc.equal(kind, "media"), False)
    is_text = pc.fill_null(pc.equal(kind, "text"), False)
    payload = pc.if_else(
        is_media,
        pc.binary_join_element_wise(_MEDIA_PREFIX, pc.fill_null(ref, ""),
                                    _MEDIA_SUFFIX, ""),
        pc.fill_null(text, ""))
    last = np.ones(m, dtype=bool)
    last[:-1] = parent[1:] != parent[:-1]
    joined = pc.binary_join_element_wise(
        payload, pc.if_else(pa.array(last), "", SPAN_SEP), "")
    jb = joined.buffers()
    jo = np.frombuffer(jb[1], np.int32, m + 1, joined.offset * 4)
    buf = (np.frombuffer(jb[2], np.uint8)[jo[0]:jo[-1]] if m and jb[2]
           else np.zeros(0, dtype=np.uint8))
    sstart = jo[:-1].astype(np.int64) - jo[0]
    send = sstart + pc.binary_length(payload).to_numpy(zero_copy_only=False)

    # -- prefix arrays, once per batch: NWS prefix, newline positions (the
    #    newline prefix at p is searchsorted(nl, p)) and their runs
    nws = np.zeros(len(buf) + 1, dtype=np.int32)  # joined's offsets: int32
    np.cumsum(buf > WS_MAX, out=nws[1:])
    nl = np.flatnonzero(buf == 10)
    nl_run = nl - np.arange(len(nl))  # constant along adjacent newlines

    def nws_at(pos):
        return nws[pos].astype(np.int64)

    d_lo = np.searchsorted(parent, docs, "left")
    d_hi = np.searchsorted(parent, docs, "right")
    has = d_hi > d_lo
    doc_lo = np.zeros(n, dtype=np.int64)
    doc_hi = np.zeros(n, dtype=np.int64)
    doc_lo[has], doc_hi[has] = sstart[d_lo[has]], send[d_hi[has] - 1]
    nl_doc = np.searchsorted(nl, doc_lo)

    def lines(pos, doc):
        """newlines in document `doc` before byte `pos`"""
        return np.searchsorted(nl, pos) - nl_doc[doc]

    def trim(start, end):
        """end with ALL trailing newlines of [start, end) dropped"""
        k = np.searchsorted(nl, end) - 1
        hit = np.flatnonzero(k >= 0)
        hit = hit[nl[k[hit]] == end[hit] - 1]
        out = end.copy()
        first = np.searchsorted(nl_run, nl_run[k[hit]], "left")
        out[hit] = np.maximum(start[hit], nl[first])
        return out

    # -- W1 over span sizes: an oversized span becomes a window of its own
    sp = _prefix(nws_at(send) - nws_at(sstart))
    w1 = _greedy_windows(sp, d_lo, d_hi, caps)
    w1_end = _window_ends(w1, m)
    w1_size = sp[w1_end] - sp[w1]
    over = w1_size > caps[parent[w1]]
    norm = ~over

    # -- W2 over the line sizes of each oversized span
    osp = w1[over]
    s, e = sstart[osp], send[osp]
    n_lo, n_hi = np.searchsorted(nl, s), np.searchsorted(nl, e)
    n_lines = n_hi - n_lo + 1
    g_lo = np.cumsum(n_lines) - n_lines
    g = np.repeat(np.arange(len(osp)), n_lines)
    t = np.arange(len(g)) - g_lo[g]
    ls, le = s[g], e[g]
    inner = t > 0
    ls[inner] = nl[n_lo[g[inner]] + t[inner] - 1] + 1
    inner = t < n_lines[g] - 1
    le[inner] = nl[n_lo[g[inner]] + t[inner]] + 1
    lp = _prefix(nws_at(le) - nws_at(ls))
    w2 = _greedy_windows(lp, g_lo, g_lo + n_lines, caps[parent[osp]])
    w2_end = _window_ends(w2, len(g))
    w2_s, w2_e = ls[w2], le[w2_end - 1]
    w2_keep = w2_e > w2_s  # a lone empty last line is no window

    # -- pieces for W3: the normal W1 windows and the W2 windows, in order
    p_span = np.concatenate([w1[norm], osp[g[w2]][w2_keep]])
    p_start = np.concatenate([sstart[w1[norm]], w2_s[w2_keep]])
    p_end = np.concatenate([send[w1_end[norm] - 1], w2_e[w2_keep]])
    p_size = np.concatenate([w1_size[norm], (lp[w2_end] - lp[w2])[w2_keep]])
    p_items = np.concatenate([(w1_end - w1)[norm],
                              np.ones(int(w2_keep.sum()), dtype=np.int64)])
    p_part = np.repeat([False, True], [int(norm.sum()), int(w2_keep.sum())])
    o = np.lexsort((p_start, p_span))
    p_span, p_start, p_end = p_span[o], p_start[o], p_end[o]
    p_size, p_items, p_part = p_size[o], p_items[o], p_part[o]
    p_doc = parent[p_span]
    n_p = len(p_span)

    # -- W3 over piece sizes, then W4 byte and line ranges
    pp = _prefix(p_size)
    c = _greedy_windows(pp, np.searchsorted(p_doc, docs, "left"),
                        np.searchsorted(p_doc, docs, "right"), caps)
    c_end = _window_ends(c, n_p)
    c_doc = p_doc[c]
    c_start = p_start[c]
    c_stop = trim(c_start, p_end[c_end - 1])
    c_ls, c_le = lines(c_start, c_doc), lines(c_stop, c_doc)
    npart = _prefix(p_part)
    c_partial = npart[c_end] > npart[c]
    # a window with split-span pieces takes its line range from them: the
    # first piece's start line, the last piece's end line
    pix = np.flatnonzero(p_part)
    first = pix[np.searchsorted(pix, c[c_partial])]
    lastp = pix[np.searchsorted(pix, c_end[c_partial]) - 1]
    c_ls[c_partial] = lines(p_start[first], p_doc[first])
    c_le[c_partial] = lines(p_end[lastp], p_doc[lastp])
    c_total = np.bincount(c_doc, minlength=n)[c_doc]

    # -- spans: one item per (piece, span); split spans keep their fragment
    ip = _prefix(p_items)
    i_piece = np.repeat(np.arange(n_p), p_items)
    i_span = p_span[i_piece] + np.arange(len(i_piece)) - ip[i_piece]
    i_split = p_part[i_piece]
    i_s = np.where(i_split, p_start[i_piece], sstart[i_span])
    i_e = np.where(i_split, p_end[i_piece], send[i_span])
    parts = np.bincount(i_span, minlength=m)[i_span]
    part = np.arange(len(i_span)) - np.searchsorted(i_span, i_span, "left")
    # a span's text is its fragment when split, its own text when an
    # unsplit "text" span (null stays null), else '': pick from one pool
    # [span texts | fragments | '']
    frag = parts > 1
    n_frag = int(frag.sum())
    pool = pa.concat_arrays([text, _gather_text(buf, i_s[frag], i_e[frag]),
                             pa.array([""], pa.string())])
    pick = np.where(frag, m + np.cumsum(frag) - 1,
                    np.where(is_text.to_numpy(zero_copy_only=False)[i_span],
                             i_span, m + n_frag))
    it = pa.array(i_span)
    items = pa.StructArray.from_arrays(
        [kind.take(it), pool.take(pa.array(pick)),
         pc.if_else(is_media.take(it), ref.take(it), ""),
         pa.array(offset[i_span]), pa.array(part, pa.int32()),
         pa.array(parts, pa.int32())],
        fields=list(_SPAN_OUT))

    # -- the output batch, error rows in their documents' places
    e_doc = np.flatnonzero(err)
    n_e = len(e_doc)
    zeros = np.zeros(n_e, dtype=np.int64)
    row_doc = np.concatenate([c_doc, e_doc])
    col = {
        "doc_id": pc.cast(batch.column("doc_id"), pa.string())
        .take(pa.array(row_doc)),
        "chunk_index": np.concatenate(
            [np.arange(len(c)) - np.searchsorted(c_doc, c_doc, "left"),
             zeros - 1]),
        "total_chunks": np.concatenate(
            [np.full(len(c), -1) if streaming else c_total, zeros]),
        "text": pa.concat_arrays([_gather_text(buf, c_start, c_stop),
                                  pa.array([""] * n_e, pa.string())]),
        "byte_start": np.concatenate([c_start - doc_lo[c_doc], zeros]),
        "byte_end": np.concatenate([c_stop - doc_lo[c_doc], zeros]),
        "line_start": np.concatenate([c_ls, zeros]),
        "line_end": np.concatenate([c_le, zeros]),
        "nws_size": np.concatenate([pp[c_end] - pp[c], zeros]),
        "is_partial": np.concatenate([c_partial, zeros.astype(bool)]),
        "spans": pa.ListArray.from_arrays(
            pa.array(np.append(ip[c], np.full(n_e + 1, ip[-1])), pa.int32()),
            items, type=CHUNK_ARROW_SCHEMA.field("spans").type),
        "error": pa.concat_arrays([
            pa.nulls(len(c), pa.string()),
            pa.array(np.where(list_ok[e_doc], "a span or its offset is null",
                              "spans is null"), pa.string())]),
    }
    rows = pa.RecordBatch.from_arrays(
        [pa.array(col[f.name], f.type) if isinstance(col[f.name], np.ndarray)
         else col[f.name] for f in CHUNK_ARROW_SCHEMA],
        schema=CHUNK_ARROW_SCHEMA)
    if n_e:
        o = np.argsort(row_doc, kind="stable")
        rows, row_doc = rows.take(pa.array(o)), row_doc[o]
    return ChunkedBatch(rows, row_doc, err, buf, doc_lo, doc_hi)


def chunk_documents(
    df,
    max_size: int = DEFAULT_MAX_CHUNK_SIZE,
    streaming: bool = False,
    options_col: str | None = None,
    progress=None,
):
    """documents(doc_id, spans) -> chunks DataFrame via ONE mapInArrow.

    One doc row in -> N chunk rows out (UDTF-shaped, like reference
    codechunk.go:43 Chunk: 1 file -> N chunks); each Arrow batch is chunked
    whole by chunk_arrow_batch, with no per-document Python.

    Per-row error isolation as in ChunkBatch (codechunk.go:295-391,
    codechunk_test.go:297-318: other rows still succeed): a document whose
    spans list, a span or a span offset is null yields one row with `error`
    set and chunk_index = -1; successful chunks carry error = null — the
    job itself never fails on bad input.

    Per-row option override (codechunk.go:342-359, zero-means-inherit): pass
    options_col naming a struct column with a nullable `max_chunk_size`
    field; null or <= 0 inherits the session-level max_size.

    streaming=True stamps total_chunks = -1 (the ChunkStream sentinel,
    codechunk.go:284) since a global per-doc count is unknown mid-stream.

    progress: optional Spark accumulator incremented by the number of
    successfully chunked documents (≙ reference ChunkBatch's completed
    counter + OnProgress callback, codechunk.go:377-382 — A5).
    """

    def fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = chunk_arrow_batch(
                batch, row_max_sizes(batch, options_col, max_size), streaming)
            if progress is not None:
                progress.add(int((~out.err).sum()))
            yield out.rows

    return df.mapInArrow(fn, schema=CHUNK_SCHEMA)

