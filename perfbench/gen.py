"""Seeded input generators for the benchmark.

Everything here derives from ``numpy.random.default_rng(seed)``: the same seed
gives the same inputs on every machine.  The engine only ever sees the
generated tables, never the seed.

* ``gen_documents_table``: interleaved documents with the span-kind and size
  mix of ``tree_code_chunker_spark.sources.datagen.gen_documents`` (20% media
  spans; text spans sized for the merge, boundary-cut and oversized
  line-split paths of the chunker), built from a pool of pre-rendered code
  lines instead of one RNG call per line, so thousands of documents take
  well under a second instead of ~23 ms each.
* ``corpus_keys``: the (doc_id, span_pos) key space of the point corpus;
  ``geo.derive_point_cols`` turns it into points (20% of documents land on
  the three hot spots).
* ``knn_query_batch`` / ``pip_point_batch``: the probe request stream.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# (header, footer) per pseudo-language, as in sources.datagen.LANG_STYLES
_STYLES = [
    ("// doc for {n}\nfunc {n}(a, b int) int {{", "}}"),
    ('def {n}(a, b):\n    """doc for {n}"""', ""),
    ("/** doc for {n} */\nfunction {n}(a: number) {{", "}}"),
    ("/** doc for {n} */\nfunction {n}(a) {{", "}}"),
    ("/// doc for {n}\nfn {n}(a: i64) -> i64 {{", "}}"),
    ("/** doc for {n} */\npublic int {n}(int a) {{", "}}"),
]
_WORDS = np.array([
    "result", "value", "index", "total", "count", "buffer", "offset",
    "window", "merge", "chunk", "span", "cell", "tile", "query",
])
_POOL = 4096  # pre-rendered body lines
MEDIA_SHARE = 0.2
SPAN_SCHEMA = pa.struct([("kind", pa.string()), ("text", pa.string()),
                         ("media_ref", pa.string()), ("offset", pa.int32())])


def _nws(s: str) -> int:
    return sum(1 for ch in s if not ch.isspace())


def gen_documents_table(n_docs: int, seed: int,
                        mean_spans: int = 12) -> tuple[pa.Table, dict]:
    """-> (arrow table ``doc_id string, spans list<struct<kind, text,
    media_ref, offset>>``, {"docs", "spans", "text_spans"})."""
    rng = np.random.default_rng(seed)
    w1 = _WORDS[rng.integers(len(_WORDS), size=_POOL)]
    w2 = _WORDS[rng.integers(len(_WORDS), size=_POOL)]
    nums = rng.integers(1000, size=_POOL)
    lines = [f"    {a} = {b} + {c}" for a, b, c in zip(w1, w2, nums)]
    line_nws = np.array([_nws(s) for s in lines], dtype=np.int64)
    # doubled pool so any window of up to _POOL lines is one contiguous slice
    lines2 = lines + lines
    cum = np.concatenate([[0], np.cumsum(np.concatenate([line_nws, line_nws]))])

    n_spans = np.maximum(
        1, rng.lognormal(np.log(mean_spans), 0.5, size=n_docs).astype(np.int64))
    total = int(n_spans.sum())
    doc_of = np.repeat(np.arange(n_docs), n_spans)
    starts = np.concatenate([[0], np.cumsum(n_spans)[:-1]])
    pos = np.arange(total) - np.repeat(starts, n_spans)
    is_media = rng.random(total) < MEDIA_SHARE
    u = rng.random(total)
    target = np.where(
        u < 0.70, rng.integers(40, 600, size=total),            # merge path
        np.where(u < 0.90, rng.integers(1350, 1700, size=total),  # boundary cut
                 rng.integers(3200, 6000, size=total)))         # oversized split
    style = rng.integers(len(_STYLES), size=total)
    fname = rng.integers(10000, size=total)
    first = rng.integers(_POOL, size=total)

    doc_ids = [f"doc{seed}-{d:07d}" for d in range(n_docs)]
    kinds, texts, refs = [], [], []
    for i in range(total):
        if is_media[i]:
            kinds.append("media")
            texts.append("")
            refs.append(f"ref://{doc_ids[doc_of[i]]}/{pos[i]}")
            continue
        head, foot = _STYLES[style[i]]
        head = head.format(n=f"fn_{fname[i]}")
        need = int(target[i]) - _nws(head)
        s = int(first[i])
        n_lines = 0
        if need > 0:  # fewest pool lines whose NWS reaches the target
            n_lines = int(np.searchsorted(cum, cum[s] + need) - s)
        parts = [head, *lines2[s:s + n_lines]]
        if foot:
            parts.append(foot)
        kinds.append("text")
        texts.append("\n".join(parts))
        refs.append("")
    spans = pa.StructArray.from_arrays(
        [pa.array(kinds), pa.array(texts), pa.array(refs),
         pa.array(pos, type=pa.int32())],
        fields=list(SPAN_SCHEMA))
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]),
                       type=pa.int32())
    table = pa.table({"doc_id": pa.array(doc_ids),
                      "spans": pa.ListArray.from_arrays(offsets, spans)})
    stats = {"docs": n_docs, "spans": total,
             "text_spans": int((~is_media).sum())}
    return table, stats


def corpus_keys(spark, n_docs: int, spans_per_doc: int, seed: int):
    """(doc_id bigint, span_pos bigint) for n_docs x spans_per_doc points.

    doc ids start at a seed-derived offset that is a multiple of 5, so
    exactly every fifth document is one of ``geo.derive_point_cols``'s hot
    documents whatever the seed."""
    from pyspark.sql import functions as F

    base = (seed % 100_000) * 5 * n_docs
    return spark.range(n_docs * spans_per_doc).select(
        (F.lit(base) + F.col("id") / F.lit(spans_per_doc)).cast("long")
        .alias("doc_id"),
        (F.col("id") % F.lit(spans_per_doc)).alias("span_pos"))


def knn_query_batch(rng: np.random.Generator, n: int, hot_centers,
                    prefix: str) -> list[tuple[str, int, int]]:
    """n (query_id, qlat, qlon); a quarter near hot spots, as in
    ``sources.datagen.gen_knn_queries``.  Exactly a quarter of every batch,
    so batches differ in where their queries fall, not in how many are
    hot."""
    hot = rng.permutation(n) < n // 4
    which = rng.integers(len(hot_centers), size=n)
    centers = np.asarray(hot_centers, dtype=np.int64)[which]
    jitter = rng.integers(-200, 200, size=(n, 2))
    uniform = rng.integers(0, 65536, size=(n, 2))
    pts = np.where(hot[:, None], np.clip(centers + jitter, 0, 65535), uniform)
    return [(f"{prefix}-{j:03d}", int(a), int(b))
            for j, (a, b) in enumerate(pts)]


def pip_point_batch(rng: np.random.Generator, n: int, rings_bbox: np.ndarray,
                    prefix: str) -> list[tuple[str, int, int, int]]:
    """n (doc_id, span_pos, qlat, qlon) lookup points: half of every batch
    inside a random polygon's bounding box (so lookups usually hit), half
    uniform."""
    pick = rng.integers(len(rings_bbox), size=n)
    lo_y, hi_y, lo_x, hi_x = (rings_bbox[pick, i] for i in range(4))
    in_box = np.stack([lo_y + (rng.random(n) * (hi_y - lo_y + 1)).astype(np.int64),
                       lo_x + (rng.random(n) * (hi_x - lo_x + 1)).astype(np.int64)],
                      axis=1)
    uniform = rng.integers(0, 65536, size=(n, 2))
    pts = np.where((rng.permutation(n) < n // 2)[:, None], in_box, uniform)
    return [(prefix, j, int(a), int(b)) for j, (a, b) in enumerate(pts)]
