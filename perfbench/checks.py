"""Output checks.  Each returns a list of failure messages; an operation with
any failure counts as failed.  The checks take plain Python/Arrow values so
the self-test can feed them deliberately corrupted outputs."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

INGEST_STAGES = ("chunks", "points", "pip_matches", "vector_tiles",
                 "raster_tiles")


def doc_spans(table) -> dict[str, list[tuple]]:
    """Generated documents -> doc_id -> [(kind, text, media_ref, order)]."""
    out = {}
    for doc_id, spans in zip(table.column("doc_id").to_pylist(),
                             table.column("spans").to_pylist()):
        out[doc_id] = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in spans]
    return out


def reassemble(chunk_rows: list[dict]) -> list[tuple]:
    """One document's chunk rows -> its span sequence.  Fragments of a split
    span are concatenated in (chunk_index, part) order."""
    frags: dict[int, list] = {}
    order_seen = []
    for row in sorted(chunk_rows, key=lambda r: r["chunk_index"]):
        for s in sorted(row["spans"], key=lambda s: s["part"]):
            if s["order"] not in frags:
                order_seen.append(s["order"])
            frags.setdefault(s["order"], []).append(s)
    out = []
    for o in order_seen:
        fs = frags[o]
        head = fs[0]
        text = "".join(f["text"] for f in fs) if head["parts"] > 1 else head["text"]
        if head["kind"] == "media" and text == f"<media:{head['media_ref']}>":
            text = ""  # a split media span's fragments rebuild its token
        out.append((head["kind"], text, head["media_ref"], o))
    return out


def check_chunks(rows: list[dict], want: dict[str, list[tuple]]) -> list[str]:
    """Every document's committed chunks rebuild its input spans exactly;
    no chunk row carries an error; chunk indexes run 0..total-1."""
    fails = []
    by_doc: dict[str, list] = {}
    for r in rows:
        if r["error"] is not None:
            fails.append(f"chunk error row for {r['doc_id']}: {r['error'][:80]}")
        by_doc.setdefault(r["doc_id"], []).append(r)
    missing = set(want) - set(by_doc)
    if missing:
        fails.append(f"{len(missing)} documents have no chunks")
    for doc_id, rs in by_doc.items():
        if doc_id not in want:
            fails.append(f"unknown document {doc_id}")
            continue
        idx = sorted(r["chunk_index"] for r in rs)
        if idx != list(range(len(rs))) or any(
                r["total_chunks"] != len(rs) for r in rs):
            fails.append(f"{doc_id}: chunk indexes {idx[:5]}... of "
                         f"{rs[0]['total_chunks']}")
        elif reassemble(rs) != want[doc_id]:
            fails.append(f"{doc_id}: span sequence differs from input")
    return fails


def read_stage(root: str, stage: str):
    return pq.read_table(os.path.join(root, stage))


def check_manifests(root: str) -> list[str]:
    """Each committed stage's manifest row count equals the rows read back."""
    fails = []
    for stage in INGEST_STAGES:
        path = os.path.join(root, stage, "_manifest.json")
        try:
            with open(path) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            fails.append(f"{stage}: no manifest ({e})")
            continue
        n = read_stage(root, stage).num_rows
        if not m.get("committed") or m.get("n_rows") != n:
            fails.append(f"{stage}: manifest n_rows {m.get('n_rows')} "
                         f"!= {n} rows read back")
    return fails


def polygon_bboxes(pack: dict) -> dict:
    """polygon_id -> (min qlat, max qlat, min qlon, max qlon)."""
    out = {}
    for pid, rings in pack.items():
        ys = np.concatenate([r[0] for r in rings])
        xs = np.concatenate([r[1] for r in rings])
        out[pid] = (int(ys.min()), int(ys.max()), int(xs.min()), int(xs.max()))
    return out


def check_knn_ranks(rows: list[tuple], query_ids: list[str], k: int) -> list[str]:
    """rows: (query_id, ..., rank).  Every query returns exactly k rows
    ranked 1..k."""
    ranks: dict = {q: [] for q in query_ids}
    for r in rows:
        ranks.setdefault(r[0], []).append(r[-1])
    bad = [q for q, rs in ranks.items() if sorted(rs) != list(range(1, k + 1))]
    return [f"{len(bad)} kNN queries without ranks 1..{k}, e.g. {bad[0]}: "
            f"{sorted(ranks[bad[0]])}"] if bad else []


def check_knn_rows(got: list[tuple], want: list[tuple]) -> list[str]:
    """Same (query_id, doc_id, span_pos, d2, rank) rows as brute force."""
    g, w = sorted(got), sorted(want)
    if g == w:
        return []
    diff = sorted(set(g) ^ set(w))
    return [f"kNN differs from knn_bruteforce on {len(diff)} rows, "
            f"e.g. {diff[0]}"]


def pip_matches_np(pack: dict, bbox: dict, points: list[tuple]) -> set:
    """points (doc_id, span_pos, qlat, qlon) -> {(span_pos, polygon_id)}."""
    from tree_code_chunker_spark.operators.pip import ray_cast_rings_np

    py = np.array([p[2] for p in points], dtype=np.int64)
    px = np.array([p[3] for p in points], dtype=np.int64)
    out = set()
    for pid, (y0, y1, x0, x1) in bbox.items():
        cand = np.nonzero((py >= y0) & (py <= y1) & (px >= x0) & (px <= x1))[0]
        if cand.size:
            inside = ray_cast_rings_np(pack[pid], py[cand], px[cand])
            out.update((points[i][1], pid) for i in cand[inside])
    return out


def check_pip_matches(got: set, want: set) -> list[str]:
    if got == want:
        return []
    return [f"PIP lookup differs from the ray-cast oracle on "
            f"{len(got ^ want)} (point, polygon) pairs"]
