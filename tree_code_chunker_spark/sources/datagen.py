"""Deterministic synthetic data (seed-fixed) for tests and benchmarks.

FIXTURES.md shapes: interleaved text+media `documents` (BASELINE input_hint
schema), integer-grid `polygons` (convex + concave, one over a hot cell), and
`knn_queries`.  Everything derives from numpy RandomState(seed) — same rows
every run, every machine.  Every frame is built from an Arrow table
(``_arrow_frame``), so it plans as a ``LocalTableScan``.

Text spans are code-like blocks in 6 pseudo-language styles mirroring the
reference language set (reference/types.go:13-20) with doc-comment prefixes
from reference/docstring.go:21-28, and NWS sizes spread across the merge /
boundary / oversized-line-split paths of the window algebra.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from ..operators.geo import HOT_CENTERS

LANG_STYLES = [
    ("go", "// doc for {name}\nfunc {name}(a, b int) int {{", "}}"),
    ("python", 'def {name}(a, b):\n    """doc for {name}"""', ""),
    ("typescript", "/** doc for {name} */\nfunction {name}(a: number) {{", "}}"),
    ("javascript", "/** doc for {name} */\nfunction {name}(a) {{", "}}"),
    ("rust", "/// doc for {name}\nfn {name}(a: i64) -> i64 {{", "}}"),
    ("java", "/** doc for {name} */\npublic int {name}(int a) {{", "}}"),
]

BODY_WORDS = [
    "result", "value", "index", "total", "count", "buffer", "offset",
    "window", "merge", "chunk", "span", "cell", "tile", "query",
]


def _arrow_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A DataFrame of `rows` (tuples in `schema`'s column order) built from
    an Arrow table.  It plans as a LocalTableScan; built from the Python
    list itself, every action on it would pickle each row through a Python
    map first."""
    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


def _text_span(rng: np.random.RandomState, target_nws: int) -> str:
    """Code-like text span with roughly target_nws non-whitespace chars."""
    style = LANG_STYLES[rng.randint(len(LANG_STYLES))]
    name = f"fn_{rng.randint(10000)}"
    lines = [style[1].format(name=name)]
    nws = sum(len(l.replace(" ", "")) for l in lines)
    while nws < target_nws:
        w1, w2 = rng.choice(BODY_WORDS, 2)
        line = f"    {w1} = {w2} + {rng.randint(1000)}"
        lines.append(line)
        nws += len(line.replace(" ", ""))
    if style[2]:
        lines.append(style[2])
    return "\n".join(lines)


def gen_documents(spark: SparkSession, n_docs: int, seed: int = 42,
                  mean_spans: int = 12) -> DataFrame:
    rng = np.random.RandomState(seed)
    rows = []
    for d in range(n_docs):
        n_spans = max(1, int(rng.lognormal(np.log(mean_spans), 0.5)))
        spans = []
        for i in range(n_spans):
            r = rng.rand()
            if r < 0.2:
                spans.append(("media", "", f"ref://{d:08d}/{i}", i))
            else:
                u = rng.rand()
                if u < 0.70:
                    target = int(rng.randint(40, 600))     # merge path
                elif u < 0.90:
                    target = int(rng.randint(1350, 1700))  # boundary cut
                else:
                    target = int(rng.randint(3200, 6000))  # oversized split
                spans.append(("text", _text_span(rng, target), "", i))
        rows.append((f"doc{d:08d}", spans))
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    return _arrow_frame(spark, rows, schema)


def polygon_rings(n_polygons: int, seed: int = 43) -> list[tuple[str, list]]:
    """Pure-python ring generator: [(polygon_id, [(qlat, qlon), ...closed])].

    Shared by gen_polygons (Spark) and the pip_raycast DuckDB oracle, which
    embeds the SAME closed rings as an edge VALUES table."""
    rng = np.random.RandomState(seed)
    out = []
    for p in range(n_polygons):
        if p == 0:
            cy, cx = HOT_CENTERS[0]
        else:
            cy = int(rng.randint(2000, 63000))
            cx = int(rng.randint(2000, 63000))
        n_vert = int(rng.randint(4, 9))
        radius = int(rng.randint(300, 3000))
        star = bool(rng.rand() < 0.4)
        angles = np.linspace(0, 2 * np.pi, n_vert * (2 if star else 1),
                             endpoint=False)
        ring = []
        for j, a in enumerate(angles):
            r = radius if (not star or j % 2 == 0) else radius // 3
            qlat = int(np.clip(cy + r * np.sin(a), 0, 65535))
            qlon = int(np.clip(cx + r * np.cos(a), 0, 65535))
            ring.append((qlat, qlon))
        ring.append(ring[0])
        out.append((f"poly{p:05d}", ring))
    return out


def gen_polygons(spark: SparkSession, n_polygons: int, seed: int = 43) -> DataFrame:
    """Integer-grid polygons: convex (regular n-gon) and concave (star)
    mixes; polygon 0 always covers hot cell 0 (skew path, FIXTURES.md §2)."""
    rows = [(pid, ring, f"cat{i % 7}")
            for i, (pid, ring) in enumerate(polygon_rings(n_polygons, seed))]
    schema = ("polygon_id string, ring array<struct<qlat:bigint,qlon:bigint>>, "
              "category string")
    return _arrow_frame(spark, rows, schema)


def gen_knn_queries(spark: SparkSession, n_queries: int, seed: int = 44) -> DataFrame:
    rng = np.random.RandomState(seed)
    rows = []
    for q in range(n_queries):
        if q % 4 == 0:  # a quarter of the probes hit hot spots
            cy, cx = HOT_CENTERS[q % len(HOT_CENTERS)]
            qlat = int(np.clip(cy + rng.randint(-200, 200), 0, 65535))
            qlon = int(np.clip(cx + rng.randint(-200, 200), 0, 65535))
        else:
            qlat = int(rng.randint(0, 65536))
            qlon = int(rng.randint(0, 65536))
        rows.append((f"q{q:05d}", qlat, qlon))
    return _arrow_frame(spark, rows, "query_id string, qlat bigint, qlon bigint")


def polygon_rings_holes(n_polygons: int, seed: int = 47) -> list:
    """[(polygon_id, [ring, ...])] multi-ring fixtures, every ring closed:
    each polygon is a DONUT (octagon shell + hexagonal hole at 1/3 radius),
    and every third adds a disjoint second shell (multipolygon).  Shared by
    the Spark fixture (gen_polygons_holes) and the pip_holes DuckDB oracle,
    which embeds the same rings as an edge VALUES table — even-odd
    crossings over ALL edges implement holes in both engines."""
    rng = np.random.RandomState(seed)

    def ngon(cy, cx, rad, n_vert):
        angles = np.linspace(0, 2 * np.pi, n_vert, endpoint=False)
        ring = [(int(np.clip(cy + rad * np.sin(a), 0, 65535)),
                 int(np.clip(cx + rad * np.cos(a), 0, 65535)))
                for a in angles]
        ring.append(ring[0])
        return ring

    out = []
    for p in range(n_polygons):
        if p == 0:
            cy, cx = HOT_CENTERS[0]  # hole over a hot cell: skew + exclusion
        else:
            cy = int(rng.randint(6000, 59000))
            cx = int(rng.randint(6000, 59000))
        big = int(rng.randint(1500, 4000))
        rings = [ngon(cy, cx, big, 8), ngon(cy, cx, max(big // 3, 64), 6)]
        if p % 3 == 0:
            cy2 = int(np.clip(cy + 2 * big + 1500, 0, 65535))
            rings.append(ngon(cy2, cx, big // 2, 5))
        out.append((f"hpoly{p:05d}", rings))
    return out


def gen_polygons_holes(spark: SparkSession, n_polygons: int,
                       seed: int = 47) -> DataFrame:
    """Multi-ring polygons (donuts + multipolygons) as a `rings` column —
    the holes-aware geometry schema accepted by every PIP path."""
    rows = list(polygon_rings_holes(n_polygons, seed))
    schema = ("polygon_id string, "
              "rings array<array<struct<qlat:bigint,qlon:bigint>>>")
    return _arrow_frame(spark, rows, schema)
