"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship pipeline (chunk -> geocode -> PIP join) on
sf0.001.  `queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data pipeline ops); `oracle_sql()` gives the
DuckDB-equivalent SQL for every SQL-expressible one.  Column names and
integer widths are aligned on both sides (driver hashes values after sorting
columns by name).

Non-SQL-expressible entries (the data-dependent chunk fold, MinHash/SimHash
sketches, ray-cast PIP against concave polygons) intentionally have no
oracle_sql — the driver records a rows-only check; their exactness is pinned
by tests/ against independent Python/numpy oracles instead.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tree_code_chunker_spark.operators.chunker import chunk_documents
from tree_code_chunker_spark.operators.dedup import (
    edit1_join,
    exact_dedup,
    jaccard_set_join,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_sketches,
)
from tree_code_chunker_spark.operators.geo import (
    GRID_MAX,
    cell_at_res_col,
    cell_at_res_sql,
    cell_col,
    cell_sql,
    derive_point_cols,
    derive_point_sql,
    tile_cols,
    tile_sql,
)
from tree_code_chunker_spark.operators.knn import knn_ring
from tree_code_chunker_spark.operators.pip import pip_join
from tree_code_chunker_spark.operators.similarity import cosine_topk
from tree_code_chunker_spark.operators.textstats import (
    bpe_token_count_col,
    bpe_token_count_sql,
    fingerprint_col,
    lang_id_col,
    lang_id_sql,
    nws_count_col,
    nws_count_sql,
    quality_score_col,
    quality_score_sql,
    token_count_col,
    token_count_sql,
)
from tree_code_chunker_spark.sources.adapter import (
    spanify,
    spanify_exploded,
    spanify_sql,
)
from tree_code_chunker_spark.sources.datagen import gen_polygons

# ------------------------------------------------------------- helpers ----

SPANS_CTE = f"WITH spans AS ({spanify_sql()})"


def _gate_tmpdir(prefix: str) -> str:
    """mkdtemp + atexit cleanup.  Gate queries that write parquet/band
    indexes return DataFrames that read these dirs LAZILY, so the dirs
    must outlive the query's materialization — removing them at process
    exit (not inline) fixes the cross-round disk leak without racing the
    driver's read (advisor finding, r7)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spanify_exploded(_docs(spark, sf_dir))


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer-grid points, one per span (engine side)."""
    s = _spans(spark, sf_dir)
    qlat, qlon = derive_point_cols(F.col("doc_id").cast("long"), F.col("span_pos"))
    return s.select(
        "doc_id",
        F.col("span_pos").cast("long").alias("span_pos"),
        qlat.alias("qlat"),
        qlon.alias("qlon"),
    )


POINTS_SQL = """
points AS (
  SELECT doc_id, CAST(span_pos AS BIGINT) AS span_pos,
         {qlat} AS qlat, {qlon} AS qlon
  FROM spans
)""".format(qlat=derive_point_sql()[0], qlon=derive_point_sql()[1])


# rectangle "polygons" for the SQL-checked PIP entry (engine runs the real
# ray-cast; axis-aligned rectangles make the oracle a pure range predicate
# under the documented half-open edge convention: y0<=py<y1 AND x0<=px<x1)
def _rects() -> list[tuple[str, int, int, int, int]]:
    out = []
    for r in range(10):
        y0 = (r * 6553 + 1000) % 60000
        x0 = (r * 7321 + 2000) % 60000
        out.append((f"rect{r:02d}", y0, x0, y0 + 3000, x0 + 4000))
    return out


def _rect_polygons(spark: SparkSession) -> DataFrame:
    rows = []
    for pid, y0, x0, y1, x1 in _rects():
        ring = [(y0, x0), (y0, x1), (y1, x1), (y1, x0), (y0, x0)]
        rows.append((pid, ring))
    return spark.createDataFrame(
        rows, "polygon_id string, ring array<struct<qlat:bigint,qlon:bigint>>"
    )


RECTS_SQL = "rects(polygon_id, y0, x0, y1, x1) AS (VALUES " + ", ".join(
    f"('{pid}', {y0}, {x0}, {y1}, {x1})" for pid, y0, x0, y1, x1 in _rects()
) + ")"


# ------------------------------------------------------------- queries ----


def _utc(spark):
    # timestamp semantics must match the (naive) DuckDB oracle regardless of
    # the driver session's default timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def q_tpch_pricing(spark, sf_dir):
    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_PRICING = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_rollup(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


SQL_JOIN_ROLLUP = """
SELECT n_name, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, o_orderpriority
"""


def q_span_explode(spark, sf_dir):
    return _spans(spark, sf_dir).select(
        "doc_id", F.col("span_pos").cast("long").alias("span_pos"),
        "kind", "text", "media_ref",
    )


SQL_SPAN_EXPLODE = f"""
{SPANS_CTE}
SELECT doc_id, CAST(span_pos AS BIGINT) AS span_pos, kind, text, media_ref
FROM spans
"""


def q_cell_index(spark, sf_dir):
    p = _points(spark, sf_dir)
    cell = cell_col(F.col("qlat"), F.col("qlon"))
    return p.select(
        "doc_id", "span_pos", "qlat", "qlon",
        cell.alias("cell"),
        cell_at_res_col(cell, 12).alias("cell_r12"),
        cell_at_res_col(cell, 6).alias("cell_r6"),
    )


SQL_CELL_INDEX = f"""
{SPANS_CTE}, {POINTS_SQL}
SELECT doc_id, span_pos, qlat, qlon,
       {cell_sql('qlat', 'qlon')} AS cell,
       {cell_at_res_sql(cell_sql('qlat', 'qlon'), 12)} AS cell_r12,
       {cell_at_res_sql(cell_sql('qlat', 'qlon'), 6)} AS cell_r6
FROM points
"""


def q_tile_rollup(spark, sf_dir):
    p = _points(spark, sf_dir)
    parts = []
    for z in (4, 8, 12):
        tx, ty = tile_cols(F.col("qlat"), F.col("qlon"), z)
        parts.append(
            p.select(F.lit(z).alias("z"), tx.alias("x"), ty.alias("y"))
        )
    allz = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return allz.groupBy("z", "x", "y").agg(F.count("*").alias("n_points"))


def _tile_union_sql():
    selects = []
    for z in (4, 8, 12):
        tx, ty = tile_sql("qlat", "qlon", z)
        selects.append(f"SELECT {z} AS z, {tx} AS x, {ty} AS y FROM points")
    return " UNION ALL ".join(selects)


SQL_TILE_ROLLUP = f"""
{SPANS_CTE}, {POINTS_SQL}
SELECT z, x, y, count(*) AS n_points
FROM ({_tile_union_sql()})
GROUP BY z, x, y
"""


def q_pip_rect(spark, sf_dir):
    pts = _points(spark, sf_dir)
    polys = _rect_polygons(spark)
    return pip_join(pts, polys).select("doc_id", "span_pos", "polygon_id")


SQL_PIP_RECT = f"""
{SPANS_CTE}, {POINTS_SQL}, {RECTS_SQL}
SELECT doc_id, span_pos, polygon_id
FROM points JOIN rects
  ON qlat >= y0 AND qlat < y1 AND qlon >= x0 AND qlon < x1
"""


def q_pip_anti(spark, sf_dir):
    """Points contained in NO polygon (the spatial filter-out): one
    narrow filter keeps the points whose pip_join probe of the broadcast
    classified cover finds no polygon — no join, no exchange; the probe
    side is never shuffled."""
    from tree_code_chunker_spark.operators.pip import pip_anti_join

    pts = _points(spark, sf_dir)
    polys = _rect_polygons(spark)
    return pip_anti_join(pts, polys).select(
        "doc_id", "span_pos", "qlat", "qlon")


SQL_PIP_ANTI = f"""
{SPANS_CTE}, {POINTS_SQL}, {RECTS_SQL}
SELECT doc_id, span_pos, qlat, qlon
FROM points p
WHERE NOT EXISTS (
  SELECT 1 FROM rects r
  WHERE p.qlat >= r.y0 AND p.qlat < r.y1
    AND p.qlon >= r.x0 AND p.qlon < r.x1
)
"""


def q_knn(spark, sf_dir):
    corpus = _points(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    qlat, qlon = derive_point_cols(F.col("n_nationkey").cast("long"), F.lit(999))
    queries = n.select(
        F.col("n_nationkey").cast("long").alias("query_id"),
        qlat.alias("qlat"), qlon.alias("qlon"),
    )
    out = knn_ring(queries, corpus, k=5, res=10)
    return out.select(
        "query_id", "doc_id", "span_pos",
        F.col("d2").cast("long").alias("d2"),
        F.col("rank").cast("long").alias("rank"),
    )


_QLAT_Q, _QLON_Q = derive_point_sql("n_nationkey", "999")
SQL_KNN = f"""
{SPANS_CTE}, {POINTS_SQL}, queries AS (
  SELECT CAST(n_nationkey AS BIGINT) AS query_id,
         {_QLAT_Q} AS qlat, {_QLON_Q} AS qlon
  FROM nation
), scored AS (
  SELECT q.query_id, p.doc_id, p.span_pos,
         (p.qlat - q.qlat) * (p.qlat - q.qlat)
         + (p.qlon - q.qlon) * (p.qlon - q.qlon) AS d2
  FROM queries q CROSS JOIN points p
)
SELECT query_id, doc_id, span_pos, d2,
       rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY d2 ASC, doc_id ASC, span_pos ASC
  ) AS rank
  FROM scored
)
WHERE rank <= 5
"""


KNN_WITHIN_R = 4000


def q_knn_within(spark, sf_dir):
    """Bounded kNN: each nation probe's 5 nearest points WITHIN radius
    4000 (fewer if the disk is short) — dwithin cell-bucket prune feeding
    the shared top-k window; no SAT planning, the radius IS the bound."""
    from tree_code_chunker_spark.operators.knn import knn_within

    corpus = _points(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    qlat, qlon = derive_point_cols(F.col("n_nationkey").cast("long"), F.lit(999))
    queries = n.select(
        F.col("n_nationkey").cast("long").alias("query_id"),
        qlat.alias("qlat"), qlon.alias("qlon"),
    )
    out = knn_within(queries, corpus, k=5, radius=KNN_WITHIN_R)
    return out.select(
        "query_id", "doc_id", "span_pos",
        F.col("d2").cast("long").alias("d2"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_KNN_WITHIN = f"""
{SPANS_CTE}, {POINTS_SQL}, queries AS (
  SELECT CAST(n_nationkey AS BIGINT) AS query_id,
         {_QLAT_Q} AS qlat, {_QLON_Q} AS qlon
  FROM nation
), scored AS (
  SELECT q.query_id, p.doc_id, p.span_pos,
         (p.qlat - q.qlat) * (p.qlat - q.qlat)
         + (p.qlon - q.qlon) * (p.qlon - q.qlon) AS d2
  FROM queries q CROSS JOIN points p
)
SELECT query_id, doc_id, span_pos, CAST(d2 AS BIGINT) AS d2,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY d2 ASC, doc_id ASC, span_pos ASC
  ) AS rank
  FROM scored
  WHERE d2 <= {KNN_WITHIN_R * KNN_WITHIN_R}
)
WHERE rank <= 5
"""


IDW_R = 3000


def q_idw(spark, sf_dir):
    """Power-2 IDW surface interpolation at the nation probe locations
    from the points within radius 3000 — dwithin cell-bucket join + ONE
    hash agg with DECIMAL(38,18) weighted sums (order-stable where float
    sums are not)."""
    from tree_code_chunker_spark.operators.spatial import idw_interpolate

    pts = _points(spark, sf_dir).withColumn(
        "value",
        F.col("span_pos") * 7 + F.col("doc_id").cast("long") % 13)
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    qlat, qlon = derive_point_cols(F.col("n_nationkey").cast("long"), F.lit(999))
    queries = n.select(
        F.col("n_nationkey").cast("long").alias("query_id"),
        qlat.alias("qlat"), qlon.alias("qlon"),
    )
    return idw_interpolate(pts, queries, IDW_R)


def _idw_sql():
    from tree_code_chunker_spark.operators.spatial import idw_interpolate_sql

    return f"""
{SPANS_CTE}, {POINTS_SQL}, idw_pts AS (
  SELECT qlat, qlon,
         span_pos * 7 + CAST(doc_id AS BIGINT) % 13 AS value
  FROM points
), idw_q AS (
  SELECT CAST(n_nationkey AS BIGINT) AS query_id,
         {_QLAT_Q} AS qlat, {_QLON_Q} AS qlon
  FROM nation
)
{idw_interpolate_sql('idw_pts', 'idw_q', IDW_R)}
"""


SQL_IDW = _idw_sql()


KNN_SELF_K = 3


def q_knn_self(spark, sf_dir):
    """Corpus-vs-corpus kNN: every point probes for its 3 nearest OTHER
    points in one mapInPandas over the corpus, ranked against the index's
    once-broadcast cell-sorted arrays and SAT (the probe side is never
    collected).  The 2-D generalization of reference getSiblings
    (codechunk.go:653-689) and the ANN-dedup shape where probe == data."""
    from tree_code_chunker_spark.operators.knn import knn_self_join

    out = knn_self_join(_points(spark, sf_dir), k=KNN_SELF_K, res=10)
    return out.select(
        "query_id", "doc_id", "span_pos",
        F.col("d2").cast("long").alias("d2"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_KNN_SELF = f"""
{SPANS_CTE}, {POINTS_SQL}, scored AS (
  SELECT a.doc_id || ':' || CAST(a.span_pos AS VARCHAR) AS query_id,
         b.doc_id, b.span_pos,
         (b.qlat - a.qlat) * (b.qlat - a.qlat)
         + (b.qlon - a.qlon) * (b.qlon - a.qlon) AS d2
  FROM points a JOIN points b
    ON NOT (a.doc_id = b.doc_id AND a.span_pos = b.span_pos)
)
SELECT query_id, doc_id, span_pos, CAST(d2 AS BIGINT) AS d2,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY d2 ASC, doc_id ASC, span_pos ASC
  ) AS rank
  FROM scored
)
WHERE rank <= {KNN_SELF_K}
"""


def q_dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return exact_dedup(d, "doc_id", "text").select(
        "digest", F.col("rep_id").cast("long").alias("rep_id"),
        F.col("n_copies").cast("long").alias("n_copies"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS digest, min(doc_id) AS rep_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


def q_text_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        nws_count_col(t).cast("long").alias("nws"),
        token_count_col(t).cast("long").alias("n_tokens"),
        bpe_token_count_col(t).cast("long").alias("n_bpe_tokens"),
        quality_score_col(t).alias("quality"),
        lang_id_col(t).alias("lang_guess"),
    )


SQL_TEXT_STATS = f"""
SELECT doc_id,
       {nws_count_sql('text')} AS nws,
       CAST({token_count_sql('text')} AS BIGINT) AS n_tokens,
       CAST({bpe_token_count_sql('text')} AS BIGINT) AS n_bpe_tokens,
       {quality_score_sql('text')} AS quality,
       {lang_id_sql('text')} AS lang_guess
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", fingerprint_col(F.col("text")).alias("fingerprint"))


SQL_FINGERPRINT = """
SELECT doc_id,
       list_reduce(
         list_prepend([0::BIGINT, 1::BIGINT],
           list_transform(regexp_split_to_array(trim(text), '\\s+'),
                          t -> [length(t)::BIGINT, 0::BIGINT])),
         (acc, x) -> [(acc[1] + x[1] * acc[2]) % 2147483647,
                      (acc[2] * 31) % 2147483647]
       )[1] AS fingerprint
FROM documents
"""


def q_interval_overlap(spark, sf_dir):
    """J3 analogue (codechunk.go:631-651): sliding char windows x spans,
    overlap predicate + is_partial flag."""
    s = _spans(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("span_pos")
    spans = (
        s.withColumn("len", F.length(F.when(F.col("kind") == "media",
                                            F.concat(F.lit("<media:"), F.col("media_ref"), F.lit(">")))
                             .otherwise(F.col("text"))))
        .withColumn(
            "start",
            F.coalesce(F.sum(F.col("len") + 1).over(
                w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)).cast("long"),
        )
        .withColumn("end", (F.col("start") + F.col("len")).cast("long"))
    )
    doclen = spans.groupBy("doc_id").agg(F.max("end").alias("doclen"))
    windows = doclen.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("doclen") - 1) / 200).cast("int"))
        ).alias("w"),
    ).select(
        "doc_id",
        F.col("w").cast("long").alias("w"),
        (F.col("w") * 200).cast("long").alias("c_start"),
        (F.col("w") * 200 + 250).cast("long").alias("c_end"),
    )
    j = spans.join(windows, "doc_id").filter(
        (F.col("start") < F.col("c_end")) & (F.col("end") > F.col("c_start"))
    )
    return j.select(
        "doc_id",
        F.col("w"),
        F.col("span_pos").cast("long").alias("span_pos"),
        ((F.col("start") < F.col("c_start")) | (F.col("end") > F.col("c_end")))
        .alias("is_partial"),
    )


SQL_INTERVAL_OVERLAP = f"""
{SPANS_CTE}, sp AS (
  SELECT doc_id, span_pos,
         length(CASE WHEN kind = 'media'
                THEN '<media:' || media_ref || '>' ELSE text END) AS len
  FROM spans
), off AS (
  SELECT doc_id, span_pos, len,
         COALESCE(SUM(len + 1) OVER (
           PARTITION BY doc_id ORDER BY span_pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM sp
), offs AS (
  SELECT doc_id, span_pos, start, start + len AS "end" FROM off
), doclen AS (
  SELECT doc_id, max("end") AS doclen FROM offs GROUP BY doc_id
), windows AS (
  SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(w * 200 AS BIGINT) AS c_start,
         CAST(w * 200 + 250 AS BIGINT) AS c_end
  FROM (SELECT doc_id,
               unnest(generate_series(0, CAST((doclen - 1) // 200 AS BIGINT))) AS w
        FROM doclen)
)
SELECT o.doc_id, w.w, CAST(o.span_pos AS BIGINT) AS span_pos,
       (o.start < w.c_start OR o."end" > w.c_end) AS is_partial
FROM offs o JOIN windows w ON o.doc_id = w.doc_id
WHERE o.start < w.c_end AND o."end" > w.c_start
"""


def q_siblings(spark, sf_dir):
    """J4 analogue (codechunk.go:653-689): up to 3 neighbors per side with
    1-based distance."""
    s = _spans(spark, sf_dir).select("doc_id", "span_pos")
    a = s.alias("a")
    b = s.alias("b")
    j = a.join(b, "doc_id").filter(
        (F.col("a.span_pos") != F.col("b.span_pos"))
        & (F.abs(F.col("a.span_pos") - F.col("b.span_pos")) <= 3)
    )
    return j.select(
        "doc_id",
        F.col("a.span_pos").cast("long").alias("span_pos"),
        F.col("b.span_pos").cast("long").alias("sib_pos"),
        F.when(F.col("b.span_pos") < F.col("a.span_pos"), "before")
        .otherwise("after").alias("side"),
        F.abs(F.col("a.span_pos") - F.col("b.span_pos")).cast("long").alias("distance"),
    )


SQL_SIBLINGS = f"""
{SPANS_CTE}
SELECT a.doc_id, CAST(a.span_pos AS BIGINT) AS span_pos,
       CAST(b.span_pos AS BIGINT) AS sib_pos,
       CASE WHEN b.span_pos < a.span_pos THEN 'before' ELSE 'after' END AS side,
       CAST(abs(a.span_pos - b.span_pos) AS BIGINT) AS distance
FROM spans a JOIN spans b
  ON a.doc_id = b.doc_id AND a.span_pos != b.span_pos
  AND abs(a.span_pos - b.span_pos) <= 3
"""


def q_overlap_lag(spark, sf_dir):
    """W5 analogue (codechunk.go:172-183): last 3 words of the previous
    text span prepended as overlap context."""
    s = _spans(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("span_pos")
    prev = F.lag("text").over(w)
    overlap = F.when(
        prev.isNull() | (F.length(prev) == 0), F.lit("")
    ).otherwise(F.concat_ws(" ", F.slice(F.split(prev, " "), -3, 3)))
    return s.select(
        "doc_id", F.col("span_pos").cast("long").alias("span_pos"),
        overlap.alias("overlap_text"),
    )


SQL_OVERLAP_LAG = f"""
{SPANS_CTE}
SELECT doc_id, CAST(span_pos AS BIGINT) AS span_pos,
       CASE WHEN prev IS NULL OR length(prev) = 0 THEN ''
            ELSE array_to_string(string_split(prev, ' ')[-3:], ' ')
       END AS overlap_text
FROM (
  SELECT doc_id, span_pos, text,
         lag(text) OVER (PARTITION BY doc_id ORDER BY span_pos) AS prev
  FROM spans
)
"""


def q_total_chunks(spark, sf_dir):
    """A4 (codechunk.go:149): per-doc count stamped on every row."""
    s = _spans(spark, sf_dir)
    return s.select(
        "doc_id", F.col("span_pos").cast("long").alias("span_pos"),
        F.count("*").over(Window.partitionBy("doc_id")).cast("long")
        .alias("total_spans"),
    )


SQL_TOTAL_CHUNKS = f"""
{SPANS_CTE}
SELECT doc_id, CAST(span_pos AS BIGINT) AS span_pos,
       count(*) OVER (PARTITION BY doc_id) AS total_spans
FROM spans
"""


def q_ann_cosine(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 10)
    out = cosine_topk(queries, e, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "sim",
        F.col("rank").cast("long").alias("rank"),
    )


SQL_ANN_COSINE = """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round(
           list_reduce(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]),
                       (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(q.v, x -> x * x), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(c.v, x -> x * x), (x, y) -> x + y))),
           6) AS sim
  FROM vecs q CROSS JOIN vecs c
  WHERE q.vec_id < 10
)
SELECT query_id, vec_id, sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC
  ) AS rank
  FROM scored
)
WHERE rank <= 5
"""


def q_ann_ivf_flat(spark, sf_dir):
    """IVF-flat ANN (deterministic sampled centroids): the full
    scale-path topology — assign / probe nprobe lists / exact re-rank —
    under an exact DuckDB oracle, not just the brute-force baseline."""
    from tree_code_chunker_spark.operators.similarity import ivf_flat_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 10)
    # n_lists constant: stride = ceil(N/20) scales WITH the corpus, the
    # list count (and so the centroid broadcast + assignment fan-out per
    # row) does not
    out = ivf_flat_topk(queries, e, k=5, n_lists=20, nprobe=3)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "sim",
        F.col("rank").cast("long").alias("rank"),
    )


_L2_SQL = ("round(list_reduce(list_transform(list_zip({a}, {b}), "
           "p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y), 6)")
_COS_SQL = ("round(list_reduce(list_transform(list_zip({a}, {b}), "
            "p -> p[1] * p[2]), (x, y) -> x + y) "
            "/ (sqrt(list_reduce(list_transform({a}, x -> x * x), "
            "(x, y) -> x + y)) "
            "* sqrt(list_reduce(list_transform({b}, x -> x * x), "
            "(x, y) -> x + y))), 6)")

SQL_ANN_IVF_FLAT = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  -- stride = ceil(N / n_lists=20): the list count is the constant
  SELECT vec_id AS list_id, v AS centv FROM vecs
  WHERE vec_id % (SELECT CAST(ceil(count(*) / 20.0) AS BIGINT) FROM vecs) = 0
), inv AS (
  SELECT vec_id, cvec, list_id FROM (
    SELECT c.vec_id, c.v AS cvec, t.list_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_L2_SQL.format(a='c.v', b='t.centv')} ASC,
                      t.list_id ASC) AS rn
    FROM vecs c CROSS JOIN cents t
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qvec, list_id FROM (
    SELECT a.vec_id AS query_id, a.v AS qvec, t.list_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_L2_SQL.format(a='a.v', b='t.centv')} ASC,
                      t.list_id ASC) AS rn
    FROM vecs a CROSS JOIN cents t WHERE a.vec_id < 10
  ) WHERE rn <= 3
), cand AS (
  SELECT DISTINCT p.query_id, i.vec_id,
         {_COS_SQL.format(a='p.qvec', b='i.cvec')} AS sim
  FROM probes p JOIN inv i USING (list_id)
)
SELECT query_id, vec_id, sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM cand
) WHERE rank <= 5
"""


def q_pack_sequences(spark, sf_dir):
    """Deterministic prefix packing of documents into fixed-token-budget
    training sequences: one cumsum window per shard, no Python, no fold —
    each shard packs independently so the plan parallelizes freely at
    10^12 docs (the strict no-overflow greedy fold is the chunker's W1;
    this is the cross-document form that scales)."""
    from tree_code_chunker_spark.operators.training import pack_sequences

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count_col(F.col("text")).alias("n_tokens"))
    return pack_sequences(d, "doc_id", "n_tokens", budget=512, n_shards=8)


def _pack_sequences_sql() -> str:
    from tree_code_chunker_spark.operators.training import pack_sequences_sql

    return f"""
WITH toks AS (
  SELECT doc_id, {token_count_sql('text')} AS n_tokens FROM documents
),
{pack_sequences_sql('toks', 'doc_id', 'n_tokens', 512, 8)[1:]}
SELECT id, shard, seq_id, seq_pos, n_tokens, cum_tokens FROM packed_pos
"""


SQL_PACK_SEQUENCES = _pack_sequences_sql()


def q_pack_greedy(spark, sf_dir):
    """Strict no-overflow greedy packing (the reset fold): per-shard
    applyInPandas whose kernel jumps bin-by-bin with searchsorted, so
    Python cost is O(#sequences log #docs) per shard while shards pack
    in parallel.  Oracle = per-shard recursive-CTE fold."""
    from tree_code_chunker_spark.operators.training import pack_sequences

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count_col(F.col("text")).alias("n_tokens"))
    return pack_sequences(d, "doc_id", "n_tokens", budget=512, n_shards=8,
                          method="greedy")


def _pack_greedy_sql() -> str:
    from tree_code_chunker_spark.operators.training import (
        pack_sequences_greedy_sql,
    )

    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, {token_count_sql('text')} AS n_tokens FROM documents
),
{pack_sequences_greedy_sql('toks', 'doc_id', 'n_tokens', 512, 8)[1:]}
SELECT id, shard, seq_id, seq_pos, n_tokens, cum_tokens FROM gpacked
"""


SQL_PACK_GREEDY = _pack_greedy_sql()


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: smallest-poly31-key docs per
    language — content-derived sort key, so identical at any parallelism;
    the window top-k runs map-side (WindowGroupLimit) before the per-group
    shuffle."""
    from tree_code_chunker_spark.operators.training import sample_per_group

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    out = sample_per_group(d, "lang", n_per_group=5, id_col="doc_id")
    return out.select("doc_id", "lang",
                      F.col("sample_key").cast("long").alias("sample_key"))


def _sample_stratified_sql() -> str:
    from tree_code_chunker_spark.operators.training import (
        sample_per_group_sql,
    )

    inner = sample_per_group_sql(
        "(SELECT doc_id, lang FROM documents)", "lang", 5, "doc_id")
    return f"SELECT doc_id, lang, CAST(sample_key AS BIGINT) AS sample_key FROM ({inner})"


SQL_SAMPLE_STRATIFIED = _sample_stratified_sql()


def q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH ANN under an exact DuckDB oracle: the bucket id is
    the sign-bit pattern of the vector against 8 fixed seeded hyperplanes
    (signs taken on the 6dp-ROUNDED dot so both engines agree bit-for-bit),
    queries probe their own bucket plus all Hamming-1 neighbors, exact
    cosine re-rank inside candidates.  With this green, every ANN variant
    (brute force, IVF-flat, LSH) is driver-verified."""
    from tree_code_chunker_spark.operators.similarity import ann_lsh_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 10)
    out = ann_lsh_topk(queries, e, k=5, dim=64, n_bits=8)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "sim",
        F.col("rank").cast("long").alias("rank"),
    )


def _ann_lsh_sql(n_bits: int = 8, dim: int = 64) -> str:
    """Mirror of ann_lsh_topk: the seeded hyperplanes are embedded as
    literal DOUBLE lists (repr round-trips float64 exactly)."""
    from tree_code_chunker_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_bits, seed=42)
    plane_vals = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for i, row in enumerate(planes.tolist()))
    dot = ("list_reduce(list_transform(list_zip(v.v, p.pvec), "
           "z -> z[1] * z[2]), (x, y) -> x + y)")
    return f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), planes(bit, pvec) AS (VALUES {plane_vals}),
buckets AS (
  SELECT v.vec_id,
         sum(CASE WHEN round({dot}, 6) > 0
                  THEN 1 << p.bit ELSE 0 END) AS bucket
  FROM vecs v CROSS JOIN planes p
  GROUP BY v.vec_id
),
flips(flip) AS (VALUES (0), {", ".join(f"({1 << i})" for i in range(n_bits))}),
probes AS (
  SELECT b.vec_id AS query_id, v.v AS qvec,
         xor(b.bucket, f.flip) AS bucket
  FROM buckets b JOIN vecs v USING (vec_id) CROSS JOIN flips f
  WHERE b.vec_id < 10
),
cand AS (
  SELECT DISTINCT p.query_id, cb.vec_id,
         {_COS_SQL.format(a='p.qvec', b='cv.v')} AS sim
  FROM probes p
  JOIN buckets cb ON cb.bucket = p.bucket
  JOIN vecs cv ON cv.vec_id = cb.vec_id
)
SELECT query_id, vec_id, sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM cand
) WHERE rank <= 5
"""


SQL_ANN_LSH = _ann_lsh_sql()


def q_ngram_jaccard(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = ngram_jaccard_pairs(d, "doc_id", "text", n=3, min_jaccard=0.2,
                              max_gram_freq=10**9)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_inter").cast("long").alias("n_inter"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_column_profile(spark, sf_dir):
    """Per-column profile of the lineitem numerics in ONE fused aggregate
    scan (count/nulls/exact-distinct/min/max/sum/mean), pivoted to rows
    over the column list only."""
    from tree_code_chunker_spark.operators.profile import column_profile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return column_profile(li, _PROFILE_COLS)


def _column_profile_sql() -> str:
    from tree_code_chunker_spark.operators.profile import column_profile_sql

    return column_profile_sql("lineitem", _PROFILE_COLS)


SQL_COLUMN_PROFILE = _column_profile_sql()


def q_top_ngrams(spark, sf_dir):
    """Corpus n-gram document-frequency stats (top-50 trigrams) — the
    contamination/quality-analysis staple; orderBy+limit runs as
    TakeOrdered (map-side partial top-k), never a global sort."""
    from tree_code_chunker_spark.operators.dedup import corpus_ngram_stats

    d = _docs(spark, sf_dir)
    return corpus_ngram_stats(d, "doc_id", "text", n=3, k=50)


SQL_TOP_NGRAMS = """
WITH grams AS (
  SELECT DISTINCT doc_id AS id,
         array_to_string(ws[i : i + 2], ' ') AS gram
  FROM (
    SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  )
)
SELECT gram, count(*) AS doc_freq FROM grams
GROUP BY gram ORDER BY doc_freq DESC, gram ASC LIMIT 50
"""


SQL_NGRAM_JACCARD = """
WITH grams AS (
  SELECT DISTINCT doc_id AS id,
         array_to_string(ws[i : i + 2], ' ') AS gram
  FROM (
    SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  )
), sizes AS (
  SELECT id, count(*) AS n_grams FROM grams GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, n_inter,
       round(n_inter / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE n_inter / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) >= 0.2
"""


def q_string_funcs(spark, sf_dir):
    """§2.9 scalar surface as pure column ops over synthetic paths/quoted
    strings derived from documents (cleanSignature, stripQuotes,
    getLastPathSegments, getLastSegment, null-on-empty)."""
    from tree_code_chunker_spark.functions.columns import (
        clean_signature_col,
        last_path_segments_col,
        last_segment_col,
        nullif_empty_col,
        strip_quotes_col,
    )

    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id",
        F.concat(F.lit("data/"), "source", F.lit("/"), F.col("lang"),
                 F.lit("/d"), F.col("doc_id").cast("string"),
                 F.lit(".txt")).alias("path"),
        F.concat(F.lit('"'), "source", F.lit('"')).alias("quoted"),
        F.concat(F.lit("std::"), "lang", F.lit("::"), "source").alias("scoped"),
        F.concat(F.lit("  fn  x( a ,\tb )\n ")).alias("messy_sig"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("")).otherwise(F.col("lang"))
        .alias("maybe_empty"),
    )
    return base.select(
        "doc_id",
        last_path_segments_col("path").alias("short_path"),
        strip_quotes_col("quoted").alias("unquoted"),
        last_segment_col("scoped").alias("tail_seg"),
        clean_signature_col(F.col("messy_sig")).alias("clean_sig"),
        nullif_empty_col("maybe_empty").alias("lang_or_null"),
    )


from tree_code_chunker_spark.functions.columns import (  # noqa: E402
    clean_signature_sql,
    last_path_segments_sql,
    last_segment_sql,
    nullif_empty_sql,
    strip_quotes_sql,
)

SQL_STRING_FUNCS = f"""
WITH base AS (
  SELECT doc_id,
         'data/' || source || '/' || lang || '/d' || CAST(doc_id AS VARCHAR)
           || '.txt' AS path,
         '"' || source || '"' AS quoted,
         'std::' || lang || '::' || source AS scoped,
         '  fn  x( a ,' || chr(9) || 'b )' || chr(10) || ' ' AS messy_sig,
         CASE WHEN doc_id % 2 = 0 THEN '' ELSE lang END AS maybe_empty
  FROM documents
)
SELECT doc_id,
       {last_path_segments_sql('path')} AS short_path,
       {strip_quotes_sql('quoted')} AS unquoted,
       {last_segment_sql('scoped')} AS tail_seg,
       {clean_signature_sql('messy_sig')} AS clean_sig,
       {nullif_empty_sql('maybe_empty')} AS lang_or_null
FROM base
"""


def q_tile_features(spark, sf_dir):
    """Vector-tile feature rows at z=8 with a deterministic per-tile cap of
    50 (rank by (doc_id, span_pos)) — the relational projection of
    vector_tiles for the oracle gate."""
    from tree_code_chunker_spark.operators.tiles import assign_tiles

    pts = _points(spark, sf_dir)
    t = assign_tiles(pts, zooms=(8,))
    w = Window.partitionBy("z", "x", "y").orderBy("doc_id", "span_pos")
    return (
        t.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select(
            F.col("z").cast("long").alias("z"),
            F.col("x").cast("long").alias("x"),
            F.col("y").cast("long").alias("y"),
            "doc_id", "span_pos",
            F.col("in_x").cast("long").alias("in_x"),
            F.col("in_y").cast("long").alias("in_y"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


_TX8, _TY8 = tile_sql("qlat", "qlon", 8)
SQL_TILE_FEATURES = f"""
{SPANS_CTE}, {POINTS_SQL}, t AS (
  SELECT doc_id, span_pos, qlat, qlon,
         8 AS z, {_TX8} AS x, {_TY8} AS y,
         qlon & {(1 << 8) - 1} AS in_x,
         ({GRID_MAX} - qlat) & {(1 << 8) - 1} AS in_y
  FROM points
)
SELECT CAST(z AS BIGINT) AS z, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       doc_id, span_pos, in_x, in_y, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY z, x, y ORDER BY doc_id, span_pos
  ) AS rank FROM t
)
WHERE rank <= 50
"""


def q_raster_pixels(spark, sf_dir):
    """Raster tile materialization + the raster->vector inverse: sparse
    per-pixel count rasters at z=8, re-vectorized to (z,x,y,px,py,n) rows —
    the full raster<->vector round trip under one oracle."""
    from tree_code_chunker_spark.operators.tiles import (
        raster_tiles,
        raster_to_vector,
    )

    pts = _points(spark, sf_dir)
    r = raster_to_vector(raster_tiles(pts, zooms=(8,)))
    return r.select(
        F.col("z").cast("long").alias("z"),
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
        F.col("n").cast("long").alias("n"),
    )


SQL_RASTER_PIXELS = f"""
{SPANS_CTE}, {POINTS_SQL}
SELECT 8::BIGINT AS z, x, y, px, py, count(*) AS n FROM (
  SELECT (qlon >> 8) AS x, (({GRID_MAX} - qlat) >> 8) AS y,
         qlon & 255 AS px, ({GRID_MAX} - qlat) & 255 AS py
  FROM points
) GROUP BY x, y, px, py
"""


def q_kring(spark, sf_dir):
    """k=1 ring neighborhood per point at res 10 (H3 k-ring contract on the
    Morton grid): 9 (point, neighbor-cell) rows, off-grid neighbors dropped."""
    from tree_code_chunker_spark.operators.geo import kring_offsets

    p = _points(spark, sf_dir).filter(F.col("span_pos") < 3)
    offs = spark.createDataFrame(kring_offsets(1), "dy int, dx int")
    shift = 6  # GRID_BITS - res, res=10
    n_cells = 1 << 10
    j = p.crossJoin(F.broadcast(offs))
    return (
        j.select(
            "doc_id", "span_pos",
            (F.shiftright("qlat", shift) + F.col("dy")).alias("ncy"),
            (F.shiftright("qlon", shift) + F.col("dx")).alias("ncx"),
        )
        .filter((F.col("ncy") >= 0) & (F.col("ncy") < n_cells)
                & (F.col("ncx") >= 0) & (F.col("ncx") < n_cells))
        .select("doc_id", "span_pos",
                (F.col("ncy") * n_cells + F.col("ncx")).alias("neighbor_cell"))
    )


SQL_KRING = f"""
{SPANS_CTE}, {POINTS_SQL}, offs(dy, dx) AS (VALUES
  (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1))
SELECT doc_id, span_pos,
       ((qlat >> 6) + dy) * 1024 + ((qlon >> 6) + dx) AS neighbor_cell
FROM points CROSS JOIN offs
WHERE span_pos < 3
  AND (qlat >> 6) + dy >= 0 AND (qlat >> 6) + dy < 1024
  AND (qlon >> 6) + dx >= 0 AND (qlon >> 6) + dx < 1024
"""


def q_event_windows(spark, sf_dir):
    """Tumbling 1-hour event-time windows per event_type (batch form of the
    Structured Streaming windowed agg; streaming variant in
    tree_code_chunker_spark/streaming)."""
    _utc(spark)
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = F.window("ts", "1 hour")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


SQL_EVENT_WINDOWS = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
       event_type, count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def q_embed_near_dup(spark, sf_dir):
    from tree_code_chunker_spark.operators.dedup import embedding_near_dup_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(e, "vec_id", "embedding", threshold=0.2) \
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"), "sim")


SQL_EMBED_NEAR_DUP = """
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(
         list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                     (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))),
         6) AS sim
FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
WHERE round(
         list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),
                     (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))),
         6) >= 0.2
"""


# ---- formerly rows-only entries, now DuckDB-mirrored ----


def q_media_features(spark, sf_dir):
    """Binary media plumbing: span media_refs -> synthetic blobs -> feature
    vectors via the stub decoder (deterministic poly31 formula; codec
    swap-in point).  feat_sum checks the full decode path value-exactly:
    components are 20-bit fixed-point fractions, exact in float32/double."""
    from tree_code_chunker_spark.operators.media import (
        extract_media_features,
        synth_media,
    )

    refs = _spans(spark, sf_dir).filter(F.col("kind") == "media") \
        .select("media_ref").distinct()
    feats = extract_media_features(synth_media(spark, refs))
    return feats.select(
        "media_ref", "kind", "ok",
        F.size("feature").cast("long").alias("dim"),
        F.round(
            F.aggregate(
                F.transform("feature", lambda x: x.cast("double")),
                F.lit(0.0), lambda a, x: a + x,
            ), 6,
        ).alias("feat_sum"),
    )


from tree_code_chunker_spark.operators.media import (  # noqa: E402
    FEAT_FRAC_BITS,
    FEAT_MULT,
    FEAT_STEP,
    FEATURE_DIM,
    poly31_sql,
    synth_media_meta_sql,
)

_MEDIA_META = synth_media_meta_sql("h")
_MEDIA_HASHED = f"""refs AS (
  SELECT DISTINCT media_ref FROM spans WHERE kind = 'media'
), hashed AS (
  SELECT media_ref, {poly31_sql('media_ref')} AS h FROM refs
)"""

SQL_MEDIA_FEATURES = f"""
{SPANS_CTE}, {_MEDIA_HASHED}
SELECT media_ref,
       {_MEDIA_META['kind']} AS kind,
       TRUE AS ok,
       CAST({FEATURE_DIM} AS BIGINT) AS dim,
       round(list_aggregate(list_transform(generate_series(0, {FEATURE_DIM - 1}),
             i -> ((h * {FEAT_MULT} + i * {FEAT_STEP}) % {1 << FEAT_FRAC_BITS})
                  / {float(1 << FEAT_FRAC_BITS)}), 'sum'), 6) AS feat_sum
FROM hashed
"""


def q_media_frames(spark, sf_dir):
    from tree_code_chunker_spark.operators.media import sample_frames, synth_media

    refs = _spans(spark, sf_dir).filter(F.col("kind") == "media") \
        .select("media_ref").distinct()
    return sample_frames(synth_media(spark, refs), every_n=30)


SQL_MEDIA_FRAMES = f"""
{SPANS_CTE}, {_MEDIA_HASHED}
SELECT media_ref, CAST(f AS INT) AS frame_index
FROM (
  SELECT media_ref,
         unnest(generate_series(0, CAST({_MEDIA_META['n_frames']} AS BIGINT) - 1, 30)) AS f
  FROM hashed
  WHERE {_MEDIA_META['kind']} = 'video'
)
"""


CHUNK_CONTEXT_MAX = 150  # multiple chunks per doc -> the overlap block of
# FormatChunkWithContext is actually exercised, not just the identity path


def q_chunk_context(spark, sf_dir):
    """Fused chunk+context pipeline (detect-language, entities/scope/
    siblings/imports + formatting).  The DuckDB mirror re-runs the fold
    CTEs, mirrors detect_language via the shared RE2 hint patterns, and
    rebuilds the overlap-block formatting; this word-soup corpus detects as
    'unknown' everywhere (no line-grammar matches), so the entity counts
    pin the empty-context identity path; the grammar-FIRING path is
    driver-pinned by chunk_context_entities below, and the grammar itself
    by the reference goldens in tests/test_entities.py."""
    from tree_code_chunker_spark.operators.entities import (
        chunk_documents_with_context,
    )

    docs = spanify(_docs(spark, sf_dir))
    out = chunk_documents_with_context(docs, max_size=CHUNK_CONTEXT_MAX)
    return out.select(
        "doc_id", "chunk_index", "total_chunks", "lang",
        F.length("contextualized_text").cast("long").alias("ctx_len"),
        F.size("entities").cast("long").alias("n_entities"),
        F.size("siblings").cast("long").alias("n_siblings"),
        F.size("imports").cast("long").alias("n_imports"),
        F.size("scope").cast("long").alias("scope_depth"),
    )


from tree_code_chunker_spark.operators.entities import (  # noqa: E402
    detect_language_col,
    detect_language_sql,
)

# SQL_CHUNK_CONTEXT is assembled after _chunk_fold_ctes is defined (below)


def q_detect_lang(spark, sf_dir):
    """S6 DetectLanguage as a pure JVM column op: a deterministic marker
    line per doc (cycling the 6 grammars + one prose line) prepended to the
    doc text, classified by the shared hint patterns."""
    markers = F.array(
        F.lit("func main() {"),
        F.lit("pub fn run() {"),
        F.lit("def handler(x):"),
        F.lit("public class Main {"),
        F.lit("export interface Shape {"),
        F.lit("const x = 1"),
        F.lit("plain prose line"),
    )
    d = _docs(spark, sf_dir)
    code = F.concat(
        F.element_at(markers, (F.col("doc_id") % 7 + 1).cast("int")),
        F.lit("\n"), F.col("text"),
    )
    return d.select("doc_id", detect_language_col(code).alias("lang_detected"))


_MARKERS_SQL = ("(['func main() {', 'pub fn run() {', 'def handler(x):', "
                "'public class Main {', 'export interface Shape {', "
                "'const x = 1', 'plain prose line'])")

SQL_DETECT_LANG = f"""
WITH coded AS (
  SELECT doc_id,
         {_MARKERS_SQL}[CAST(doc_id % 7 + 1 AS INT)] || chr(10) || text AS code
  FROM documents
)
SELECT doc_id, {detect_language_sql('code')} AS lang_detected FROM coded
"""


CHUNK_SPANS_MAX = 40  # small enough that W1 packing, W3 merges AND the
# W2 oversized branch (span nws up to ~50 in this corpus) all fire


def q_chunk_spans(spark, sf_dir):
    """The real chunker (W1-W4 fold) over adapter spans, at a max_size that
    exercises every branch of the window algebra.  The DuckDB mirror
    re-expresses the data-dependent fold as two recursive CTEs (W1 greedy
    assignment incl. the single-line oversized case, then the W3 merge
    pass) + the W4 rebuild; exactness is additionally pinned by
    tests/test_spark_e2e.py against the naive Python oracle."""
    docs = spanify(_docs(spark, sf_dir))
    c = chunk_documents(docs, max_size=CHUNK_SPANS_MAX)
    return c.select(
        "doc_id", "chunk_index", "total_chunks", "byte_start", "byte_end",
        "line_start", "line_end", "nws_size", "is_partial", "text",
    )


def _chunk_fold_ctes(max_size: int, pre_ctes: str = "",
                     spans_sql: str | None = None) -> str:
    """WITH RECURSIVE CTE chain computing the W1+W2(single-line)+W3+W4 fold
    over the adapter spans — the SQL mirror of chunker.chunk_spans_py; ends
    at `rebuilt(doc_id, chunk_index, total_chunks, byte_start, text,
    nws_size, is_partial, raw_end, code)` for callers to SELECT from.

    State recurrence (validated row-for-row against the Python fold):
      after span i: (wid, sz_open, closed) with seed (-1, 0, true);
        sz > max            -> wid+1, own closed PARTIAL window (a span is
                               one line here: W2 emits it whole)
        closed or overflow  -> wid+1 opens with sz
        else                -> join wid, sz_open += sz
    then the merge pass folds adjacent windows while acc + next <= max.
    Line numbers count real newlines in the serialized doc; a partial
    window's line_end uses the UNtrimmed end (the reference LineRanges
    override), others the trimmed end.

    `spans_sql` overrides the span-source CTE body (default: the adapter
    mirror); `pre_ctes` injects extra CTEs before it (e.g. literal
    preamble tables) — must end with a comma if non-empty.
    """
    return f"""
WITH RECURSIVE {pre_ctes}spans AS ({spans_sql or spanify_sql()}),
sp AS (
  SELECT doc_id, span_pos,
         CASE WHEN kind = 'media' THEN '<media:' || media_ref || '>'
              ELSE text END AS payload
  FROM spans
),
szd AS (
  SELECT doc_id, span_pos, payload, length(payload) AS plen,
         {nws_count_sql('payload')} AS sz,
         CAST(COALESCE(SUM(length(payload) + 1) OVER (
           PARTITION BY doc_id ORDER BY span_pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS bstart
  FROM sp
),
codes AS (
  SELECT doc_id, string_agg(payload, chr(10) ORDER BY span_pos) AS code
  FROM sp GROUP BY doc_id
),
w1 AS (
  SELECT doc_id, -1 AS span_pos, -1 AS wid, 0 AS sz_open,
         TRUE AS closed, FALSE AS part
  FROM (SELECT DISTINCT doc_id FROM sp)
  UNION ALL
  SELECT s.doc_id, s.span_pos,
         CASE WHEN s.sz > {max_size} OR w.closed
                   OR w.sz_open + s.sz > {max_size}
              THEN w.wid + 1 ELSE w.wid END,
         CASE WHEN s.sz > {max_size} THEN 0
              WHEN w.closed OR w.sz_open + s.sz > {max_size} THEN s.sz
              ELSE w.sz_open + s.sz END,
         s.sz > {max_size},
         s.sz > {max_size}
  FROM w1 w JOIN szd s
    ON s.doc_id = w.doc_id AND s.span_pos = w.span_pos + 1
),
assigned AS (
  SELECT w.doc_id, w.span_pos, w.wid, w.part, s.sz, s.bstart, s.plen
  FROM w1 w JOIN szd s USING (doc_id, span_pos)
),
wins AS (
  SELECT doc_id, wid, sum(sz) AS wsize, bool_or(part) AS wpart,
         min(bstart) AS wstart, max(bstart + plen) AS wend_raw
  FROM assigned GROUP BY doc_id, wid
),
w3 AS (
  SELECT doc_id, wid, 0 AS mwin, wsize AS acc FROM wins WHERE wid = 0
  UNION ALL
  SELECT n.doc_id, n.wid,
         CASE WHEN p.acc + n.wsize <= {max_size} THEN p.mwin
              ELSE p.mwin + 1 END,
         CASE WHEN p.acc + n.wsize <= {max_size} THEN p.acc + n.wsize
              ELSE n.wsize END
  FROM w3 p JOIN wins n ON n.doc_id = p.doc_id AND n.wid = p.wid + 1
),
merged AS (
  SELECT w.doc_id, m.mwin, min(w.wstart) AS bs, max(w.wend_raw) AS raw_end,
         sum(w.wsize) AS nws_size, bool_or(w.wpart) AS is_partial
  FROM wins w JOIN w3 m USING (doc_id, wid)
  GROUP BY w.doc_id, m.mwin
),
rebuilt AS (
  SELECT m.doc_id, m.mwin AS chunk_index,
         CAST(count(*) OVER (PARTITION BY m.doc_id) AS INT) AS total_chunks,
         m.bs AS byte_start,
         rtrim(substr(c.code, CAST(m.bs + 1 AS INT),
                      CAST(m.raw_end - m.bs AS INT)), chr(10)) AS text,
         m.nws_size, m.is_partial, m.raw_end, c.code
  FROM merged m JOIN codes c USING (doc_id)
)
"""


SQL_CHUNK_SPANS = _chunk_fold_ctes(CHUNK_SPANS_MAX) + """
SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index, total_chunks,
       byte_start,
       CAST(byte_start + length(text) AS BIGINT) AS byte_end,
       CAST(length(substr(code, 1, CAST(byte_start AS INT)))
            - length(replace(substr(code, 1, CAST(byte_start AS INT)),
                             chr(10), '')) AS INT) AS line_start,
       CAST(length(substr(code, 1, CAST(CASE WHEN is_partial THEN raw_end
                    ELSE byte_start + length(text) END AS INT)))
            - length(replace(substr(code, 1,
                    CAST(CASE WHEN is_partial THEN raw_end
                         ELSE byte_start + length(text) END AS INT)),
                             chr(10), '')) AS INT) AS line_end,
       CAST(nws_size AS INT) AS nws_size, is_partial, text
FROM rebuilt
"""


# chunk k>0 prepends '# ...' / last-10-lines-of-prev / '# ---'; with an
# empty context and no filepath, chunk 0 formats to the raw text verbatim
SQL_CHUNK_CONTEXT = _chunk_fold_ctes(CHUNK_CONTEXT_MAX) + f"""
, ctx AS (
  SELECT doc_id, chunk_index, total_chunks, text, code,
         lag(text) OVER (PARTITION BY doc_id ORDER BY chunk_index) AS prev
  FROM rebuilt
)
SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index, total_chunks,
       {detect_language_sql('code')} AS lang,
       CAST(CASE WHEN chunk_index = 0 OR prev IS NULL OR length(prev) = 0
            THEN length(text)
            ELSE length('# ...' || chr(10)
                 || array_to_string(string_split(prev, chr(10))[-10:], chr(10))
                 || chr(10) || '# ---' || chr(10) || text)
       END AS BIGINT) AS ctx_len,
       0::BIGINT AS n_entities, 0::BIGINT AS n_siblings,
       0::BIGINT AS n_imports, 0::BIGINT AS scope_depth
FROM ctx
"""


# --- chunk_context_entities: the fused context pipeline with the entity
# grammar actually firing.  Every document is wrapped in a synthetic Go
# shell: `func outer() {` as the first span and a closing `}` appended at
# the end, so EVERY chunk sits inside a scope; head spans add imports,
# nested entities and enough siblings that the 3-per-side cap binds; a
# tail function gives middle chunks an after-sibling.  The word-soup body
# (31-word vocabulary, no braces/parens/keywords) cannot match any grammar
# pattern, so all entities come from the wrapper at offsets that are
# compile-time constants (head) or clen-relative constants (tail) — which
# makes the full context pipeline (detect-language, interval-overlap
# entities, scope chain, capped siblings, imports, FormatChunkWithContext
# header assembly INCLUDING the After/Before inversion and the overlap
# block) exactly mirrorable in SQL.  tests/test_entities.py pins the
# embedded offset/signature constants against parse_entities.

CTX_ENTITY_PRE = [
    "func outer() {",
    'import "fmt"',
    'import "strings"',
    "func inner() {",
    "}",
    "type pair struct {",
    "}",
    "type quux struct {",
    "}",
    "func zed() {",
    "}",
]
CTX_ENTITY_POST = ["func tail() {", "}", "}"]

# (ent_ix, name, type, signature, bs, be); bs < 0 and be <= 0 are
# clen-relative (outer's end and the tail function live at the doc end)
CTX_ENTITY_TABLE = [
    (0, "outer", "function", "func outer()", 0, 0),
    (1, "fmt", "import", 'import "fmt"', 15, 27),
    (2, "strings", "import", 'import "strings"', 28, 44),
    (3, "inner", "function", "func inner()", 45, 61),
    (4, "pair", "class", "type pair struct", 62, 82),
    (5, "quux", "class", "type quux struct", 83, 103),
    (6, "zed", "function", "func zed()", 104, 118),
    (7, "tail", "function", "func tail()", -17, -2),
]


def _entity_wrap(docs: DataFrame) -> DataFrame:
    """Prepend CTX_ENTITY_PRE / append CTX_ENTITY_POST as text spans."""
    def lines_arr(lines, base):
        return F.array(*[
            F.struct(
                F.lit("text").alias("kind"), F.lit(l).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(base + i).cast("int").alias("offset"),
            ) for i, l in enumerate(lines)
        ])
    return docs.select(
        "doc_id",
        F.concat(lines_arr(CTX_ENTITY_PRE, -100), F.col("spans"),
                 lines_arr(CTX_ENTITY_POST, 100000)).alias("spans"),
    )


def q_chunk_context_entities(spark, sf_dir):
    from tree_code_chunker_spark.operators.entities import (
        chunk_documents_with_context,
    )

    docs = _entity_wrap(spanify(_docs(spark, sf_dir)))
    out = chunk_documents_with_context(docs, max_size=CHUNK_CONTEXT_MAX)
    return out.select(
        "doc_id", "chunk_index", "total_chunks", "lang",
        "contextualized_text",
        F.size("entities").cast("long").alias("n_entities"),
        F.size("siblings").cast("long").alias("n_siblings"),
        F.size("imports").cast("long").alias("n_imports"),
        F.size("scope").cast("long").alias("scope_depth"),
    )


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _ctx_entities_sql() -> str:
    npre = len(CTX_ENTITY_PRE)
    pre_vals = ", ".join(f"({i}, {_sql_lit(l)})"
                         for i, l in enumerate(CTX_ENTITY_PRE))
    post_vals = ", ".join(f"({i}, {_sql_lit(l)})"
                          for i, l in enumerate(CTX_ENTITY_POST))
    ent_vals = ", ".join(
        f"({ix}, {_sql_lit(nm)}, {_sql_lit(ty)}, {_sql_lit(sig)}, {bs}, {be})"
        for ix, nm, ty, sig, bs, be in CTX_ENTITY_TABLE)
    pre_ctes = f"""
base_spans AS ({spanify_sql()}),
pre(ord, line) AS (VALUES {pre_vals}),
post(ord, line) AS (VALUES {post_vals}),
"""
    spans_sql = f"""
  SELECT d.doc_id, p.ord AS span_pos, 'text' AS kind,
         p.line AS text, '' AS media_ref
  FROM (SELECT DISTINCT doc_id FROM base_spans) d CROSS JOIN pre p
  UNION ALL
  SELECT doc_id, span_pos + {npre}, kind, text, media_ref FROM base_spans
  UNION ALL
  SELECT d.doc_id, d.n + {npre} + p.ord, 'text', p.line, ''
  FROM (SELECT doc_id, count(*) AS n FROM base_spans GROUP BY doc_id) d
  CROSS JOIN post p
"""
    # interval-overlap entities (codechunk.go:631-651), scope = containing
    # non-imports outermost-first (proper nesting => containment set ==
    # parent chain, scope.go:96-130), siblings first-3-per-side in doc
    # order (codechunk.go:653-689), imports unfiltered, header assembly
    # with the pinned After/Before inversion (codechunk.go:506-577)
    return _chunk_fold_ctes(CHUNK_CONTEXT_MAX, pre_ctes=pre_ctes,
                            spans_sql=spans_sql) + f"""
, ch AS (
  SELECT doc_id, chunk_index, total_chunks, byte_start AS bs,
         byte_start + length(text) AS be, text, code,
         lag(text) OVER (PARTITION BY doc_id ORDER BY chunk_index) AS prev
  FROM rebuilt
),
clens AS (SELECT doc_id, length(code) AS clen FROM codes),
ents AS (
  SELECT c.doc_id, v.ent_ix, v.name, v.etype, v.sig,
         CASE WHEN v.bs < 0 THEN c.clen + v.bs ELSE v.bs END AS bs,
         CASE WHEN v.be <= 0 THEN c.clen + v.be ELSE v.be END AS be,
         v.etype = 'import' AS is_imp
  FROM clens c CROSS JOIN (VALUES {ent_vals})
       v(ent_ix, name, etype, sig, bs, be)
),
agg AS (
  SELECT c.doc_id, c.chunk_index,
    count(*) FILTER (WHERE e.bs < c.be AND e.be > c.bs) AS n_entities,
    string_agg(e.sig, ', ' ORDER BY e.ent_ix)
      FILTER (WHERE e.bs < c.be AND e.be > c.bs AND NOT e.is_imp)
      AS defines,
    count(*) FILTER (WHERE e.is_imp) AS n_imports,
    string_agg(e.name, ', ' ORDER BY e.ent_ix) FILTER (WHERE e.is_imp)
      AS uses,
    COALESCE(list(e.name ORDER BY e.ent_ix)
      FILTER (WHERE NOT e.is_imp AND e.be <= c.bs), []) AS bef_names,
    COALESCE(list(e.name ORDER BY e.ent_ix)
      FILTER (WHERE NOT e.is_imp AND e.bs >= c.be), []) AS aft_names,
    count(*) FILTER (WHERE NOT e.is_imp AND e.bs <= c.bs AND c.bs < e.be)
      AS scope_depth,
    string_agg(e.name, ' > ' ORDER BY (e.be - e.bs) DESC, e.bs)
      FILTER (WHERE NOT e.is_imp AND e.bs <= c.bs AND c.bs < e.be)
      AS scope_names
  FROM ch c JOIN ents e ON e.doc_id = c.doc_id
  GROUP BY c.doc_id, c.chunk_index
)
SELECT c.doc_id, CAST(c.chunk_index AS INT) AS chunk_index, c.total_chunks,
  {detect_language_sql('c.code')} AS lang,
  array_to_string(list_filter([
      CASE WHEN a.scope_names IS NOT NULL
           THEN '# Scope: ' || a.scope_names END,
      CASE WHEN a.defines IS NOT NULL
           THEN '# Defines: ' || a.defines END,
      CASE WHEN a.uses IS NOT NULL THEN '# Uses: ' || a.uses END,
      CASE WHEN len(a.bef_names) > 0
           THEN '# After: ' || array_to_string(a.bef_names[1:3], ', ') END,
      CASE WHEN len(a.aft_names) > 0
           THEN '# Before: ' || array_to_string(a.aft_names[1:3], ', ') END
    ], x -> x IS NOT NULL), chr(10))
  || chr(10) || chr(10)
  || CASE WHEN c.chunk_index > 0 AND c.prev IS NOT NULL
               AND length(c.prev) > 0
          THEN '# ...' || chr(10)
               || array_to_string(string_split(c.prev, chr(10))[-10:],
                                  chr(10))
               || chr(10) || '# ---' || chr(10)
          ELSE '' END
  || c.text AS contextualized_text,
  a.n_entities,
  CAST(LEAST(3, len(a.bef_names)) + LEAST(3, len(a.aft_names)) AS BIGINT)
    AS n_siblings,
  a.n_imports,
  a.scope_depth
FROM ch c JOIN agg a ON a.doc_id = c.doc_id AND a.chunk_index = c.chunk_index
"""


SQL_CHUNK_CONTEXT_ENTITIES = _ctx_entities_sql()


def q_pip_raycast(spark, sf_dir):
    """Ray-cast PIP against concave/convex synthetic polygons — checked
    against both the numpy brute-force pytest oracle and the DuckDB
    even-odd crossing SQL below (same half-open integer edge convention)."""
    pts = _points(spark, sf_dir)
    polys = gen_polygons(spark, 20, seed=43)
    return pip_join(pts, polys).select("doc_id", "span_pos", "polygon_id")


def _pip_raycast_edges_sql() -> str:
    """Closed-ring edge VALUES table for the same deterministic polygons the
    Spark query builds (sources/datagen.py polygon_rings, seed pinned)."""
    from tree_code_chunker_spark.sources.datagen import polygon_rings

    rows = []
    for pid, ring in polygon_rings(20, seed=43):
        for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
            rows.append(f"('{pid}', {y1}, {x1}, {y2}, {x2})")
    return ("edges(polygon_id, y1, x1, y2, x2) AS (VALUES "
            + ", ".join(rows) + ")")


# even-odd ray cast, identical half-open rule to pip.ray_cast_np: an edge
# crosses iff (y1 > py) != (y2 > py) and the integer cross-multiplication
# test (px-x1)*dy < (py-y1)*dx for dy > 0, '>' for dy < 0 (no divisions —
# bit-exact; coords < 2^16 so every product fits BIGINT)
SQL_PIP_RAYCAST = f"""
{SPANS_CTE}, {POINTS_SQL}, {_pip_raycast_edges_sql()}
SELECT doc_id, span_pos, polygon_id
FROM (
  SELECT p.doc_id, p.span_pos, e.polygon_id,
         sum(CASE WHEN ((e.y1 > p.qlat) <> (e.y2 > p.qlat))
                   AND ((e.y2 > e.y1 AND
                         (p.qlon - e.x1) * (e.y2 - e.y1)
                           < (p.qlat - e.y1) * (e.x2 - e.x1))
                     OR (e.y2 < e.y1 AND
                         (p.qlon - e.x1) * (e.y2 - e.y1)
                           > (p.qlat - e.y1) * (e.x2 - e.x1)))
                  THEN 1 ELSE 0 END) AS crossings
  FROM points p CROSS JOIN edges e
  GROUP BY p.doc_id, p.span_pos, e.polygon_id
) WHERE crossings % 2 = 1
"""


def q_minhash_lsh(spark, sf_dir):
    d = _docs(spark, sf_dir)
    sigs = minhash_signatures(d, "doc_id", "text")
    return lsh_candidate_pairs(sigs, bands=16)


def _minhash_ctes() -> str:
    """DuckDB CTE chain for the full MinHash+LSH pipeline: 5-char shingles
    -> 64-bit wrapping polynomial hash (HUGEINT with explicit mod 2^64 per
    step, = numpy uint64 wrap) -> 64 (a*h+b) mod (2^61-1) permutation
    minima (the a/b table is embedded verbatim from _perm_table(64, 42)) ->
    16 bands of 4 joined as decimal strings.  Ends at `bands`.

    ASCII-only corpus assumption (verified for the driver tables): the
    engine shingles UTF-8 BYTES, the mirror shingles codepoints."""
    from tree_code_chunker_spark.operators.dedup import MERSENNE_P, _perm_table

    a, b = _perm_table(64, seed=42)
    perm_vals = ", ".join(
        f"({j}, {int(a[j])}::HUGEINT, {int(b[j])}::HUGEINT)" for j in range(64)
    )
    M = 1099511628211  # FNV prime, the polynomial base
    W = 1 << 64
    return f"""pt(j, a, b) AS (VALUES {perm_vals}),
cps AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(text, ''),
                        c -> unicode(c)::HUGEINT) AS cp
  FROM documents
), padded AS (
  SELECT doc_id,
         CASE WHEN len(cp) >= 5 THEN cp
              ELSE cp || list_transform(generate_series(1, 5 - len(cp)),
                                        x -> 0::HUGEINT)
         END AS cp
  FROM cps
), sh AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(cp) - 4),
             i -> ((((cp[i] * {M} + cp[i+1]) % {W}
                     * {M} + cp[i+2]) % {W}
                     * {M} + cp[i+3]) % {W}
                     * {M} + cp[i+4]) % {W})) AS h
    FROM padded
  )
), mins AS (
  SELECT s.doc_id, p.j, min((p.a * s.h + p.b) % {MERSENNE_P}) AS m
  FROM sh s CROSS JOIN pt p
  GROUP BY s.doc_id, p.j
), bands AS (
  SELECT doc_id, j // 4 AS band_id,
         string_agg(CAST(m AS VARCHAR), '_' ORDER BY j) AS band_key
  FROM mins GROUP BY doc_id, j // 4
)"""


_MINHASH_PAIRS_SELECT = """
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key
  AND a.doc_id < b.doc_id
"""

SQL_MINHASH_LSH = "WITH " + _minhash_ctes() + _MINHASH_PAIRS_SELECT


def q_minhash_jaccard(spark, sf_dir):
    """LSH candidates scored by the MinHash Jaccard estimator (fraction of
    agreeing signature slots) — the cheap middle stage between candidate
    generation and exact verification, JVM fold only."""
    from tree_code_chunker_spark.operators.dedup import minhash_est_jaccard

    d = _docs(spark, sf_dir)
    sigs = minhash_signatures(d, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, bands=16)
    return minhash_est_jaccard(pairs, sigs).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "est_jaccard",
    )


SQL_MINHASH_JACCARD = ("WITH " + _minhash_ctes() + f""",
cand AS ({_MINHASH_PAIRS_SELECT})
SELECT p.id_a, p.id_b,
       round(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) / 64.0, 6)
         AS est_jaccard
FROM cand p
JOIN mins ma ON ma.doc_id = p.id_a
JOIN mins mb ON mb.doc_id = p.id_b AND mb.j = ma.j
GROUP BY p.id_a, p.id_b
""")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING end-to-end: MinHash -> LSH candidate pairs ->
    connected components -> canonical doc per cluster (min doc_id).  The
    DuckDB mirror chains the MinHash CTEs into a recursive reachability
    CTE; the Spark side is iterative min-label propagation with
    localCheckpoint-bounded lineage."""
    from tree_code_chunker_spark.operators.dedup import connected_components

    d = _docs(spark, sf_dir)
    sigs = minhash_signatures(d, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, bands=16)
    cc = connected_components(pairs).withColumnRenamed("node", "doc_id")
    return (
        d.select("doc_id").join(cc, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("label", F.col("doc_id")).cast("long")
            .alias("cluster_rep"),
        )
    )


SQL_DEDUP_CLUSTERS = ("WITH RECURSIVE " + _minhash_ctes() + f"""
, pairs AS ({_MINHASH_PAIRS_SELECT}),
sym(s, d) AS (
  SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.d, r.label FROM reach r JOIN sym s ON s.s = r.node
)
SELECT node AS doc_id, min(label) AS cluster_rep FROM reach GROUP BY node
""")


def q_simhash(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return simhash_sketches(d, "doc_id", "text")


# FNV-1a 64 per whitespace-split token (xor low byte, wrapping multiply ==
# HUGEINT mod 2^64), then the ±1 bit vote per bit position, packed back to a
# signed BIGINT exactly like numpy's uint64 view
SQL_SIMHASH = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            t -> t <> '')) AS tok
  FROM documents
), th AS (
  SELECT doc_id, list_reduce(
      list_prepend(14695981039346656037::HUGEINT,
        list_transform(regexp_split_to_array(tok, ''),
                       c -> unicode(c)::HUGEINT)),
      (h, b) -> (xor(h, b) * 1099511628211) % 18446744073709551616::HUGEINT
    ) AS h
  FROM toks
), votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bits
  GROUP BY doc_id, b
), packed AS (
  SELECT doc_id,
         sum(CASE WHEN acc > 0 THEN (1::HUGEINT << CAST(b AS INT))
                  ELSE 0::HUGEINT END) AS s
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(COALESCE(p.s, 0::HUGEINT)
            - CASE WHEN COALESCE(p.s, 0::HUGEINT)
                        >= 9223372036854775808::HUGEINT
                   THEN 18446744073709551616::HUGEINT
                   ELSE 0::HUGEINT END AS BIGINT) AS simhash
FROM documents d LEFT JOIN packed p ON d.doc_id = p.doc_id
"""


# -------------------------------------------------------------- contract ----


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: chunk sf0.001 docs -> geocode chunk points -> ray-cast PIP
    join -> per-polygon counts."""
    sf_dir = "/root/testdata/sf0.001"
    docs = spanify(_docs(spark, sf_dir))
    chunks = chunk_documents(docs, max_size=1500)
    pts = chunks.select("doc_id", F.col("chunk_index").alias("span_pos"))
    qlat, qlon = derive_point_cols(F.col("doc_id").cast("long"), F.col("span_pos"))
    pts = pts.select("doc_id", "span_pos", qlat.alias("qlat"), qlon.alias("qlon"))
    polys = gen_polygons(spark, 20, seed=43)
    return (
        pip_join(pts, polys)
        .groupBy("polygon_id")
        .agg(F.count("*").alias("n_points"))
    )


# ---------------------------------------------- spatial analytics (new) ----
# dwithin radius join, zonal statistics, trajectory metrics, and DDA line
# rasterization (operators/spatial.py) — all integer-exact, mirrored 1:1.

DWITHIN_RADIUS = 800  # grid units; > hot-spot jitter so skew paths light up


def _supplier_points_sql():
    qlat, qlon = derive_point_sql("s_suppkey", "777")
    return f"""
sq AS (
  SELECT CAST(s_suppkey AS BIGINT) AS query_id,
         {qlat} AS qlat, {qlon} AS qlon
  FROM supplier
)"""


def q_dwithin(spark, sf_dir):
    from tree_code_chunker_spark.operators.spatial import dwithin_join

    pts = _points(spark, sf_dir)
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    qlat, qlon = derive_point_cols(F.col("s_suppkey").cast("long"), F.lit(777))
    sq = s.select(
        F.col("s_suppkey").cast("long").alias("query_id"),
        qlat.alias("qlat"), qlon.alias("qlon"),
    )
    return dwithin_join(pts, sq, DWITHIN_RADIUS, b_keep=("query_id",))


SQL_DWITHIN = f"""
{SPANS_CTE}, {POINTS_SQL}, {_supplier_points_sql()}
SELECT p.doc_id, p.span_pos, sq.query_id,
       (p.qlat - sq.qlat) * (p.qlat - sq.qlat)
       + (p.qlon - sq.qlon) * (p.qlon - sq.qlon) AS d2
FROM points p JOIN sq
  ON p.qlat BETWEEN sq.qlat - {DWITHIN_RADIUS} AND sq.qlat + {DWITHIN_RADIUS}
 AND p.qlon BETWEEN sq.qlon - {DWITHIN_RADIUS} AND sq.qlon + {DWITHIN_RADIUS}
WHERE (p.qlat - sq.qlat) * (p.qlat - sq.qlat)
      + (p.qlon - sq.qlon) * (p.qlon - sq.qlon)
      <= {DWITHIN_RADIUS * DWITHIN_RADIUS}
"""


_ZONAL_V_COL = "((qlat * 31 + qlon) % 997)"  # deterministic integer value


def q_zonal_stats(spark, sf_dir):
    from tree_code_chunker_spark.operators.spatial import zonal_stats

    pts = _points(spark, sf_dir).withColumn(
        "v", (F.col("qlat") * 31 + F.col("qlon")) % 997)
    return zonal_stats(pts, _rect_polygons(spark), value="v")


SQL_ZONAL_STATS = f"""
{SPANS_CTE}, {POINTS_SQL}, {RECTS_SQL}
SELECT polygon_id, count(*) AS n_points,
       CAST(sum({_ZONAL_V_COL}) AS BIGINT) AS sum_value,
       min({_ZONAL_V_COL}) AS min_value,
       max({_ZONAL_V_COL}) AS max_value
FROM points JOIN rects
  ON qlat >= y0 AND qlat < y1 AND qlon >= x0 AND qlon < x1
GROUP BY polygon_id
"""


def q_traj_stats(spark, sf_dir):
    from tree_code_chunker_spark.operators.spatial import trajectory_stats

    return trajectory_stats(_points(spark, sf_dir))


SQL_TRAJ_STATS = f"""
{SPANS_CTE}, {POINTS_SQL}, st AS (
  SELECT doc_id, span_pos, qlat, qlon,
         qlat - LAG(qlat) OVER w AS dy,
         qlon - LAG(qlon) OVER w AS dx
  FROM points
  WINDOW w AS (PARTITION BY doc_id ORDER BY span_pos)
)
SELECT doc_id,
       count(*) AS n_points,
       count(dy) AS n_segs,
       CAST(COALESCE(sum(GREATEST(ABS(dy), ABS(dx))), 0) AS BIGINT) AS cheb_len,
       CAST(COALESCE(max(dy * dy + dx * dx), 0) AS BIGINT) AS max_step_d2,
       -- endpoints picked as ONE struct per arg_min/arg_max, mirroring the
       -- engine's coherent min_by/max_by struct pick: four independent
       -- per-column picks could pair qlat and qlon from DIFFERENT tied
       -- rows into a phantom point if span_pos ever tied
       CAST(((arg_max({{'y': qlat, 'x': qlon}}, span_pos)).y
             - (arg_min({{'y': qlat, 'x': qlon}}, span_pos)).y)
            * ((arg_max({{'y': qlat, 'x': qlon}}, span_pos)).y
               - (arg_min({{'y': qlat, 'x': qlon}}, span_pos)).y)
            + ((arg_max({{'y': qlat, 'x': qlon}}, span_pos)).x
               - (arg_min({{'y': qlat, 'x': qlon}}, span_pos)).x)
            * ((arg_max({{'y': qlat, 'x': qlon}}, span_pos)).x
               - (arg_min({{'y': qlat, 'x': qlon}}, span_pos)).x)
            AS BIGINT) AS net_d2,
       CAST((max(qlat) - min(qlat)) * (max(qlon) - min(qlon)) AS BIGINT)
           AS bbox_area
FROM st
GROUP BY doc_id
"""


TRAJ_RASTER_RES = 8


def q_traj_raster(spark, sf_dir):
    from tree_code_chunker_spark.operators.spatial import trajectory_raster

    return trajectory_raster(_points(spark, sf_dir), TRAJ_RASTER_RES)


_TRAJ_SHIFT = 16 - TRAJ_RASTER_RES
SQL_TRAJ_RASTER = f"""
{SPANS_CTE}, {POINTS_SQL}, segs AS (
  SELECT doc_id,
         LAG(qlat) OVER w AS y0, LAG(qlon) OVER w AS x0,
         qlat AS y1, qlon AS x1
  FROM points
  WINDOW w AS (PARTITION BY doc_id ORDER BY span_pos)
), cs AS (
  SELECT doc_id,
         y0 >> {_TRAJ_SHIFT} AS cy0, x0 >> {_TRAJ_SHIFT} AS cx0,
         (y1 >> {_TRAJ_SHIFT}) - (y0 >> {_TRAJ_SHIFT}) AS dy,
         (x1 >> {_TRAJ_SHIFT}) - (x0 >> {_TRAJ_SHIFT}) AS dx
  FROM segs WHERE y0 IS NOT NULL
), st AS (
  SELECT *, GREATEST(ABS(dy), ABS(dx)) AS steps,
         GREATEST(GREATEST(ABS(dy), ABS(dx)), 1) AS ss
  FROM cs
), cells AS (
  SELECT doc_id,
         cy0 + CAST(FLOOR((2.0 * i * dy + ss) / (2.0 * ss)) AS BIGINT) AS cy,
         cx0 + CAST(FLOOR((2.0 * i * dx + ss) / (2.0 * ss)) AS BIGINT) AS cx
  FROM (SELECT *, UNNEST(range(0, steps + 1)) AS i FROM st)
)
SELECT cy, cx, count(*) AS n_visits, count(DISTINCT doc_id) AS n_ids
FROM cells
GROUP BY cy, cx
"""


def q_span_mix(spark, sf_dir):
    """Per-doc interleaved-payload composition + span-sequence digest.

    The seq_hash row pins EXACTLY the north-rule per-row invariant —
    span-sequence equality (kind, text, media_ref, order) — as one md5 per
    document, computed over the ordered span array with JVM higher-order
    functions (no explode, no shuffle beyond none: the array is already
    per-row).  n_transitions counts kind changes between consecutive spans
    (the 'interleavedness' of the doc).
    """
    s = spanify(_docs(spark, sf_dir))
    spans = F.col("spans")
    return s.select(
        "doc_id",
        F.size(spans).cast("long").alias("n_spans"),
        F.size(F.filter(spans, lambda x: x["kind"] == "text"))
        .cast("long").alias("n_text"),
        F.size(F.filter(spans, lambda x: x["kind"] == "media"))
        .cast("long").alias("n_media"),
        F.expr(
            "CASE WHEN size(spans) < 2 THEN CAST(0 AS BIGINT) ELSE "
            "CAST(size(filter(sequence(1, size(spans) - 1), "
            "i -> spans[i].kind != spans[i-1].kind)) AS BIGINT) END"
        ).alias("n_transitions"),
        F.md5(F.array_join(
            F.transform(spans, lambda x: F.concat(
                x["kind"], F.lit("\x01"), x["text"], F.lit("\x02"),
                x["media_ref"])),
            "\x03",
        )).alias("seq_hash"),
    )


SQL_SPAN_MIX = f"""
{SPANS_CTE}
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_text,
       CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_media,
       CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_transitions,
       md5(string_agg(kind || chr(1) || text || chr(2) || media_ref, chr(3)
                      ORDER BY span_pos)) AS seq_hash
FROM (
  SELECT *, kind != LAG(kind) OVER (
    PARTITION BY doc_id ORDER BY span_pos) AS changed
  FROM spans
)
GROUP BY doc_id
"""


def q_bpe_pairs(spark, sf_dir):
    from tree_code_chunker_spark.operators.textstats import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir))


SQL_BPE_PAIRS = """
WITH words AS (
  SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
), pairs AS (
  SELECT substr(w, i, 1) AS lhs, substr(w, i + 1, 1) AS rhs
  FROM (SELECT w, UNNEST(range(1, length(w))) AS i
        FROM words WHERE length(w) >= 2)
), agg AS (
  SELECT lhs, rhs, count(*) AS n_pairs FROM pairs GROUP BY lhs, rhs
)
SELECT lhs, rhs, n_pairs, rank
FROM (SELECT *, row_number() OVER (ORDER BY n_pairs DESC, lhs, rhs)
             AS rank FROM agg)
WHERE rank <= 50
"""


def q_polygon_stats(spark, sf_dir):
    """Vector geometry stats (shoelace area2, Chebyshev perimeter, bbox)
    for the same deterministic concave/convex polygon set as pip_raycast —
    per-row JVM array folds, no shuffle; oracle aggregates the edge VALUES
    mirror (every vertex of a closed ring appears exactly once as an edge
    start, so per-vertex mins/maxes come from y1/x1)."""
    from tree_code_chunker_spark.operators.spatial import polygon_stats

    return polygon_stats(gen_polygons(spark, 20, seed=43))


SQL_POLYGON_STATS = f"""
WITH {_pip_raycast_edges_sql()}
SELECT polygon_id,
       count(*) AS n_vertices,
       abs(CAST(sum(CAST(x1 AS BIGINT) * y2 - CAST(x2 AS BIGINT) * y1)
                AS BIGINT)) AS area2,
       CAST(sum(GREATEST(ABS(y2 - y1), ABS(x2 - x1))) AS BIGINT)
           AS perim_cheb,
       min(y1) AS min_qlat, max(y1) AS max_qlat,
       min(x1) AS min_qlon, max(x1) AS max_qlon
FROM edges
GROUP BY polygon_id
"""


RASTER_SMOOTH_RES = 8


def q_raster_smooth(spark, sf_dir):
    """Focal map algebra: 3x3 binomial convolution of the res-8 cell
    histogram (sparse scatter-gather, integer-exact)."""
    from tree_code_chunker_spark.operators.tiles import raster_smooth

    sh = 16 - RASTER_SMOOTH_RES
    hist = (
        _points(spark, sf_dir)
        .groupBy(F.shiftright("qlat", sh).alias("cy"),
                 F.shiftright("qlon", sh).alias("cx"))
        .agg(F.count("*").alias("n"))
    )
    return raster_smooth(hist, RASTER_SMOOTH_RES)


def _smooth_kernel_sql():
    from tree_code_chunker_spark.operators.tiles import SMOOTH_KERNEL

    return ("kernel(dy, dx, w) AS (VALUES "
            + ", ".join(f"({dy}, {dx}, {w})" for dy, dx, w in SMOOTH_KERNEL)
            + ")")


SQL_RASTER_SMOOTH = f"""
{SPANS_CTE}, {POINTS_SQL}, {_smooth_kernel_sql()}, hist AS (
  SELECT qlat >> {16 - RASTER_SMOOTH_RES} AS cy,
         qlon >> {16 - RASTER_SMOOTH_RES} AS cx,
         count(*) AS n
  FROM points GROUP BY 1, 2
)
SELECT h.cy + k.dy AS cy, h.cx + k.dx AS cx,
       CAST(sum(h.n * k.w) AS BIGINT) AS smoothed
FROM hist h CROSS JOIN kernel k
WHERE h.cy + k.dy BETWEEN 0 AND {(1 << RASTER_SMOOTH_RES) - 1}
  AND h.cx + k.dx BETWEEN 0 AND {(1 << RASTER_SMOOTH_RES) - 1}
GROUP BY 1, 2
"""


HOTSPOT_RES = 8


def q_hotspot(spark, sf_dir):
    """Getis-Ord Gi* hotspot z-scores over the res-8 cell histogram (3x3
    binary weights, study region = full grid).  Every float input is an
    exact integer aggregate; the z expression is a fixed IEEE tree the SQL
    mirror reproduces verbatim, so the doubles match bit-for-bit."""
    from tree_code_chunker_spark.operators.tiles import hotspot_gi

    sh = 16 - HOTSPOT_RES
    hist = (
        _points(spark, sf_dir)
        .groupBy(F.shiftright("qlat", sh).alias("cy"),
                 F.shiftright("qlon", sh).alias("cx"))
        .agg(F.count("*").alias("n"))
    )
    return hotspot_gi(hist, HOTSPOT_RES)


def _hotspot_sql():
    n_cells = 1 << HOTSPOT_RES
    nf = repr(float(n_cells) * float(n_cells))
    nf1 = repr(float(n_cells) * float(n_cells) - 1.0)
    hi = n_cells - 1
    offs = ("offs(dy, dx) AS (VALUES "
            + ", ".join(f"({dy}, {dx})"
                        for dy in (-1, 0, 1) for dx in (-1, 0, 1)) + ")")
    wexpr = (f"(LEAST(cy + 1, {hi}) - GREATEST(cy - 1, 0) + 1)"
             f" * (LEAST(cx + 1, {hi}) - GREATEST(cx - 1, 0) + 1)")
    return f"""
{SPANS_CTE}, {POINTS_SQL}, {offs}, hist AS (
  SELECT qlat >> {16 - HOTSPOT_RES} AS cy,
         qlon >> {16 - HOTSPOT_RES} AS cx,
         count(*) AS n
  FROM points GROUP BY 1, 2
), g AS (
  SELECT CAST(sum(n) AS DOUBLE) AS s1,
         CAST(sum(n * n) AS DOUBLE) AS s2
  FROM hist
), wxs AS (
  SELECT h.cy + k.dy AS cy, h.cx + k.dx AS cx,
         CAST(sum(h.n) AS BIGINT) AS wx
  FROM hist h CROSS JOIN offs k
  WHERE h.cy + k.dy BETWEEN 0 AND {hi}
    AND h.cx + k.dx BETWEEN 0 AND {hi}
  GROUP BY 1, 2
), ww AS (
  SELECT cy, cx, wx, CAST({wexpr} AS INT) AS w FROM wxs
)
SELECT cy, cx, wx, w,
       (CAST(wx AS DOUBLE) - s1 / {nf} * CAST(w AS DOUBLE))
       / (sqrt(s2 / {nf} - (s1 / {nf}) * (s1 / {nf}))
          * sqrt(({nf} * CAST(w AS DOUBLE)
                  - CAST(w AS DOUBLE) * CAST(w AS DOUBLE)) / {nf1}))
       AS gi_z
FROM ww CROSS JOIN g
"""


SQL_HOTSPOT = _hotspot_sql()


HOTW_RES = 6


def q_hotspot_windows(spark, sf_dir):
    """Per-event-time-window Gi* hotspot surfaces — the batch form of the
    streaming twin (streaming/windows.run_stream_hotspot_gi): daily
    tumbling windows over the events stream, per-window moments via
    hotspot_gi(by=("window_start",)); one shared scatter-gather plan
    serves every window, and the per-window moment rows (one per window)
    ride the plan as a broadcast join."""
    from tree_code_chunker_spark.operators.geo import derive_point_cols
    from tree_code_chunker_spark.operators.tiles import hotspot_gi

    _utc(spark)
    sh = 16 - HOTW_RES
    qlat, qlon = derive_point_cols(F.col("event_id"), F.col("user_id"))
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hist = (
        e.select(F.window("ts", "1 day").alias("w"),
                 qlat.alias("qlat"), qlon.alias("qlon"))
        .groupBy(F.col("w.start").cast("string").alias("window_start"),
                 F.shiftright("qlat", sh).alias("cy"),
                 F.shiftright("qlon", sh).alias("cx"))
        .agg(F.count("*").alias("n"))
    )
    return hotspot_gi(hist, HOTW_RES, by=("window_start",))


def _hotspot_windows_sql():
    n_cells = 1 << HOTW_RES
    nf = repr(float(n_cells) * float(n_cells))
    nf1 = repr(float(n_cells) * float(n_cells) - 1.0)
    hi = n_cells - 1
    sh = 16 - HOTW_RES
    qlat, qlon = derive_point_sql("event_id", "user_id")
    offs = ("offs(dy, dx) AS (VALUES "
            + ", ".join(f"({dy}, {dx})"
                        for dy in (-1, 0, 1) for dx in (-1, 0, 1)) + ")")
    wexpr = (f"(LEAST(cy + 1, {hi}) - GREATEST(cy - 1, 0) + 1)"
             f" * (LEAST(cx + 1, {hi}) - GREATEST(cx - 1, 0) + 1)")
    return f"""
WITH {offs}, epts AS (
  SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR)
           AS window_start,
         {qlat} AS qlat, {qlon} AS qlon
  FROM events
), hist AS (
  SELECT window_start, qlat >> {sh} AS cy, qlon >> {sh} AS cx,
         count(*) AS n
  FROM epts GROUP BY 1, 2, 3
), g AS (
  SELECT window_start, CAST(sum(n) AS DOUBLE) AS s1,
         CAST(sum(n * n) AS DOUBLE) AS s2
  FROM hist GROUP BY 1
), wxs AS (
  SELECT h.window_start, h.cy + k.dy AS cy, h.cx + k.dx AS cx,
         CAST(sum(h.n) AS BIGINT) AS wx
  FROM hist h CROSS JOIN offs k
  WHERE h.cy + k.dy BETWEEN 0 AND {hi}
    AND h.cx + k.dx BETWEEN 0 AND {hi}
  GROUP BY 1, 2, 3
), ww AS (
  SELECT window_start, cy, cx, wx, CAST({wexpr} AS INT) AS w FROM wxs
)
SELECT ww.window_start, cy, cx, wx, w,
       (CAST(wx AS DOUBLE) - s1 / {nf} * CAST(w AS DOUBLE))
       / (sqrt(s2 / {nf} - (s1 / {nf}) * (s1 / {nf}))
          * sqrt(({nf} * CAST(w AS DOUBLE)
                  - CAST(w AS DOUBLE) * CAST(w AS DOUBLE)) / {nf1}))
       AS gi_z
FROM ww JOIN g ON g.window_start = ww.window_start
"""


SQL_HOTSPOT_WINDOWS = _hotspot_windows_sql()


DBSCAN_EPS = 600
DBSCAN_MIN_PTS = 10


def q_dbscan(spark, sf_dir):
    """Grid DBSCAN over the point corpus: deterministic min-core-label
    clusters (3 clusters + border + noise at these settings on sf0.01).
    The DuckDB mirror chains the dwithin range join into the same
    recursive-reachability CTE the near-dup clustering oracle uses."""
    from tree_code_chunker_spark.operators.spatial import dbscan

    pts = _points(spark, sf_dir).select(
        (F.col("doc_id").cast("long") * 100000 + F.col("span_pos"))
        .alias("pid"),
        "qlat", "qlon",
    )
    return dbscan(pts, DBSCAN_EPS, DBSCAN_MIN_PTS)


SQL_DBSCAN = ("WITH RECURSIVE spans AS ("
              + SPANS_CTE[len("WITH spans AS ("):] + f""", {POINTS_SQL},
nbr AS (
  SELECT CAST(a.doc_id AS BIGINT) * 100000 + a.span_pos AS pid,
         CAST(b.doc_id AS BIGINT) * 100000 + b.span_pos AS b_pid
  FROM points a JOIN points b
    ON b.qlat BETWEEN a.qlat - {DBSCAN_EPS} AND a.qlat + {DBSCAN_EPS}
   AND b.qlon BETWEEN a.qlon - {DBSCAN_EPS} AND a.qlon + {DBSCAN_EPS}
  WHERE (a.doc_id <> b.doc_id OR a.span_pos <> b.span_pos)
    AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
        + (a.qlon - b.qlon) * (a.qlon - b.qlon)
        <= {DBSCAN_EPS * DBSCAN_EPS}
), deg AS (SELECT pid, count(*) AS k FROM nbr GROUP BY pid),
core AS (SELECT pid FROM deg WHERE k + 1 >= {DBSCAN_MIN_PTS}),
ce AS (
  SELECT n.pid, n.b_pid FROM nbr n
  JOIN core c1 ON c1.pid = n.pid JOIN core c2 ON c2.pid = n.b_pid
),
reach(node, label) AS (
  SELECT pid, pid FROM core
  UNION
  SELECT ce.b_pid, r.label FROM reach r JOIN ce ON ce.pid = r.node
),
lab AS (SELECT node AS pid, min(label) AS cluster FROM reach GROUP BY node),
pts AS (
  SELECT CAST(doc_id AS BIGINT) * 100000 + span_pos AS pid FROM points
),
border AS (
  SELECT n.pid, min(l.cluster) AS cluster
  FROM nbr n JOIN lab l ON l.pid = n.b_pid
  LEFT JOIN core c ON c.pid = n.pid
  WHERE c.pid IS NULL GROUP BY n.pid
)
SELECT p.pid,
       CASE WHEN l.pid IS NOT NULL THEN 'core'
            WHEN b.pid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       COALESCE(l.cluster, b.cluster) AS cluster
FROM pts p
LEFT JOIN lab l ON l.pid = p.pid
LEFT JOIN border b ON b.pid = p.pid
""")


COMPACT_RES = 12
COMPACT_LEVELS = 4  # covers in this data never promote deeper; both engines
# truncate at the SAME depth, so the mirror stays exact either way


def _occupied_compact_cover(spark, sf_dir):
    """Compacted cover of the occupied res-COMPACT_RES cells — shared by
    cell_compact and cover_overlap (engine side of _occupied_cells_sql).

    Distinct on the raw grid coords FIRST, cell math after the exchange:
    fusing explode + point-derivation CASEs + a partial hash-aggregate on
    the full Morton interleave into one stage overflows janino's 64 KB
    method limit and drops the whole stage to interpreted mode."""
    from tree_code_chunker_spark.operators.geo import compact_cover

    p = _points(spark, sf_dir)
    coords = p.select("qlat", "qlon").distinct()
    cells = coords.select(
        cell_at_res_col(cell_col(F.col("qlat"), F.col("qlon")), COMPACT_RES)
        .alias("cell"))
    return compact_cover(cells, COMPACT_RES, max_levels=COMPACT_LEVELS)


def _occupied_cells_sql() -> str:
    """`cells` CTE: DISTINCT occupied res-COMPACT_RES cells over `points`."""
    return ("cells AS (SELECT DISTINCT "
            + cell_at_res_sql(cell_sql("qlat", "qlon"), COMPACT_RES)
            + " AS cell FROM points)")


def q_cell_compact(spark, sf_dir):
    """Quadtree cover normalization (S2 CellUnion.Normalize contract) of
    the occupied res-12 cell set: complete 4-sibling groups collapse to
    their parent, repeatedly — the hot-spot boxes are the cells dense
    enough to actually promote."""
    return _occupied_compact_cover(spark, sf_dir)


def _compact_sql():
    from tree_code_chunker_spark.operators.geo import compact_cover_sql

    return _occupied_cells_sql() + ", " + compact_cover_sql(
        "cells", COMPACT_RES, max_levels=COMPACT_LEVELS)


SQL_CELL_COMPACT = f"""
{SPANS_CTE}, {POINTS_SQL}, {_compact_sql()}
"""


def q_cover_overlap(spark, sf_dir):
    """Cover x cover spatial join: the compacted occupied-cell cover (mixed
    res 8..12) against the rect polygons' res-6 bbox covers.  Overlap of
    quadtree cells == one is ancestor-or-equal of the other, so the engine
    runs per-level hash equi-joins (no range join, no cartesian); the
    oracle uses the naive ancestor predicate on the same covers."""
    from tree_code_chunker_spark.operators.geo import cover_overlap_join
    from tree_code_chunker_spark.operators.pip import polygon_cover

    acov = _occupied_compact_cover(spark, sf_dir)
    bcov = polygon_cover(_rect_polygons(spark), res=6).select(
        "polygon_id", F.lit(6).cast("long").alias("res"),
        cell_col(F.col("cov_cy"), F.col("cov_cx")).alias("cell"))
    return cover_overlap_join(acov, bcov, b_keep=("polygon_id",))


def _cover_overlap_sql():
    from tree_code_chunker_spark.operators.geo import compact_cover_sql

    compact = compact_cover_sql("cells", COMPACT_RES,
                                max_levels=COMPACT_LEVELS, as_cte="acov")
    side = 1 << (16 - 6)  # res-6 cell side in grid units
    bcov = f"""
rcells AS (
  SELECT polygon_id, x0, x1,
         UNNEST(range(y0 // {side}, y1 // {side} + 1)) AS cy
  FROM rects
), bcov AS (
  SELECT polygon_id, CAST(6 AS BIGINT) AS res,
         {cell_sql('cy', 'cx')} AS cell
  FROM (SELECT polygon_id, cy,
               UNNEST(range(x0 // {side}, x1 // {side} + 1)) AS cx
        FROM rcells)
)"""
    return f"{_occupied_cells_sql()}, {compact}, {bcov}"


SQL_COVER_OVERLAP = f"""
{SPANS_CTE}, {POINTS_SQL}, {RECTS_SQL}, {_cover_overlap_sql()}
SELECT a.res AS a_res, a.cell AS a_cell,
       b.res AS b_res, b.cell AS b_cell, b.polygon_id
FROM acov a JOIN bcov b ON
     (b.res <= a.res AND
      b.cell = CAST(floor(a.cell / pow(4, a.res - b.res)) AS BIGINT))
  OR (a.res < b.res AND
      a.cell = CAST(floor(b.cell / pow(4, b.res - a.res)) AS BIGINT))
"""


SESSION_GAP_S = 1800


def q_sessionize(spark, sf_dir):
    """Batch gap-based sessionization (lag-flag-cumsum window algebra) —
    the exactly-mirrorable twin of the stateful streaming sessionizer."""
    from tree_code_chunker_spark.streaming.windows import sessionize_batch

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(ev, session_gap_s=SESSION_GAP_S)


SQL_SESSIONIZE = f"""
WITH s1 AS (
  SELECT event_type AS key, epoch_us(ts) AS ts_us FROM events
), s2 AS (
  SELECT key, ts_us,
         CASE WHEN ts_us - LAG(ts_us) OVER w > {SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS new_sess
  FROM s1 WINDOW w AS (PARTITION BY key ORDER BY ts_us)
), s3 AS (
  SELECT key, ts_us,
         CAST(SUM(new_sess) OVER (
           PARTITION BY key ORDER BY ts_us ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS sess_idx
  FROM s2
)
SELECT key, min(ts_us) AS start_us, max(ts_us) AS end_us,
       count(*) AS n_events
FROM s3
GROUP BY key, sess_idx
"""


def q_group_quantiles(spark, sf_dir):
    """Per-event-type exact interpolated quantiles of `value` — Spark
    percentile == DuckDB quantile_cont (same rank-interpolation), 6dp."""
    from tree_code_chunker_spark.operators.profile import group_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return group_quantiles(ev, "event_type", "value")


SQL_GROUP_QUANTILES = """
SELECT event_type AS key, count(*) AS n,
       round(avg(value), 6) AS mean_v,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events
GROUP BY event_type
"""


def q_geocode_float(spark, sf_dir):
    """Float lat/lon ingestion path: degree coordinates -> quantize ->
    Morton cell, plus haversine distance to a fixed origin.  Degrees are
    derived mid-grid-cell (+0.5) so the float->int quantization sits far
    from floor boundaries (margin ~7.6e-3 deg vs ~1e-11 FP error) and both
    engines recover the exact integer grid coords; the trig output is
    rounded to 0.1 m (JVM Math vs libm differ by ulps, ~1e-8 m here)."""
    from tree_code_chunker_spark.operators.geo import (
        haversine_m_col, quantize_col)

    p = _points(spark, sf_dir)
    lat = (F.col("qlat") + 0.5) / 65536.0 * 180.0 - 90.0
    lon = (F.col("qlon") + 0.5) / 65536.0 * 360.0 - 180.0
    deg = p.select("doc_id", "span_pos", lat.alias("lat"), lon.alias("lon"))
    ql, qo = quantize_col(F.col("lat"), F.col("lon"))
    cell = cell_col(ql, qo)
    return deg.select(
        "doc_id", "span_pos",
        cell_at_res_col(cell, 10).alias("cell_r10"),
        F.round(haversine_m_col(F.col("lat"), F.col("lon"),
                                F.lit(0.0), F.lit(0.0)), 1).alias("dist_m"),
    )


def _geocode_float_sql():
    from tree_code_chunker_spark.operators.geo import EARTH_RADIUS_M

    lat = "((qlat + 0.5) / 65536.0 * 180.0 - 90.0)"
    lon = "((qlon + 0.5) / 65536.0 * 360.0 - 180.0)"
    ql = f"GREATEST(0, LEAST(65535, CAST(floor(({lat} + 90.0) / 180.0 * 65536.0) AS BIGINT)))"
    qo = f"GREATEST(0, LEAST(65535, CAST(floor(({lon} + 180.0) / 360.0 * 65536.0) AS BIGINT)))"
    hav = (f"2.0 * {EARTH_RADIUS_M} * asin(sqrt(LEAST(1.0, "
           f"sin(radians({lat}) / 2) * sin(radians({lat}) / 2)"
           f" + cos(radians({lat})) * cos(0.0)"
           f" * sin(radians({lon}) / 2) * sin(radians({lon}) / 2))))")
    return f"""
SELECT doc_id, span_pos,
       {cell_at_res_sql(cell_sql(ql, qo), 10)} AS cell_r10,
       round({hav}, 1) AS dist_m
FROM points
"""


SQL_GEOCODE_FLOAT = f"""
{SPANS_CTE}, {POINTS_SQL}
{_geocode_float_sql()}
"""


SELF_RADIUS = 48  # < hot-box size, so hot pairs stay output-bounded


def q_dwithin_self(spark, sf_dir):
    """Spatial near-duplicate pairs: unordered pairs of distinct points
    within SELF_RADIUS (location analogue of content near-dup)."""
    from tree_code_chunker_spark.operators.spatial import dwithin_self_join

    return dwithin_self_join(_points(spark, sf_dir), SELF_RADIUS)


SQL_DWITHIN_SELF = f"""
{SPANS_CTE}, {POINTS_SQL}
SELECT a.doc_id, a.span_pos,
       b.doc_id AS b_doc_id, b.span_pos AS b_span_pos,
       (a.qlat - b.qlat) * (a.qlat - b.qlat)
       + (a.qlon - b.qlon) * (a.qlon - b.qlon) AS d2
FROM points a JOIN points b
  ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
 AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
WHERE (a.doc_id < b.doc_id
       OR (a.doc_id = b.doc_id AND a.span_pos < b.span_pos))
  AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
      + (a.qlon - b.qlon) * (a.qlon - b.qlon)
      <= {SELF_RADIUS * SELF_RADIUS}
"""
# NB: the pair-order predicate is the EXPANDED lexicographic form on
# purpose — a row-value comparison `(a.doc_id, a.span_pos) < (b...)` inside
# this inequality join silently drops rows on DuckDB 1.0.0 (14 of 6.99M at
# sf0.1, reproduced & isolated; Spark and the expanded form agree).


ST_DT = 900  # co-location time tolerance (s) over the derived day-clock


def q_st_contacts(spark, sf_dir):
    """Spatiotemporal co-location (contact detection): unordered pairs of
    distinct points within SELF_RADIUS grid units AND within ST_DT seconds
    of each other on a derived integer day-clock.  Engine side prunes on a
    (cell_y, cell_x, t DIV dt) 27-bucket neighborhood equi-join; the
    oracle brute-forces with a BETWEEN prune — the prune must be a pure
    optimization."""
    from tree_code_chunker_spark.operators.spatial import st_colocate_join

    p = _points(spark, sf_dir).withColumn(
        "t_s",
        (F.col("doc_id").cast("long") * 7919 + F.col("span_pos") * 131)
        % 86400,
    )
    return st_colocate_join(p, SELF_RADIUS, ST_DT)


SQL_ST_CONTACTS = f"""
{SPANS_CTE}, {POINTS_SQL},
pts AS (
  SELECT doc_id, span_pos, qlat, qlon,
         (CAST(doc_id AS BIGINT) * 7919 + span_pos * 131) % 86400 AS t_s
  FROM points
)
SELECT a.doc_id, a.span_pos,
       b.doc_id AS b_doc_id, b.span_pos AS b_span_pos,
       (a.qlat - b.qlat) * (a.qlat - b.qlat)
       + (a.qlon - b.qlon) * (a.qlon - b.qlon) AS d2,
       abs(a.t_s - b.t_s) AS dt_s
FROM pts a JOIN pts b
  ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
 AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
WHERE (a.doc_id < b.doc_id
       OR (a.doc_id = b.doc_id AND a.span_pos < b.span_pos))
  AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
      + (a.qlon - b.qlon) * (a.qlon - b.qlon)
      <= {SELF_RADIUS * SELF_RADIUS}
  AND abs(a.t_s - b.t_s) <= {ST_DT}
"""


def q_sample_weighted(spark, sf_dir):
    """Quality-weighted deterministic Bernoulli sample of the corpus:
    P(keep) == the 6dp quality score, via the content-derived uniform key
    (pure filter — no shuffle, no randomness)."""
    from tree_code_chunker_spark.operators.training import sample_weighted

    d = _docs(spark, sf_dir).select(
        "doc_id", quality_score_col(F.col("text")).alias("quality"))
    out = sample_weighted(d, "quality")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "quality",
        F.col("sample_key").cast("long").alias("sample_key"))


def _sample_weighted_sql():
    from tree_code_chunker_spark.operators.training import sample_weighted_sql

    inner = ("(SELECT doc_id, " + quality_score_sql("text")
             + " AS quality FROM documents)")
    body = sample_weighted_sql(inner, "quality", "doc_id")
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, quality,
       CAST(sample_key AS BIGINT) AS sample_key
FROM ({body})
"""


SQL_SAMPLE_WEIGHTED = _sample_weighted_sql()


OD_RES = 4


def q_od_matrix(spark, sf_dir):
    """Origin-destination flows: per doc trajectory, the (first, last)
    res-4 cell pair, counted over the corpus."""
    from tree_code_chunker_spark.operators.spatial import od_matrix

    return od_matrix(_points(spark, sf_dir), OD_RES)


_OD_SHIFT = 16 - OD_RES
SQL_OD_MATRIX = f"""
{SPANS_CTE}, {POINTS_SQL}, ends0 AS (
  -- coherent struct picks (engine uses min_by/max_by of a struct): both
  -- origin coords come from ONE row even under span_pos ties — independent
  -- per-column arg_min/arg_max could mix tied rows into a phantom endpoint
  SELECT doc_id,
         arg_min({{'y': qlat, 'x': qlon}}, span_pos) AS o,
         arg_max({{'y': qlat, 'x': qlon}}, span_pos) AS d
  FROM points GROUP BY doc_id
), ends AS (
  SELECT doc_id, (o).y AS oy, (o).x AS ox, (d).y AS dy, (d).x AS dx
  FROM ends0
)
SELECT oy >> {_OD_SHIFT} AS o_cy, ox >> {_OD_SHIFT} AS o_cx,
       dy >> {_OD_SHIFT} AS d_cy, dx >> {_OD_SHIFT} AS d_cx,
       count(*) AS n_flows
FROM ends
GROUP BY 1, 2, 3, 4
"""


PR_ITERS = 4


def q_pagerank(spark, sf_dir):
    """Integer-exact PageRank over the spatial proximity graph: directed
    edges between distinct docs with any span pair within SELF_RADIUS
    (symmetric by construction — the unordered radius self-join emits both
    directions).  Fixed-point integer arithmetic makes the iterative
    result bit-exact at any parallelism and CTE-mirrorable."""
    from tree_code_chunker_spark.operators.graph import pagerank_int
    from tree_code_chunker_spark.operators.spatial import dwithin_join

    pts = _points(spark, sf_dir)
    b = pts.select(F.col("doc_id").alias("b_doc_id"), "qlat", "qlon")
    edges = (
        dwithin_join(pts, b, SELF_RADIUS,
                     a_keep=("doc_id",), b_keep=("b_doc_id",))
        .filter(F.col("doc_id") != F.col("b_doc_id"))
        .select(F.col("doc_id").alias("src"),
                F.col("b_doc_id").alias("dst"))
        .distinct()
    )
    return pagerank_int(edges, iters=PR_ITERS).select(
        F.col("node").cast("string").alias("node"),
        F.col("rank").cast("long").alias("rank"))


def _pagerank_sql():
    from tree_code_chunker_spark.operators.graph import pagerank_int_sql

    edges = f"""
pr_edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM points a JOIN points b
    ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
   AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
  WHERE a.doc_id != b.doc_id
    AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
        + (a.qlon - b.qlon) * (a.qlon - b.qlon)
        <= {SELF_RADIUS * SELF_RADIUS}
)"""
    return edges + ", " + pagerank_int_sql("pr_edges", iters=PR_ITERS)


SQL_PAGERANK = f"""
{SPANS_CTE}, {POINTS_SQL}, {_pagerank_sql()}
"""


def q_pagerank_dangling(spark, sf_dir):
    """Dangling-mass PageRank variant: the proximity graph kept one
    direction only (src < doc_id dst), so docs that never appear as a
    source are true sinks; their mass is redistributed evenly each
    iteration (M div n_nodes inside the damped term, integer-exact,
    mirrored as scalar subqueries in the CTE chain)."""
    from tree_code_chunker_spark.operators.graph import pagerank_int
    from tree_code_chunker_spark.operators.spatial import dwithin_join

    pts = _points(spark, sf_dir)
    b = pts.select(F.col("doc_id").alias("b_doc_id"), "qlat", "qlon")
    edges = (
        dwithin_join(pts, b, SELF_RADIUS,
                     a_keep=("doc_id",), b_keep=("b_doc_id",))
        # one direction only (byte-wise string <, identical in DuckDB for
        # these ASCII ids) -> guaranteed dangling sinks
        .filter(F.col("doc_id") < F.col("b_doc_id"))
        .select(F.col("doc_id").alias("src"),
                F.col("b_doc_id").alias("dst"))
        .distinct()
    )
    return pagerank_int(edges, iters=PR_ITERS,
                        dangling="redistribute").select(
        F.col("node").cast("string").alias("node"),
        F.col("rank").cast("long").alias("rank"))


def _pagerank_dangling_sql():
    from tree_code_chunker_spark.operators.graph import pagerank_int_sql

    edges = f"""
pr_edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM points a JOIN points b
    ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
   AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
  WHERE a.doc_id < b.doc_id
    AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
        + (a.qlon - b.qlon) * (a.qlon - b.qlon)
        <= {SELF_RADIUS * SELF_RADIUS}
)"""
    return edges + ", " + pagerank_int_sql(
        "pr_edges", iters=PR_ITERS, dangling="redistribute")


SQL_PAGERANK_DANGLING = f"""
{SPANS_CTE}, {POINTS_SQL}, {_pagerank_dangling_sql()}
"""


# ------------------------------------------------------ round-5 queries ----


def q_embed_near_dup_lsh(spark, sf_dir):
    """LSH scale path for embedding near-dup over the planted-twin gold
    fixture: every third vector gains a deterministically perturbed twin
    (<=0.3%/component jitter -> cosine ~0.9999, same closed-form formula
    in both engines), then banded hyperplane-LSH candidates + exact cosine
    verify at threshold 0.99.  The ORACLE is the exact O(n^2) cross-join
    form — equality IS the recall-1.0 statement (planted twins sketch at
    Hamming <= 1; bands=4 guarantees candidates up to Hamming 3; measured
    candidate volume ~2% of all pairs)."""
    from tree_code_chunker_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # two-step select: a single select would let Spark's LATERAL column
    # alias resolution bind the vec_id INSIDE the lambda to the freshly
    # aliased vec_id+100000 (measured: silently shifts every delta)
    twins = base.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("orig_id"),
        F.transform(
            "v",
            lambda x, i: x * (1 + ((F.col("vec_id") * 31 + i) % 7 - 3)
                              / 1000.0),
        ).alias("v"),
    ).select((F.col("orig_id") + 100000).alias("vec_id"), "v")
    aug = base.unionByName(twins)
    return embedding_near_dup_pairs_lsh(
        aug, "vec_id", "v", dim=64, threshold=0.99, n_bits=32, bands=4)


_COS_SQL = (
    "round(list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]),"
    " (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform(b.v, x -> x * x),"
    " (x, y) -> x + y))), 6)"
)

SQL_EMBED_NEAR_DUP_LSH = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), twins AS (
  SELECT vec_id + 100000 AS tid,
         list_transform(generate_series(1, len(v)),
           i -> v[i] * (1 + ((vec_id * 31 + (i - 1)) % 7 - 3) / 1000.0)) AS v
  FROM base WHERE vec_id % 3 = 0
), aug AS (
  SELECT vec_id, v FROM base UNION ALL SELECT tid AS vec_id, v FROM twins
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_SQL} AS sim
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE {_COS_SQL} >= 0.99
"""


def q_dedup_increment(spark, sf_dir):
    """Two-batch incremental MinHash dedup: even doc_ids build the
    persisted band index, odd doc_ids increment against it; the union of
    the increments' pairs must equal the full-corpus LSH candidate pairs
    recomputed from scratch (the oracle = the same SQL as minhash_lsh)."""
    import tempfile

    from tree_code_chunker_spark.operators.dedup import dedup_increment

    d = _docs(spark, sf_dir).select("doc_id", "text")
    idx = _gate_tmpdir("mh_idx_")
    p0 = dedup_increment(d.filter(F.col("doc_id") % 2 == 0), idx)
    p1 = dedup_increment(d.filter(F.col("doc_id") % 2 == 1), idx)
    return p0.unionByName(p1).distinct()


SQL_DEDUP_INCREMENT = "WITH " + _minhash_ctes() + _MINHASH_PAIRS_SELECT


GEO_RADIUS_M = 250_000.0


def _geo_queries_py() -> list[tuple[int, float, float]]:
    """Deterministic degree-coordinate probes: a global sweep plus a
    near-pole probe (exercises the full-lon-ring widening) and an
    antimeridian probe (exercises the pmod wrap).  The floats are computed
    once here and embedded verbatim on both engine and oracle sides."""
    qs = [(i, -80.0 + i * 16.5, -170.0 + i * 33.7) for i in range(10)]
    qs.append((10, 89.3, 0.0))
    qs.append((11, 60.0, 179.95))
    return qs


def _deg_points(spark, sf_dir):
    """Mid-cell degree coordinates derived from the integer grid points —
    the same float-ingestion derivation as q_geocode_float (margins far
    from floor boundaries)."""
    p = _points(spark, sf_dir)
    lat = (F.col("qlat") + 0.5) / 65536.0 * 180.0 - 90.0
    lon = (F.col("qlon") + 0.5) / 65536.0 * 360.0 - 180.0
    return p.select("doc_id", "span_pos", lat.alias("lat"), lon.alias("lon"))


def _geo_queries_df(spark):
    return spark.createDataFrame(
        _geo_queries_py(), "query_id bigint, lat double, lon double")


def q_dwithin_geo(spark, sf_dir):
    """Geodesic radius join: all (point, probe) pairs within 250 km
    great-circle distance, cell-pruned with latitude-aware lon widening +
    exact haversine (rounded to mm so JVM/libm trig agrees)."""
    from tree_code_chunker_spark.operators.spatial import dwithin_geo

    return dwithin_geo(
        _deg_points(spark, sf_dir), _geo_queries_df(spark), GEO_RADIUS_M,
        a_keep=("doc_id", "span_pos"), b_keep=("query_id",),
        broadcast_b=True)


def _geo_sql_parts():
    from tree_code_chunker_spark.operators.geo import EARTH_RADIUS_M

    lat = "((qlat + 0.5) / 65536.0 * 180.0 - 90.0)"
    lon = "((qlon + 0.5) / 65536.0 * 360.0 - 180.0)"
    qvals = ", ".join(f"({i}, {la!r}, {lo!r})"
                      for i, la, lo in _geo_queries_py())
    hav = (f"2.0 * {EARTH_RADIUS_M} * asin(sqrt(LEAST(1.0, "
           "sin(radians(q.lat - p.lat) / 2) * sin(radians(q.lat - p.lat) / 2)"
           " + cos(radians(p.lat)) * cos(radians(q.lat))"
           " * sin(radians(q.lon - p.lon) / 2)"
           " * sin(radians(q.lon - p.lon) / 2))))")
    return lat, lon, qvals, hav


_GLAT, _GLON, _GQVALS, _GHAV = _geo_sql_parts()

SQL_DWITHIN_GEO = f"""
{SPANS_CTE}, {POINTS_SQL},
deg AS (
  SELECT doc_id, span_pos, {_GLAT} AS lat, {_GLON} AS lon FROM points
), qs(query_id, lat, lon) AS (VALUES {_GQVALS})
SELECT p.doc_id, p.span_pos, q.query_id, round({_GHAV}, 3) AS dist_m
FROM deg p CROSS JOIN qs q
WHERE round({_GHAV}, 3) <= {GEO_RADIUS_M}
"""


def q_knn_geo(spark, sf_dir):
    """Radius-bounded geodesic kNN: each probe's 5 nearest points by
    great-circle distance within 250 km (the re-rank planar grids get
    wrong at high latitude)."""
    from tree_code_chunker_spark.operators.spatial import knn_geo

    out = knn_geo(_geo_queries_df(spark), _deg_points(spark, sf_dir),
                  k=5, radius_m=GEO_RADIUS_M)
    return out.select("query_id", "doc_id", "span_pos", "dist_m",
                      F.col("rank").cast("long").alias("rank"))


SQL_KNN_GEO = f"""
{SPANS_CTE}, {POINTS_SQL},
deg AS (
  SELECT doc_id, span_pos, {_GLAT} AS lat, {_GLON} AS lon FROM points
), qs(query_id, lat, lon) AS (VALUES {_GQVALS})
SELECT query_id, doc_id, span_pos, dist_m, rank FROM (
  SELECT q.query_id, p.doc_id, p.span_pos, round({_GHAV}, 3) AS dist_m,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY round({_GHAV}, 3) ASC, p.doc_id ASC, p.span_pos ASC
         ) AS rank
  FROM deg p CROSS JOIN qs q
  WHERE round({_GHAV}, 3) <= {GEO_RADIUS_M}
) WHERE rank <= 5
"""


def q_pip_holes(spark, sf_dir):
    """PIP against donut + multipolygon geometries (`rings` column): the
    hole excludes its interior points, the disjoint second shell includes
    its own — even-odd over every ring's edges, identical in the DuckDB
    mirror's edge VALUES table."""
    from tree_code_chunker_spark.sources.datagen import gen_polygons_holes

    pts = _points(spark, sf_dir)
    polys = gen_polygons_holes(spark, 12, seed=47)
    return pip_join(pts, polys).select("doc_id", "span_pos", "polygon_id")


def _pip_holes_edges_sql() -> str:
    from tree_code_chunker_spark.sources.datagen import polygon_rings_holes

    rows = []
    for pid, rings in polygon_rings_holes(12, seed=47):
        for ring in rings:
            for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
                rows.append(f"('{pid}', {y1}, {x1}, {y2}, {x2})")
    return ("hedges(polygon_id, y1, x1, y2, x2) AS (VALUES "
            + ", ".join(rows) + ")")


SQL_PIP_HOLES = f"""
{SPANS_CTE}, {POINTS_SQL}, {_pip_holes_edges_sql()}
SELECT doc_id, span_pos, polygon_id
FROM (
  SELECT p.doc_id, p.span_pos, e.polygon_id,
         sum(CASE WHEN ((e.y1 > p.qlat) <> (e.y2 > p.qlat))
                   AND ((e.y2 > e.y1 AND
                         (p.qlon - e.x1) * (e.y2 - e.y1)
                           < (p.qlat - e.y1) * (e.x2 - e.x1))
                     OR (e.y2 < e.y1 AND
                         (p.qlon - e.x1) * (e.y2 - e.y1)
                           > (p.qlat - e.y1) * (e.x2 - e.x1)))
                  THEN 1 ELSE 0 END) AS crossings
  FROM points p CROSS JOIN hedges e
  GROUP BY p.doc_id, p.span_pos, e.polygon_id
) WHERE crossings % 2 = 1
"""


POLY_DIST_R = 400


def q_poly_dist(spark, sf_dir):
    """Distance-to-polygon join (nearest-feature matching): every
    (point, polygon) pair within 400 grid units — 0.0 for contained
    points, else min point-to-segment distance (per-edge 6dp rounding
    before the min so both engines tie-break identically)."""
    from tree_code_chunker_spark.operators.pip import polygon_distance_join

    pts = _points(spark, sf_dir)
    polys = gen_polygons(spark, 20, seed=43)
    return polygon_distance_join(pts, polys, POLY_DIST_R)


def _poly_dist_sql(radius: int = POLY_DIST_R) -> str:
    l2 = "((e.x2 - e.x1) * (e.x2 - e.x1) + (e.y2 - e.y1) * (e.y2 - e.y1))"
    tn = ("((p.qlon - e.x1) * (e.x2 - e.x1)"
          " + (p.qlat - e.y1) * (e.y2 - e.y1))")
    d2a = ("((p.qlon - e.x1) * (p.qlon - e.x1)"
           " + (p.qlat - e.y1) * (p.qlat - e.y1))")
    d2b = ("((p.qlon - e.x2) * (p.qlon - e.x2)"
           " + (p.qlat - e.y2) * (p.qlat - e.y2))")
    seg_d2 = f"""CASE
      WHEN {l2} = 0 OR {tn} <= 0 THEN CAST({d2a} AS DOUBLE)
      WHEN {tn} >= {l2} THEN CAST({d2b} AS DOUBLE)
      ELSE {d2a} - CAST({tn} AS DOUBLE) * {tn} / {l2}
    END"""
    crossing = """CASE WHEN ((e.y1 > p.qlat) <> (e.y2 > p.qlat))
         AND ((e.y2 > e.y1 AND
               (p.qlon - e.x1) * (e.y2 - e.y1)
                 < (p.qlat - e.y1) * (e.x2 - e.x1))
           OR (e.y2 < e.y1 AND
               (p.qlon - e.x1) * (e.y2 - e.y1)
                 > (p.qlat - e.y1) * (e.x2 - e.x1)))
        THEN 1 ELSE 0 END"""
    return f"""
{SPANS_CTE}, {POINTS_SQL}, {_pip_raycast_edges_sql()},
agg AS (
  SELECT p.doc_id, p.span_pos, e.polygon_id,
         sum({crossing}) AS crossings,
         min(round({seg_d2}, 6)) AS min_d2
  FROM points p CROSS JOIN edges e
  GROUP BY p.doc_id, p.span_pos, e.polygon_id
)
SELECT doc_id, span_pos, polygon_id, dist FROM (
  SELECT doc_id, span_pos, polygon_id,
         CASE WHEN crossings % 2 = 1 THEN 0.0
              ELSE round(sqrt(greatest(min_d2, 0.0)), 6) END AS dist
  FROM agg
) WHERE dist <= {radius}
"""


SQL_POLY_DIST = _poly_dist_sql()


NEAREST_POLY_R = 1200  # wide enough that points see several candidates


def q_nearest_poly(spark, sf_dir):
    """Nearest-feature assignment: each point's single nearest polygon
    within 1200 grid units — top-1 of the distance join, distance ties
    broken on polygon_id so the assignment is deterministic.  The wide
    radius makes most points see several candidate polygons, so the
    gate actually exercises the argmin."""
    from tree_code_chunker_spark.operators.pip import nearest_polygon

    pts = _points(spark, sf_dir)
    polys = gen_polygons(spark, 20, seed=43)
    return nearest_polygon(pts, polys, NEAREST_POLY_R)


# DuckDB allows a WITH inside a derived table, so the oracle wraps the
# radius-widened poly_dist oracle with a deterministic top-1 window.
SQL_NEAREST_POLY = f"""
SELECT doc_id, span_pos, polygon_id, dist FROM (
  SELECT t.*, row_number() OVER (
           PARTITION BY doc_id, span_pos
           ORDER BY dist ASC, polygon_id ASC) AS _rn
  FROM ({_poly_dist_sql(NEAREST_POLY_R)}) t
) WHERE _rn = 1
"""


MIX_PROPS = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.2}  # fr dropped


def q_mix_lang(spark, sf_dir):
    """Data mixing: downsample the corpus to a target language mixture
    (40/20/20/20 over en/zh/es/de; fr dropped) — the training-mix
    balancing step.  Deterministic: per-language budgets k_g =
    floor(p_g * floor(min n_g/p_g)) and the kept rows are the k_g with
    smallest content-derived sample key.  The oracle derives the SAME
    budgets inside SQL (identical float64 ops on identical literals)."""
    from tree_code_chunker_spark.operators.training import mix_to_proportions

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    return mix_to_proportions(d, "lang", MIX_PROPS)


def _mix_lang_sql() -> str:
    from tree_code_chunker_spark.operators.training import _sample_key_sql

    key = _sample_key_sql("d.doc_id", 42)
    props = ", ".join(f"('{g}', {p!r})"
                      for g, p in sorted(MIX_PROPS.items()))
    return f"""
WITH props(lang, p) AS (VALUES {props}),
cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
tt AS (
  SELECT CAST(min(floor(c.n / pr.p)) AS BIGINT) AS T
  FROM cnt c JOIN props pr USING (lang)
),
lim AS (
  SELECT pr.lang, CAST(floor(pr.p * tt.T) AS BIGINT) AS _k
  FROM props pr CROSS JOIN tt
)
SELECT doc_id, lang, source, n_chars, sample_key FROM (
  SELECT d.doc_id, d.lang, d.source, d.n_chars, {key} AS sample_key,
         row_number() OVER (
           PARTITION BY d.lang ORDER BY {key} ASC, d.doc_id ASC) AS _rn,
         l._k
  FROM documents d JOIN lim l ON d.lang = l.lang
) WHERE _rn <= _k
"""


SQL_MIX_LANG = _mix_lang_sql()


GEO_SELF_RADIUS_M = 2000.0


def q_dwithin_geo_self(spark, sf_dir):
    """Geodesic location near-dup pairs: unordered pairs of distinct
    points within 2 km great-circle distance — hot-box points supply
    genuine dense-cluster pairs, the global background stays sparse."""
    from tree_code_chunker_spark.operators.spatial import dwithin_geo_self

    return dwithin_geo_self(_deg_points(spark, sf_dir), GEO_SELF_RADIUS_M)


SQL_DWITHIN_GEO_SELF = f"""
{SPANS_CTE}, {POINTS_SQL},
deg AS (
  SELECT doc_id, span_pos, {_GLAT} AS lat, {_GLON} AS lon FROM points
)
SELECT p.doc_id, p.span_pos,
       q.doc_id AS b_doc_id, q.span_pos AS b_span_pos,
       round({_GHAV}, 3) AS dist_m
FROM deg p CROSS JOIN deg q
WHERE (p.doc_id < q.doc_id
       OR (p.doc_id = q.doc_id AND p.span_pos < q.span_pos))
  AND round({_GHAV}, 3) <= {GEO_SELF_RADIUS_M}
"""


def q_repetition(spark, sf_dir):
    """Within-document repetition quality signals (Gopher-style duplicated
    n-gram and top-n-gram fractions) per (doc, n) for n in {2, 3}."""
    from tree_code_chunker_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir).select("doc_id", "text"))


def q_hull(spark, sf_dir):
    """Per-doc planar convex hull vertices (monotone chain, exact integer
    turn tests; collinear edge points excluded).  Output is the lex-sorted
    vertex SET + hull size, so the brute-force oracle — p is a vertex iff
    p is not in the convex hull of the doc's other points, checked with
    exact BIGINT cross products over point triples — matches exactly."""
    from tree_code_chunker_spark.operators.spatial import convex_hull

    return convex_hull(_points(spark, sf_dir))


def _hull_sql():
    def cross(a, b, p):
        return (f"(({b}.x - {a}.x) * ({p}.y - {a}.y)"
                f" - ({b}.y - {a}.y) * ({p}.x - {a}.x))")

    d1, d2, d3 = cross("a", "b", "d"), cross("b", "c", "d"), cross("c", "a", "d")
    return f"""
{SPANS_CTE}, {POINTS_SQL}, dpts AS (
  SELECT DISTINCT doc_id, qlat AS y, qlon AS x FROM points
), hull AS (
  -- p is a hull vertex iff p lies in no closed triangle of other points
  -- (c = a degenerates to the segment case; the bbox clause closes the
  -- collinear-triple hole where all cross products vanish)
  SELECT d.doc_id, d.y, d.x FROM dpts d
  WHERE NOT EXISTS (
    SELECT 1 FROM dpts a, dpts b, dpts c
    WHERE a.doc_id = d.doc_id AND b.doc_id = d.doc_id
      AND c.doc_id = d.doc_id
      AND NOT (a.y = d.y AND a.x = d.x)
      AND NOT (b.y = d.y AND b.x = d.x)
      AND NOT (c.y = d.y AND c.x = d.x)
      AND (({d1} >= 0 AND {d2} >= 0 AND {d3} >= 0)
           OR ({d1} <= 0 AND {d2} <= 0 AND {d3} <= 0))
      AND d.x BETWEEN least(a.x, b.x, c.x) AND greatest(a.x, b.x, c.x)
      AND d.y BETWEEN least(a.y, b.y, c.y) AND greatest(a.y, b.y, c.y)
  )
)
SELECT doc_id, y AS qlat, x AS qlon,
       CAST(count(*) OVER (PARTITION BY doc_id) AS INT) AS n_hull
FROM hull
"""


SQL_HULL = _hull_sql()


def q_triangles(spark, sf_dir):
    """Per-node triangle count / clustering coefficient over the spatial
    proximity graph (same edge set as q_pagerank).  Engine side uses
    degree-ordered wedge joins (skew-robust at 10^12 edges); the oracle's
    plain id-ordered triangle join matches because the triangle set is
    orientation-invariant."""
    from tree_code_chunker_spark.operators.graph import triangle_counts
    from tree_code_chunker_spark.operators.spatial import dwithin_join

    pts = _points(spark, sf_dir)
    b = pts.select(F.col("doc_id").alias("b_doc_id"), "qlat", "qlon")
    edges = (
        dwithin_join(pts, b, SELF_RADIUS,
                     a_keep=("doc_id",), b_keep=("b_doc_id",))
        .filter(F.col("doc_id") != F.col("b_doc_id"))
        .select(F.col("doc_id").alias("src"),
                F.col("b_doc_id").alias("dst"))
        .distinct()
    )
    return triangle_counts(edges).select(
        F.col("node").cast("long").alias("node"), "deg", "n_tri", "cc")


def _triangles_sql():
    from tree_code_chunker_spark.operators.graph import triangle_counts_sql

    edges = f"""
tri_edges AS (
  SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS src,
         CAST(b.doc_id AS BIGINT) AS dst
  FROM points a JOIN points b
    ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
   AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
  WHERE a.doc_id != b.doc_id
    AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
        + (a.qlon - b.qlon) * (a.qlon - b.qlon)
        <= {SELF_RADIUS * SELF_RADIUS}
)"""
    return (f"{SPANS_CTE}, {POINTS_SQL}, {edges}, "
            + triangle_counts_sql("tri_edges"))


SQL_TRIANGLES = _triangles_sql()


def q_media_context(spark, sf_dir):
    """(media span -> nearest preceding/following text) caption pairing
    over the interleaved span sequences."""
    from tree_code_chunker_spark.operators.media import media_text_context

    return media_text_context(_spans(spark, sf_dir))


def _media_context_sql():
    from tree_code_chunker_spark.operators.media import (
        media_text_context_sql,
    )

    return f"{SPANS_CTE} {media_text_context_sql('spans')}"


SQL_MEDIA_CONTEXT = _media_context_sql()


def q_hull_diam(spark, sf_dir):
    """Per-doc point-cloud diameter with deterministic witness pair: hull
    reduction first (farthest pair are hull vertices — dist^2 is strictly
    convex along chords, so nothing excluded can tie), then an O(h^2)
    self-join; the oracle brute-forces ALL point pairs and must agree,
    tie-break included."""
    from tree_code_chunker_spark.operators.spatial import hull_diameter

    return hull_diameter(_points(spark, sf_dir)).select(
        F.col("doc_id"), "diam_sq", "y1", "x1", "y2", "x2")


SQL_HULL_DIAM = f"""
{SPANS_CTE}, {POINTS_SQL}, dd_pts AS (
  SELECT DISTINCT doc_id, qlat AS y, qlon AS x FROM points
), dd_pairs AS (
  SELECT a.doc_id,
         {{'diam_sq': (b.y - a.y) * (b.y - a.y)
                      + (b.x - a.x) * (b.x - a.x),
           'y1': a.y, 'x1': a.x, 'y2': b.y, 'x2': b.x}} AS s
  FROM dd_pts a JOIN dd_pts b ON b.doc_id = a.doc_id
  WHERE a.y < b.y OR (a.y = b.y AND a.x <= b.x)
), dd_best AS (
  SELECT doc_id, max(s) AS s FROM dd_pairs GROUP BY doc_id
)
SELECT doc_id, CAST((s).diam_sq AS BIGINT) AS diam_sq,
       (s).y1 AS y1, (s).x1 AS x1, (s).y2 AS y2, (s).x2 AS x2
FROM dd_best
"""


KCORE_K = 33  # splits the proximity graph's two hot cliques: 66 nodes
              # peel, the 34-clique survives (non-trivial at sf0.01)
KCORE_SQL_ROUNDS = 20  # >= observed convergence at gate SFs (engine runs
                       # to fixpoint; stability makes any larger budget equal)


def q_kcore(spark, sf_dir):
    """k-core of the spatial proximity graph: survivors of the
    synchronized peel with their in-core degree."""
    from tree_code_chunker_spark.operators.graph import k_core
    from tree_code_chunker_spark.operators.spatial import dwithin_join

    pts = _points(spark, sf_dir)
    b = pts.select(F.col("doc_id").alias("b_doc_id"), "qlat", "qlon")
    edges = (
        dwithin_join(pts, b, SELF_RADIUS,
                     a_keep=("doc_id",), b_keep=("b_doc_id",))
        .filter(F.col("doc_id") != F.col("b_doc_id"))
        .select(F.col("doc_id").alias("src"),
                F.col("b_doc_id").alias("dst"))
        .distinct()
    )
    return k_core(edges, KCORE_K).select(
        F.col("node").cast("long").alias("node"), "core_deg")


def _kcore_sql():
    from tree_code_chunker_spark.operators.graph import k_core_sql

    edges = f"""
kcore_edges AS (
  SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS src,
         CAST(b.doc_id AS BIGINT) AS dst
  FROM points a JOIN points b
    ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
   AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
  WHERE a.doc_id != b.doc_id
    AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
        + (a.qlon - b.qlon) * (a.qlon - b.qlon)
        <= {SELF_RADIUS * SELF_RADIUS}
)"""
    return (f"{SPANS_CTE}, {POINTS_SQL}, {edges}, "
            + k_core_sql("kcore_edges", KCORE_K, KCORE_SQL_ROUNDS))


SQL_KCORE = _kcore_sql()


def q_contamination(spark, sf_dir):
    """Train-vs-eval n-gram decontamination (the benchmark-leak filter):
    the eval set is derived deterministically from the corpus itself
    (every 17th doc's first 120 characters), so every eval doc's source
    is partially contaminated and the fraction is a real 0<frac<=1."""
    from tree_code_chunker_spark.operators.dedup import contamination_check

    d = _docs(spark, sf_dir).select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eid"),
        F.substring("text", 1, 120).alias("text"))
    out = contamination_check(d, ev, eval_id_col="eid", n=5)
    return out.select(
        F.col("id").cast("long").alias("id"),
        "n_grams", "n_contaminated", "frac", "n_eval_doc_hits")


def _gram5_sql(src: str, idc: str) -> str:
    return f"""SELECT DISTINCT {idc}, array_to_string(ws[i : i + 4], ' ') AS gram
  FROM (
    SELECT {idc}, ws,
           unnest(generate_series(1, greatest(len(ws) - 4, 1))) AS i
    FROM (SELECT {idc}, string_split(text, ' ') AS ws FROM {src})
  )"""


def _repetition_sql():
    from tree_code_chunker_spark.operators.textstats import (
        repetition_stats_sql,
    )

    return repetition_stats_sql("documents")


SQL_REPETITION = _repetition_sql()


SQL_CONTAMINATION = f"""
WITH ev AS (
  SELECT doc_id AS eid, substr(text, 1, 120) AS text
  FROM documents WHERE doc_id % 17 = 0
), cg AS (
  {_gram5_sql("(SELECT doc_id AS id, text FROM documents)", "id")}
), eg AS (
  {_gram5_sql("ev", "eid")}
), es AS (
  SELECT gram, count(DISTINCT eid) AS n_eval_docs_g FROM eg GROUP BY gram
), sizes AS (
  SELECT id, count(*) AS n_grams FROM cg GROUP BY id
), hits AS (
  SELECT id, count(*) AS n_contaminated,
         CAST(sum(n_eval_docs_g) AS BIGINT) AS n_eval_doc_hits
  FROM cg JOIN es USING (gram) GROUP BY id
)
SELECT h.id, s.n_grams, h.n_contaminated,
       round(h.n_contaminated / CAST(s.n_grams AS DOUBLE), 6) AS frac,
       h.n_eval_doc_hits
FROM hits h JOIN sizes s ON s.id = h.id
"""


def q_hll_cells(spark, sf_dir):
    """Per-coarse-cell HLL distinct-doc estimate — the approximate rollup a
    10^12-row hypertable needs (exact count-distinct per cell is a second
    full shuffle; the sketch is one partial-aggregated pass).  Hash, CLZ,
    and register sum are engine-portable integer ops (sketch.py), so the
    DuckDB oracle reproduces the registers bit-for-bit and the estimate to
    the rounded 3 places — an *exactly checkable* approximate operator."""
    from tree_code_chunker_spark.operators.sketch import hll_distinct

    cells = _points(spark, sf_dir).select(
        F.shiftright("qlat", 13).alias("cy"),
        F.shiftright("qlon", 13).alias("cx"),
        "doc_id",
    )
    return hll_distinct(cells, ("cy", "cx"), "doc_id", p=8)


def _hll_sql():
    from tree_code_chunker_spark.operators.sketch import hll_distinct_sql

    return (
        f"{SPANS_CTE}, {POINTS_SQL}, cells AS ("
        "SELECT (qlat >> 13) AS cy, (qlon >> 13) AS cx, doc_id FROM points), "
        + hll_distinct_sql("cells", ("cy", "cx"), "doc_id", p=8)
    )


SQL_HLL_CELLS = _hll_sql()


def q_hll_merge(spark, sf_dir):
    """Sketch REAGGREGATION — the property that makes HLL worth storing at
    10^12 rows: registers built per FINE cell (qlat>>11) are merged up to
    the coarse (>>13) grid by plain per-register max (associative,
    idempotent — replay-safe) and only then estimated.  The oracle computes
    the coarse sketch DIRECTLY from raw points; hash equality proves
    merge(fine) == direct(coarse) bit-for-bit, i.e. rollups never need the
    raw data again (operators/sketch.hll_registers/hll_merge/
    hll_estimate)."""
    from tree_code_chunker_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    fine = _points(spark, sf_dir).select(
        F.shiftright("qlat", 11).alias("fy"),
        F.shiftright("qlon", 11).alias("fx"),
        "doc_id",
    )
    regs = hll_registers(fine, ("fy", "fx"), "doc_id", p=8)
    coarse = regs.select(F.shiftright("fy", 2).alias("cy"),
                         F.shiftright("fx", 2).alias("cx"), "_i", "_m")
    return hll_estimate(hll_merge(coarse, ("cy", "cx")), ("cy", "cx"), p=8)


# merged fine sketches must equal the directly-built coarse sketch — the
# oracle IS the direct form
SQL_HLL_MERGE = SQL_HLL_CELLS


CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_corr(spark, sf_dir):
    """Pearson correlation matrix over the lineitem measures — exact
    decimal moment sums fused into ONE aggregate pass, correlation
    evaluated in a fixed correctly-rounded op order
    (operators/profile.corr_matrix)."""
    from tree_code_chunker_spark.operators.profile import corr_matrix

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return corr_matrix(li, CORR_COLS)


def _corr_sql():
    from tree_code_chunker_spark.operators.profile import corr_matrix_sql

    return "WITH " + corr_matrix_sql("lineitem", CORR_COLS)


SQL_CORR = _corr_sql()


def q_pmi(spark, sf_dir):
    """Top-50 word-bigram collocations by PMI over `documents` — the
    phrase-mining pass; JVM array-transform bigrams, integer counts,
    fixed-op-order ln rounded 6dp, total-order ranking
    (operators/textstats.pmi_collocations)."""
    from tree_code_chunker_spark.operators.textstats import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), "text",
                            min_count=5, topk=50)


def _pmi_sql():
    from tree_code_chunker_spark.operators.textstats import (
        pmi_collocations_sql,
    )

    return "WITH " + pmi_collocations_sql("documents", "text",
                                          min_count=5, topk=50)


SQL_PMI = _pmi_sql()


def q_rollup(spark, sf_dir):
    """Multi-granularity ROLLUP aggregate over events: (event_type,
    user_id bucket) -> totals at every prefix level in ONE pass (Spark's
    Expand feeds a single partial-aggregated shuffle — the OLAP
    subtotal/grand-total surface).  Decimal sums keep every level exact;
    grouping_id disambiguates NULL-as-subtotal from NULL data, and the
    gate output replaces subtotal NULLs with sentinels (see q_asof)."""
    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = (ev.select("event_type",
                     (F.col("user_id") % 10).alias("user_bucket"),
                     F.col("value").cast("decimal(28,6)").alias("v"))
           .rollup("event_type", "user_bucket")
           .agg(F.count("*").alias("n"),
                F.round(F.sum("v").cast("double"), 6).alias("sum_v"),
                F.grouping_id().alias("gid")))
    return out.select(
        F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
        F.coalesce("user_bucket", F.lit(-1)).alias("user_bucket"),
        "n", "sum_v", "gid")


SQL_ROLLUP_EV = """
SELECT coalesce(event_type, '<all>') AS event_type,
       coalesce(user_bucket, -1) AS user_bucket,
       count(*) AS n,
       round(CAST(sum(v) AS DOUBLE), 6) AS sum_v,
       grouping(event_type, user_bucket) AS gid
FROM (
  SELECT event_type, user_id % 10 AS user_bucket,
         CAST(value AS DECIMAL(28,6)) AS v
  FROM events
)
GROUP BY ROLLUP (event_type, user_bucket)
"""


def q_jaccard_pairs(spark, sf_dir):
    """EXACT set-similarity self-join (Jaccard >= 0.7 on distinct-token
    sets) via prefix filtering — the deterministic complement of the
    MinHash-LSH probabilistic path; integer threshold test, brute-force
    oracle (operators/dedup.jaccard_set_join)."""
    docs = _docs(spark, sf_dir)
    toks = F.array_distinct(F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != ""))
    return jaccard_set_join(
        docs.select("doc_id", toks.alias("toks")), "doc_id", "toks", 7, 10)


SQL_JACCARD_PAIRS = """
WITH js AS (
  SELECT doc_id,
         list_distinct(list_filter(
           regexp_split_to_array(lower(trim(text)), '\\s+'),
           x -> x <> '')) AS st
  FROM documents
), jsn AS (
  SELECT doc_id, st FROM js WHERE len(st) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.st, b.st))::BIGINT AS inter_n,
       (len(a.st) + len(b.st)
        - len(list_intersect(a.st, b.st)))::BIGINT AS union_n,
       round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)
             / (len(a.st) + len(b.st) - len(list_intersect(a.st, b.st))),
             6) AS jaccard
FROM jsn a JOIN jsn b ON a.doc_id < b.doc_id
WHERE 10 * len(list_intersect(a.st, b.st))
      >= 7 * (len(a.st) + len(b.st) - len(list_intersect(a.st, b.st)))
"""


def q_edit1(spark, sf_dir):
    """Edit-distance-<=1 self-join over customer names via deletion-
    neighborhood blocking (SymSpell shape) + exact levenshtein verify —
    never all-pairs (operators/dedup.edit1_join)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return edit1_join(cust, "c_custkey", "c_name")


SQL_EDIT1 = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS s_a, b.c_name AS s_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE abs(len(a.c_name) - len(b.c_name)) <= 1
  AND levenshtein(a.c_name, b.c_name) <= 1
"""


def q_cms_cells(spark, sf_dir):
    """Count-min-sketch per-cell point-count estimates, checked against the
    exact counts — (item, n, cms_est) with cms_est >= n always.  All-integer
    construction, so the DuckDB oracle matches EXACTLY (same counters, same
    minima); the sketch itself is one map-side-combined agg to d*w cells and
    the probe is a broadcast join — the bounded-memory histogram shape for a
    10^12-row hypertable."""
    from tree_code_chunker_spark.operators.sketch import cms_build, cms_estimate

    cells = _points(spark, sf_dir).select(
        (F.shiftright("qlat", 10) * F.lit(64)
         + F.shiftright("qlon", 10)).alias("item"))
    sk = cms_build(cells, "item", w=512, d=4)
    truth = cells.groupBy("item").agg(F.count("*").cast("long").alias("n"))
    return cms_estimate(truth, sk, "item", w=512, d=4)


def _cms_sql():
    from tree_code_chunker_spark.operators.sketch import cms_sql

    return (
        f"{SPANS_CTE}, {POINTS_SQL}, cells AS ("
        "SELECT (qlat >> 10) * 64 + (qlon >> 10) AS item FROM points), "
        + cms_sql("cells", "item", w=512, d=4)
    )


SQL_CMS_CELLS = _cms_sql()


def q_bloom_flags(spark, sf_dir):
    """Bloom-filter semi-join prune audit: for every distinct doc in the
    point table, the filter's verdict (bloom_pass) next to exact membership
    (member) against the key set doc_id % 3 == 0.  member => bloom_pass is
    structural; the (bloom_pass AND NOT member) rows are the false-positive
    cost the exact verify join pays.  At corpus scale the broadcast side is
    <= m_bits positions no matter how many keys went in — a bounded-size
    prune in front of the shuffling semi-join."""
    from tree_code_chunker_spark.operators.sketch import bloom_flags

    items = _points(spark, sf_dir).select(
        F.col("doc_id").alias("item")).distinct()
    keys = _docs(spark, sf_dir).filter(F.col("doc_id") % 3 == 0).select("doc_id")
    return bloom_flags(items, "item", keys, "doc_id", m_bits=1024, k=3)


def _bloom_sql():
    from tree_code_chunker_spark.operators.sketch import bloom_flags_sql

    return (
        f"{SPANS_CTE}, {POINTS_SQL}, "
        + bloom_flags_sql(
            "points", "doc_id",
            "(SELECT doc_id FROM documents WHERE doc_id % 3 = 0)", "doc_id",
            m_bits=1024, k=3)
    )


SQL_BLOOM_FLAGS = _bloom_sql()


ASOF_TOL_US = 1_800_000_000  # 30 min


def q_asof(spark, sf_dir):
    """Temporal as-of join — each click picks the latest at-or-before view
    of the same user within 30 min.  Union-tag + ignore-nulls running-last
    window: ONE shuffle on the key, no join node, no range explosion
    (operators/events.asof_join)."""
    from tree_code_chunker_spark.operators.events import asof_join

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", us.alias("ts_us")))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", us.alias("ts_us"),
                     F.col("event_id").alias("view_id")))
    out = asof_join(clicks, views, ["user_id"], "ts_us", "ts_us",
                    tolerance_us=ASOF_TOL_US)
    # no-match -> -1 sentinel: keeps the gate output null-free (nullable
    # bigints round-trip as NaN through pandas on the oracle side)
    return out.select("event_id", "user_id", "ts_us",
                      F.coalesce("r_view_id", F.lit(-1)).alias("view_id"),
                      F.coalesce("r_ts_us_us", F.lit(-1)).alias("view_ts_us"))


SQL_ASOF = f"""
WITH l AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
  WHERE event_type = 'click'
), r AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id AS view_id FROM events
  WHERE event_type = 'view'
), u AS (
  SELECT user_id, ts_us, 1 AS tag, event_id,
         CAST(NULL AS BIGINT) AS view_id, CAST(NULL AS BIGINT) AS rts
  FROM l
  UNION ALL
  SELECT user_id, ts_us, 0 AS tag, NULL, view_id, ts_us FROM r
), m AS (
  SELECT user_id, ts_us, tag, event_id,
         last_value(view_id IGNORE NULLS) OVER w AS m_view,
         last_value(rts IGNORE NULLS) OVER w AS m_rts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, tag, view_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id, ts_us,
       coalesce(CASE WHEN ts_us - m_rts <= {ASOF_TOL_US} THEN m_view END,
                -1) AS view_id,
       coalesce(CASE WHEN ts_us - m_rts <= {ASOF_TOL_US} THEN m_rts END,
                -1) AS view_ts_us
FROM m WHERE tag = 1
"""


FUNNEL_STEPS = ["signup", "click", "purchase"]
FUNNEL_HORIZON_US = 7 * 86400 * 1_000_000


def q_funnel(spark, sf_dir):
    """Ordered-funnel conversion (signup -> click -> purchase within 7
    days of first signup): greedy-earliest per step, one aggregate + one
    key-equi-join per step (operators/events.funnel)."""
    from tree_code_chunker_spark.operators.events import funnel

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = funnel(ev, "user_id", "ts", "event_type", FUNNEL_STEPS,
                 horizon_us=FUNNEL_HORIZON_US)
    # broken-funnel steps -> -1 sentinel (null-free gate output, see q_asof)
    return out.select(
        "user_id",
        *[F.coalesce(f"t{i}_us", F.lit(-1)).alias(f"t{i}_us")
          for i in range(len(FUNNEL_STEPS))],
        "depth")


SQL_FUNNEL = f"""
WITH ev AS (
  SELECT user_id AS k, epoch_us(ts) AS ts_us, event_type AS step FROM events
), base AS (
  SELECT DISTINCT k FROM ev
), s0 AS (
  SELECT k, min(ts_us) AS t0_us FROM ev WHERE step = '{FUNNEL_STEPS[0]}'
  GROUP BY k
), s1 AS (
  SELECT e.k, min(e.ts_us) AS t1_us
  FROM ev e JOIN s0 USING (k)
  WHERE e.step = '{FUNNEL_STEPS[1]}' AND e.ts_us >= s0.t0_us
    AND e.ts_us <= s0.t0_us + {FUNNEL_HORIZON_US}
  GROUP BY e.k
), s2 AS (
  SELECT e.k, min(e.ts_us) AS t2_us
  FROM ev e JOIN s0 USING (k) JOIN s1 USING (k)
  WHERE e.step = '{FUNNEL_STEPS[2]}' AND e.ts_us >= s1.t1_us
    AND e.ts_us <= s0.t0_us + {FUNNEL_HORIZON_US}
  GROUP BY e.k
)
SELECT base.k AS user_id, coalesce(t0_us, -1) AS t0_us,
       coalesce(t1_us, -1) AS t1_us, coalesce(t2_us, -1) AS t2_us,
       (CASE WHEN t0_us IS NULL THEN 0 ELSE 1 END
        + CASE WHEN t1_us IS NULL THEN 0 ELSE 1 END
        + CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END) AS depth
FROM base LEFT JOIN s0 USING (k) LEFT JOIN s1 USING (k) LEFT JOIN s2 USING (k)
"""


ROLLING_WINDOW_US = 3_600_000_000  # trailing 1 h


def q_rolling(spark, sf_dir):
    """Per-event trailing-1h count/sum/mean of `value` per user — RANGE
    window frame, decimal-exact sums (operators/events.rolling_time_agg)."""
    from tree_code_chunker_spark.operators.events import rolling_time_agg

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rolling_time_agg(ev, "user_id", "ts", "value",
                            window_us=ROLLING_WINDOW_US,
                            id_cols=["event_id"])


SQL_ROLLING = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_w,
       round(CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE), 6)
         AS sum_w,
       round(CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
             / count(*) OVER w, 6) AS avg_w
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {ROLLING_WINDOW_US} PRECEDING AND CURRENT ROW)
"""


BM25_QUERIES = [(1, "spark window join"), (2, "fast table scan"),
                (3, "stream batch merge group")]


def q_bm25(spark, sf_dir):
    """BM25 top-10 per keyword query over `documents` — inverted-index
    scoring with decimal-exact order-independent score sums and a
    total-order ranking (operators/rank.bm25_topk)."""
    from tree_code_chunker_spark.operators.rank import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), "doc_id", "text",
                     BM25_QUERIES, topk=10)


def _bm25_sql():
    from tree_code_chunker_spark.operators.rank import bm25_topk_sql

    return bm25_topk_sql("documents", "doc_id", "text", BM25_QUERIES,
                         topk=10)


SQL_BM25 = _bm25_sql()


BFS_MAX_HOPS = 6
BFS_SEED_MOD = 25


def _graph_edges(spark, sf_dir):
    """The spatial proximity graph shared by the graph-analytics gates
    (symmetric directed edges between docs with any span pair within
    SELF_RADIUS)."""
    from tree_code_chunker_spark.operators.spatial import dwithin_join

    pts = _points(spark, sf_dir)
    b = pts.select(F.col("doc_id").alias("b_doc_id"), "qlat", "qlon")
    return (
        dwithin_join(pts, b, SELF_RADIUS,
                     a_keep=("doc_id",), b_keep=("b_doc_id",))
        .filter(F.col("doc_id") != F.col("b_doc_id"))
        .select(F.col("doc_id").alias("src"),
                F.col("b_doc_id").alias("dst"))
        .distinct()
    )


def q_bfs(spark, sf_dir):
    """Multi-source BFS hop distances over the proximity graph from the
    doc_id % {mod} == 0 seed set — level-synchronous frontier expansion,
    one frontier-edges equi-join + one visited anti-join per round
    (operators/graph.bfs_hops); recursive-CTE mirror."""
    from tree_code_chunker_spark.operators.graph import bfs_hops

    seeds = (_points(spark, sf_dir)
             .filter(F.col("doc_id").cast("long") % BFS_SEED_MOD == 0)
             .select(F.col("doc_id").alias("node")).distinct())
    return bfs_hops(_graph_edges(spark, sf_dir), seeds,
                    max_hops=BFS_MAX_HOPS)


def _bfs_sql():
    from tree_code_chunker_spark.operators.graph import bfs_hops_sql

    edges = f"""
bfs_edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM points a JOIN points b
    ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
   AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
  WHERE a.doc_id != b.doc_id
    AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
        + (a.qlon - b.qlon) * (a.qlon - b.qlon)
        <= {SELF_RADIUS * SELF_RADIUS}
), bfs_seeds AS (
  SELECT DISTINCT doc_id AS node FROM points
  WHERE CAST(doc_id AS BIGINT) % {BFS_SEED_MOD} = 0
)"""
    # the recursive member needs RECURSIVE declared on the whole WITH chain
    head = SPANS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    return (f"{head}, {POINTS_SQL}, {edges}, "
            + bfs_hops_sql("bfs_edges", "bfs_seeds", BFS_MAX_HOPS))


SQL_BFS = _bfs_sql()


SSSP_MAX_DIST = 24  # total-distance cap (contract: farther nodes absent)


def _edge_weight_col(src, dst):
    """Deterministic positive integer weight 1..9 for a directed edge —
    the same arithmetic the SQL mirror inlines."""
    return (src.cast("long") * 31 + dst.cast("long") * 17) % 9 + 1


def q_sssp(spark, sf_dir):
    """Multi-seed weighted shortest paths over the proximity graph
    (deterministic integer weights 1..9, distance cap {SSSP_MAX_DIST}) —
    distributed Bellman-Ford with frontier pruning, one frontier-edges
    equi-join + min-agg + improvement join per round
    (operators/graph.sssp); distance-capped recursive-CTE mirror."""
    from tree_code_chunker_spark.operators.graph import sssp

    edges = _graph_edges(spark, sf_dir).select(
        "src", "dst",
        _edge_weight_col(F.col("src"), F.col("dst")).alias("w"))
    seeds = (_points(spark, sf_dir)
             .filter(F.col("doc_id").cast("long") % BFS_SEED_MOD == 0)
             .select(F.col("doc_id").alias("node")).distinct())
    return sssp(edges, seeds, max_dist=SSSP_MAX_DIST)


def _sssp_sql():
    from tree_code_chunker_spark.operators.graph import sssp_sql

    edges = f"""
sssp_edges AS (
  SELECT src, dst,
         (CAST(src AS BIGINT) * 31 + CAST(dst AS BIGINT) * 17) % 9 + 1 AS w
  FROM (
    SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
    FROM points a JOIN points b
      ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
     AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
    WHERE a.doc_id != b.doc_id
      AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
          + (a.qlon - b.qlon) * (a.qlon - b.qlon)
          <= {SELF_RADIUS * SELF_RADIUS}
  )
), sssp_seeds AS (
  SELECT DISTINCT doc_id AS node FROM points
  WHERE CAST(doc_id AS BIGINT) % {BFS_SEED_MOD} = 0
)"""
    head = SPANS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    return (f"{head}, {POINTS_SQL}, {edges}, "
            + sssp_sql("sssp_edges", "sssp_seeds", SSSP_MAX_DIST))


SQL_SSSP = _sssp_sql()


OHLC_BAR_US = 21_600_000_000  # 6 h bars


def q_ohlc(spark, sf_dir):
    """Fixed-interval OHLC downsampling of the event value series per
    user — ONE map-side-combinable hash aggregate; open/close picked by
    struct min/max under the (ts, event_id, value) total order
    (operators/events.ohlc_bars)."""
    from tree_code_chunker_spark.operators.events import ohlc_bars

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ohlc_bars(ev, "user_id", "ts", "value", OHLC_BAR_US,
                     id_col="event_id")


SQL_OHLC = f"""
WITH ohlc_b AS (
  SELECT user_id, epoch_us(ts) AS t, event_id AS i,
         CAST(value AS DECIMAL(28,6)) AS v
  FROM events
), ohlc_g AS (
  SELECT user_id, t // {OHLC_BAR_US} AS bar,
         count(*) AS n,
         min(struct_pack(t := t, i := i, v := v)) AS f,
         max(struct_pack(t := t, i := i, v := v)) AS l,
         max(v) AS hi, min(v) AS lo, sum(v) AS s
  FROM ohlc_b GROUP BY 1, 2
)
SELECT user_id, bar * {OHLC_BAR_US} AS bar_start_us, n,
       round(CAST(f.v AS DOUBLE), 6) AS open,
       round(CAST(hi AS DOUBLE), 6) AS high,
       round(CAST(lo AS DOUBLE), 6) AS low,
       round(CAST(l.v AS DOUBLE), 6) AS close,
       round(CAST(s AS DOUBLE), 6) AS sum_v
FROM ohlc_g
"""


def q_twa(spark, sf_dir):
    """Per-user time-weighted average of `value` (zero-order hold) —
    decimal value x integer-us duration accumulators, single-observation
    fallback to the plain mean (operators/events.time_weighted_avg)."""
    from tree_code_chunker_spark.operators.events import time_weighted_avg

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return time_weighted_avg(ev, "user_id", "ts", "value",
                             id_col="event_id")


SQL_TWA = """
WITH twa_b AS (
  SELECT user_id AS k, epoch_us(ts) AS t, event_id AS i,
         CAST(value AS DECIMAL(28,6)) AS v
  FROM events
), twa_s AS (
  SELECT k, v, lead(t) OVER (PARTITION BY k ORDER BY t, i, v) - t AS dur
  FROM twa_b
), twa_g AS (
  SELECT k, sum(v * dur) AS num, sum(dur) AS den, sum(v) AS vsum,
         count(*) AS n
  FROM twa_s GROUP BY k
)
SELECT k AS user_id, n,
       CASE WHEN den > 0 THEN round(CAST(num AS DOUBLE) / den, 6)
            ELSE round(CAST(vsum AS DOUBLE) / n, 6) END AS twa
FROM twa_g
"""


RETENTION_ANCHOR = "signup"
RETENTION_MAX_DAYS = 30


def q_retention(spark, sf_dir):
    """Cohort retention matrix: users cohorted by first-signup day, distinct
    active users per (cohort_day, day_offset) — integer day arithmetic
    (operators/events.retention_matrix)."""
    from tree_code_chunker_spark.operators.events import retention_matrix

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_matrix(ev, "user_id", "ts", "event_type",
                            RETENTION_ANCHOR,
                            max_offset_days=RETENTION_MAX_DAYS)


SQL_RETENTION = f"""
WITH ret_ev AS (
  SELECT user_id AS k, epoch_us(ts) AS ts_us, event_type AS step FROM events
), ret_cohort AS (
  SELECT k, min(ts_us) // 86400000000 AS cohort_day FROM ret_ev
  WHERE step = '{RETENTION_ANCHOR}' GROUP BY k
)
SELECT cohort_day,
       (ts_us // 86400000000) - cohort_day AS day_offset,
       count(DISTINCT k) AS n_users
FROM ret_ev JOIN ret_cohort USING (k)
WHERE (ts_us // 86400000000) - cohort_day BETWEEN 0 AND {RETENTION_MAX_DAYS}
GROUP BY 1, 2
"""


# ------------------------------------------------- round-6 gate queries ----
# The 14 previously pytest-only §2.12 operators (VERDICT r5 item #1), plus a
# z-layout write->read-back entry and a streaming foreachBatch-output entry
# (VERDICT items #3 and #5).

_PTS_T_SQL = f"""pts AS (
  SELECT doc_id, span_pos, qlat, qlon,
         (CAST(doc_id AS BIGINT) * 7919 + span_pos * 131) % 86400 AS t_s
  FROM points
)"""


def _pts_t(spark, sf_dir):
    """Points + the same derived integer day-clock q_st_contacts uses."""
    return _points(spark, sf_dir).withColumn(
        "t_s",
        (F.col("doc_id").cast("long") * 7919 + F.col("span_pos") * 131)
        % 86400,
    )


def q_st_colocate_ab(spark, sf_dir):
    """Two-sided spatiotemporal co-location join (A = all points, B = the
    doc_id %% 5 == 0 subset, coordinate/time-shifted): every (a, b) pair
    within SELF_RADIUS grid units and ST_DT seconds, one row per pair, no
    pair-order canonicalization (operators/spatial.st_colocate_ab).  The
    oracle brute-forces with a BETWEEN prune."""
    from tree_code_chunker_spark.operators.spatial import st_colocate_ab

    a = _pts_t(spark, sf_dir)
    b = (a.filter(F.col("doc_id").cast("long") % 5 == 0)
         .select(F.col("doc_id").alias("b_doc_id"),
                 F.col("span_pos").alias("b_span_pos"),
                 F.least(F.lit(GRID_MAX), F.col("qlat") + 31).alias("qlat"),
                 F.greatest(F.lit(0), F.col("qlon") - 17).alias("qlon"),
                 (F.col("t_s") + 500).alias("t_s")))
    return st_colocate_ab(a, b, SELF_RADIUS, ST_DT)


SQL_ST_COLOCATE_AB = f"""
{SPANS_CTE}, {POINTS_SQL}, {_PTS_T_SQL},
bpts AS (
  SELECT doc_id AS b_doc_id, span_pos AS b_span_pos,
         LEAST({GRID_MAX}, qlat + 31) AS qlat,
         GREATEST(0, qlon - 17) AS qlon,
         t_s + 500 AS t_s
  FROM pts WHERE CAST(doc_id AS BIGINT) % 5 = 0
)
SELECT a.doc_id, a.span_pos, b.b_doc_id, b.b_span_pos,
       (a.qlat - b.qlat) * (a.qlat - b.qlat)
       + (a.qlon - b.qlon) * (a.qlon - b.qlon) AS d2,
       abs(a.t_s - b.t_s) AS dt_s
FROM pts a JOIN bpts b
  ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
 AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
WHERE (a.qlat - b.qlat) * (a.qlat - b.qlat)
      + (a.qlon - b.qlon) * (a.qlon - b.qlon)
      <= {SELF_RADIUS * SELF_RADIUS}
  AND abs(a.t_s - b.t_s) <= {ST_DT}
"""


def q_st_colocate_anti(spark, sf_dir):
    """Spatiotemporal isolation: the A points with NO space-time contact in
    the (doc_id %% 11 == 0, shifted) beacon set B — full A rows out
    (operators/spatial.st_colocate_anti); NOT-EXISTS oracle."""
    from tree_code_chunker_spark.operators.spatial import st_colocate_anti

    a = _pts_t(spark, sf_dir)
    b = (a.filter(F.col("doc_id").cast("long") % 11 == 0)
         .select(F.least(F.lit(GRID_MAX), F.col("qlat") + 25).alias("qlat"),
                 F.greatest(F.lit(0), F.col("qlon") - 13).alias("qlon"),
                 (F.col("t_s") + 200).alias("t_s")))
    return st_colocate_anti(a, b, SELF_RADIUS, ST_DT)


SQL_ST_COLOCATE_ANTI = f"""
{SPANS_CTE}, {POINTS_SQL}, {_PTS_T_SQL},
anti_b AS (
  SELECT LEAST({GRID_MAX}, qlat + 25) AS qlat,
         GREATEST(0, qlon - 13) AS qlon,
         t_s + 200 AS t_s
  FROM pts WHERE CAST(doc_id AS BIGINT) % 11 = 0
)
SELECT a.doc_id, a.span_pos, a.qlat, a.qlon, a.t_s
FROM pts a WHERE NOT EXISTS (
  SELECT 1 FROM anti_b b
  WHERE b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
    AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
    AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
        + (a.qlon - b.qlon) * (a.qlon - b.qlon)
        <= {SELF_RADIUS * SELF_RADIUS}
    AND abs(a.t_s - b.t_s) <= {ST_DT}
)
"""


RDP_EPS = 150


def q_rdp_simplify(spark, sf_dir):
    """Per-doc Ramer-Douglas-Peucker polyline simplification at epsilon
    {RDP_EPS} grid units — integer-exact cross^2 > eps^2*chord^2 splits
    (operators/spatial.rdp_simplify).  Oracle: the SAME recursive split as
    a DuckDB recursive CTE over list-packed trajectories with HUGEINT
    arithmetic (cross^2 exceeds int64 on the 16-bit grid)."""
    from tree_code_chunker_spark.operators.spatial import rdp_simplify

    return rdp_simplify(_points(spark, sf_dir), RDP_EPS)


def _rdp_sql() -> str:
    eps2 = RDP_EPS * RDP_EPS
    head = SPANS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    return f"""
{head}, {POINTS_SQL},
rdp_tr AS (
  SELECT doc_id,
         list({{'p': span_pos, 'y': qlat, 'x': qlon}} ORDER BY span_pos)
           AS pts
  FROM points GROUP BY doc_id
),
rdp_segs(doc_id, i, j) AS (
  SELECT doc_id, 1, len(pts) FROM rdp_tr WHERE len(pts) > 1
  UNION ALL
  SELECT q.doc_id, u.a, u.b FROM (
    SELECT g.doc_id, g.i, g.j, g.bk FROM (
      SELECT s0.doc_id, s0.i, s0.j,
             CASE WHEN list_max(s0.nums) > s0.thresh
                  THEN s0.i + list_position(s0.nums, list_max(s0.nums))
             END AS bk
      FROM (
        SELECT s1.doc_id, s1.i, s1.j,
               CASE WHEN s1.chord2 = 0 THEN CAST({eps2} AS HUGEINT)
                    ELSE CAST({eps2} AS HUGEINT) * s1.chord2 END AS thresh,
               list_transform(generate_series(s1.i + 1, s1.j - 1), k ->
                 CASE WHEN s1.chord2 = 0
                      THEN CAST(s1.pts[k].y - s1.ay AS HUGEINT)
                           * CAST(s1.pts[k].y - s1.ay AS HUGEINT)
                           + CAST(s1.pts[k].x - s1.ax AS HUGEINT)
                           * CAST(s1.pts[k].x - s1.ax AS HUGEINT)
                      ELSE (CAST(s1.dx AS HUGEINT) * (s1.pts[k].y - s1.ay)
                            - CAST(s1.dy AS HUGEINT) * (s1.pts[k].x - s1.ax))
                           * (CAST(s1.dx AS HUGEINT) * (s1.pts[k].y - s1.ay)
                              - CAST(s1.dy AS HUGEINT) * (s1.pts[k].x - s1.ax))
                 END) AS nums
        FROM (
          SELECT s.doc_id, s.i, s.j, t.pts,
                 t.pts[s.i].y AS ay, t.pts[s.i].x AS ax,
                 t.pts[s.j].y - t.pts[s.i].y AS dy,
                 t.pts[s.j].x - t.pts[s.i].x AS dx,
                 CAST(t.pts[s.j].y - t.pts[s.i].y AS HUGEINT)
                 * CAST(t.pts[s.j].y - t.pts[s.i].y AS HUGEINT)
                 + CAST(t.pts[s.j].x - t.pts[s.i].x AS HUGEINT)
                 * CAST(t.pts[s.j].x - t.pts[s.i].x AS HUGEINT) AS chord2
          FROM rdp_segs s JOIN rdp_tr t USING (doc_id)
          WHERE s.j - s.i >= 2
        ) s1
      ) s0
    ) g WHERE g.bk IS NOT NULL
  ) q, UNNEST([{{'a': q.i, 'b': q.bk}}, {{'a': q.bk, 'b': q.j}}]) AS t(u)
),
rdp_keep AS (
  SELECT DISTINCT doc_id, idx FROM (
    SELECT doc_id, i AS idx FROM rdp_segs
    UNION ALL SELECT doc_id, j FROM rdp_segs
    UNION ALL SELECT doc_id, 1 FROM rdp_tr
    UNION ALL SELECT doc_id, len(pts) FROM rdp_tr
  )
)
SELECT k.doc_id,
       CAST(t.pts[k.idx].p AS BIGINT) AS span_pos,
       CAST(t.pts[k.idx].y AS BIGINT) AS qlat,
       CAST(t.pts[k.idx].x AS BIGINT) AS qlon
FROM rdp_keep k JOIN rdp_tr t USING (doc_id)
"""


SQL_RDP_SIMPLIFY = _rdp_sql()


DWELL_GAP_S = 3600


def q_dwell_time(spark, sf_dir):
    """Geofence dwell visits: per (doc, rectangle) maximal runs of in-zone
    pings with inter-ping gap <= {DWELL_GAP_S}s on the derived day-clock —
    pip_join + lag-flag-cumsum sessionization (operators/spatial.dwell_time);
    rectangle-range + window oracle."""
    from tree_code_chunker_spark.operators.spatial import dwell_time

    return dwell_time(_pts_t(spark, sf_dir), _rect_polygons(spark),
                      id_col="doc_id", ts_col="t_s", gap_s=DWELL_GAP_S)


SQL_DWELL_TIME = f"""
{SPANS_CTE}, {POINTS_SQL}, {_PTS_T_SQL}, {RECTS_SQL},
dw_in AS (
  SELECT doc_id, polygon_id, t_s
  FROM pts JOIN rects
    ON qlat >= y0 AND qlat < y1 AND qlon >= x0 AND qlon < x1
), dw_f AS (
  SELECT doc_id, polygon_id, t_s,
         CASE WHEN t_s - LAG(t_s) OVER w > {DWELL_GAP_S} THEN 1 ELSE 0 END
           AS nv
  FROM dw_in WINDOW w AS (PARTITION BY doc_id, polygon_id ORDER BY t_s)
), dw_v AS (
  SELECT doc_id, polygon_id, t_s,
         CAST(SUM(nv) OVER (PARTITION BY doc_id, polygon_id ORDER BY t_s
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS visit
  FROM dw_f
)
SELECT doc_id, polygon_id, visit,
       min(t_s) AS t_enter, max(t_s) AS t_exit,
       count(*) AS n_pings, max(t_s) - min(t_s) AS dwell_s
FROM dw_v GROUP BY doc_id, polygon_id, visit
"""


def q_zonal_mode(spark, sf_dir):
    """Majority categorical value per polygon (zonal mode with the
    largest-value deterministic tie-break, operators/spatial.zonal_mode)
    over a derived 11-way category; window-pick oracle with the same
    (count, value) total order."""
    from tree_code_chunker_spark.operators.spatial import zonal_mode

    pts = _points(spark, sf_dir).withColumn(
        "cat", (F.col("qlat") * 7 + F.col("qlon") * 3) % 11)
    return zonal_mode(pts, _rect_polygons(spark), value="cat")


SQL_ZONAL_MODE = f"""
{SPANS_CTE}, {POINTS_SQL}, {RECTS_SQL},
zm_m AS (
  SELECT polygon_id, (qlat * 7 + qlon * 3) % 11 AS v
  FROM points JOIN rects
    ON qlat >= y0 AND qlat < y1 AND qlon >= x0 AND qlon < x1
), zm_pv AS (
  SELECT polygon_id, v, count(*) AS n FROM zm_m GROUP BY 1, 2
)
SELECT polygon_id, v AS mode_value,
       CAST(mc AS BIGINT) AS mode_count, CAST(np AS BIGINT) AS n_points
FROM (
  SELECT polygon_id, v, n,
         row_number() OVER (PARTITION BY polygon_id
                            ORDER BY n DESC, v DESC) AS rk,
         max(n) OVER (PARTITION BY polygon_id) AS mc,
         sum(n) OVER (PARTITION BY polygon_id) AS np
  FROM zm_pv
) WHERE rk = 1
"""


DAY_US = 86_400_000_000
RS_STEP_US = 7_200_000_000  # 2 h grid


def q_resample_ffill(spark, sf_dir):
    """Regular-grid resample + forward fill over the derived day-clock
    (epoch_us %% day): one output row per (user, 2h instant) carrying the
    latest event at-or-before it — the zero-join union-tag as-of plan
    (operators/events.resample_ffill); grid bounds are compile-time
    constants so the oracle generates the identical grid."""
    from tree_code_chunker_spark.operators.events import resample_ffill

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    r = ev.select("user_id", (us % DAY_US).alias("tu"), "event_id",
                  F.col("value").alias("v"))
    out = resample_ffill(r, ["user_id"], "tu", 0, DAY_US - 1, RS_STEP_US)
    return out.select(
        "user_id", "t",
        F.coalesce("r_event_id", F.lit(-1)).alias("ev_id"),
        F.coalesce("r_v", F.lit(-1.0)).alias("val"),
        F.coalesce("r_tu", F.lit(-1)).alias("src_t"))


SQL_RESAMPLE_FFILL = f"""
WITH rf_r AS (
  SELECT user_id, epoch_us(ts) % {DAY_US} AS tu, event_id, value AS v
  FROM events
), rf_grid AS (
  SELECT user_id, unnest(generate_series(0, {DAY_US - 1}, {RS_STEP_US}))
    AS t
  FROM (SELECT DISTINCT user_id FROM rf_r)
), rf_u AS (
  SELECT user_id, t AS ts_o, 1 AS tag, t,
         CAST(NULL AS BIGINT) AS tu, CAST(NULL AS BIGINT) AS event_id,
         CAST(NULL AS DOUBLE) AS v
  FROM rf_grid
  UNION ALL
  SELECT user_id, tu AS ts_o, 0 AS tag, NULL, tu, event_id, v FROM rf_r
), rf_m AS (
  SELECT user_id, tag, t,
         last_value(tu IGNORE NULLS) OVER w AS m_tu,
         last_value(event_id IGNORE NULLS) OVER w AS m_eid,
         last_value(v IGNORE NULLS) OVER w AS m_v
  FROM rf_u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_o, tag, tu, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, t, coalesce(m_eid, -1) AS ev_id,
       coalesce(m_v, -1.0) AS val, coalesce(m_tu, -1) AS src_t
FROM rf_m WHERE tag = 1
"""


ZS_WIN_US = 3 * 3_600_000_000  # trailing 3 h, point excluded
ZS_K = 2.0
ZS_MINPTS = 5


def q_rolling_zscore(spark, sf_dir):
    """Trailing-window z-score anomaly flags per user over the event value
    series — strictly-earlier RANGE frame, integer micro-unit moments
    (cancellation-proof), |z| > {ZS_K} with >= {ZS_MINPTS} baseline points
    (operators/events.rolling_zscore); HUGEINT-exact DuckDB mirror."""
    from tree_code_chunker_spark.operators.events import rolling_zscore

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = rolling_zscore(ev, "user_id", "ts", "value", window_us=ZS_WIN_US,
                         k_sigma=ZS_K, min_points=ZS_MINPTS,
                         id_cols=["event_id"])
    return out.select(
        "event_id", "user_id", "ts_us", F.round("v", 6).alias("v"), "n_w",
        F.round(F.coalesce("mean_w", F.lit(-1.0)), 6).alias("mean_w"),
        F.round(F.coalesce("z", F.lit(-999.0)), 6).alias("z"),
        "is_anomaly")


SQL_ROLLING_ZSCORE = f"""
WITH zs_b AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS v,
         CAST(round(value * 1e6, 0) AS HUGEINT) AS vi
  FROM events
), zs_w AS (
  SELECT event_id, user_id, ts_us, v,
         count(vi) OVER fr AS n_w,
         sum(vi) OVER fr AS s1,
         sum(vi * vi) OVER fr AS s2
  FROM zs_b
  WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us
                RANGE BETWEEN {ZS_WIN_US} PRECEDING AND 1 PRECEDING)
), zs_c AS (
  SELECT *,
         (CAST(s1 AS DOUBLE) / 1e6) / n_w AS mean0,
         (CAST(s2 * n_w - s1 * s1 AS DOUBLE) * 1e-12) / (n_w * n_w) AS var0
  FROM zs_w
)
SELECT event_id, user_id, ts_us, round(v, 6) AS v,
       CAST(n_w AS BIGINT) AS n_w,
       round(coalesce(mean0, -1.0), 6) AS mean_w,
       round(coalesce(CASE WHEN var0 > 0 THEN (v - mean0) / sqrt(var0) END,
                      -999.0), 6) AS z,
       coalesce(abs(CASE WHEN var0 > 0 THEN (v - mean0) / sqrt(var0) END)
                  > {ZS_K} AND n_w >= {ZS_MINPTS}, FALSE) AS is_anomaly
FROM zs_c
"""


LP_ITERS = 4


def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation communities over the
    spatial proximity graph, {LP_ITERS} sweeps, smallest-label tie-break
    (operators/graph.label_propagation); chained-CTE mirror."""
    from tree_code_chunker_spark.operators.graph import label_propagation

    return label_propagation(_graph_edges(spark, sf_dir), iters=LP_ITERS)


def _label_propagation_sql():
    from tree_code_chunker_spark.operators.graph import label_propagation_sql

    edges = f"""
lp_edges AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM points a JOIN points b
    ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
   AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
  WHERE a.doc_id != b.doc_id
    AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
        + (a.qlon - b.qlon) * (a.qlon - b.qlon)
        <= {SELF_RADIUS * SELF_RADIUS}
)"""
    return (f"{SPANS_CTE}, {POINTS_SQL}, {edges}, "
            + label_propagation_sql("lp_edges", LP_ITERS))


SQL_LABEL_PROPAGATION = _label_propagation_sql()


PRW_ITERS = 4


def q_pagerank_weighted(spark, sf_dir):
    """Weighted PageRank over the proximity graph (deterministic integer
    weights 1..9): per-edge contribution proportional to weight, integer
    fixed point, bit-exact at any parallelism
    (operators/graph.pagerank_weighted); chained-CTE mirror."""
    from tree_code_chunker_spark.operators.graph import pagerank_weighted

    edges = _graph_edges(spark, sf_dir).select(
        "src", "dst",
        _edge_weight_col(F.col("src"), F.col("dst")).alias("w"))
    return pagerank_weighted(edges, iters=PRW_ITERS)


def _pagerank_weighted_sql():
    from tree_code_chunker_spark.operators.graph import pagerank_weighted_sql

    edges = f"""
prw_edges AS MATERIALIZED (
  SELECT src, dst,
         (CAST(src AS BIGINT) * 31 + CAST(dst AS BIGINT) * 17) % 9 + 1 AS w
  FROM (
    SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
    FROM points a JOIN points b
      ON b.qlat BETWEEN a.qlat - {SELF_RADIUS} AND a.qlat + {SELF_RADIUS}
     AND b.qlon BETWEEN a.qlon - {SELF_RADIUS} AND a.qlon + {SELF_RADIUS}
    WHERE a.doc_id != b.doc_id
      AND (a.qlat - b.qlat) * (a.qlat - b.qlat)
          + (a.qlon - b.qlon) * (a.qlon - b.qlon)
          <= {SELF_RADIUS * SELF_RADIUS}
  )
)"""
    return (f"{SPANS_CTE}, {POINTS_SQL}, {edges}, "
            + pagerank_weighted_sql("prw_edges", iters=PRW_ITERS))


SQL_PAGERANK_WEIGHTED = _pagerank_weighted_sql()


SWK_K = 200
SWKB_K = 40


def _swk_weight_sql() -> str:
    return f"({quality_score_sql('text')}) + 0.1"


def q_sample_weighted_k(spark, sf_dir):
    """EXACTLY-{SWK_K} weighted sampling without replacement (Efraimidis-
    Spirakis exponential keys, weight = quality + 0.1 > 0) — TakeOrdered
    top-k, no global sort (operators/training.sample_weighted_k)."""
    from tree_code_chunker_spark.operators.training import sample_weighted_k

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (quality_score_col(F.col("text")) + 0.1).alias("w"))
    return sample_weighted_k(d, SWK_K, "w")


def _swk_sql(limit_clause: str) -> str:
    from tree_code_chunker_spark.operators.training import (
        POLY_MOD,
        _sample_key_sql,
    )

    key = _sample_key_sql("doc_id", 42)
    return f"""
WITH swk_d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_swk_weight_sql()} AS w
  FROM documents
), swk_e AS (
  SELECT *, round(-ln(({key} + 1.0) / {float(POLY_MOD) + 1.0!r}) / w, 9)
    AS es_key
  FROM swk_d
)
{limit_clause}
"""


SQL_SAMPLE_WEIGHTED_K = _swk_sql(
    f"SELECT doc_id, w, es_key FROM swk_e "
    f"ORDER BY es_key ASC, doc_id ASC LIMIT {SWK_K}")


def q_sample_weighted_k_by(spark, sf_dir):
    """Per-group exactly-{SWKB_K} weighted sampling (groups = doc_id %% 5):
    the same Efraimidis-Spirakis keys through a map-side WindowGroupLimit
    (operators/training.sample_weighted_k_by)."""
    from tree_code_chunker_spark.operators.training import (
        sample_weighted_k_by,
    )

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id").cast("long") % 5).alias("grp"),
        (quality_score_col(F.col("text")) + 0.1).alias("w"))
    return sample_weighted_k_by(d, ("grp",), SWKB_K, "w")


def _swkb_sql() -> str:
    from tree_code_chunker_spark.operators.training import (
        POLY_MOD,
        _sample_key_sql,
    )

    key = _sample_key_sql("doc_id", 42)
    return f"""
WITH swk_d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id AS BIGINT) % 5 AS grp,
         {_swk_weight_sql()} AS w
  FROM documents
), swk_e AS (
  SELECT *, round(-ln(({key} + 1.0) / {float(POLY_MOD) + 1.0!r}) / w, 9)
    AS es_key
  FROM swk_d
)
SELECT doc_id, grp, w, es_key FROM (
  SELECT *, row_number() OVER (PARTITION BY grp
                               ORDER BY es_key ASC, doc_id ASC) AS _rk
  FROM swk_e
) WHERE _rk <= {SWKB_K}
"""


SQL_SAMPLE_WEIGHTED_K_BY = _swkb_sql()


GQA_ACCURACY = 100_000  # rank error n/accuracy < 1 at every gate SF -> the
# GK sketch's answer IS the exact order statistic at rank ceil(q*n)
# (convention verified empirically against Spark across n in 5..1000)


def q_group_quantiles_approx(spark, sf_dir):
    """Bounded-memory per-group quantiles (percentile_approx / Greenwald-
    Khanna) — the scale twin of group_quantiles; at accuracy {GQA_ACCURACY}
    the rank error bound is < 1 row at gate scale, so the oracle picks the
    exact order statistic at rank max(1, ceil(q*n))
    (operators/profile.group_quantiles_approx)."""
    from tree_code_chunker_spark.operators.profile import (
        group_quantiles_approx,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return group_quantiles_approx(ev, "event_type", "value",
                                  accuracy=GQA_ACCURACY)


def _gqa_pick(q: float, label: str) -> str:
    return (f"max(CASE WHEN rn = GREATEST(1, CAST(ceil({q} * n) AS BIGINT))"
            f" THEN v END) AS {label}")


SQL_GROUP_QUANTILES_APPROX = f"""
WITH gqa_g AS (
  SELECT event_type AS key, value AS v FROM events
), gqa_s AS (
  SELECT key, v,
         row_number() OVER (PARTITION BY key ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY key) AS n,
         round(avg(v) OVER (PARTITION BY key), 6) AS mean_v
  FROM gqa_g
)
SELECT key, n, mean_v,
       {_gqa_pick(0.25, 'p25')},
       {_gqa_pick(0.5, 'p50')},
       {_gqa_pick(0.75, 'p75')},
       {_gqa_pick(0.9, 'p90')}
FROM gqa_s GROUP BY key, n, mean_v
"""


def q_media_phash(spark, sf_dir):
    """Perceptual average-hash per media blob (bit i set iff feature[i]
    exceeds the vector's own mean) over the deterministic stub decoder —
    all comparisons exact (20-bit fractions, power-of-two mean divisor)
    so the formula-oracle matches bit-for-bit
    (operators/media.media_phash)."""
    from tree_code_chunker_spark.operators.media import (
        media_phash,
        synth_media,
    )

    refs = _spans(spark, sf_dir).filter(F.col("kind") == "media") \
        .select("media_ref").distinct()
    ph = media_phash(synth_media(spark, refs))
    return ph.select("media_ref", "kind", "ok",
                     F.coalesce("phash", F.lit(-1)).alias("phash"))


_MEDIA_PH_CTE = f"""mp_feat AS (
  SELECT media_ref, {_MEDIA_META['kind']} AS kind,
         list_transform(generate_series(0, {FEATURE_DIM - 1}),
           i -> ((h * {FEAT_MULT} + i * {FEAT_STEP})
                 % {1 << FEAT_FRAC_BITS})
                / {float(1 << FEAT_FRAC_BITS)}) AS f
  FROM hashed
), mp_ph AS (
  SELECT media_ref, kind,
         CAST(list_aggregate(
           list_transform(generate_series(1, {FEATURE_DIM}), i ->
             CASE WHEN f[i] > list_aggregate(f, 'sum') / {FEATURE_DIM}
                  THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
           'sum') AS BIGINT) AS phash
  FROM mp_feat
)"""

SQL_MEDIA_PHASH = f"""
{SPANS_CTE}, {_MEDIA_HASHED}, {_MEDIA_PH_CTE}
SELECT media_ref, kind, TRUE AS ok, phash FROM mp_ph
"""


MEDIA_HAM = 3


def q_media_near_dup_pairs(spark, sf_dir):
    """Banded perceptual near-duplicate media pairs (pigeonhole bit-band
    equi-join + exact bit_count verify, hamming <= {MEDIA_HAM}) — the text
    SimHash dedup shape applied to media
    (operators/media.media_near_dup_pairs); brute-force hamming oracle."""
    from tree_code_chunker_spark.operators.media import (
        media_near_dup_pairs,
        synth_media,
    )

    refs = _spans(spark, sf_dir).filter(F.col("kind") == "media") \
        .select("media_ref").distinct()
    out = media_near_dup_pairs(synth_media(spark, refs),
                               max_hamming=MEDIA_HAM)
    return out.select("mid", "b_mid",
                      F.col("hamming").cast("long").alias("hamming"))


SQL_MEDIA_NEAR_DUP = f"""
{SPANS_CTE}, {_MEDIA_HASHED}, {_MEDIA_PH_CTE}
SELECT a.media_ref AS mid, b.media_ref AS b_mid,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM mp_ph a JOIN mp_ph b ON a.media_ref < b.media_ref
WHERE bit_count(xor(a.phash, b.phash)) <= {MEDIA_HAM}
"""


LAYOUT_BBOX = (20000, 26000, 38000, 46000)  # y0, y1, x0, x1 (half-open)


def q_layout_scan(spark, sf_dir):
    """Z-order layout write -> read-back bbox scan: the corpus is
    z-clustered across 16 files (operators/tiles.layout_by_cell), written
    to parquet, re-read and bbox-filtered — pins that the layout job is
    row-lossless and the laid-out table answers range scans exactly (the
    file-SKIP effect is pinned separately by tests/test_layout.py and the
    layout bench stage)."""
    import tempfile

    from tree_code_chunker_spark.operators.tiles import layout_by_cell

    y0, y1, x0, x1 = LAYOUT_BBOX
    path = _gate_tmpdir("zlayout_gate_")
    layout_by_cell(_points(spark, sf_dir), n_files=16) \
        .write.mode("overwrite").parquet(path)
    t = spark.read.parquet(path)
    return t.filter(
        (F.col("qlat") >= y0) & (F.col("qlat") < y1)
        & (F.col("qlon") >= x0) & (F.col("qlon") < x1))


SQL_LAYOUT_SCAN = f"""
{SPANS_CTE}, {POINTS_SQL}
SELECT doc_id, span_pos, qlat, qlon FROM points
WHERE qlat >= {LAYOUT_BBOX[0]} AND qlat < {LAYOUT_BBOX[1]}
  AND qlon >= {LAYOUT_BBOX[2]} AND qlon < {LAYOUT_BBOX[3]}
"""


def q_stream_dedup(spark, sf_dir):
    """STREAMING-OUTPUT gate path: the corpus split into two files feeds a
    foreachBatch incremental-dedup stream (availableNow, one file per
    micro-batch) that joins each batch against the persisted band index and
    appends to it (streaming/windows.run_stream_dedup_increment); the gate
    reads the parquet the stream wrote.  The oracle is the full-corpus
    MinHash-LSH recompute — the stream==batch==full-recompute invariant."""
    import tempfile

    from tree_code_chunker_spark.streaming.windows import (
        run_stream_dedup_increment,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = _gate_tmpdir("stream_dedup_gate_")
    src = base + "/in"
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src + "/f1")
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src + "/f2")
    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = run_stream_dedup_increment(stream, base + "/idx", base + "/out",
                                   base + "/ckpt")
    if not q.awaitTermination(600):
        # a timed-out availableNow stream would leave a PARTIAL output
        # directory and read as a spurious oracle mismatch — fail loudly
        # instead (advisor finding, r7)
        raise RuntimeError("stream_dedup gate stream timed out after 600s")
    return (spark.read.parquet(base + "/out")
            .drop("_batch_id").distinct())


SQL_STREAM_DEDUP = "WITH " + _minhash_ctes() + _MINHASH_PAIRS_SELECT


def q_resample_interp(spark, sf_dir):
    """Regular-grid resample + LINEAR interpolation over the derived
    day-clock: one row per (user, 2h instant), the value interpolated
    between the bracketing events — resample_ffill's companion for
    continuous signals, the same zero-join union-tag plan evaluated in
    both directions over ONE sort (operators/events.resample_interp)."""
    from tree_code_chunker_spark.operators.events import resample_interp

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    r = ev.select("user_id", (us % DAY_US).alias("tu"),
                  F.col("value").alias("v"))
    out = resample_interp(r, ["user_id"], "tu", "v",
                          0, DAY_US - 1, RS_STEP_US)
    return out.select(
        "user_id", "t",
        F.coalesce(F.round("v", 6), F.lit(-1.0)).alias("val"),
        F.coalesce("t_prev", F.lit(-1)).alias("src_prev"),
        F.coalesce("t_next", F.lit(-1)).alias("src_next"))


SQL_RESAMPLE_INTERP = f"""
WITH ri_r AS (
  SELECT user_id, epoch_us(ts) % {DAY_US} AS tu, value AS v FROM events
), ri_grid AS (
  SELECT user_id, unnest(generate_series(0, {DAY_US - 1}, {RS_STEP_US}))
    AS t
  FROM (SELECT DISTINCT user_id FROM ri_r)
), ri_u AS (
  -- tag 0: prev-anchor event copies; tag 1: grid; tag 2: next-anchor
  -- copies.  Exact-hit events land in BOTH anchors' frames.
  SELECT user_id, tu AS ts_o, 0 AS tag, CAST(NULL AS BIGINT) AS t,
         v AS pv, tu AS pts, CAST(NULL AS DOUBLE) AS nv,
         CAST(NULL AS BIGINT) AS nts
  FROM ri_r
  UNION ALL
  SELECT user_id, t, 1, t, NULL, NULL, NULL, NULL FROM ri_grid
  UNION ALL
  SELECT user_id, tu, 2, NULL, NULL, NULL, v, tu FROM ri_r
), ri_m AS (
  SELECT user_id, tag, t,
         last_value(pv IGNORE NULLS) OVER wp AS m_pv,
         last_value(pts IGNORE NULLS) OVER wp AS m_pt,
         first_value(nv IGNORE NULLS) OVER wn AS m_nv,
         first_value(nts IGNORE NULLS) OVER wn AS m_nt
  FROM ri_u
  WINDOW wp AS (PARTITION BY user_id
                ORDER BY ts_o, tag, pv, nv DESC
                ROWS UNBOUNDED PRECEDING),
         wn AS (PARTITION BY user_id
                ORDER BY ts_o, tag, pv, nv DESC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, t,
       coalesce(round(CASE
         WHEN m_pt IS NULL THEN NULL
         WHEN m_nt IS NULL OR m_nt = m_pt THEN m_pv
         ELSE m_pv + (m_nv - m_pv) * CAST(t - m_pt AS DOUBLE)
              / CAST(m_nt - m_pt AS DOUBLE)
       END, 6), -1.0) AS val,
       coalesce(m_pt, -1) AS src_prev, coalesce(m_nt, -1) AS src_next
FROM ri_m WHERE tag = 1
"""


DUP_SPAN_N = 4


def q_dup_spans(spark, sf_dir):
    """Per-document duplicated-substring coverage: the fraction of each
    doc's word {DUP_SPAN_N}-gram occurrences whose gram appears in >= 2
    documents — the exact-substring dedup signal document-level MinHash
    misses (operators/dedup.dup_span_stats; Lee et al. 2022)."""
    from tree_code_chunker_spark.operators.dedup import dup_span_stats

    return dup_span_stats(_docs(spark, sf_dir).select("doc_id", "text"),
                          n=DUP_SPAN_N)


SQL_DUP_SPANS = f"""
WITH ds_occ AS (
  SELECT doc_id AS id,
         unnest(CASE WHEN len(ws) >= {DUP_SPAN_N}
                THEN list_transform(
                  range(1, len(ws) - {DUP_SPAN_N - 2}),
                  i -> array_to_string(ws[i:i + {DUP_SPAN_N - 1}], ' '))
                ELSE [array_to_string(ws, ' ')] END) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
), ds_cross AS (
  SELECT gram FROM (SELECT DISTINCT id, gram FROM ds_occ)
  GROUP BY gram HAVING count(*) >= 2
), ds_n AS (
  SELECT id, count(*)::BIGINT AS n_spans FROM ds_occ GROUP BY id
), ds_d AS (
  SELECT id, count(*)::BIGINT AS nd FROM ds_occ
  WHERE gram IN (SELECT gram FROM ds_cross) GROUP BY id
)
SELECT ds_n.id, n_spans, coalesce(nd, 0) AS n_dup_spans,
       round(coalesce(nd, 0) / n_spans, 6) AS dup_frac
FROM ds_n LEFT JOIN ds_d USING (id)
"""


def q_lm_quality(spark, sf_dir):
    """Char-trigram LM quality score per document (corpus-trained add-one
    model, CCNet-style perplexity filter): avg trigram log-prob with
    per-term 6dp-rounded ln summed in DECIMAL so the result is bit-stable
    across engines (operators/textstats.lm_quality)."""
    from tree_code_chunker_spark.operators.textstats import lm_quality

    return lm_quality(_docs(spark, sf_dir).select("doc_id", "text"))


def _lm_quality_sql():
    from tree_code_chunker_spark.operators.textstats import lm_quality_sql

    return "WITH " + lm_quality_sql("documents")


# ---- vector-overlay joins (operators/overlay.py): rect overlay, segment
# ---- crossings, map-matching — derived deterministically from the span
# ---- points so both engines build the identical geometry tables

# rect per point: min corner at (qlat, qlon), data-dependent extents; A/B
# sides split by span_pos parity
_OVL_H = "(400 + qlat % 1999)"
_OVL_W = "(400 + qlon % 1999)"
OVL_RECTS_SQL = f"""
ra AS (
  SELECT doc_id AS a_doc, span_pos AS a_pos, qlat AS y0, qlon AS x0,
         qlat + {_OVL_H} AS y1, qlon + {_OVL_W} AS x1
  FROM points WHERE span_pos % 2 = 0
), rb AS (
  SELECT doc_id AS b_doc, span_pos AS b_pos, qlat AS y0, qlon AS x0,
         qlat + {_OVL_H} AS y1, qlon + {_OVL_W} AS x1
  FROM points WHERE span_pos % 2 = 1
)"""


def _ovl_rects(spark, sf_dir, parity, tag):
    p = _points(spark, sf_dir).filter(F.col("span_pos") % 2 == parity)
    return p.select(
        F.col("doc_id").alias(f"{tag}_doc"),
        F.col("span_pos").alias(f"{tag}_pos"),
        F.col("qlat").alias("y0"),
        F.col("qlon").alias("x0"),
        (F.col("qlat") + 400 + F.col("qlat") % 1999).alias("y1"),
        (F.col("qlon") + 400 + F.col("qlon") % 1999).alias("x1"),
    )


def q_rect_overlay(spark, sf_dir):
    """Rectangle overlay join (intersection + union areas) with
    reference-point exactly-once dedup (operators/overlay.rect_overlay_join);
    the oracle is the brute-force inequality join over the same rects."""
    from tree_code_chunker_spark.operators.overlay import (
        overlay_res, rect_overlay_join)

    a = _ovl_rects(spark, sf_dir, 0, "a")
    b = _ovl_rects(spark, sf_dir, 1, "b")
    return rect_overlay_join(a, b, overlay_res(400 + 1998),
                             a_keep=("a_doc", "a_pos"),
                             b_keep=("b_doc", "b_pos"))


SQL_RECT_OVERLAY = f"""
{SPANS_CTE}, {POINTS_SQL}, {OVL_RECTS_SQL}
SELECT a.a_doc, a.a_pos, b.b_doc, b.b_pos,
       (LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0))
       * (LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0)) AS inter_area,
       (a.y1 - a.y0) * (a.x1 - a.x0) + (b.y1 - b.y0) * (b.x1 - b.x0)
       - (LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0))
         * (LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0)) AS union_area
FROM ra a JOIN rb b
  ON GREATEST(a.y0, b.y0) < LEAST(a.y1, b.y1)
 AND GREATEST(a.x0, b.x0) < LEAST(a.x1, b.x1)
"""

# segment per point: one endpoint at (qlat, qlon), the other displaced by a
# data-dependent (dy, dx) in [-1200, 1200]; operands are nonnegative so
# Spark and DuckDB % agree
_SEG_DY = "((qlat * 7 + qlon * 3) % 2401 - 1200)"
_SEG_DX = "((qlat * 5 + qlon * 11) % 2401 - 1200)"
OVL_SEGS_SQL = f"""
sa AS (
  SELECT doc_id AS a_doc, span_pos AS a_pos, qlat AS y1, qlon AS x1,
         qlat + {_SEG_DY} AS y2, qlon + {_SEG_DX} AS x2
  FROM points WHERE span_pos % 2 = 0
), sb AS (
  SELECT doc_id AS b_doc, span_pos AS b_pos, qlat AS y1, qlon AS x1,
         qlat + {_SEG_DY} AS y2, qlon + {_SEG_DX} AS x2
  FROM points WHERE span_pos % 2 = 1
)"""


def _ovl_segs(spark, sf_dir, parity, tag):
    p = _points(spark, sf_dir).filter(F.col("span_pos") % 2 == parity)
    dy = (F.col("qlat") * 7 + F.col("qlon") * 3) % 2401 - 1200
    dx = (F.col("qlat") * 5 + F.col("qlon") * 11) % 2401 - 1200
    return p.select(
        F.col("doc_id").alias(f"{tag}_doc"),
        F.col("span_pos").alias(f"{tag}_pos"),
        F.col("qlat").alias("y1"),
        F.col("qlon").alias("x1"),
        (F.col("qlat") + dy).alias("y2"),
        (F.col("qlon") + dx).alias("x2"),
    )


def q_seg_crossings(spark, sf_dir):
    """Segment-intersection join (strict proper crossings) via bbox cell
    cover + reference-point dedup (operators/overlay.segment_crossings);
    the oracle is the brute-force orientation-sign join."""
    from tree_code_chunker_spark.operators.overlay import (
        overlay_res, segment_crossings)

    a = _ovl_segs(spark, sf_dir, 0, "a")
    b = _ovl_segs(spark, sf_dir, 1, "b")
    return segment_crossings(a, b, overlay_res(2 * 1200),
                             a_keep=("a_doc", "a_pos"),
                             b_keep=("b_doc", "b_pos"))


_CCW_SQL = ("(({ax}) - ({ox})) * (({by}) - ({oy})) "
            "- (({ay}) - ({oy})) * (({bx}) - ({ox}))")


def _seg_cross_pred():
    d1 = _CCW_SQL.format(oy="a.y1", ox="a.x1", ay="a.y2", ax="a.x2",
                         by="b.y1", bx="b.x1")
    d2 = _CCW_SQL.format(oy="a.y1", ox="a.x1", ay="a.y2", ax="a.x2",
                         by="b.y2", bx="b.x2")
    d3 = _CCW_SQL.format(oy="b.y1", ox="b.x1", ay="b.y2", ax="b.x2",
                         by="a.y1", bx="a.x1")
    d4 = _CCW_SQL.format(oy="b.y1", ox="b.x1", ay="b.y2", ax="b.x2",
                         by="a.y2", bx="a.x2")
    # explicit opposite-sign form (mirrors the engine): products of two
    # orientation values could overflow BIGINT for far-apart pairs
    return (f"((({d1}) > 0 AND ({d2}) < 0) OR (({d1}) < 0 AND ({d2}) > 0)) "
            f"AND ((({d3}) > 0 AND ({d4}) < 0) OR (({d3}) < 0 AND ({d4}) > 0))")


SQL_SEG_CROSSINGS = f"""
{SPANS_CTE}, {POINTS_SQL}, {OVL_SEGS_SQL}
SELECT a.a_doc, a.a_pos, b.b_doc, b.b_pos
FROM sa a JOIN sb b ON {_seg_cross_pred()}
"""

def q_skyline(spark, sf_dir):
    """2-D skyline (Pareto minimize both) of deterministic per-span
    (cost, dist) pairs (operators/profile.skyline2d — range partition +
    prefix-min seed, no global window); the oracle is the brute-force
    NOT EXISTS non-domination query over the distinct pairs."""
    from tree_code_chunker_spark.operators.profile import skyline2d

    p = _points(spark, sf_dir).select(
        ((F.col("qlat") * 31 + F.col("qlon")) % 10007).alias("x"),
        ((F.col("qlat") + F.col("qlon") * 17) % 10007).alias("y"))
    return skyline2d(p, "x", "y")


SQL_SKYLINE = f"""
{SPANS_CTE}, {POINTS_SQL}, sky AS (
  SELECT DISTINCT (qlat * 31 + qlon) % 10007 AS x,
                  (qlat + qlon * 17) % 10007 AS y
  FROM points
)
SELECT x, y FROM sky a
WHERE NOT EXISTS (
  SELECT 1 FROM sky b
  WHERE b.x <= a.x AND b.y <= a.y AND (b.x < a.x OR b.y < a.y))
"""


GEOHASH_P = 4


def q_geohash(spark, sf_dir):
    """Per-geohash rollup of the span points at precision 4: the standard
    base-32 geohash string of every point (grid-top-bit interleaving,
    operators/geo.geohash_expr — ONE generated expression feeds both
    engines) aggregated to (gh, n)."""
    from tree_code_chunker_spark.operators.geo import geohash_col

    return (_points(spark, sf_dir)
            .select(geohash_col("qlat", "qlon", GEOHASH_P).alias("gh"))
            .groupBy("gh").agg(F.count("*").alias("n")))


def _geohash_sql():
    from tree_code_chunker_spark.operators.geo import geohash_expr

    return f"""{SPANS_CTE}, {POINTS_SQL}
SELECT {geohash_expr("qlat", "qlon", GEOHASH_P)} AS gh,
       count(*) AS n
FROM points GROUP BY gh"""


def q_containment(spark, sf_dir):
    """Containment dedup over the documents table augmented with
    truncated children (first max(3, nw//2) words of every 4th doc under
    id+100000): each child must be found inside its parent, plus any
    organic containments — rarest-gram blocking + exact padded-contains
    (operators/dedup.containment_pairs); the oracle is the brute-force
    pair join with the identical predicate."""
    from tree_code_chunker_spark.operators.dedup import containment_pairs

    did = F.col("doc_id").cast("long")
    words = F.split(F.col("text"), " ")
    d = _docs(spark, sf_dir).select(did.alias("doc_id"), "text")
    kids = _docs(spark, sf_dir).filter(did % 4 == 0).select(
        (did + 100000).alias("doc_id"),
        F.array_join(
            F.slice(words, 1,
                    F.greatest(F.lit(3),
                               (F.size(words) / 2).cast("int"))),
            " ").alias("text"))
    return containment_pairs(d.unionByName(kids))


SQL_CONTAINMENT = """
WITH aug AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 100000 AS doc_id,
         array_to_string(
           list_slice(string_split(text, ' '), 1,
                      GREATEST(3, len(string_split(text, ' ')) // 2)),
           ' ') AS text
  FROM documents WHERE CAST(doc_id AS BIGINT) % 4 = 0
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id
FROM aug a JOIN aug b ON a.doc_id <> b.doc_id
WHERE len(string_split(a.text, ' ')) >= 3
  AND position(' ' || a.text || ' ' IN ' ' || b.text || ' ') > 0
  AND (len(string_split(a.text, ' ')) < len(string_split(b.text, ' '))
       OR (a.text = b.text AND a.doc_id < b.doc_id))
"""


BUFFER_RES = 6
BUFFER_K = 2


def q_buffer_cover(spark, sf_dir):
    """Buffered geofence covers: the rect polygons' res-6 cell covers
    dilated by Chebyshev-2 k-ring (operators/pip.buffer_cover); the
    oracle dilates the rect cell ranges directly (dilation of a
    rectangular cover is the expanded rectangle, clamped)."""
    from tree_code_chunker_spark.operators.pip import buffer_cover

    return buffer_cover(_rect_polygons(spark), BUFFER_RES, BUFFER_K)


def _buffer_cover_sql():
    side = 1 << (16 - BUFFER_RES)
    n = (1 << BUFFER_RES) - 1
    return f"""WITH {RECTS_SQL},
by_cy AS (
  SELECT polygon_id, x0, x1,
         UNNEST(range(GREATEST(y0 // {side} - {BUFFER_K}, 0),
                      LEAST(y1 // {side} + {BUFFER_K}, {n}) + 1)) AS cov_cy
  FROM rects
)
SELECT polygon_id, cov_cy,
       UNNEST(range(GREATEST(x0 // {side} - {BUFFER_K}, 0),
                    LEAST(x1 // {side} + {BUFFER_K}, {n}) + 1)) AS cov_cx
FROM by_cy"""


def q_redact_pii(spark, sf_dir):
    """PII scrubbing over the documents table with deterministic synthetic
    PII injected per doc-id residue (the raw corpus has none, which would
    make the oracle vacuous); redacted strings and per-category counts
    must match DuckDB byte-for-byte (operators/textstats.redact_pii)."""
    from tree_code_chunker_spark.operators.textstats import redact_pii

    did = F.col("doc_id").cast("long")
    inj = (
        F.when(did % 3 == 0,
               F.concat(F.lit(" mail a"), did.cast("string"),
                        F.lit("@ex"), (did % 5).cast("string"),
                        F.lit(".org")))
        .when(did % 3 == 1,
              F.concat(F.lit(" call 555-123-4567 ip 10.0."),
                       (did % 256).cast("string"), F.lit(".7")))
        .otherwise(F.lit("")))
    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), inj).alias("text"))
    return redact_pii(d)


def _redact_pii_sql():
    from tree_code_chunker_spark.operators.textstats import redact_pii_sql

    return f"""WITH aug AS (
  SELECT doc_id,
         text || CASE
           WHEN CAST(doc_id AS BIGINT) % 3 = 0 THEN
             ' mail a' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
             || '@ex' || CAST(CAST(doc_id AS BIGINT) % 5 AS VARCHAR)
             || '.org'
           WHEN CAST(doc_id AS BIGINT) % 3 = 1 THEN
             ' call 555-123-4567 ip 10.0.'
             || CAST(CAST(doc_id AS BIGINT) % 256 AS VARCHAR) || '.7'
           ELSE '' END AS text
  FROM documents
)
{redact_pii_sql("aug")}"""


HAUS_THRESHOLD = 3000


def _traj_compact(spark, sf_dir, parity, tag):
    """Compact per-doc trajectories: every span point folded into a
    2500-extent box at its doc's anchor (span_pos=0 derived point), so
    trajectory bboxes are LOCAL and the Hausdorff bbox prune has teeth
    (the raw span points scatter across the whole grid)."""
    p = _points(spark, sf_dir).filter(
        F.col("doc_id").cast("long") % 2 == parity)
    ay, ax = derive_point_cols(F.col("doc_id").cast("long"), F.lit(0))
    return p.select(
        F.col("doc_id").cast("long").alias(f"{tag}_id"),
        (ay + (F.col("qlat") * 13 + F.col("qlon") * 7) % 2501).alias("qlat"),
        (ax + (F.col("qlat") * 3 + F.col("qlon") * 19) % 2501).alias("qlon"),
    )


def q_hausdorff(spark, sf_dir):
    """Trajectory-similarity join: symmetric Hausdorff distance <= threshold
    between even-doc and odd-doc compact trajectories, exact integer h2
    (operators/overlay.hausdorff_join: bbox cell prune + per-pair max-min)."""
    from tree_code_chunker_spark.operators.overlay import (
        hausdorff_join, overlay_res)

    a = _traj_compact(spark, sf_dir, 0, "a")
    b = _traj_compact(spark, sf_dir, 1, "b")
    return hausdorff_join(a, b, HAUS_THRESHOLD,
                          overlay_res(2500 + 2 * HAUS_THRESHOLD))


def _hausdorff_sql():
    ay, ax = derive_point_sql("CAST(doc_id AS BIGINT)", "0")
    traj = (
        "SELECT CAST(doc_id AS BIGINT) AS tid, "
        f"{ay} + (qlat * 13 + qlon * 7) % 2501 AS y, "
        f"{ax} + (qlat * 3 + qlon * 19) % 2501 AS x "
        "FROM points WHERE CAST(doc_id AS BIGINT) % 2 = {parity}"
    )
    return f"""
{{SPANS_CTE}}, {{POINTS_SQL}},
ta AS ({traj.format(parity=0)}),
tb AS ({traj.format(parity=1)}),
pp AS (
  SELECT ta.tid AS a_id, tb.tid AS b_id, ta.y AS ay, ta.x AS ax,
         tb.y AS by, tb.x AS bx,
         (ta.y - tb.y) * (ta.y - tb.y)
         + (ta.x - tb.x) * (ta.x - tb.x) AS d2
  FROM ta CROSS JOIN tb
), h_ab AS (
  SELECT a_id, b_id, MAX(dmin) AS h_ab FROM (
    SELECT a_id, b_id, ay, ax, MIN(d2) AS dmin
    FROM pp GROUP BY a_id, b_id, ay, ax
  ) GROUP BY a_id, b_id
), h_ba AS (
  SELECT a_id, b_id, MAX(dmin) AS h_ba FROM (
    SELECT a_id, b_id, by, bx, MIN(d2) AS dmin
    FROM pp GROUP BY a_id, b_id, by, bx
  ) GROUP BY a_id, b_id
)
SELECT h_ab.a_id, h_ab.b_id, GREATEST(h_ab, h_ba) AS h2
FROM h_ab JOIN h_ba ON h_ab.a_id = h_ba.a_id AND h_ab.b_id = h_ba.b_id
WHERE GREATEST(h_ab, h_ba) <= {HAUS_THRESHOLD * HAUS_THRESHOLD}
""".format(SPANS_CTE=SPANS_CTE, POINTS_SQL=POINTS_SQL)


SQL_HAUSDORFF = _hausdorff_sql()

MAP_MATCH_RADIUS = 700


def q_map_match(spark, sf_dir):
    """Map-matching: snap every span point to its nearest odd-parity
    segment within MAP_MATCH_RADIUS, exact 10^6-scaled squared distance
    and seg_id tie-break (operators/overlay.snap_to_segments)."""
    from tree_code_chunker_spark.operators.overlay import (
        overlay_res, snap_to_segments)

    pts = _points(spark, sf_dir)
    segs = _ovl_segs(spark, sf_dir, 1, "b").select(
        (F.col("b_doc").cast("long") * 1000 + F.col("b_pos")).alias("seg_id"),
        "y1", "x1", "y2", "x2",
    )
    return snap_to_segments(
        pts, segs, MAP_MATCH_RADIUS,
        overlay_res(2 * 1200 + 2 * MAP_MATCH_RADIUS),
        p_keep=("doc_id", "span_pos"))


SQL_MAP_MATCH = f"""
{SPANS_CTE}, {POINTS_SQL}, {OVL_SEGS_SQL},
segs AS (
  SELECT CAST(b_doc AS BIGINT) * 1000 + b_pos AS seg_id,
         CAST(y1 AS BIGINT) AS y1, CAST(x1 AS BIGINT) AS x1,
         CAST(y2 AS BIGINT) AS y2, CAST(x2 AS BIGINT) AS x2
  FROM sb
), pp AS (
  SELECT doc_id, span_pos,
         CAST(qlat AS BIGINT) AS qlat, CAST(qlon AS BIGINT) AS qlon
  FROM points
), cand AS (
  SELECT p.doc_id, p.span_pos, s.seg_id,
         CASE
           WHEN (s.y2 - s.y1) * (s.y2 - s.y1)
                + (s.x2 - s.x1) * (s.x2 - s.x1) = 0
                OR (p.qlat - s.y1) * (s.y2 - s.y1)
                   + (p.qlon - s.x1) * (s.x2 - s.x1) <= 0
             THEN ((p.qlat - s.y1) * (p.qlat - s.y1)
                   + (p.qlon - s.x1) * (p.qlon - s.x1)) * 1000000
           WHEN (p.qlat - s.y1) * (s.y2 - s.y1)
                + (p.qlon - s.x1) * (s.x2 - s.x1)
                >= (s.y2 - s.y1) * (s.y2 - s.y1)
                   + (s.x2 - s.x1) * (s.x2 - s.x1)
             THEN ((p.qlat - s.y2) * (p.qlat - s.y2)
                   + (p.qlon - s.x2) * (p.qlon - s.x2)) * 1000000
           ELSE CAST(
             (CAST((p.qlon - s.x1) * (s.y2 - s.y1)
                   - (p.qlat - s.y1) * (s.x2 - s.x1) AS HUGEINT)
              * CAST((p.qlon - s.x1) * (s.y2 - s.y1)
                     - (p.qlat - s.y1) * (s.x2 - s.x1) AS HUGEINT)
              * 1000000)
             // ((s.y2 - s.y1) * (s.y2 - s.y1)
                 + (s.x2 - s.x1) * (s.x2 - s.x1)) AS BIGINT)
         END AS dist2_e6
  FROM pp p CROSS JOIN segs s
)
SELECT doc_id, span_pos, seg_id, dist2_e6
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, span_pos
                               ORDER BY dist2_e6, seg_id) AS rn
  FROM cand
  WHERE dist2_e6 <= {MAP_MATCH_RADIUS * MAP_MATCH_RADIUS * 1000000}
)
WHERE rn = 1
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered fewest-prior-driver-green-rounds first: if the driver gate
    # caps how many entries it checks per round (50 observed), the window
    # must hold (a) this round's new queries, (b) the r3-green veterans
    # that had no r4 row, (c) the single-green r4 entries; multi-round
    # green veterans rotate to the back (all additionally pytest-pinned).
    return {
        # new in r6: never driver-checked before
        "rect_overlay": q_rect_overlay,
        "seg_crossings": q_seg_crossings,
        "map_match": q_map_match,
        "hausdorff": q_hausdorff,
        "redact_pii": q_redact_pii,
        "buffer_cover": q_buffer_cover,
        "containment": q_containment,
        "geohash": q_geohash,
        "skyline": q_skyline,
        "resample_interp": q_resample_interp,
        "dup_spans": q_dup_spans,
        "lm_quality": q_lm_quality,
        "st_colocate_ab": q_st_colocate_ab,
        "st_colocate_anti": q_st_colocate_anti,
        "rdp_simplify": q_rdp_simplify,
        "dwell_time": q_dwell_time,
        "zonal_mode": q_zonal_mode,
        "resample_ffill": q_resample_ffill,
        "rolling_zscore": q_rolling_zscore,
        "label_propagation": q_label_propagation,
        "pagerank_weighted": q_pagerank_weighted,
        "sample_weighted_k": q_sample_weighted_k,
        "sample_weighted_k_by": q_sample_weighted_k_by,
        "group_quantiles_approx": q_group_quantiles_approx,
        "media_phash": q_media_phash,
        "media_near_dup_pairs": q_media_near_dup_pairs,
        "layout_scan": q_layout_scan,
        "stream_dedup": q_stream_dedup,
        # last driver-green in r4 (single green round)
        "knn_self": q_knn_self,
        "knn_within": q_knn_within,
        "idw": q_idw,
        "pagerank_dangling": q_pagerank_dangling,
        "pip_anti": q_pip_anti,
        "sessionize": q_sessionize,
        "group_quantiles": q_group_quantiles,
        "geocode_float": q_geocode_float,
        "dwithin_self": q_dwithin_self,
        "sample_weighted": q_sample_weighted,
        "od_matrix": q_od_matrix,
        "pagerank": q_pagerank,
        # last driver-green in r4 (multi-round green)
        "pack_sequences": q_pack_sequences,
        "pack_greedy": q_pack_greedy,
        "sample_stratified": q_sample_stratified,
        "ngram_jaccard": q_ngram_jaccard,
        "top_ngrams": q_top_ngrams,
        "column_profile": q_column_profile,
        "string_funcs": q_string_funcs,
        "tile_features": q_tile_features,
        "embed_near_dup": q_embed_near_dup,
        "event_windows": q_event_windows,
        # ---- 50-row window boundary (observed driver cap): everything
        # ---- below is r4-green + pytest-pinned and rotates to the r7
        # ---- front
        "kring": q_kring,
        "raster_pixels": q_raster_pixels,
        "detect_lang": q_detect_lang,
        "chunk_spans": q_chunk_spans,
        "pip_raycast": q_pip_raycast,
        "minhash_lsh": q_minhash_lsh,
        "minhash_jaccard": q_minhash_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "simhash": q_simhash,
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "tpch_pricing": q_tpch_pricing,
        "join_rollup": q_join_rollup,
        "span_explode": q_span_explode,
        "cell_index": q_cell_index,
        "tile_rollup": q_tile_rollup,
        "pip_rect": q_pip_rect,
        "knn": q_knn,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "fingerprint": q_fingerprint,
        "interval_overlap": q_interval_overlap,
        "siblings": q_siblings,
        "overlap_lag": q_overlap_lag,
        "total_chunks": q_total_chunks,
        "ann_cosine": q_ann_cosine,
        "ann_ivf_flat": q_ann_ivf_flat,
        "ann_lsh": q_ann_lsh,
        # driver-green in r5 (freshest evidence — rotate to the back)
        "sssp": q_sssp,
        "st_contacts": q_st_contacts,
        "hll_cells": q_hll_cells,
        "cms_cells": q_cms_cells,
        "bloom_flags": q_bloom_flags,
        "asof": q_asof,
        "funnel": q_funnel,
        "rolling": q_rolling,
        "bm25": q_bm25,
        "bfs": q_bfs,
        "retention": q_retention,
        "ohlc": q_ohlc,
        "twa": q_twa,
        "hll_merge": q_hll_merge,
        "corr": q_corr,
        "pmi": q_pmi,
        "rollup_ev": q_rollup,
        "jaccard_pairs": q_jaccard_pairs,
        "edit1": q_edit1,
        "hotspot_gi": q_hotspot,
        "dbscan": q_dbscan,
        "hotspot_windows": q_hotspot_windows,
        "repetition": q_repetition,
        "hull": q_hull,
        "triangles": q_triangles,
        "media_context": q_media_context,
        "hull_diam": q_hull_diam,
        "kcore": q_kcore,
        "embed_near_dup_lsh": q_embed_near_dup_lsh,
        "dedup_increment": q_dedup_increment,
        "dwithin_geo": q_dwithin_geo,
        "knn_geo": q_knn_geo,
        "pip_holes": q_pip_holes,
        "contamination": q_contamination,
        "dwithin_geo_self": q_dwithin_geo_self,
        "mix_lang": q_mix_lang,
        "poly_dist": q_poly_dist,
        "nearest_poly": q_nearest_poly,
        "chunk_context": q_chunk_context,
        "chunk_context_entities": q_chunk_context_entities,
        "dwithin": q_dwithin,
        "zonal_stats": q_zonal_stats,
        "traj_stats": q_traj_stats,
        "traj_raster": q_traj_raster,
        "span_mix": q_span_mix,
        "bpe_pairs": q_bpe_pairs,
        "polygon_stats": q_polygon_stats,
        "raster_smooth": q_raster_smooth,
        "cell_compact": q_cell_compact,
        "cover_overlap": q_cover_overlap,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rect_overlay": SQL_RECT_OVERLAY,
        "seg_crossings": SQL_SEG_CROSSINGS,
        "map_match": SQL_MAP_MATCH,
        "hausdorff": SQL_HAUSDORFF,
        "redact_pii": _redact_pii_sql(),
        "buffer_cover": _buffer_cover_sql(),
        "containment": SQL_CONTAINMENT,
        "geohash": _geohash_sql(),
        "skyline": SQL_SKYLINE,
        "resample_interp": SQL_RESAMPLE_INTERP,
        "dup_spans": SQL_DUP_SPANS,
        "lm_quality": _lm_quality_sql(),
        "st_colocate_ab": SQL_ST_COLOCATE_AB,
        "st_colocate_anti": SQL_ST_COLOCATE_ANTI,
        "rdp_simplify": SQL_RDP_SIMPLIFY,
        "dwell_time": SQL_DWELL_TIME,
        "zonal_mode": SQL_ZONAL_MODE,
        "resample_ffill": SQL_RESAMPLE_FFILL,
        "rolling_zscore": SQL_ROLLING_ZSCORE,
        "label_propagation": SQL_LABEL_PROPAGATION,
        "pagerank_weighted": SQL_PAGERANK_WEIGHTED,
        "sample_weighted_k": SQL_SAMPLE_WEIGHTED_K,
        "sample_weighted_k_by": SQL_SAMPLE_WEIGHTED_K_BY,
        "group_quantiles_approx": SQL_GROUP_QUANTILES_APPROX,
        "media_phash": SQL_MEDIA_PHASH,
        "media_near_dup_pairs": SQL_MEDIA_NEAR_DUP,
        "layout_scan": SQL_LAYOUT_SCAN,
        "stream_dedup": SQL_STREAM_DEDUP,
        "sssp": SQL_SSSP,
        "st_contacts": SQL_ST_CONTACTS,
        "hll_cells": SQL_HLL_CELLS,
        "cms_cells": SQL_CMS_CELLS,
        "bloom_flags": SQL_BLOOM_FLAGS,
        "asof": SQL_ASOF,
        "funnel": SQL_FUNNEL,
        "rolling": SQL_ROLLING,
        "bm25": SQL_BM25,
        "bfs": SQL_BFS,
        "retention": SQL_RETENTION,
        "ohlc": SQL_OHLC,
        "twa": SQL_TWA,
        "hll_merge": SQL_HLL_MERGE,
        "corr": SQL_CORR,
        "pmi": SQL_PMI,
        "rollup_ev": SQL_ROLLUP_EV,
        "jaccard_pairs": SQL_JACCARD_PAIRS,
        "edit1": SQL_EDIT1,
        "hotspot_gi": SQL_HOTSPOT,
        "dbscan": SQL_DBSCAN,
        "hotspot_windows": SQL_HOTSPOT_WINDOWS,
        "repetition": SQL_REPETITION,
        "hull": SQL_HULL,
        "triangles": SQL_TRIANGLES,
        "media_context": SQL_MEDIA_CONTEXT,
        "hull_diam": SQL_HULL_DIAM,
        "kcore": SQL_KCORE,
        "embed_near_dup_lsh": SQL_EMBED_NEAR_DUP_LSH,
        "dedup_increment": SQL_DEDUP_INCREMENT,
        "dwithin_geo": SQL_DWITHIN_GEO,
        "knn_geo": SQL_KNN_GEO,
        "pip_holes": SQL_PIP_HOLES,
        "contamination": SQL_CONTAMINATION,
        "dwithin_geo_self": SQL_DWITHIN_GEO_SELF,
        "mix_lang": SQL_MIX_LANG,
        "poly_dist": SQL_POLY_DIST,
        "nearest_poly": SQL_NEAREST_POLY,
        "knn_self": SQL_KNN_SELF,
        "knn_within": SQL_KNN_WITHIN,
        "idw": SQL_IDW,
        "pagerank_dangling": SQL_PAGERANK_DANGLING,
        "pip_anti": SQL_PIP_ANTI,
        "sessionize": SQL_SESSIONIZE,
        "group_quantiles": SQL_GROUP_QUANTILES,
        "geocode_float": SQL_GEOCODE_FLOAT,
        "dwithin_self": SQL_DWITHIN_SELF,
        "sample_weighted": SQL_SAMPLE_WEIGHTED,
        "od_matrix": SQL_OD_MATRIX,
        "pagerank": SQL_PAGERANK,
        "tpch_pricing": SQL_TPCH_PRICING,
        "join_rollup": SQL_JOIN_ROLLUP,
        "span_explode": SQL_SPAN_EXPLODE,
        "cell_index": SQL_CELL_INDEX,
        "tile_rollup": SQL_TILE_ROLLUP,
        "pip_rect": SQL_PIP_RECT,
        "knn": SQL_KNN,
        "dedup_exact": SQL_DEDUP_EXACT,
        "text_stats": SQL_TEXT_STATS,
        "fingerprint": SQL_FINGERPRINT,
        "interval_overlap": SQL_INTERVAL_OVERLAP,
        "siblings": SQL_SIBLINGS,
        "overlap_lag": SQL_OVERLAP_LAG,
        "total_chunks": SQL_TOTAL_CHUNKS,
        "ann_cosine": SQL_ANN_COSINE,
        "ann_ivf_flat": SQL_ANN_IVF_FLAT,
        "ann_lsh": SQL_ANN_LSH,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "pack_greedy": SQL_PACK_GREEDY,
        "sample_stratified": SQL_SAMPLE_STRATIFIED,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "top_ngrams": SQL_TOP_NGRAMS,
        "column_profile": SQL_COLUMN_PROFILE,
        "string_funcs": SQL_STRING_FUNCS,
        "tile_features": SQL_TILE_FEATURES,
        "embed_near_dup": SQL_EMBED_NEAR_DUP,
        "event_windows": SQL_EVENT_WINDOWS,
        "kring": SQL_KRING,
        "raster_pixels": SQL_RASTER_PIXELS,
        "detect_lang": SQL_DETECT_LANG,
        "chunk_spans": SQL_CHUNK_SPANS,
        "chunk_context": SQL_CHUNK_CONTEXT,
        "chunk_context_entities": SQL_CHUNK_CONTEXT_ENTITIES,
        "pip_raycast": SQL_PIP_RAYCAST,
        "minhash_lsh": SQL_MINHASH_LSH,
        "minhash_jaccard": SQL_MINHASH_JACCARD,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "simhash": SQL_SIMHASH,
        "media_features": SQL_MEDIA_FEATURES,
        "media_frames": SQL_MEDIA_FRAMES,
        "dwithin": SQL_DWITHIN,
        "zonal_stats": SQL_ZONAL_STATS,
        "traj_stats": SQL_TRAJ_STATS,
        "traj_raster": SQL_TRAJ_RASTER,
        "span_mix": SQL_SPAN_MIX,
        "bpe_pairs": SQL_BPE_PAIRS,
        "polygon_stats": SQL_POLYGON_STATS,
        "raster_smooth": SQL_RASTER_SMOOTH,
        "cell_compact": SQL_CELL_COMPACT,
        "cover_overlap": SQL_COVER_OVERLAP,
    }
