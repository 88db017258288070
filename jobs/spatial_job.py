"""Production entry point: the spatial-analytics pipeline as a spark-submit
job (north_rule: ships as `spark-submit --py-files`, resumable snapshots).

Usage (cluster):
    python tools/make_pyfiles.py           # -> dist/tree_code_chunker_spark.zip
    spark-submit --py-files dist/tree_code_chunker_spark.zip \
        jobs/spatial_job.py --input <docs_parquet_or_iceberg> \
        --output <out_root> [--queries <points_parquet>] [--resume]

Local smoke:
    python jobs/spatial_job.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/spatial_out

Stages (each a committed snapshot: parquet plus a manifest of its files with
their rows and bytes — operators/checkpoint.py; --resume skips committed
stages and reads exactly their files):
  points        span-derived integer-grid points
  dwithin       radius join points x query set (3x3 cell-bucket prune)
  traj_stats    per-doc integer path metrics
  traj_raster   DDA trajectory density raster
  raster_smooth 3x3 binomial focal smoothing of the cell histogram
  cell_compact  quadtree cover normalization of the occupied cells
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

STAGES = ("points", "dwithin", "traj_stats", "traj_raster",
          "raster_smooth", "cell_compact")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table (parquet)")
    ap.add_argument("--queries", default=None,
                    help="dwithin query points parquet (query_id, qlat, qlon); "
                         "derived from the input if omitted")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--radius", type=int, default=800)
    ap.add_argument("--raster-res", type=int, default=8)
    ap.add_argument("--compact-res", type=int, default=12)
    ap.add_argument("--resume", action="store_true",
                    help="skip stages with committed snapshots")
    args = ap.parse_args()

    from tree_code_chunker_spark.operators.checkpoint import (
        pipeline_lineage,
        run_stage,
    )
    from tree_code_chunker_spark.operators.geo import (
        cell_at_res_col,
        cell_col,
        compact_cover,
        derive_point_cols,
    )
    from tree_code_chunker_spark.operators.spatial import (
        dwithin_join,
        trajectory_raster,
        trajectory_stats,
    )
    from tree_code_chunker_spark.operators.tiles import raster_smooth
    from tree_code_chunker_spark.plans.session import get_spark
    from tree_code_chunker_spark.sources.adapter import spanify_exploded

    spark = get_spark("spatial-job")
    root = args.output
    if not args.resume:
        for stage in STAGES:
            m = os.path.join(root, stage, "_manifest.json")
            if os.path.exists(m):
                os.remove(m)

    docs = spark.read.parquet(args.input)

    def build_points():
        s = spanify_exploded(docs) if "spans" not in docs.columns else (
            docs.select("doc_id", F.posexplode("spans").alias("span_pos", "_s"))
        )
        qlat, qlon = derive_point_cols(
            F.abs(F.hash("doc_id")).cast("long"), F.col("span_pos"))
        return s.select(
            "doc_id", F.col("span_pos").cast("long").alias("span_pos"),
            qlat.alias("qlat"), qlon.alias("qlon"))

    points = run_stage(spark, root, "points", build_points)

    if args.queries:
        queries = spark.read.parquet(args.queries)
    else:
        # derived demo query set: 64 fixed probes, NON-hot ids only
        # (id % 5 == 0 probes land in the hot boxes, where a radius-800
        # join matches every co-located point — output-bound at scale;
        # same exclusion bench.py applies)
        qlat, qlon = derive_point_cols(F.col("id"), F.lit(777))
        queries = spark.range(0, 80).filter(F.col("id") % 5 != 0).select(
            F.col("id").alias("query_id"), qlat.alias("qlat"),
            qlon.alias("qlon"))

    run_stage(spark, root, "dwithin",
              lambda: dwithin_join(points, queries, args.radius,
                                   broadcast_b=True))
    run_stage(spark, root, "traj_stats", lambda: trajectory_stats(points))
    run_stage(spark, root, "traj_raster",
              lambda: trajectory_raster(points, args.raster_res))

    sh = 16 - args.raster_res

    def build_smooth():
        hist = (points.groupBy(F.shiftright("qlat", sh).alias("cy"),
                               F.shiftright("qlon", sh).alias("cx"))
                .agg(F.count("*").alias("n")))
        return raster_smooth(hist, args.raster_res)

    run_stage(spark, root, "raster_smooth", build_smooth)

    def build_compact():
        coords = points.select("qlat", "qlon").distinct()
        cells = coords.select(
            cell_at_res_col(cell_col(F.col("qlat"), F.col("qlon")),
                            args.compact_res).alias("cell"))
        return compact_cover(cells, args.compact_res, max_levels=4)

    run_stage(spark, root, "cell_compact", build_compact)

    print(json.dumps({"lineage": pipeline_lineage(root)}, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
