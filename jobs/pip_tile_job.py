"""Production entry point: the PIP-join + tile-materialization pipeline as a
spark-submit job (north_rule: ships as `spark-submit --py-files`).

Usage (cluster):
    python tools/make_pyfiles.py           # -> dist/tree_code_chunker_spark.zip
    spark-submit --py-files dist/tree_code_chunker_spark.zip \
        jobs/pip_tile_job.py --input <docs_parquet> \
        --polygons <polygons_parquet> --output <out_root> [--resume]

Local smoke:
    python jobs/pip_tile_job.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/pip_tile_out

Every stage commits as parquet plus a JSON manifest naming the files it
wrote, with each file's rows and bytes (operators/checkpoint.py); --resume
skips stages whose named files are intact and reads exactly those files,
satisfying the north_rule resumability requirement.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table (parquet)")
    ap.add_argument("--polygons", default=None, help="polygon table (parquet); synthetic if omitted")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--max-chunk-size", type=int, default=1500)
    ap.add_argument("--zooms", default="4,8,12")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages with committed snapshots")
    args = ap.parse_args()

    from tree_code_chunker_spark.operators.checkpoint import (
        pipeline_lineage,
        run_stage,
    )
    from tree_code_chunker_spark.operators.chunker import chunk_documents
    from tree_code_chunker_spark.operators.geo import cell_col, derive_point_cols
    from tree_code_chunker_spark.operators.pip import pip_join
    from tree_code_chunker_spark.operators.tiles import raster_tiles, vector_tiles
    from tree_code_chunker_spark.plans.session import get_spark
    from tree_code_chunker_spark.sources.adapter import spanify
    from tree_code_chunker_spark.sources.datagen import gen_polygons

    spark = get_spark("pip-tile-job")
    root = args.output
    if not args.resume:
        # a fresh run must not silently reuse stale snapshots
        for stage in ("chunks", "points", "pip_matches", "vector_tiles",
                      "raster_tiles"):
            m = os.path.join(root, stage, "_manifest.json")
            if os.path.exists(m):
                os.remove(m)

    docs_raw = spark.read.parquet(args.input)
    docs = docs_raw if "spans" in docs_raw.columns else spanify(docs_raw)

    chunks = run_stage(spark, root, "chunks",
                       lambda: chunk_documents(docs, args.max_chunk_size))

    def build_points():
        p = chunks.select("doc_id", F.col("chunk_index").alias("span_pos"))
        qlat, qlon = derive_point_cols(
            F.abs(F.hash("doc_id")).cast("long"), F.col("span_pos"))
        return p.select(
            "doc_id", "span_pos", qlat.alias("qlat"), qlon.alias("qlon")
        ).withColumn("cell", cell_col(F.col("qlat"), F.col("qlon")))

    points = run_stage(spark, root, "points", build_points)

    if args.polygons:
        polys = spark.read.parquet(args.polygons)
    else:
        polys = gen_polygons(spark, 100, seed=43)

    run_stage(spark, root, "pip_matches", lambda: pip_join(points, polys))
    zooms = tuple(int(z) for z in args.zooms.split(","))
    run_stage(spark, root, "vector_tiles",
              lambda: vector_tiles(points, zooms), partition_by=["z"])
    run_stage(spark, root, "raster_tiles",
              lambda: raster_tiles(points, zooms), partition_by=["z"])

    print(json.dumps({"lineage": pipeline_lineage(root)}, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
