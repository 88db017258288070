"""Production entry point: training-data assembly as a spark-submit job —
filter by quality, deduplicate exactly, stratified-sample per language,
token-count, and pack into fixed-budget training sequences.

Usage (cluster):
    python tools/make_pyfiles.py           # -> dist/tree_code_chunker_spark.zip
    spark-submit --py-files dist/tree_code_chunker_spark.zip \
        jobs/training_job.py --input <docs_parquet_or_iceberg> \
        --output <out_root> [--resume]

Local smoke:
    python jobs/training_job.py \
        --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/training_out

Stages (each a committed snapshot with per-file lineage — rows and bytes
of every file written — so a failed run resumes from the last committed
stage):
  1. filtered — quality-score floor + exact-dup removal (keep min doc_id)
  2. sampled  — deterministic stratified sample per language
  3. tokens   — whitespace + BPE-ish token counts
  4. packed   — token-budget sequence assignment (prefix packing across
                n_shards independent shards)
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
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--per-lang", type=int, default=100_000,
                    help="stratified sample size per language")
    ap.add_argument("--budget", type=int, default=2048,
                    help="tokens per training sequence")
    ap.add_argument("--n-shards", type=int, default=256,
                    help="independent packing shards (parallelism unit)")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages with committed snapshots")
    args = ap.parse_args()

    from tree_code_chunker_spark.operators.checkpoint import (
        pipeline_lineage,
        run_stage,
    )
    from tree_code_chunker_spark.operators.dedup import exact_dedup
    from tree_code_chunker_spark.operators.textstats import (
        bpe_token_count_col,
        quality_score_col,
        token_count_col,
    )
    from tree_code_chunker_spark.operators.training import (
        pack_sequences,
        sample_per_group,
    )
    from tree_code_chunker_spark.plans.session import get_spark

    spark = get_spark("training-job")
    docs = spark.read.parquet(args.input)
    root = args.output
    if not args.resume and os.path.exists(root):
        import shutil
        shutil.rmtree(root)  # fresh run; --resume keeps committed snapshots

    def build_filtered():
        keep = exact_dedup(docs, "doc_id", "text").select(
            F.col("rep_id").alias("doc_id"))
        return (
            docs.join(keep, "doc_id")  # canonical copy of each text
            .withColumn("quality", quality_score_col(F.col("text")))
            .filter(F.col("quality") >= args.min_quality)
        )

    filtered = run_stage(spark, root, "filtered", build_filtered)
    sampled = run_stage(
        spark, root, "sampled",
        lambda: sample_per_group(filtered, "lang", args.per_lang))
    tokens = run_stage(
        spark, root, "tokens",
        lambda: sampled.select(
            "doc_id", "lang",
            token_count_col(F.col("text")).alias("n_tokens"),
            bpe_token_count_col(F.col("text")).alias("n_bpe_tokens"),
        ))
    packed = run_stage(
        spark, root, "packed",
        lambda: pack_sequences(tokens, "doc_id", "n_tokens",
                               budget=args.budget, n_shards=args.n_shards))

    stats = {
        "n_docs_in": docs.count(),
        "n_filtered": filtered.count(),
        "n_sampled": sampled.count(),
        "n_sequences": packed.select("shard", "seq_id").distinct().count(),
        "total_tokens": tokens.agg(F.sum("n_tokens")).first()[0],
        "stages": pipeline_lineage(root),
    }
    print(json.dumps(stats, default=str)[:2000])
    spark.stop()


if __name__ == "__main__":
    main()
