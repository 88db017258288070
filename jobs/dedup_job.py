"""Production entry point: the training-data dedup pipeline as a
spark-submit job (the LLM-pipeline pillar end-to-end).

Usage (cluster):
    python tools/make_pyfiles.py           # -> dist/tree_code_chunker_spark.zip
    spark-submit --py-files dist/tree_code_chunker_spark.zip \
        jobs/dedup_job.py --input <docs_parquet_or_iceberg> \
        --output <out_root> [--resume]

Local smoke:
    python jobs/dedup_job.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/dedup_out

Stages (each a committed snapshot with per-file lineage — rows and bytes
of every file written — so a failed run resumes from the last committed
stage):
  1. exact      — md5 exact-duplicate groups
  2. signatures — MinHash signatures (batch-vectorized uint64 numpy)
  3. pairs      — LSH banded candidate pairs (equi-join, never all-pairs)
  4. clusters   — connected components -> canonical doc per near-dup cluster
  5. corpus     — the deduplicated corpus (canonical docs only) + stats
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
    ap.add_argument("--n-perm", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--resume", action="store_true",
                    help="skip stages with committed snapshots")
    args = ap.parse_args()

    from tree_code_chunker_spark.operators.checkpoint import (
        pipeline_lineage,
        run_stage,
    )
    from tree_code_chunker_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from tree_code_chunker_spark.plans.session import get_spark

    spark = get_spark("dedup-job")
    docs = spark.read.parquet(args.input)
    root = args.output
    if not args.resume and os.path.exists(root):
        import shutil
        shutil.rmtree(root)  # fresh run; --resume keeps committed snapshots

    exact = run_stage(
        spark, root, "exact",
        lambda: exact_dedup(docs, "doc_id", "text"))
    sigs = run_stage(
        spark, root, "signatures",
        lambda: minhash_signatures(docs, "doc_id", "text",
                                   n_perm=args.n_perm))
    pairs = run_stage(
        spark, root, "pairs",
        lambda: lsh_candidate_pairs(sigs, bands=args.bands,
                                    n_perm=args.n_perm))
    clusters = run_stage(
        spark, root, "clusters",
        lambda: connected_components(pairs))

    def build_corpus():
        cc = clusters.withColumnRenamed("node", "doc_id")
        return (
            docs.join(cc, "doc_id", "left")
            .filter(F.col("label").isNull()
                    | (F.col("label") == F.col("doc_id")))
            .drop("label")
        )

    corpus = run_stage(spark, root, "corpus", build_corpus)

    stats = {
        "n_docs_in": docs.count(),
        "n_exact_groups": exact.count(),
        "n_candidate_pairs": pairs.count(),
        "n_clustered_docs": clusters.count(),
        "n_docs_out": corpus.count(),
        "stages": pipeline_lineage(root),
    }
    print(json.dumps(stats, default=str)[:2000])
    spark.stop()


if __name__ == "__main__":
    main()
