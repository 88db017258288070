"""Stage checkpointing: each stage commits the files it wrote, and resume
reads exactly those files.

north_rule: "all stages checkpoint to Iceberg with per-partition lineage +
row-count/byte metrics so any failed run resumes from the last committed
snapshot."  Here stages commit as parquet plus a JSON manifest, not Iceberg,
and the lineage is per written file (the write protocol — write, fsync the
manifest to a temp file, atomic rename — is the snapshot-commit pattern).
A commit is the stage's write job followed by a listing of what that write
produced; it runs no other Spark job.

Manifest per stage: {stage, snapshot_id, committed, n_rows, n_bytes,
files: [{path, n_rows, n_bytes}], schema, wall_sec}.  One `files` entry per
written parquet file: `path` is relative to the stage directory
(`z=4/part-....parquet` under `partition_by`), `n_rows` comes from the
file's parquet footer and `n_bytes` is its size; the stage's `n_rows` and
`n_bytes` are their sums.  `schema` is the read schema (data columns, then
partition columns), so a stage whose write left no file (0 rows under
`partition_by`) still reads back as 0 rows with its columns.

A stage stays committed while its manifest says so and every file it names
exists at its recorded size.  `run_stage` then reads exactly those files —
a stray file in the directory is not read — and otherwise rebuilds the
stage (idempotent rerun — reference analogue: ChunkBatch's per-file error
isolation + deterministic restart, codechunk.go:295-391).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, stage, "_manifest.json")


def _committed_manifest(root: str, stage: str) -> dict | None:
    """The stage's manifest while it is committed and every file it names
    is on disk at its recorded size, else None."""
    out_dir = os.path.join(root, stage)
    try:
        with open(_manifest_path(root, stage)) as f:
            m = json.load(f)
        intact = m["committed"] and all(
            os.path.getsize(os.path.join(out_dir, e["path"])) == e["n_bytes"]
            for e in m["files"])
    except (OSError, KeyError, TypeError, json.JSONDecodeError):
        return None
    return m if intact else None


def commit_stage(df: DataFrame, root: str, stage: str,
                 partition_by: list[str] | None = None) -> dict:
    """Write stage output, then commit a manifest of the files written."""
    out_dir = os.path.join(root, stage)
    t0 = time.perf_counter()
    parts = partition_by or []
    w = df.write.mode("overwrite")
    if parts:
        w = w.partitionBy(*parts)
    w.parquet(out_dir)

    files = []
    for dirpath, dirs, names in os.walk(out_dir):
        dirs.sort()
        for fn in sorted(names):
            if fn.endswith(".parquet"):
                path = os.path.join(dirpath, fn)
                files.append({"path": os.path.relpath(path, out_dir),
                              "n_rows": pq.read_metadata(path).num_rows,
                              "n_bytes": os.path.getsize(path)})
    schema = StructType([f for f in df.schema if f.name not in parts]
                        + [df.schema[c] for c in parts])
    manifest = {
        "stage": stage,
        "snapshot_id": uuid.uuid4().hex,
        "committed": True,
        "n_rows": sum(f["n_rows"] for f in files),
        "n_bytes": sum(f["n_bytes"] for f in files),
        "files": files,
        "schema": schema.jsonValue(),
        "wall_sec": round(time.perf_counter() - t0, 3),
    }
    tmp = _manifest_path(root, stage) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _manifest_path(root, stage))  # atomic commit
    return manifest


def run_stage(spark: SparkSession, root: str, stage: str, build,
              partition_by: list[str] | None = None) -> DataFrame:
    """Return the stage's committed output, computing it only if needed.

    `build()` -> DataFrame is invoked ONLY when the stage has no intact
    committed snapshot; either way the result reads exactly the files the
    manifest names (`basePath` keeps partition columns such as `z`).
    """
    m = _committed_manifest(root, stage)
    if m is None:
        m = commit_stage(build(), root, stage, partition_by)
    out_dir = os.path.join(root, stage)
    return (spark.read.schema(StructType.fromJson(m["schema"]))
            .option("basePath", out_dir)
            .parquet(*(os.path.join(out_dir, f["path"]) for f in m["files"])))


def pipeline_lineage(root: str) -> list[dict]:
    """All committed stage manifests (the lineage record)."""
    out = []
    if not os.path.isdir(root):
        return out
    for stage in sorted(os.listdir(root)):
        p = _manifest_path(root, stage)
        if os.path.exists(p):
            with open(p) as f:
                out.append(json.load(f))
    return out


def write_bucketed(df: DataFrame, table: str, bucket_cols: tuple,
                   n_buckets: int, sort_cols: tuple = (),
                   mode: str = "overwrite") -> None:
    """Persist `df` as a Spark BUCKETED table: rows hash-partitioned into
    `n_buckets` files per partition by `bucket_cols` (optionally sorted
    within each bucket), registered in the session catalog.

    Why this matters at 100 TB: two tables bucketed the same way
    (same columns, same bucket count) join WITHOUT any exchange — the
    bucketing metadata proves co-location, so every repeated join/agg on
    the bucket key skips its shuffle entirely (verified by test: the
    joined plan contains zero shuffle exchanges).  This is the persisted
    complement of layout_by_cell: zkey layout accelerates scans via
    file-skipping; bucketing accelerates joins via shuffle elision.
    Bucketed output requires the table catalog (saveAsTable) — plain
    .parquet(path) writes cannot carry bucket metadata.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
