"""Stage checkpointing: each stage commits the files its tasks wrote, and
resume reads exactly those files.

north_rule: "all stages checkpoint to Iceberg with per-partition lineage +
row-count/byte metrics so any failed run resumes from the last committed
snapshot."  Here stages commit as parquet plus a JSON manifest, not Iceberg,
and the lineage is per written file.  The manifest is the commit: the
stage's files are written, then the manifest is fsynced to a temp file and
renamed into place atomically (the snapshot-commit pattern).

The write is the engine's own, one Spark job per commit:
`df.mapInArrow(_write_task)` runs in every task, writes the task's Arrow
batches with `pyarrow.parquet.ParquetWriter` (one file per partition value
under `partition_by`, Hive-style directories with Spark's escaping) and
returns one `(path, n_rows, n_bytes)` row per file it wrote; the driver
collects those rows and they are the manifest's `files`.  File names are
unique per task attempt, and Spark returns the rows of exactly one
successful attempt per task, so a file left by a failed or duplicate
attempt is never named and never read.

Spark's `DataFrameWriter` is not used.  Its Hadoop `FileOutputCommitter`
adds a `_temporary` tree of renames, `_SUCCESS` and a `.crc` beside every
file, none of which the manifest needs.  Without `libhadoop`, Hadoop's
local file system also forks a `chmod` process for every file and
directory it creates: 87 forks of a few ms each for the five stages of
`jobs/pip_tile_job.py` over 600 documents, against none here (PLANS.md,
Checkpoint commit).

Manifest per stage: {stage, snapshot_id, committed, n_rows, n_bytes,
files: [{path, n_rows, n_bytes}], schema, wall_sec}.  `path` is relative
to the stage directory (`z=4/part-....parquet` under `partition_by`); the
stage's `n_rows` and `n_bytes` are the files' sums.  `schema` is the read
schema (data columns, then partition columns), so a stage that wrote no
file (0 rows) still reads back as 0 rows with its columns.

A stage stays committed while its manifest says so and every file it names
exists at its recorded size.  `run_stage` then reads exactly those files —
a stray file in the directory is not read — and otherwise rebuilds the
stage (idempotent rerun — reference analogue: ChunkBatch's per-file error
isolation + deterministic restart, codechunk.go:295-391).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# The leaf types that both cross mapInArrow and are stored in parquet.
_LEAF_TYPES = (BooleanType, ByteType, ShortType, IntegerType, LongType,
               FloatType, DoubleType, DecimalType, StringType, BinaryType,
               DateType, TimestampType, TimestampNTZType)
_FILES_DDL = "path string, n_rows long, n_bytes long"
_FILES_SCHEMA = pa.schema([("path", pa.string()), ("n_rows", pa.int64()),
                           ("n_bytes", pa.int64())])
# Spark's partition-path escaping (ExternalCatalogUtils.escapePathName) and
# its directory name for a null or empty partition value.
_ESCAPED = frozenset(list(map(chr, range(1, 32))) + list("\"#%'*/:=?\\\x7f{[]^"))
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


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


def _writable(t) -> bool:
    """Whether a column of Spark type `t` can be written to a stage."""
    if isinstance(t, StructType):
        return all(_writable(f.dataType) for f in t)
    if isinstance(t, ArrayType):
        return _writable(t.elementType)
    if isinstance(t, MapType):
        return _writable(t.keyType) and _writable(t.valueType)
    return isinstance(t, _LEAF_TYPES)


def _escape(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)


def _partition_dir(names: list[str], values: list) -> str:
    """Spark's Hive-style directory for one partition value, e.g. `z=4`."""
    return "/".join(f"{_escape(n)}={_escape(v) if v else _NULL_PARTITION}"
                    for n, v in zip(names, values))


def _write_task(out_dir: str, parts: list[str], batches):
    """mapInArrow body: write this task's rows under `out_dir` as parquet,
    one file per partition value, then yield one `(path, n_rows, n_bytes)`
    row per file written.  The last `len(parts)` columns of each batch are
    the partition values cast to string; they name the directory and are
    not written."""
    ctx = TaskContext.get()
    name = (f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}-"
            f"{uuid.uuid4().hex}.parquet")
    files: dict[str, list] = {}  # path -> [ParquetWriter, n_rows]

    def write(rel_dir: str, data: pa.RecordBatch) -> None:
        path = os.path.join(rel_dir, name)
        if path not in files:
            os.makedirs(os.path.join(out_dir, rel_dir), exist_ok=True)
            files[path] = [pq.ParquetWriter(os.path.join(out_dir, path),
                                            data.schema, store_schema=False), 0]
        files[path][0].write_batch(data)
        files[path][1] += data.num_rows

    for batch in batches:
        if not batch.num_rows:
            continue
        n_data = batch.num_columns - len(parts)
        data = batch.select(range(n_data))
        if not parts:
            write("", data)
            continue
        # row indices per distinct partition value, in order of first row
        keys = [str(j) for j in range(len(parts))]
        groups = pa.table({**dict(zip(keys, batch.columns[n_data:])),
                           "i": np.arange(batch.num_rows)}) \
            .group_by(keys, use_threads=False).aggregate([("i", "list")])
        for g, rows in enumerate(groups["i_list"]):
            write(_partition_dir(parts, [groups[k][g].as_py() for k in keys]),
                  data.take(rows.values))

    out = {"path": [], "n_rows": [], "n_bytes": []}
    for path, (w, n) in files.items():
        w.close()
        out["path"].append(path)
        out["n_rows"].append(n)
        out["n_bytes"].append(os.path.getsize(os.path.join(out_dir, path)))
    yield pa.RecordBatch.from_pydict(out, schema=_FILES_SCHEMA)


def commit_stage(df: DataFrame, root: str, stage: str,
                 partition_by: list[str] | None = None) -> dict:
    """Write the stage's files in one Spark job, then commit a manifest
    naming exactly the files the tasks report.  A column of a type that
    cannot be written raises TypeError before anything is deleted."""
    out_dir = os.path.join(root, stage)
    t0 = time.perf_counter()
    parts = partition_by or []
    for f in df.schema:
        if not _writable(f.dataType):
            raise TypeError(f"stage {stage!r}: column {f.name!r} of type "
                            f"{f.dataType.simpleString()} cannot be written "
                            "to a checkpoint")
    data = [f.name for f in df.schema if f.name not in parts]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    src = df.select(*(df[c] for c in data),
                    *(df[p].cast("string").alias(p) for p in parts)) \
        if parts else df
    rows = src.mapInArrow(partial(_write_task, out_dir, parts),
                          _FILES_DDL).collect()

    files = sorted(({"path": r.path, "n_rows": r.n_rows, "n_bytes": r.n_bytes}
                    for r in rows), key=lambda e: e["path"])
    schema = StructType([df.schema[c] for c in data + parts])
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
