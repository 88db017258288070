"""Structured Streaming variants of the chunking pipeline.

Reference streaming semantics to preserve (SURVEY.md §2.10):
 * ChunkStream emits chunks incrementally with TotalChunks = -1 — a global
   per-doc count is unknowable mid-stream (codechunk.go:284).  In Spark this
   is exactly the rule that an unbounded stream cannot compute a global
   aggregate without complete mode: `chunk_documents(..., streaming=True)`
   stamps the -1 sentinel and is applied per micro-batch.
 * ChunkBatchStream emits per-file results in completion order
   (codechunk.go:394-503) — micro-batch output order is likewise
   nondeterministic; tests stay order-insensitive.
 * Cancellation/backpressure map to query.stop() and micro-batching.
 * No event-time/watermark semantics exist in the reference; the engine's
   resumability story is snapshot checkpointing (operators/checkpoint.py),
   and streaming checkpointing below uses Spark's own checkpointLocation.
 * Stateless stream-static operators need no wrapper: `pip_join(stream,
   index=...)`, and `dwithin_join` / `dwithin_geo` with `broadcast_b=True`,
   probe each micro-batch exactly like a batch (stream == batch is pinned
   by tests/test_checkpoint_skew_stream.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.chunker import chunk_documents


def stream_documents_from_parquet(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """File-source stream over a documents directory (one-time backfill via
    Trigger.AvailableNow in run_stream_chunker)."""
    reader = spark.readStream
    if schema:
        reader = reader.schema(schema)
    else:
        static = spark.read.parquet(path)
        reader = reader.schema(static.schema)
    return reader.parquet(path)


def stream_chunk(docs_stream: DataFrame, max_size: int = 1500,
                 options_col: str | None = None) -> DataFrame:
    """Streaming chunker: same fold, total_chunks = -1 sentinel.  Per-row
    option structs flow through exactly as in the batch path (reference
    ChunkBatchStream honors per-file options — codechunk.go:445-463)."""
    return chunk_documents(docs_stream, max_size=max_size, streaming=True,
                           options_col=options_col)


def run_stream_chunker(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint_path: str,
    max_size: int = 1500,
    available_now: bool = True,
):
    """Start the streaming pipeline writing parquet with exactly-once
    progress tracked in checkpoint_path; AvailableNow processes the current
    backlog then stops (the batch-parity mode used by tests)."""
    docs = stream_documents_from_parquet(spark, in_path)
    chunks = stream_chunk(docs, max_size)
    writer = (
        chunks.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_knn(
    query_stream: DataFrame,
    index,
    k: int,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Streaming kNN: an unbounded query stream probes a static corpus.

    Each micro-batch is one knn_ring request — one mapInPandas over the
    batch's queries, no driver-side step — against a prebuilt
    operators.knn.KnnIndex (the corpus arrays and SATs, broadcast ONCE
    and amortized across every micro-batch).  It runs via foreachBatch
    for the write: foreachBatch is only AT-LEAST-once, so the write is
    made idempotent: each batch overwrites its own
    `_batch_id=<n>` partition (dynamic partition overwrite) — a replayed
    batch rewrites identical rows instead of duplicating them.
    batch==stream equality is pinned by
    tests/test_checkpoint_skew_stream.py.  Completes the streaming form
    of all four core operators (chunk, PIP, tiles, kNN)."""
    from pyspark.sql import functions as F

    from ..operators.knn import knn_ring

    def _batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        (knn_ring(df, k=k, index=index)
         .withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out_path))

    writer = (query_stream.writeStream.foreachBatch(_batch)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_asof(
    left_stream: DataFrame,
    right_static: DataFrame,
    on: list,
    left_ts: str,
    right_ts: str,
    out_path: str,
    checkpoint_path: str,
    tolerance_us: int | None = None,
    strict: bool = False,
    available_now: bool = True,
):
    """Streaming as-of join: an unbounded left-event stream against a
    STATIC right reference series (the enrich-each-arriving-event shape:
    trades vs a quote book, telemetry vs config history).

    asof_join is a window over a union, and window functions are not
    available on unbounded streams, so this runs via foreachBatch — each
    micro-batch is exact on its own because every left row's match
    depends only on the static right side, never on other left rows.
    foreachBatch is AT-LEAST-once, so the write is made idempotent the
    same way as run_stream_knn: each batch overwrites its own
    `_batch_id=<n>` partition (dynamic partition overwrite), so a
    replayed batch rewrites identical rows instead of duplicating them.
    stream==batch equality is pinned by tests/test_events_rank.py.
    """
    from pyspark.sql import functions as F

    from ..operators.events import asof_join

    def _batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        (asof_join(df, right_static, on, left_ts, right_ts,
                   tolerance_us=tolerance_us, strict=strict)
         .withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out_path))

    writer = (left_stream.writeStream.foreachBatch(_batch)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_colocate(
    point_stream: DataFrame,
    corpus_static: DataFrame,
    radius: int,
    dt: int,
    out_path: str,
    checkpoint_path: str,
    a_keep: tuple = ("doc_id", "span_pos"),
    b_keep: tuple = ("b_doc_id", "b_span_pos"),
    t_col: str = "t_s",
    available_now: bool = True,
):
    """Streaming spatiotemporal contact detection: each micro-batch of
    arriving points joins against a STATIC reference corpus for
    space-time co-locations (|d| <= radius AND |t_a - t_b| <= dt) — the
    continuous form of spatial.st_colocate_ab (new sightings vs a known
    set: vessels vs restricted zones' guard points, devices vs known
    beacons).

    Exact per micro-batch because an arriving row's contacts depend only
    on the static corpus, never on other stream rows — the same
    independence argument as run_stream_asof.  foreachBatch is
    AT-LEAST-once, so the write overwrites its own `_batch_id=<n>`
    partition (dynamic partition overwrite); a replayed batch rewrites
    identical rows.  The union of all written batches equals the batch
    st_colocate_ab over the union of inputs — pinned by test.
    """
    from pyspark.sql import functions as F

    from ..operators.spatial import st_colocate_ab

    def _batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        (st_colocate_ab(df, corpus_static, radius, dt,
                        a_keep=a_keep, b_keep=b_keep, t_col=t_col)
         .withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out_path))

    writer = (point_stream.writeStream.foreachBatch(_batch)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_map_match(
    point_stream: DataFrame,
    segs_static: DataFrame,
    radius: int,
    res: int,
    out_path: str,
    checkpoint_path: str,
    p_keep: tuple = ("doc_id", "span_pos"),
    seg_id: str = "seg_id",
    available_now: bool = True,
):
    """Streaming map-matching: each micro-batch of arriving GPS points is
    snapped to its nearest segment of a STATIC road set within `radius`
    (the continuous form of overlay.snap_to_segments — live pings vs a
    fixed network).

    Exact per micro-batch because a point's nearest segment depends only
    on the static segment set, never on other stream rows — the same
    independence argument as run_stream_asof / run_stream_colocate.
    foreachBatch is AT-LEAST-once, so each batch overwrites its own
    `_batch_id=<n>` partition (dynamic partition overwrite); a replayed
    batch rewrites identical rows.  The union of all written batches
    equals the batch snap_to_segments over the union of inputs — pinned
    by test.
    """
    from pyspark.sql import functions as F

    from ..operators.overlay import snap_to_segments

    def _batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        (snap_to_segments(df, segs_static, radius, res,
                          p_keep=p_keep, seg_id=seg_id)
         .withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out_path))

    writer = (point_stream.writeStream.foreachBatch(_batch)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
