"""Event-time sessionization and incremental stream dedup.

 * sessionize_batch — gap-based sessions per key via lag-flag-cumsum window
   algebra (no state, no Python), at microsecond precision; the
   `sessionize` queries() entry and its DuckDB mirror.
 * run_stream_dedup_increment — a foreachBatch stream that runs
   operators.dedup.dedup_increment on every micro-batch of new documents
   against a persisted band index; the `stream_dedup` queries() entry.

Both are pure event-time logic — no wall clock — so results are replayable
and identical across retries and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sessionize_batch(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    session_gap_s: int = 1800,
    bucket_s: int | None = 86400,
) -> DataFrame:
    """Gap-based sessions per key via the classic lag-flag-cumsum window
    algebra (no state, no Python).  A session boundary is a gap >
    session_gap_s between consecutive events (epoch MICROSECOND precision,
    so the comparison is integer-exact and the result is bit-identical at
    any parallelism — tied timestamps produce gap 0 and can never
    straddle a boundary, so tie order is irrelevant).  Returns one row
    per session: key, start_us, end_us, n_events.

    **Scale shape (bucket_s set, the default):** TWO-PHASE.  A plain
    `Window.partitionBy(key)` serializes each key's entire history into
    one task — with a handful of distinct keys that is a straggler AQE
    cannot split (window, not join).  Instead:

      phase 1: sessionize independently within each (key, time-bucket)
        partition — same window algebra, but the sort unit is one bucket
        of one key, so parallelism is O(keys x buckets) and a hot key's
        history splits across the cluster.  Sessions that touch a bucket
        edge may be artificially split; exactly the FIRST and LAST
        session of each bucket can be affected.
      phase 2: repair the splits by interval-merging ONLY those first/
        last per-bucket sessions (<= 2 per key x bucket — a tiny fraction
        of events) with one small per-key window: consecutive boundary
        sessions merge when start - prev_end <= gap, exactly the
        original event-gap rule, because a session's start/end ARE its
        first/last events.  Interior sessions (both in-bucket neighbor
        gaps > gap) can never merge with anything and pass through.

    The result is bit-identical to the single-window form for ANY
    bucket_s >= 1s (equality pinned at three bucket sizes in
    tests/test_checkpoint_skew_stream.py); choose bucket_s so one key's
    bucket of events fits a task comfortably (default 1 day).

    bucket_s=None selects the single-window legacy form — the reference
    for the equality tests and for corpora with many distinct keys where
    the extra merge pass isn't worth it.
    """
    from pyspark.sql import Window

    gap_us = session_gap_s * 1_000_000
    # cast handles TIMESTAMP_NTZ sources; run with session tz UTC so
    # the instant (and the DuckDB epoch_us mirror) is unambiguous
    base = events.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"))

    if bucket_s is None:
        w = Window.partitionBy("key").orderBy("ts_us")
        stepped = (
            base.withColumn(
                "new_sess",
                F.when(
                    F.col("ts_us") - F.lag("ts_us").over(w) > gap_us, 1
                ).otherwise(0),
            )
            .withColumn("sess_idx", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
        )
        return (
            stepped.groupBy("key", "sess_idx")
            .agg(
                F.min("ts_us").alias("start_us"),
                F.max("ts_us").alias("end_us"),
                F.count("*").alias("n_events"),
            )
            .drop("sess_idx")
        )

    if bucket_s < 1:
        raise ValueError(f"bucket_s must be >= 1s or None, got {bucket_s}")
    bucket_us = bucket_s * 1_000_000
    # phase 1: per-(key, bucket) sessionization — the sort unit is one
    # bucket, never one key
    wb = Window.partitionBy("key", "bucket").orderBy("ts_us")
    stepped = (
        base.withColumn("bucket", F.expr(f"ts_us div {bucket_us}"))
        .withColumn(
            "new_sess",
            F.when(
                F.col("ts_us") - F.lag("ts_us").over(wb) > gap_us, 1
            ).otherwise(0),
        )
        .withColumn("sess_idx", F.sum("new_sess").over(
            wb.rowsBetween(Window.unboundedPreceding, 0)))
    )
    sess = stepped.groupBy("key", "bucket", "sess_idx").agg(
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        F.count("*").alias("n_events"),
    )
    # classify: only a bucket's first/last session can straddle an edge
    wbs = Window.partitionBy("key", "bucket")
    sess = sess.withColumn(
        "rn_a", F.row_number().over(wbs.orderBy(F.col("start_us").asc()))
    ).withColumn(
        "rn_d", F.row_number().over(wbs.orderBy(F.col("start_us").desc()))
    # lazy localCheckpoint: the interior/merged branches below both read
    # `sess`; without an RDD boundary each union branch would re-run the
    # whole event-level phase-1 window from the shared exchange (same
    # pattern as geo.compact_cover)
    ).localCheckpoint(eager=False)
    is_boundary = (F.col("rn_a") == 1) | (F.col("rn_d") == 1)
    cols = ["key", "start_us", "end_us", "n_events"]
    interior = sess.filter(~is_boundary).select(*cols)
    # phase 2: interval-merge the boundary sessions per key.  The chain
    # may skip interior sessions of a bucket, but that only OVERSTATES the
    # gap (prev boundary end <= skipped interior end), and both the true
    # and overstated gaps exceed gap_us in that case — so the test below
    # merges exactly the truly-adjacent cross-bucket splits.
    wk = Window.partitionBy("key").orderBy("start_us")
    merged = (
        sess.filter(is_boundary)
        .withColumn(
            "new_grp",
            F.when(
                F.col("start_us") - F.lag("end_us").over(wk) > gap_us, 1
            ).otherwise(0),
        )
        .withColumn("grp", F.sum("new_grp").over(
            wk.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("key", "grp")
        .agg(
            F.min("start_us").alias("start_us"),
            F.max("end_us").alias("end_us"),
            F.sum("n_events").alias("n_events"),
        )
        .select(*cols)
    )
    return interior.unionByName(merged)


def run_stream_dedup_increment(
    doc_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    **dedup_kwargs,
):
    """Streaming incremental MinHash dedup: every micro-batch of newly
    ingested documents signatures itself, equi-joins its band keys against
    the persisted corpus index (operators.dedup.dedup_increment), writes
    the candidate pairs it INTRODUCED to `out_path`, and appends its bands
    to the index — the daily new-crawl-vs-corpus dedup as a continuous
    stream; the union of all written pairs equals the full-corpus LSH
    recompute (pinned by test, same invariant as the batch form).

    At-least-once safety (foreachBatch replays after a crash):
      * the pair output overwrites its own `_batch_id` partition (dynamic
        partition overwrite), so a replay rewrites identical rows;
      * the INDEX side passes the micro-batch id as dedup_increment's
        batch_name — a replayed batch joins against the corpus EXCLUDING
        its own prior partial write, overwrites its band directory, and
        the manifest gains the id exactly once.
    """
    from ..operators.dedup import dedup_increment

    def _batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        (dedup_increment(df, index_path, id_col=id_col, text_col=text_col,
                         batch_name=int(batch_id), **dedup_kwargs)
         .withColumn("_batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out_path))

    writer = (doc_stream.writeStream.foreachBatch(_batch)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
