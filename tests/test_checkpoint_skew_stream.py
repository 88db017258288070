"""Checkpoint/resume, salted-join equivalence, and streaming sentinel —
Spark-side tests."""

import json
import os

import pytest

from pyspark.sql import functions as F

from tree_code_chunker_spark.operators.checkpoint import (
    commit_stage,
    is_committed,
    pipeline_lineage,
    run_stage,
)
from tree_code_chunker_spark.operators.skew import salted_join, salted_repartition
from tree_code_chunker_spark.sources.datagen import gen_documents
from tree_code_chunker_spark.streaming.stream_chunk import run_stream_chunker


def test_checkpoint_commit_and_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return df

    out1 = run_stage(spark, root, "stage1", build)
    assert out1.count() == 100 and calls["n"] == 1
    assert is_committed(root, "stage1")
    # resume: build NOT invoked again
    out2 = run_stage(spark, root, "stage1", build)
    assert out2.count() == 100 and calls["n"] == 1
    lineage = pipeline_lineage(root)
    assert len(lineage) == 1
    m = lineage[0]
    assert m["n_rows"] == 100 and m["n_bytes"] > 0 and m["committed"]
    assert sum(f["n_rows"] for f in m["files"]) == 100


def test_checkpoint_uncommitted_recomputes(spark, tmp_path):
    root = str(tmp_path / "ckpt2")
    df = spark.range(10)
    commit_stage(df, root, "s")
    # sabotage the manifest -> must recompute
    os.remove(os.path.join(root, "s", "_manifest.json"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return df

    run_stage(spark, root, "s", build)
    assert calls["n"] == 1


def _stage_df(spark, n=100):
    """n rows in 4 input partitions, with a partition column `z`."""
    return spark.range(0, n, 1, 4).select(
        "id", (F.col("id") % 3).cast("int").alias("z"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"))


def _no_rebuild():
    raise AssertionError("committed stage rebuilt")


def _parquet_on_disk(stage_dir):
    import pyarrow.parquet as pq

    out = {}
    for dirpath, _dirs, names in os.walk(stage_dir):
        for fn in names:
            if fn.endswith(".parquet"):
                path = os.path.join(dirpath, fn)
                out[os.path.relpath(path, stage_dir)] = (
                    pq.read_metadata(path).num_rows, os.path.getsize(path))
    return out


@pytest.mark.parametrize("partition_by", [None, ["z"]])
def test_checkpoint_manifest_lists_written_files(spark, tmp_path, partition_by):
    """Lineage is the written files: each with its footer rows and size."""
    root = str(tmp_path / "ckpt")
    df = _stage_df(spark)
    m = commit_stage(df, root, "s", partition_by)
    on_disk = _parquet_on_disk(os.path.join(root, "s"))
    assert {f["path"]: (f["n_rows"], f["n_bytes"]) for f in m["files"]} \
        == on_disk
    assert sum(f["n_rows"] for f in m["files"]) == m["n_rows"] == df.count()
    assert sum(f["n_bytes"] for f in m["files"]) == m["n_bytes"]
    if partition_by:
        assert all(f["path"].startswith("z=") for f in m["files"])


def test_checkpoint_commit_is_one_job(spark, tmp_path):
    """A commit is the write job alone: no Spark read of its own output."""
    import uuid

    df = _stage_df(spark)
    assert df.rdd.getNumPartitions() == 4
    sc = spark.sparkContext
    group = f"commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "commit")
    try:
        commit_stage(df, str(tmp_path / "ckpt"), "s")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_checkpoint_resume_ignores_stray_file(spark, tmp_path):
    """Resume reads the files the manifest names, not the directory."""
    import shutil

    root = str(tmp_path / "ckpt")
    run_stage(spark, root, "s", lambda: _stage_df(spark), ["z"])
    stage_dir = os.path.join(root, "s")
    src = next(iter(_parquet_on_disk(stage_dir)))
    shutil.copy(os.path.join(stage_dir, src),
                os.path.join(stage_dir, "z=0", "part-stray.parquet"))

    out = run_stage(spark, root, "s", _no_rebuild, ["z"])
    assert out.columns == ["id", "s", "z"]
    assert sorted(out.select("id", "z", "s").collect()) \
        == sorted(_stage_df(spark).collect())


@pytest.mark.parametrize("damage", ["delete", "truncate"])
def test_checkpoint_damaged_file_rebuilds(spark, tmp_path, damage):
    """A committed file that is gone or changed size un-commits the stage."""
    root = str(tmp_path / "ckpt")
    m = commit_stage(_stage_df(spark), root, "s")
    path = os.path.join(root, "s", m["files"][0]["path"])
    if damage == "delete":
        os.remove(path)
    else:
        with open(path, "r+b") as f:
            f.truncate(os.path.getsize(path) // 2)
    assert not is_committed(root, "s")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _stage_df(spark)

    out = run_stage(spark, root, "s", build)
    assert calls["n"] == 1 and is_committed(root, "s")
    assert sorted(out.collect()) == sorted(_stage_df(spark).collect())


@pytest.mark.parametrize("partition_by", [None, ["z"]])
def test_checkpoint_empty_stage_commits_and_reads_back(spark, tmp_path,
                                                       partition_by):
    """A 0-row stage commits (under partitionBy its write leaves no file)
    and reads back as 0 rows with the columns of a non-empty stage."""
    root = str(tmp_path / "ckpt")
    full = run_stage(spark, root, "full", lambda: _stage_df(spark),
                     partition_by)
    empty = run_stage(spark, root, "empty", lambda: _stage_df(spark, 0),
                      partition_by)
    assert empty.count() == 0 and empty.schema == full.schema
    assert pipeline_lineage(root)[0]["n_rows"] == 0

    again = run_stage(spark, root, "empty", _no_rebuild, partition_by)
    assert again.count() == 0 and again.schema == full.schema


def test_salted_join_matches_plain_join(spark):
    # skewed big side: key 0 has 5000 rows, others ~10
    big = spark.range(6000).select(
        F.when(F.col("id") < 5000, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("dim")
    )
    plain = big.join(small, "k").select("k", "payload", "dim")
    salted = salted_join(big, small, "k", n_salts=8, threshold_rows=1000)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.select("k", "payload", "dim").collect()))
    assert a == b


def test_salted_repartition_preserves_rows(spark):
    df = spark.range(2000).select((F.col("id") % 3).alias("k"), "id")
    out = salted_repartition(df, "k", n_salts=4, threshold_rows=100)
    assert out.count() == 2000
    assert sorted(map(tuple, out.select("k", "id").collect())) == sorted(
        map(tuple, df.select("k", "id").collect())
    )


def test_streaming_chunker_availablenow(spark, tmp_path):
    docs = gen_documents(spark, 20, seed=7)
    in_path = str(tmp_path / "docs_in")
    docs.write.parquet(in_path)
    out_path = str(tmp_path / "chunks_out")
    ckpt = str(tmp_path / "stream_ckpt")
    q = run_stream_chunker(spark, in_path, out_path, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(out_path)
    assert out.count() > 0
    # streaming sentinel pinned (reference codechunk.go:284)
    assert out.select(F.collect_set("total_chunks")).first()[0] == [-1]
    # restart with no new data: no duplicate output (checkpoint resume)
    n1 = out.count()
    q2 = run_stream_chunker(spark, in_path, out_path, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_path).count() == n1


def test_stream_event_windows_matches_batch(spark, tmp_path):
    """The watermarked streaming rollup (complete mode, AvailableNow over
    the driver events table) must equal the batch event_windows query."""
    from tree_code_chunker_spark.streaming.windows import stream_event_windows

    sf_dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").cast("string").alias("window_start"),
                "event_type", "n_events", "total_value")
    )
    want = sorted(map(tuple, batch.collect()))

    # readStream wants a directory; restage the single driver file into one
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "events_dir")
    static.write.parquet(src)
    stream = (
        spark.readStream.schema(static.schema).parquet(src)
        # driver parquet carries TIMESTAMP_NTZ; event-time watermarks need
        # TIMESTAMP (session tz is UTC, so the instant is unchanged)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_event_windows(stream)
    q = (out.writeStream.format("memory").queryName("sw")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM sw").collect()))
    assert got == want and len(got) > 0


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: gap > 30 min closes a
    session; event-time timeout flushes the last one."""
    import pandas as pd

    from tree_code_chunker_spark.streaming.windows import sessionize_stream

    rows = []
    base = pd.Timestamp("2024-01-01 00:00:00")
    # key A: two sessions (3 events, gap, 2 events); key B: one session
    for mins, key in [(0, "A"), (5, "A"), (10, "A"),
                      (120, "A"), (125, "A"),
                      (0, "B"), (20, "B")]:
        rows.append((key, (base + pd.Timedelta(minutes=mins)).to_pydatetime(),
                     1.0))
    src = str(tmp_path / "events_in")
    spark.createDataFrame(rows, "event_type string, ts timestamp, value double") \
        .coalesce(1).write.parquet(src)
    schema = "event_type string, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize_stream(stream, session_gap_s=1800)
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["key"], r["n_events"]) for r in
           spark.sql("SELECT * FROM sess").collect()}
    # closed WITHIN the stream: A's first session (the 2h gap closes it).
    # A's second session and B's only session stay in state (no later
    # watermark to time them out in a single AvailableNow pass).
    assert ("A", 3) in got


def test_stream_chunk_per_row_options(spark, tmp_path):
    """ChunkBatchStream honors per-file options (codechunk.go:445-463):
    the streaming fold must apply a row's max_chunk_size override."""
    from tree_code_chunker_spark.streaming.stream_chunk import stream_chunk

    text = "\n".join("word " * 10 for _ in range(20))  # ~1000 NWS
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>, "
              "options struct<max_chunk_size:int>")
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(
        [("small", [{"kind": "text", "text": text, "media_ref": "",
                     "offset": 0}], {"max_chunk_size": 100}),
         ("inherit", [{"kind": "text", "text": text, "media_ref": "",
                       "offset": 0}], None)],
        schema,
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_chunk(stream, max_size=1500, options_col="options")
    q = (out.writeStream.format("memory").queryName("sc_opts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sc_opts").collect()
    n = {}
    for r in rows:
        n[r["doc_id"]] = n.get(r["doc_id"], 0) + 1
        assert r["total_chunks"] == -1  # stream sentinel
    assert n["small"] > 1 and n["inherit"] == 1


def test_rebuild_text_empty_window():
    from tree_code_chunker_spark.operators.chunker import _Window, rebuild_text

    assert rebuild_text(_Window(), b"abc") == ("", 0, 0, 0, 0)


def test_sessionize_no_rewind_on_late_events(spark, tmp_path):
    """A late-but-admitted event (earlier than the stored session `last`
    from a prior micro-batch, within the gap) must not move the session
    boundary backward — a rewound `last` would make the next on-time event
    exceed the gap measured from the stale point and spuriously split one
    session into two."""
    import os
    import pandas as pd

    from tree_code_chunker_spark.streaming.windows import sessionize_stream

    base = pd.Timestamp("2024-01-01 00:00:00")

    def write_batch(name, minutes, mtime):
        rows = [("A", (base + pd.Timedelta(minutes=m)).to_pydatetime(), 1.0)
                for m in minutes]
        p = str(tmp_path / name)
        spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        ).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        return p

    src = str(tmp_path / "late_in")
    os.makedirs(src)
    # batch 1: events at 0 and 20 min  -> state (s=0, last=20, n=2)
    # batch 2: late event at 10 min (within gap of last=20) + on-time at
    # 45 min.  45-20=25 <= 30 gap -> still ONE open session (n=4, never
    # emitted).  Rewound state (last=10) would see 45-10=35 > 30 and emit
    # a spurious closed session.
    write_batch("late_in/b1", [0, 20], 1_000_000)
    write_batch("late_in/b2", [10, 45], 1_000_100)
    # batch 3: an event 255 min past the session end closes it via the gap
    # rule, making the test POSITIVE (an empty sink would also pass the
    # no-spurious-split assertion vacuously if nothing processed)
    write_batch("late_in/b3", [300], 1_000_200)

    schema = "event_type string, ts timestamp, value double"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    out = sessionize_stream(stream, session_gap_s=1800)
    q = (out.writeStream.format("memory").queryName("sess_late")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_late"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [(r["key"], r["session_start"], r["session_end"], r["n_events"])
           for r in spark.sql("SELECT * FROM sess_late").collect()]
    want_start = base.to_pydatetime()
    want_end = (base + pd.Timedelta(minutes=45)).to_pydatetime()
    assert got == [("A", want_start, want_end, 4)]


def test_sessionize_super_gap_late_event_is_own_session(spark, tmp_path):
    """An admitted late event more than a gap BEFORE the stored session
    start is its own earlier session — merging it would span a hole wider
    than the gap and report a wrong start/count."""
    import os
    import pandas as pd

    from tree_code_chunker_spark.streaming.windows import sessionize_stream

    base = pd.Timestamp("2024-01-01 00:00:00")

    def write_batch(name, minutes, mtime):
        rows = [("A", (base + pd.Timedelta(minutes=m)).to_pydatetime(), 1.0)
                for m in minutes]
        p = str(tmp_path / name)
        spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        ).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    src = str(tmp_path / "sg_in")
    os.makedirs(src)
    # batch 1: session anchored at 120 min.  batch 2: late events at 10
    # and 20 min (110 min before the anchor, far beyond the 30-min gap —
    # still inside the 2h watermark) -> they form their OWN closed
    # session of 2; the anchored session must not stretch back to 10.
    write_batch("sg_in/b1", [120], 1_000_000)
    write_batch("sg_in/b2", [10, 20], 1_000_100)

    schema = "event_type string, ts timestamp, value double"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    out = sessionize_stream(stream, session_gap_s=1800)
    q = (out.writeStream.format("memory").queryName("sess_sg")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_sg"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [(r["key"], r["session_start"], r["session_end"], r["n_events"])
           for r in spark.sql("SELECT * FROM sess_sg").collect()]
    assert got == [("A",
                    (base + pd.Timedelta(minutes=10)).to_pydatetime(),
                    (base + pd.Timedelta(minutes=20)).to_pydatetime(),
                    2)]


def test_stream_exact_dedup_across_microbatches(spark, tmp_path):
    """Same content arriving in a LATER micro-batch (within the watermark)
    is dropped; distinct content always survives."""
    import os
    import pandas as pd

    from tree_code_chunker_spark.streaming.windows import stream_exact_dedup

    base = pd.Timestamp("2024-01-01 00:00:00")

    def write_batch(name, rows, mtime):
        p = str(tmp_path / name)
        spark.createDataFrame(
            [(i, t, (base + pd.Timedelta(minutes=m)).to_pydatetime())
             for i, t, m in rows],
            "doc_id long, text string, ts timestamp",
        ).coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    src = str(tmp_path / "dd_in")
    os.makedirs(src)
    write_batch("dd_in/b1", [(1, "alpha text", 0), (2, "beta text", 1)],
                1_000_000)
    write_batch("dd_in/b2", [(3, "alpha text", 5), (4, "gamma text", 6)],
                1_000_100)

    schema = "doc_id long, text string, ts timestamp"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    out = stream_exact_dedup(stream)
    q = (out.writeStream.format("memory").queryName("dd")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_dd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["doc_id"], r["text"]) for r in
           spark.sql("SELECT * FROM dd").collect()}
    assert got == {(1, "alpha text"), (2, "beta text"), (4, "gamma text")}


def test_stream_tile_rollup_matches_batch(spark, tmp_path):
    """Watermarked streaming tile rollup == batch tile histogram on the same
    derived point stream (bit-equal integer tile math on both paths)."""
    from tree_code_chunker_spark.operators.geo import (
        derive_point_cols, tile_cols)
    from tree_code_chunker_spark.streaming.windows import stream_tile_rollup

    sf_dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    qlat, qlon = derive_point_cols(F.col("event_id"), F.col("user_id"))
    static = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "ts", qlat.alias("qlat"), qlon.alias("qlon"))
    )
    tx, ty = tile_cols(F.col("qlat"), F.col("qlon"), 6)
    batch = (
        static.groupBy(F.window("ts", "1 hour").alias("w"),
                       tx.alias("x"), ty.alias("y"))
        .agg(F.count("*").alias("n_points"))
        .select(F.col("w.start").cast("string").alias("window_start"),
                F.lit(6).alias("z"), "x", "y", "n_points")
    )
    want = sorted(map(tuple, batch.collect()))

    src = str(tmp_path / "points_dir")
    static.write.parquet(src)
    stream = (
        spark.readStream.schema(static.schema).parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_tile_rollup(stream, z=6)
    q = (out.writeStream.format("memory").queryName("stile")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck_tile"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM stile").collect()))
    assert got == want and len(got) > 0


def test_stream_pip_matches_batch(spark, tmp_path):
    """Streaming PIP enrichment == batch pip_join on the same points."""
    import numpy as np

    from tree_code_chunker_spark.operators.pip import (
        build_polygon_index, pip_join)

    rng = np.random.RandomState(31)
    pts_rows = [(int(i), 0, int(rng.randint(0, 60000)),
                 int(rng.randint(0, 60000))) for i in range(2000)]
    pts = spark.createDataFrame(
        pts_rows, "doc_id bigint, span_pos bigint, qlat bigint, qlon bigint")
    rects = []
    for r in range(8):
        y0, x0 = int(rng.randint(0, 50000)), int(rng.randint(0, 50000))
        ring = [(y0, x0), (y0, x0 + 9000), (y0 + 8000, x0 + 9000),
                (y0 + 8000, x0), (y0, x0)]
        rects.append((f"r{r}", ring))
    polys = spark.createDataFrame(
        rects, "polygon_id string, ring array<struct<qlat:bigint,qlon:bigint>>")
    idx = build_polygon_index(polys)
    want = sorted(map(tuple, pip_join(pts, index=idx)
                      .select("doc_id", "span_pos", "polygon_id").collect()))
    assert len(want) > 0

    src = str(tmp_path / "pip_pts")
    pts.write.parquet(src)
    stream = spark.readStream.schema(pts.schema).parquet(src)
    out = pip_join(stream, index=idx).select("doc_id", "span_pos",
                                             "polygon_id")
    q = (out.writeStream.format("memory").queryName("spip")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_pip"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM spip").collect()))
    assert got == want


def test_sessionize_batch_vs_python(spark):
    """Batch lag-flag-cumsum sessionization == a python gap walk (micros)."""
    from tree_code_chunker_spark.streaming.windows import sessionize_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    gap = 1800
    got = sorted(map(tuple, sessionize_batch(ev, session_gap_s=gap).collect()))
    rp = sorted(map(tuple, sessionize_batch(
        ev.repartition(13), session_gap_s=gap).collect()))
    assert got == rp  # bit-identical at any parallelism

    rows = ev.select("event_type", F.unix_micros(
        F.col("ts").cast("timestamp")).alias("us")).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.event_type, []).append(r.us)
    want = []
    for k, ts in by_key.items():
        ts.sort()
        s = e = n = None
        for t in ts:
            if s is None:
                s, e, n = t, t, 1
            elif t - e > gap * 1_000_000:
                want.append((k, s, e, n))
                s, e, n = t, t, 1
            else:
                e, n = t, n + 1
        want.append((k, s, e, n))
    assert got == sorted(want) and len(got) > 0


def test_sessionize_stream_subsecond_gap_matches_batch(spark, tmp_path):
    """Stream and batch sessionizers agree at MICROsecond gap precision:
    a gap of 1800.6s (> 1800s by less than a second) splits the session
    in BOTH (the stream used to floor to whole seconds and merge them)."""
    import pandas as pd

    from tree_code_chunker_spark.streaming.windows import (
        sessionize_batch, sessionize_stream)

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        ("A", base.to_pydatetime(), 1.0),
        ("A", (base + pd.Timedelta(seconds=1800.6)).to_pydatetime(), 1.0),
        ("A", (base + pd.Timedelta(seconds=9000)).to_pydatetime(), 1.0),
    ]
    schema = "event_type string, ts timestamp, value double"
    df = spark.createDataFrame(rows, schema)
    batch = sessionize_batch(df, session_gap_s=1800).collect()
    assert sorted(r.n_events for r in batch) == [1, 1, 1]

    src = str(tmp_path / "subsec_in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize_stream(stream, session_gap_s=1800)
    q = (out.writeStream.format("memory").queryName("sess_us")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_us"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    closed = [(r["key"], r["n_events"],
               pd.Timestamp(r["session_start"]).value)
              for r in spark.sql("SELECT * FROM sess_us").collect()]
    # the first two sessions close within the stream (the 9000s event
    # exceeds the gap from both); each holds exactly ONE event
    assert sorted(n for _, n, _ in closed)[:2] == [1, 1]
    # and the second session starts at the precise .6s instant
    starts = sorted(s for _, _, s in closed)
    assert starts[1] == (base + pd.Timedelta(seconds=1800.6)).value


def test_stream_knn_matches_batch(spark, tmp_path):
    """foreachBatch kNN over a prebuilt KnnIndex == batch knn_ring."""
    import numpy as np

    from tree_code_chunker_spark.operators.knn import KnnIndex, knn_ring
    from tree_code_chunker_spark.streaming.stream_chunk import run_stream_knn

    rng = np.random.RandomState(71)
    n = 3000
    corpus = spark.createDataFrame(
        [(int(i), 0, int(rng.randint(0, 65536)), int(rng.randint(0, 65536)))
         for i in range(n)],
        "doc_id bigint, span_pos bigint, qlat bigint, qlon bigint")
    queries = spark.createDataFrame(
        [(int(i), int(rng.randint(0, 65536)), int(rng.randint(0, 65536)))
         for i in range(30)],
        "query_id bigint, qlat bigint, qlon bigint")
    idx = KnnIndex(corpus, res=10)
    want = sorted(map(tuple, knn_ring(queries, k=5, index=idx).collect()))
    # index reuse must equal the one-shot (corpus=) path
    one_shot = sorted(map(tuple,
                          knn_ring(queries, corpus, k=5, res=10).collect()))
    assert want == one_shot and len(want) == 150

    src = str(tmp_path / "knn_q")
    queries.repartition(3).write.parquet(src)  # several files -> batches
    stream = (spark.readStream.schema(queries.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out_path = str(tmp_path / "knn_out")
    q = run_stream_knn(stream, idx, k=5, out_path=out_path,
                       checkpoint_path=str(tmp_path / "ck_knn"))
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out_path)
                 .drop("_batch_id").collect()))
    assert got == want


def test_sessionize_two_phase_equals_single_window(spark):
    """The scalable (key, time-bucket) two-phase sessionizer is
    bit-identical to the single-window form at several bucket sizes —
    including a bucket far SMALLER than the gap (heavy artificial
    splitting, all repaired by the merge pass) and data where one
    session straddles many buckets."""
    import pandas as pd

    from tree_code_chunker_spark.streaming.windows import sessionize_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_type", "ts")
    # plus a synthetic key whose single session straddles many bucket
    # edges (events every 5 min for 3 hours), and one with events exactly
    # ON bucket edges
    base = pd.Timestamp("2024-03-01 00:00:00")
    extra = [("straddle", (base + pd.Timedelta(minutes=5 * i)).to_pydatetime())
             for i in range(37)]
    extra += [("edges", (base + pd.Timedelta(seconds=3600 * i)).to_pydatetime())
              for i in range(4)]
    ev = ev.unionByName(spark.createDataFrame(
        extra, "event_type string, ts timestamp"))
    want = sorted(map(tuple, sessionize_batch(
        ev, session_gap_s=1800, bucket_s=None).collect()))
    assert len(want) > 0
    for bucket_s in (600, 3600, 86400):
        got = sorted(map(tuple, sessionize_batch(
            ev, session_gap_s=1800, bucket_s=bucket_s).collect()))
        assert got == want, f"bucket_s={bucket_s}"


def test_sessionize_stream_equals_two_phase_batch_three_buckets(
        spark, tmp_path):
    """Stream sessionizer == two-phase batch on a session straddling
    THREE 10-minute buckets (events every 5 min for 30 min; a 2h-later
    event closes it in the stream)."""
    import pandas as pd

    from tree_code_chunker_spark.streaming.windows import (
        sessionize_batch, sessionize_stream)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [("A", (base + pd.Timedelta(minutes=5 * i)).to_pydatetime(), 1.0)
            for i in range(7)]  # 00:00 .. 00:30 — buckets 0, 1, 2, 3
    rows.append(("A", (base + pd.Timedelta(minutes=200)).to_pydatetime(), 1.0))
    schema = "event_type string, ts timestamp, value double"
    src = str(tmp_path / "sess3b_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize_stream(stream, session_gap_s=1800)
    q = (out.writeStream.format("memory").queryName("sess3b")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_sess3b"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {
        (r["key"], int(r["session_start"].timestamp() * 1_000_000),
         int(r["session_end"].timestamp() * 1_000_000), r["n_events"])
        for r in spark.sql("SELECT * FROM sess3b").collect()}
    batch = sessionize_batch(
        spark.createDataFrame(rows, schema), session_gap_s=1800,
        bucket_s=600).collect()
    straddler = [(r["key"], r["start_us"], r["end_us"], r["n_events"])
                 for r in batch if r["n_events"] == 7]
    assert len(straddler) == 1
    # the 30-min session crosses bucket edges at 00:10, 00:20, 00:30 and
    # the stream (which has no buckets) emits the identical closed row
    assert straddler[0] in streamed


def test_stream_dwithin_matches_batch(spark, tmp_path):
    """Streaming radius join (stream-static, broadcast 3x3 static side)
    == batch dwithin_join on the same points."""
    import numpy as np

    from tree_code_chunker_spark.operators.spatial import dwithin_join

    rng = np.random.RandomState(37)
    pts_rows = [(int(i), 0, int(rng.randint(0, 65536)),
                 int(rng.randint(0, 65536))) for i in range(3000)]
    pts = spark.createDataFrame(
        pts_rows, "doc_id bigint, span_pos bigint, qlat bigint, qlon bigint")
    q_rows = [(int(i), int(rng.randint(0, 65536)), int(rng.randint(0, 65536)))
              for i in range(40)]
    queries = spark.createDataFrame(
        q_rows, "query_id bigint, qlat bigint, qlon bigint")
    radius = 3000
    want = sorted(map(tuple, dwithin_join(
        pts, queries, radius, broadcast_b=True).collect()))
    assert len(want) > 0

    src = str(tmp_path / "dw_pts")
    pts.write.parquet(src)
    stream = spark.readStream.schema(pts.schema).parquet(src)
    out = dwithin_join(stream, queries, radius, broadcast_b=True)
    q = (out.writeStream.format("memory").queryName("sdw")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_dw"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM sdw").collect()))
    assert got == want


def test_stream_dedup_increment_equals_full_recompute(spark, tmp_path):
    """Streaming incremental MinHash dedup (foreachBatch over a persisted
    band index): the union of every micro-batch's written pairs must equal
    the full-corpus LSH candidate recompute — same invariant as the batch
    dedup_increment, through the stream path with one file per trigger."""
    import os

    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from tree_code_chunker_spark.streaming.windows import (
        run_stream_dedup_increment,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")

    def write_batch(name, df, mtime):
        p = str(tmp_path / name)
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    src = str(tmp_path / "ddi_in")
    os.makedirs(src)
    write_batch("ddi_in/b1", docs.filter(F.col("doc_id") % 2 == 0), 1_000_000)
    write_batch("ddi_in/b2", docs.filter(F.col("doc_id") % 2 == 1), 1_000_100)

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = run_stream_dedup_increment(
        stream, str(tmp_path / "ddi_index"), str(tmp_path / "ddi_out"),
        str(tmp_path / "ddi_ck"))
    q.awaitTermination(180)

    got = {(r["id_a"], r["id_b"]) for r in
           spark.read.parquet(str(tmp_path / "ddi_out")).collect()}
    want = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(
        minhash_signatures(docs, "doc_id", "text")).collect()}
    assert got == want
    assert len(want) > 0


def test_dedup_increment_replay_idempotent(spark, tmp_path):
    """A replayed increment with the same batch_name (the foreachBatch
    at-least-once case) must join against the corpus EXCLUDING its own
    prior write, produce identical pairs, and not double-register the
    batch in the manifest."""
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.dedup import (
        dedup_increment,
        read_index_meta,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "replay_idx")
    dedup_increment(b0, idx, batch_name=0)
    first = sorted((r["id_a"], r["id_b"]) for r in
                   dedup_increment(b1, idx, batch_name=1).collect())
    replay = sorted((r["id_a"], r["id_b"]) for r in
                    dedup_increment(b1, idx, batch_name=1).collect())
    assert first == replay
    assert read_index_meta(idx)["batches"] == [0, 1]


def test_stream_dwithin_geo_matches_batch(spark, tmp_path):
    """Streaming geodesic radius join == batch dwithin_geo on the same
    degree points, including an antimeridian probe."""
    import numpy as np

    from tree_code_chunker_spark.operators.spatial import dwithin_geo

    rng = np.random.RandomState(41)
    pts_rows = [(int(i), 0, float(rng.uniform(-85, 85)),
                 float(rng.uniform(-180, 180))) for i in range(2000)]
    pts = spark.createDataFrame(
        pts_rows, "doc_id bigint, span_pos bigint, lat double, lon double")
    q_rows = [(int(i), float(rng.uniform(-80, 80)),
               float(rng.uniform(-180, 180))) for i in range(20)]
    q_rows.append((20, 60.0, 179.95))
    queries = spark.createDataFrame(
        q_rows, "query_id bigint, lat double, lon double")
    radius_m = 600_000.0
    want = sorted(map(tuple, dwithin_geo(
        pts, queries, radius_m, broadcast_b=True).collect()))
    assert len(want) > 0

    src = str(tmp_path / "dwg_pts")
    pts.write.parquet(src)
    stream = spark.readStream.schema(pts.schema).parquet(src)
    out = dwithin_geo(stream, queries, radius_m, broadcast_b=True)
    q = (out.writeStream.format("memory").queryName("sdwg")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_dwg"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM sdwg").collect()))
    assert got == want


def test_stream_hotspot_gi_matches_batch(spark, tmp_path):
    """Streaming per-window Getis-Ord Gi* (append-mode windowed histogram ->
    foreachBatch hotspot_gi(by=window)) is bit-equal — z-score doubles
    included — to the batch operator run per window on the same points.
    Far-future sentinel events only advance the watermark so every real
    window finalizes under AvailableNow; their own window never emits.
    TWO sentinel micro-batches are needed because a batch emits with the
    watermark computed from the PREVIOUS batch's data (and AvailableNow
    stops without a trailing no-data batch): batch 2's sentinel raises the
    watermark past the real data, batch 3 flushes under it."""
    import os

    from tree_code_chunker_spark.operators.geo import derive_point_cols
    from tree_code_chunker_spark.operators.tiles import hotspot_gi
    from tree_code_chunker_spark.streaming.windows import run_stream_hotspot_gi

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    res = 6
    sh = 16 - res
    qlat, qlon = derive_point_cols(F.col("event_id"), F.col("user_id"))
    static = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                qlat.alias("qlat"), qlon.alias("qlon"))
    )

    hist = (
        static.groupBy(F.window("ts", "1 hour").alias("w"),
                       F.shiftright("qlat", sh).alias("cy"),
                       F.shiftright("qlon", sh).alias("cx"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("window_start"),
                "cy", "cx", "n")
    )
    want = sorted(
        (r["window_start"], r["cy"], r["cx"], r["wx"], r["w"], r["gi_z"])
        for r in hotspot_gi(hist, res, by=("window_start",)).collect())

    def write_batch(name, df, mtime):
        p = str(tmp_path / name)
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    sentinel = static.orderBy(F.desc("ts")).limit(1).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 240 HOURS"))
    src = str(tmp_path / "hot_in")
    os.makedirs(src)
    write_batch("hot_in/b1", static, 1_000_000)
    write_batch("hot_in/b2", sentinel, 1_000_100)
    write_batch("hot_in/b3", sentinel, 1_000_200)

    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    out_path = str(tmp_path / "hot_out")
    q = run_stream_hotspot_gi(stream, res, out_path,
                              str(tmp_path / "hot_ck"))
    q.awaitTermination(180)

    # window_start comes back as a partition column; normalize its type
    got = sorted(
        (str(r["window_start"]), r["cy"], r["cx"], r["wx"], r["w"],
         r["gi_z"])
        for r in spark.read.parquet(out_path)
        .withColumn("window_start",
                    F.col("window_start").cast("timestamp").cast("string"))
        .collect())
    assert got == want and len(got) > 0
