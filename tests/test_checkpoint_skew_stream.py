"""Checkpoint/resume, sessionization, and stream-equals-batch parity for
the stream-capable operators — Spark-side tests."""

import os

import pytest

from pyspark.sql import functions as F

from tree_code_chunker_spark.operators.checkpoint import (
    _committed_manifest,
    commit_stage,
    pipeline_lineage,
    run_stage,
)


def test_checkpoint_commit_and_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return df

    out1 = run_stage(spark, root, "stage1", build)
    assert out1.count() == 100 and calls["n"] == 1
    assert _committed_manifest(root, "stage1") is not None
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
    assert _committed_manifest(root, "s") is None
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _stage_df(spark)

    out = run_stage(spark, root, "s", build)
    assert calls["n"] == 1 and _committed_manifest(root, "s") is not None
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
    assert pipeline_lineage(root)[0]["files"] == []

    again = run_stage(spark, root, "empty", _no_rebuild, partition_by)
    assert again.count() == 0 and again.schema == full.schema


@pytest.mark.parametrize("partition_by", [None, ["z"]])
def test_checkpoint_stage_dir_holds_only_named_files(spark, tmp_path,
                                                     partition_by):
    """A committed stage directory is the manifest plus the parquet files
    it names: no _SUCCESS, no .crc, no _temporary."""
    root = str(tmp_path / "ckpt")
    m = commit_stage(_stage_df(spark), root, "s", partition_by)
    stage_dir = os.path.join(root, "s")
    on_disk = {os.path.relpath(os.path.join(d, fn), stage_dir)
               for d, _dirs, names in os.walk(stage_dir) for fn in names}
    assert on_disk == {"_manifest.json"} | {f["path"] for f in m["files"]}
    assert len(m["files"]) > 1


def test_checkpoint_partition_paths_match_spark_writer(spark, tmp_path):
    """Partition directories are named as Spark's writer names them (null
    and '' as __HIVE_DEFAULT_PARTITION__, escaped '/', '=', '%') and read
    back the same rows."""
    vals = [None, "", "a/b=c%d e", "x y", "plain", "é:#?"]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals * 3)],
                               "id long, k string")
    root = str(tmp_path / "ckpt")
    df.write.partitionBy("k").parquet(str(tmp_path / "spark"))
    m = commit_stage(df, root, "s", ["k"])
    assert {f["path"].split("/")[0] for f in m["files"]} == {
        d for d in os.listdir(tmp_path / "spark") if d.startswith("k=")}
    got = run_stage(spark, root, "s", _no_rebuild, ["k"])
    want = spark.read.parquet(str(tmp_path / "spark"))
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


_ALL_TYPES = """i bigint, n int, d double, b boolean, s string,
    a array<bigint>, sa array<struct<x: bigint, y: string>>, ts timestamp,
    dt date, dec decimal(12,3), m map<string, bigint>, bin binary"""


@pytest.mark.parametrize("partition_by", [None, ["n"]])
def test_checkpoint_type_round_trip(spark, tmp_path, partition_by):
    """Every type the jobs write, plus timestamp, date, decimal, map and
    binary, reads back row-equal and schema-equal (nulls included)."""
    import datetime as dt
    from decimal import Decimal

    rows = [(i, i % 2, i / 3, i % 3 == 0, f"s{i}", list(range(i % 4)),
             [(i, "x"), (-i, None)],
             dt.datetime(2024, 1, 1, 12, 30, i % 60, 123456),
             dt.date(1999, 12, 31) + dt.timedelta(days=i),
             Decimal(i) / 8, {"k": i, "j": -i}, bytes([i % 256, 0]))
            for i in range(40)]
    rows.append((None,) * 12)
    df = spark.createDataFrame(rows, _ALL_TYPES)
    root = str(tmp_path / "ckpt")
    commit_stage(df, root, "s", partition_by)
    got = run_stage(spark, root, "s", _no_rebuild, partition_by)
    cols = [c for c in df.columns if c not in (partition_by or [])] \
        + (partition_by or [])
    assert got.schema == df.select(*cols).schema
    assert sorted(got.select(*df.columns).collect(), key=repr) \
        == sorted(df.collect(), key=repr)
    # the files alone carry the same types, without the manifest's schema
    inferred = spark.read.parquet(os.path.join(root, "s"))
    assert inferred.select(*cols).schema == df.select(*cols).schema


@pytest.mark.parametrize("col", [
    "INTERVAL '1' DAY", "make_interval(0, 1)", "NULL"])
def test_checkpoint_unwritable_type_names_column(spark, tmp_path, col):
    """A column no checkpoint can hold fails the commit by name, before
    the committed snapshot is touched."""
    root = str(tmp_path / "ckpt")
    m = commit_stage(_stage_df(spark), root, "s")
    with pytest.raises(TypeError, match="'bad'"):
        commit_stage(_stage_df(spark).withColumn("bad", F.expr(col)), root, "s")
    assert _committed_manifest(root, "s")["snapshot_id"] == m["snapshot_id"]


def test_rebuild_text_empty_window():
    from tree_code_chunker_spark.operators.chunker import _Window, rebuild_text

    assert rebuild_text(_Window(), b"abc") == ("", 0, 0, 0, 0)


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


def test_sessionize_two_phase_equals_single_window(spark):
    """The scalable (key, time-bucket) two-phase sessionizer is
    bit-identical to the single-window form at several bucket sizes —
    including a bucket far SMALLER than the gap (heavy artificial
    splitting, all repaired by the merge pass) and data where one
    session straddles many buckets.  Gaps compare at MICROsecond
    precision: a gap 0.6 s over the limit splits the session."""
    import pandas as pd

    from tree_code_chunker_spark.streaming.windows import sessionize_batch

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select("event_type", "ts")
    # plus a synthetic key whose single session straddles many bucket
    # edges (events every 5 min for 3 hours), one with events exactly
    # ON bucket edges, one whose 30-min session crosses THREE 10-min
    # bucket edges (00:10, 00:20, 00:30) before a 200-min-later event, and
    # one whose gaps exceed 1800 s by 0.6 s and by 7199.4 s
    base = pd.Timestamp("2024-03-01 00:00:00")
    extra = [("straddle", (base + pd.Timedelta(minutes=5 * i)).to_pydatetime())
             for i in range(37)]
    extra += [("edges", (base + pd.Timedelta(seconds=3600 * i)).to_pydatetime())
              for i in range(4)]
    extra += [("three", (base + pd.Timedelta(minutes=m)).to_pydatetime())
              for m in (0, 5, 10, 15, 20, 25, 30, 200)]
    extra += [("subsec", (base + pd.Timedelta(seconds=t)).to_pydatetime())
              for t in (0, 1800.6, 9000)]
    ev = ev.unionByName(spark.createDataFrame(
        extra, "event_type string, ts timestamp"))
    want = sorted(map(tuple, sessionize_batch(
        ev, session_gap_s=1800, bucket_s=None).collect()))
    assert len(want) > 0
    for bucket_s in (600, 3600, 86400):
        got = sorted(map(tuple, sessionize_batch(
            ev, session_gap_s=1800, bucket_s=bucket_s).collect()))
        assert got == want, f"bucket_s={bucket_s}"
        three = [(e - s, n) for k, s, e, n in got if k == "three"]
        assert three == [(30 * 60 * 1_000_000, 7), (0, 1)], bucket_s
        subsec = [(s, n) for k, s, _, n in got if k == "subsec"]
        assert [n for _, n in subsec] == [1, 1, 1], bucket_s
        assert subsec[1][0] - subsec[0][0] == 1_800_600_000, bucket_s


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


