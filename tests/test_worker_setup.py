"""Python worker set-up (plans/worker.py): the stat-guarded zip
invalidation re-reads an archive's directory only when the file changed,
and the set-up runs in every Python worker and never on the driver.  In a
get_spark session it runs in the daemon (plans/daemon.py), so it reaches
workers that never import the package too."""

import gc
import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from tree_code_chunker_spark.plans import session, worker

EAGER_ZIP_INVALIDATION = sys.version_info < (3, 13)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.mark.skipif(not EAGER_ZIP_INVALIDATION,
                    reason="zipimport re-reads lazily from CPython 3.13 on")
def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "zmods.zip"
    _write_zip(archive, {"zmod_a.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker.invalidate_changed_zip)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for name in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(str(archive))

    import zmod_a
    assert zmod_a.X == 1
    # an importer the wrapper has not seen yet re-reads once and records
    # the file it read; after that an unchanged archive is never re-read
    importlib.invalidate_caches()
    seen = reads.count(str(archive))
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == seen

    _write_zip(archive, {"zmod_a.py": "X = 1\n", "zmod_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == seen + 1
    import zmod_b
    assert zmod_b.Y == 2

    archive.unlink()
    importlib.invalidate_caches()  # a vanished archive must not raise
    importlib.invalidate_caches()


def test_setup_runs_in_every_worker_and_never_on_the_driver(spark):
    import pandas as pd

    stock_invalidate = zipimport.zipimporter.invalidate_caches
    driver_frozen = gc.get_freeze_count()

    def report(batches):
        import gc as wgc
        import os
        import zipimport as wzip

        import tree_code_chunker_spark.plans.worker as w

        installed = wzip.zipimporter.invalidate_caches is w.invalidate_changed_zip
        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()], "installed": [installed],
                                "frozen": [wgc.get_freeze_count()]})

    rows = (spark.range(0, 64, numPartitions=8)
            .mapInPandas(report, "pid long, installed boolean, frozen long")
            .collect())
    assert len(rows) == 8
    assert all(r.installed == EAGER_ZIP_INVALIDATION for r in rows)
    assert all(r.frozen > 0 for r in rows)

    assert zipimport.zipimporter.invalidate_caches is stock_invalidate
    assert stock_invalidate is worker._stock_invalidate
    assert stock_invalidate.__module__ == "zipimport"
    assert gc.get_freeze_count() == driver_frozen


def test_workers_that_never_import_the_engine_are_set_up(spark, monkeypatch):
    """Under get_spark's daemon a worker is set up before its first task,
    whatever it runs: here the identity map behind a list-built
    createDataFrame, then an RDD lambda, neither of which imports the
    package.  A job whose environment differs gets its own daemon and
    workers, so these workers have run nothing else."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == session.DAEMON_MODULE
    # tests import the package from this checkout
    assert session.IMPORT_ROOT == os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))
    assert sc.environment["PYTHONPATH"].split(os.pathsep)[0] == session.IMPORT_ROOT
    monkeypatch.setitem(sc.environment, "WORKER_POOL_KEY", uuid.uuid4().hex)

    rows = [(i, i * 7) for i in range(20)]
    assert len(spark.createDataFrame(rows, "a long, b long").collect()) == 20

    def state(_):
        # stdlib only: the engine's modules are read from sys.modules,
        # where only the daemon can have put them
        import gc as wgc
        import os as wos
        import sys as wsys
        import zipimport as wzip

        w = wsys.modules.get("tree_code_chunker_spark.plans.worker")
        patched = (w is not None and wzip.zipimporter.invalidate_caches
                   is w.invalidate_changed_zip)
        return (patched, wgc.get_freeze_count(),
                wos.environ.get("PYTHONPATH", "").split(wos.pathsep))

    got = sc.parallelize(range(8), 8).map(state).collect()
    assert len(got) == 8
    for patched, frozen, path in got:
        assert patched == EAGER_ZIP_INVALIDATION
        assert frozen > 0
        assert session.IMPORT_ROOT in path


def test_package_hook_sets_up_workers_of_a_plain_session(tmp_path):
    """A session get_spark did not build forks its workers from PySpark's
    own daemon: there the package __init__ sets up each worker that
    imports the package.  A second SparkContext needs its own process."""
    script = tmp_path / "plain_session.py"
    script.write_text(textwrap.dedent("""
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.driver.memory", "1g").getOrCreate())

        def report(batches):
            import gc
            import zipimport

            import pandas as pd

            from tree_code_chunker_spark.plans import worker as w

            patched = zipimport.zipimporter.invalidate_caches is w.invalidate_changed_zip
            for _ in batches:
                yield pd.DataFrame({"patched": [patched],
                                    "frozen": [gc.get_freeze_count()]})

        rows = (spark.range(0, 8, numPartitions=4)
                .mapInPandas(report, "patched boolean, frozen long").collect())
        daemon = spark.sparkContext.getConf().get("spark.python.daemon.module",
                                                  "pyspark.daemon")
        print("RESULT", daemon, len(rows), all(r.patched for r in rows),
              all(r.frozen > 0 for r in rows))
        spark.stop()
    """))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, str(script)], cwd=root,
                         env={**os.environ, "PYTHONPATH": root},
                         capture_output=True, text=True, timeout=600)
    result = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")]
    assert result == [f"RESULT pyspark.daemon 4 {EAGER_ZIP_INVALIDATION} True"], \
        out.stderr[-2000:]
