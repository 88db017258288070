"""Python worker set-up (plans/worker.py): the stat-guarded zip
invalidation re-reads an archive's directory only when the file changed,
and the set-up runs in every Python worker and never on the driver."""

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest

from tree_code_chunker_spark.plans import worker

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
