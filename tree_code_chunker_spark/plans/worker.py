"""Per-process set-up of the Python workers that run a job's Python code.

A reused PySpark worker pays two fixed costs on every task, before and
after the UDF body:

* ``pyspark.worker.main`` -> ``setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at the start of each task.  Before
  CPython 3.13 that makes every ``zipimporter`` re-read its archive's
  whole central directory at once, and a warm worker holds one importer
  per zip and per package inside it (``pyspark.zip`` alone has 1,328
  entries, plus py4j and any ``--py-files`` zip).
* The daemon runs a full ``gc.collect()`` after each task, which walks
  every tracked object, including the import-time heap.

``setup_process`` removes both, once per process, in one of two places:

* the PySpark daemon of every ``get_spark`` session (``plans/daemon.py``),
  once, before it forks the first worker.  Every worker inherits the
  patched ``zipimporter`` and the frozen heap, whatever code it runs: the
  identity ``map`` behind a list-built ``createDataFrame``, or a UDF that
  never imports the engine;
* otherwise, in a session the engine did not build, each worker that
  imports the package: its ``__init__`` calls ``setup_python_worker``,
  which acts only inside a Python worker, never on the driver.  Under a
  ``get_spark`` daemon the package is already imported before the fork,
  so that hook never runs a second time in a worker.

See PLANS.md § Python worker per-task cost.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark import TaskContext

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_changed_zip(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the file is not the one this importer last read
    (inode, size or mtime differ) or cannot be stat-ed."""
    try:
        st = os.stat(self.archive)
        key = st.st_ino, st.st_size, st.st_mtime_ns
    except OSError:
        key = None
    if key is None or key != getattr(self, "_read_key", None):
        # stat before reading: a file that changes in between is seen
        # as changed again on the next call
        _stock_invalidate(self)
        self._read_key = key


def setup_process() -> None:
    """Install the stat-guarded zip invalidation (where the stdlib still
    re-reads eagerly) and freeze the import-time heap out of the per-task
    ``gc.collect()``."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_changed_zip
    # Every engine UDF is an Arrow/pandas UDF over numpy, and the package
    # is imported while the worker unpickles the UDF, before the serializer
    # imports them: import them first so that the freeze covers their heap.
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.freeze()


def setup_python_worker() -> None:
    """``setup_process`` inside a Python worker; nothing on the driver."""
    if TaskContext.get() is not None:
        setup_process()
