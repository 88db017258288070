"""Per-process set-up of a Python worker that runs engine code.

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

``setup_python_worker`` removes both, once per process.  The package
``__init__`` calls it; it acts only inside a Python worker, never on the
driver.  See PLANS.md § Python worker per-task cost.
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


def setup_python_worker() -> None:
    """Install the stat-guarded zip invalidation (where the stdlib still
    re-reads eagerly) and freeze the import-time heap out of the per-task
    ``gc.collect()``.  Does nothing outside a Python worker."""
    if TaskContext.get() is None:
        return
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_changed_zip
    # Every engine UDF is an Arrow/pandas UDF over numpy, and the package
    # is imported while the worker unpickles the UDF, before the serializer
    # imports them: import them first so that the freeze covers their heap.
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.freeze()
