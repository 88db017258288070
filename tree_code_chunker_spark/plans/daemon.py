"""The PySpark daemon of every ``get_spark`` session
(``spark.python.daemon.module``).

The JVM starts it as ``python -m tree_code_chunker_spark.plans.daemon
pyspark.worker`` and asks it for each Python worker, which it forks.  It
runs ``plans/worker.py::setup_process`` once before serving, after
importing ``pyspark.daemon`` (and the worker module that imports), so the
frozen heap holds those modules too and every forked worker starts
set up.  Since ``python -m`` imports this package first, the daemon's
import path must hold the package's import root: ``get_spark`` puts it on
the workers' ``PYTHONPATH``.
"""

if __name__ == "__main__":
    from pyspark import daemon

    from tree_code_chunker_spark.plans.worker import setup_process

    setup_process()
    daemon.manager()
