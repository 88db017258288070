"""SparkSession factory with the engine's scale-oriented defaults.

Design-for-100TB notes (tested on local[N]):
 * AQE on, including skew-join splitting and partition coalescing — the
   runtime re-plan is the first line of defense against hot H3/Morton cells
   (kNN's hot-cell fine tier, operators/knn.py, is the second).
 * Arrow enabled for all pandas UDF exchange; batch size capped so pandas
   UDF memory stays bounded regardless of row width.
 * shuffle.partitions scales with cores locally; on a real cluster this is
   set to ~2-3x total executor cores via spark-submit conf.
 * DataFrame debugging off (spark.python.sql.dataFrameDebugging.enabled).
   With it on, PySpark wraps every Column and DataFrame call in an origin
   capture: a Python stack walk plus several JVM calls, so that an
   analysis error can name the Python line that built the failing
   expression.  The engine builds each plan from hundreds of Column calls:
   on a 4-CPU host an F.col took 1.4-1.7 ms with the capture and 0.55-0.62
   ms without it, a `col + 5` 1.2-1.4 ms against 0.21 ms.  Errors still
   raise with the same class and message; only the Python call-site
   fragment of the error context is gone.
 * Python workers forked from the engine's own daemon
   (spark.python.daemon.module = plans/daemon.py).  The daemon runs the
   worker set-up of plans/worker.py once, before its first fork, so every
   Python worker of the session skips the per-task zip directory re-reads
   and walks no import-time heap in its per-task gc.collect(), whatever
   code it runs: the identity map behind a list-built createDataFrame
   took 146-228 ms of worker CPU per task without it, 0-2 ms with it.
   (The one other hook, spark.python.worker.module, is ignored unless its
   name starts with "pyspark": see pyspark/daemon.py.)
 * The package's import root (the directory holding the package, or the
   --py-files zip it was imported from) first on the workers' PYTHONPATH,
   ahead of any spark.executorEnv.PYTHONPATH the caller sets.  The JVM
   starts the daemon before any task ships the job's --py-files, so
   without it a spark-submit run from outside the checkout fails in the
   daemon with "No module named 'tree_code_chunker_spark'".  The master
   is always local, so the driver's path is valid for the workers.
 * Every JVM <-> Python exchange over Unix domain sockets
   (spark.python.unix.domain.socket.enabled): the daemon's listening
   socket and each task's data stream, the list-built createDataFrame's
   Python RDD, collect() result serving and the accumulator server.  Over
   loopback TCP (PySpark sets no TCP_NODELAY) each Python task waited a
   fixed ~44 ms: the slowest task's UDF body in an identity mapInArrow
   over 4 parquet files took 43.7 ms (IQR 42.7-44.5) over TCP and 13.2
   ms (11.6-18.6) over Unix sockets on a 4-CPU host, and the job 146
   against 115 ms.  The sockets go in socket_dir(), not Spark's default
   java.io.tmpdir: a socket path holds at most 107 bytes and the name
   Spark gives each socket takes 43 of them, so a long temp dir fails
   session start with "AF_UNIX path too long".  The directory is private
   (mode 0700): these sockets carry no auth secret, only file
   permissions guard them.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

import tree_code_chunker_spark

DAEMON_MODULE = "tree_code_chunker_spark.plans.daemon"
# the directory the package is imported from, or the zip holding it
IMPORT_ROOT = os.path.dirname(
    os.path.dirname(os.path.abspath(tree_code_chunker_spark.__file__)))


@functools.cache
def socket_dir() -> str:
    """This process's directory for its sessions' Unix domain sockets:
    made once, mode 0700, under /tmp so that a socket path stays short,
    and removed when the process that made it exits."""
    path = tempfile.mkdtemp(prefix="tcc-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(
    app_name: str = "tree-code-chunker-spark",
    cores: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    if cores is None:
        # the CPUs this process may run on, unless SPARK_GRAFT_CPUS says
        cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                    or len(os.sched_getaffinity(0)))
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r7): spark.sql.join.preferSortMergeJoin=false and the AQE
        # SMJ->SHJ demotion threshold were both trialed for the
        # cell-bucket equi-joins and REJECTED on evidence: the executed
        # plans kept SortMergeJoin either way (the planner's build-side
        # size conditions never hold against the engine's exploded-side
        # statistics), so the apparent 10-15% "win" was warmup drift, not
        # a plan change.  Kept at defaults rather than shipping an inert
        # flag that implies a plan shape the engine does not have.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
    )
    for k, v in (extra_confs or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # every Python function the session ships reads its workers'
    # environment from here: spark.executorEnv.* from extra_confs,
    # spark-submit --conf or spark-defaults.conf
    env = spark.sparkContext.environment
    path = env.get("PYTHONPATH", "").split(os.pathsep)
    if path[0] != IMPORT_ROOT:
        env["PYTHONPATH"] = os.pathsep.join([IMPORT_ROOT, *filter(None, path)])
    return spark
