"""The engine's session defaults that change how PySpark behaves."""

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors import utils as error_utils

from tree_code_chunker_spark.operators.tiles import vector_tiles
from tree_code_chunker_spark.plans import session

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
UDS = "spark.python.unix.domain.socket.enabled"


def test_dataframe_debugging_off_and_errors_still_raise(spark, monkeypatch):
    """get_spark turns off PySpark's per-call origin capture; a bad plan
    still fails with AnalysisException when it is built."""
    assert spark.conf.get(DEBUGGING) == "false"
    # PySpark caches the flag per process; read it again from this session
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    assert error_utils.is_debugging_enabled() is False

    pts = spark.createDataFrame([("d0", 0, 1, 2)],
                                "doc_id string, span_pos long, qlat long, lon long")
    with pytest.raises(AnalysisException, match="qlon"):
        vector_tiles(pts)


def test_python_workers_talk_over_unix_sockets(spark):
    """get_spark carries the JVM <-> Python worker exchange over Unix
    domain sockets in its own socket directory; each worker inherits the
    transport from the daemon that forked it."""
    assert spark.conf.get(UDS) == "true"
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.dir") == session.socket_dir()

    def transport(_):
        import os as wos
        # read as pyspark/daemon.py reads it (the JVM writes "True")
        return wos.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "false").lower()

    got = spark.sparkContext.parallelize(range(4), 4).map(transport).collect()
    assert got == ["true"] * 4


def test_socket_dir_is_private_short_and_removed(tmp_path):
    """With a temp directory whose path is longer than a socket address
    can hold (TMPDIR and java.io.tmpdir), a get_spark session still starts
    and serves a mapInArrow, a list-built createDataFrame and an
    accumulator.  Its sockets live in a directory of mode 0700 owned by
    this user, and neither they nor the directory outlive the process."""
    long_tmp = tmp_path / ("t" * 150)
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 150
    script = tmp_path / "long_tmp_session.py"
    script.write_text(textwrap.dedent(f"""
        import os, stat, sys, time
        from tree_code_chunker_spark.plans.session import get_spark

        long_tmp = {str(long_tmp)!r}
        spark = get_spark(cores=2, extra_confs={{
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={{long_tmp}}"}})
        sc = spark.sparkContext
        jvm_tmp = sc._jvm.java.lang.System.getProperty("java.io.tmpdir")
        d = sc.getConf().get("spark.python.unix.domain.socket.dir")

        def ident(batches):
            yield from batches

        n_arrow = spark.range(0, 40, numPartitions=2).mapInArrow(
            ident, "id long").count()
        n_list = len(spark.createDataFrame([(i, i * 3) for i in range(20)],
                                           "a long, b long").collect())
        acc = sc.accumulator(0)
        sc.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
        socks = [f for f in os.listdir(d) if f.endswith(".sock")]
        st = os.stat(d)
        print("RUN", jvm_tmp == long_tmp, n_arrow, n_list, acc.value,
              len(socks) > 0, oct(stat.S_IMODE(st.st_mode)),
              st.st_uid == os.getuid(), len(d) + 43 <= 107)
        spark.stop()
        # the daemon removes its socket on the SIGTERM spark.stop() sends
        deadline = time.time() + 30
        while (left := [f for f in os.listdir(d) if f.endswith(".sock")]) \
                and time.time() < deadline:
            time.sleep(0.1)
        print("STOPPED", left)
        print("DIR", d)
    """))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, str(script)], cwd=root,
                         env={**os.environ, "PYTHONPATH": root,
                              "TMPDIR": str(long_tmp)},
                         capture_output=True, text=True, timeout=600)
    lines = {ln.split(" ", 1)[0]: ln.split(" ", 1)[1]
             for ln in out.stdout.splitlines()
             if ln.split(" ", 1)[0] in ("RUN", "STOPPED", "DIR")}
    assert lines.get("RUN") == "True 40 20 45 True 0o700 True True", \
        out.stderr[-2000:]
    assert lines["STOPPED"] == "[]"
    assert not os.path.exists(lines["DIR"])
    assert not [f for f in os.listdir(long_tmp) if f.endswith(".sock")]
