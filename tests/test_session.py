"""The engine's session defaults that change how PySpark behaves."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors import utils as error_utils

from tree_code_chunker_spark.operators.tiles import vector_tiles

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


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
