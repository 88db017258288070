import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from tree_code_chunker_spark.plans.session import get_spark

    s = get_spark("tcc-tests", cores=8)
    yield s
    s.stop()


@pytest.fixture
def plan_nodes(spark):
    """df -> operator names of df's executed physical plan, one per plan
    line, planned with AQE off so the plan is whole before any action."""
    def nodes(df):
        key = "spark.sql.adaptive.enabled"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(key, old)
        return [re.sub(r"^[\s:+\-]*(\*\(\d+\)\s*)?", "", line).split(" ", 1)[0]
                for line in plan.splitlines() if line.strip()]
    return nodes


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
