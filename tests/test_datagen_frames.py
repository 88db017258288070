"""sources.datagen builds every frame from an Arrow table: each plans as a
LocalTableScan (no ExistingRDD, so no pickled Python map per action) and
keeps the schema and rows of the frame built from the same Python rows."""

import pytest

from tree_code_chunker_spark.sources import datagen

FRAMES = [
    (datagen.gen_documents, 6, 42),
    (datagen.gen_polygons, 12, 43),
    (datagen.gen_polygons_holes, 5, 47),
    (datagen.gen_knn_queries, 9, 44),
]


@pytest.mark.parametrize("gen,n,seed", FRAMES,
                         ids=[f[0].__name__ for f in FRAMES])
def test_datagen_frame_is_arrow_local_scan(spark, plan_nodes, monkeypatch,
                                           gen, n, seed):
    df = gen(spark, n, seed=seed)
    assert plan_nodes(df) == ["LocalTableScan"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan

    # the same rows and schema through the list-built createDataFrame
    monkeypatch.setattr(datagen, "_arrow_frame",
                        lambda s, rows, schema: s.createDataFrame(rows, schema))
    listed = gen(spark, n, seed=seed)
    assert df.schema == listed.schema
    assert sorted(df.collect()) == sorted(listed.collect())
    assert df.count() == n
