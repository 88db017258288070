"""tree_code_chunker_spark — a PySpark-native spatial-join + tiling engine.

Brand-new engine (NOT a port) with the query/data-processing capabilities of
the reference ``pc-coder/tree-code-chunker`` (Go, at /root/reference), built
Spark-first:

* **Chunking pillar** — documents of interleaved text+media spans are chunked
  tree-sitter-style into ordered span sequences (reference window algebra
  W1–W4, ``reference/chunking.go``), preserving span-sequence equality on
  ``(kind, text, media_ref, order)``.
* **Spatial pillar** — Morton/quadkey cell index, point-in-polygon joins,
  k-ring kNN, raster/vector tile materialization over the chunked spans.
* **Pipeline pillar** — dedup (exact/MinHash/SimHash), similarity search,
  text analysis over the corpus, as large-scale training-data pipeline ops.

Everything is public-knowledge PySpark: DataFrame API + vectorized
pandas/Arrow UDFs; no per-row Python in hot paths; no custom Catalyst rules.
"""

__version__ = "0.1.0"

from tree_code_chunker_spark.plans.worker import setup_python_worker

# once per process; acts only inside a Python worker (see plans/worker.py)
setup_python_worker()
