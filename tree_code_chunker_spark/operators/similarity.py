"""Similarity search over an embedding column (array<float>).

 * `cosine_topk` — brute-force exact baseline: broadcast the (small) query
   set, score every corpus vector with built-in higher-order functions
   (zip_with + aggregate — JVM-side, no Python), window top-k.  This is the
   oracle-checkable path.
 * `ann_lsh_topk` — scale path: random-hyperplane LSH (fixed seed) buckets
   the corpus once (b sign bits -> bucket id); queries probe their own bucket
   plus all Hamming-1 neighbors, exact re-rank inside candidates.  Recall is
   tunable via n_bits/n_tables; candidates << corpus, so the 100TB corpus is
   touched by one bucketed equi-join instead of a cross join.

Ranking determinism: similarities are rounded to 6 dp BEFORE ranking and
ties break on vec_id, so engine and DuckDB oracle produce identical rows
despite float summation-order differences.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import LongType

SIM_ROUND = 6


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, vec_id, sim, rank) — exact brute-force cosine top-k."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn(
            "sim",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                SIM_ROUND,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bits, dim))


def lsh_bucket_udf(dim: int, n_bits: int = 12, seed: int = 42):
    """Scalar pandas UDF array<double> -> bigint: the sign-bit pattern of
    each vector against `n_bits` seeded hyperplanes, one fused numpy
    matmul per Arrow batch.  A null vector, one whose length is not `dim`
    or one with a non-finite dot gets a null bucket, so it matches
    nothing."""
    planes = _hyperplanes(dim, n_bits, seed)

    @F.pandas_udf(LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        ok = np.array([v is not None and len(v) == dim for v in vecs],
                      dtype=bool)
        m = np.zeros((len(vecs), dim))
        if ok.any():
            m[ok] = np.stack(vecs[ok].to_numpy())
        # round before taking the sign so the bucket id is oracle-stable:
        # a SQL mirror summing the dot in a different order must land on
        # the same bit pattern
        dots = np.round(m @ planes.T, SIM_ROUND)
        ok &= np.isfinite(dots).all(axis=1)
        signs = dots > 0
        out = np.zeros(len(m), dtype=np.int64)
        for i in range(n_bits):
            out |= signs[:, i].astype(np.int64) << i
        return pd.Series(pd.array(out, dtype="Int64")).mask(~ok)

    return bucket


def _l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_flat_stride(n: int, n_lists: int) -> int:
    """ceil(n / n_lists): the id-modulus that yields ≤ n_lists centroids
    REGARDLESS of corpus size — the list count is the constant, the stride
    scales with the data."""
    return max(1, -(-n // n_lists))


def ivf_flat_centroids(
    corpus: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", n_lists: int = 64,
) -> DataFrame:
    """Deterministic closed-form centroid pick: every stride-th corpus
    vector by id, stride = ceil(N / n_lists).  Centroid COUNT is bounded by
    n_lists independent of N (for dense ids), so the centroid broadcast is
    O(n_lists) and the assignment join O(N * n_lists) — linear in the
    corpus, never cartesian.  The count() is one metadata-cheap aggregate,
    amortized over every probe batch on a real deployment."""
    n = corpus.count()
    stride = ivf_flat_stride(n, n_lists)
    return corpus.select(
        F.col(id_col).alias("list_id"),
        F.col(vec_col).cast("array<double>").alias("centv"),
    ).filter(F.col("list_id") % stride == 0)


def ivf_flat_topk(
    queries: DataFrame, corpus: DataFrame, k: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_lists: int = 64, nprobe: int = 2,
) -> DataFrame:
    """IVF-flat ANN with DETERMINISTIC sampled centroids: every stride-th
    corpus vector (by id) is a list centroid, with stride = ceil(N/n_lists)
    so the LIST COUNT stays constant as the corpus grows.  The classic IVF
    topology (assign once, probe nprobe lists, exact re-rank inside
    candidates) with a closed-form training step, so the ENTIRE ANN path
    is oracle-expressible and checked against DuckDB, not just the
    brute-force baseline.  (k-means training would only change WHERE the centroids
    sit, not the plan shape.)

    Determinism: assignment distance and re-rank similarity are rounded to
    6 dp before ranking with id tie-breaks, so Spark and the DuckDB mirror
    rank identically despite float summation-order differences."""
    c_all = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    cents = ivf_flat_centroids(corpus, id_col, vec_col, n_lists)
    # one assignment pass: corpus x broadcast centroids, nearest by L2
    assigned = c_all.crossJoin(F.broadcast(cents)).withColumn(
        "d2", F.round(_l2(F.col("cvec"), F.col("centv")), SIM_ROUND))
    w_a = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("list_id").asc())
    inv = (
        assigned.withColumn("_rn", F.row_number().over(w_a))
        .filter(F.col("_rn") == 1).select("vec_id", "cvec", "list_id")
    )
    q_all = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    )
    q_assigned = q_all.crossJoin(F.broadcast(cents)).withColumn(
        "d2", F.round(_l2(F.col("qvec"), F.col("centv")), SIM_ROUND))
    w_q = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("list_id").asc())
    probes = (
        q_assigned.withColumn("_rn", F.row_number().over(w_q))
        .filter(F.col("_rn") <= nprobe).select("query_id", "qvec", "list_id")
    )
    cand = F.broadcast(probes).join(inv, "list_id", "inner").withColumn(
        "sim",
        F.round(
            _dot(F.col("qvec"), F.col("cvec"))
            / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
            SIM_ROUND,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    # no distinct needed: each vector lives in exactly one inverted list and
    # a query's probe lists are distinct, so (query_id, vec_id) is unique
    return (
        cand.select("query_id", "vec_id", "sim")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_lsh_topk(
    queries: DataFrame, corpus: DataFrame, k: int, dim: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_bits: int = 12, seed: int = 42,
) -> DataFrame:
    """Approximate top-k: LSH bucket join (multi-probe Hamming-1), exact
    cosine re-rank within candidates.  Buckets come from lsh_bucket_udf;
    a row it cannot bucket (null or wrong-length vector) is neither a
    candidate nor answered."""
    bucket = lsh_bucket_udf(dim, n_bits, seed)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("bucket", bucket(F.col("cvec")))
    probes = F.array(
        F.lit(0), *[F.lit(1 << i) for i in range(n_bits)]
    )  # own bucket + flip each bit
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .withColumn("qbucket", bucket(F.col("qvec")))
        .withColumn("flip", F.explode(probes))
        .withColumn("bucket", F.col("qbucket").bitwiseXOR(F.col("flip")))
    )
    cand = F.broadcast(q).join(c, "bucket", "inner").withColumn(
        "sim",
        F.round(
            _dot(F.col("qvec"), F.col("cvec"))
            / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
            SIM_ROUND,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        cand.select("query_id", "vec_id", "sim").distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
