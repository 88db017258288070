"""Training-data assembly operators: deterministic sequence packing and
hash-stratified sampling.

Both are pure JVM column/window plans (no Python in the data path) and both
are exactly mirrorable in ANSI SQL, so the driver gate verifies them
value-for-value.

 * `pack_sequences` — assign documents to fixed-token-budget training
   sequences by PREFIX packing: docs are ordered deterministically inside
   each shard, and a doc goes to the sequence where its token prefix
   starts (seq_id = floor((cumsum - tokens) / budget)).  One window scan
   per shard; a sequence can overflow the budget by at most one document
   (the standard contiguous-packing trade for a fully parallel,
   fold-free plan).  Strict no-overflow packing is a sequential greedy
   fold — that semantics lives in the chunker (W1, chunker.py) where the
   fold is document-local; across 10^12 docs the prefix form is the one
   that scales, because each shard packs independently.
 * `sample_per_group` — deterministic stratified sampling: keep the
   n_per_group rows with smallest poly31(id || ':' || seed) per group.
   One hash + one window top-k; identical output at any parallelism
   (the hash is data-derived, not partition-derived).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .media import POLY_MOD, poly31_col, poly31_sql


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 512,
    n_shards: int = 1,
    method: str = "prefix",
) -> DataFrame:
    """-> (id, shard, seq_id, seq_pos, n_tokens, cum_tokens).

    shard = id % n_shards (docs are long-id'd here; swap a hash for
    string ids); within a shard docs are ordered by id and packed into
    sequences of ~`budget` tokens.  seq_pos is the doc's 0-based position
    inside its sequence.  Oversized single docs (> budget) occupy their
    own sequence(s) — truncation policy is the caller's.

    n_shards is the parallelism unit: each shard is ONE window partition,
    so n_shards=1 (global deterministic packing) serializes the cumsum
    into a single task — fine to ~10^7 docs, but at corpus scale pass
    hundreds+ of shards so every executor packs its own id-residue class.

    method='prefix' (default): seq = floor((cumsum - tokens)/budget) —
    pure window math, a sequence may overflow by at most one doc.
    method='greedy': strict no-overflow reset fold (a doc that would
    exceed the budget STARTS the next sequence) via applyInPandas per
    shard; the per-shard kernel jumps bin-by-bin with searchsorted over
    the token prefix sums, so the Python loop is O(#sequences), not
    O(#docs).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_shards <= 0:
        # Spark's non-ANSI `id % 0` yields NULL shards and a silently
        # garbage single-partition packing; fail up front instead
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if method == "greedy":
        return _pack_greedy(df, id_col, token_col, budget, n_shards)
    if method != "prefix":
        raise ValueError(f"unknown method {method!r}")
    shard = (F.col(id_col).cast("long") % n_shards).alias("shard")
    w = Window.partitionBy("shard").orderBy(F.col("id").cast("long"))
    out = (
        df.select(F.col(id_col).cast("long").alias("id"),
                  F.col(token_col).cast("long").alias("n_tokens"), shard)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(
            "seq_id",
            # INTEGRAL division (`div`), not float `/` + floor: float
            # division is exact only while cum_tokens < 2^53; past that a
            # half-ulp round-up can cross the truncation boundary (same
            # hazard fixed in graph.pagerank_int).  Operands are
            # non-negative, so `div` == DuckDB `//` bit-exactly.
            F.expr(f"(cum_tokens - n_tokens) div {int(budget)}")
            .cast("long"),
        )
    )
    w_seq = Window.partitionBy("shard", "seq_id").orderBy(
        F.col("id").cast("long"))
    return out.withColumn(
        "seq_pos", (F.row_number().over(w_seq) - 1).cast("int")
    ).select("id", "shard", "seq_id", "seq_pos", "n_tokens", "cum_tokens")


PACKED_SCHEMA = ("id bigint, shard bigint, seq_id bigint, seq_pos int, "
                 "n_tokens bigint, cum_tokens bigint")


def _pack_greedy(df: DataFrame, id_col: str, token_col: str,
                 budget: int, n_shards: int) -> DataFrame:
    """Strict greedy packing: applyInPandas per shard, numpy kernel.

    The greedy reset fold is inherently sequential WITHIN a shard, but the
    kernel advances one SEQUENCE at a time (searchsorted over prefix sums
    finds each bin's last doc in O(log n)), so Python cost is
    O(#sequences log #docs) per shard and shards pack in parallel."""
    import numpy as np
    import pandas as pd

    def pack_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        t = pdf["n_tokens"].to_numpy()
        n = len(t)
        prefix = np.concatenate(([0], np.cumsum(t)))
        bounds = [0]
        while bounds[-1] < n:
            b = bounds[-1]
            j = int(np.searchsorted(prefix, prefix[b] + budget, side="right")) - 1
            bounds.append(max(j, b + 1))  # an oversized doc rides alone
        bounds = np.asarray(bounds)
        sizes = np.diff(bounds)
        pdf["seq_id"] = np.repeat(np.arange(len(sizes), dtype=np.int64),
                                  sizes)
        pdf["seq_pos"] = (np.arange(n) - bounds[:-1][pdf["seq_id"]]).astype(
            "int32")
        pdf["cum_tokens"] = prefix[1:]
        return pdf[["id", "shard", "seq_id", "seq_pos", "n_tokens",
                    "cum_tokens"]]

    shard = (F.col(id_col).cast("long") % n_shards).alias("shard")
    base = df.select(F.col(id_col).cast("long").alias("id"),
                     F.col(token_col).cast("long").alias("n_tokens"), shard)
    return base.groupBy("shard").applyInPandas(pack_one, PACKED_SCHEMA)


def pack_sequences_greedy_sql(docs_cte: str, id_expr: str, token_expr: str,
                              budget: int, n_shards: int) -> str:
    """DuckDB recursive-CTE mirror of the strict greedy fold: state per
    (shard, rank) is (seq_id, acc); a doc that would exceed the budget
    starts the next sequence.  Ends at CTE `gpacked(id, shard, seq_id,
    seq_pos, n_tokens, cum_tokens)`."""
    return f"""
ranked AS (
  SELECT CAST({id_expr} AS BIGINT) AS id,
         CAST({id_expr} AS BIGINT) % {n_shards} AS shard,
         CAST({token_expr} AS BIGINT) AS n_tokens,
         row_number() OVER (
           PARTITION BY CAST({id_expr} AS BIGINT) % {n_shards}
           ORDER BY CAST({id_expr} AS BIGINT)) - 1 AS rk,
         CAST(SUM(CAST({token_expr} AS BIGINT)) OVER (
           PARTITION BY CAST({id_expr} AS BIGINT) % {n_shards}
           ORDER BY CAST({id_expr} AS BIGINT)) AS BIGINT) AS cum_tokens
  FROM {docs_cte}
),
gfold AS (
  SELECT shard, rk, id, n_tokens, cum_tokens,
         CAST(0 AS BIGINT) AS seq_id, n_tokens AS acc
  FROM ranked WHERE rk = 0
  UNION ALL
  SELECT n.shard, n.rk, n.id, n.n_tokens, n.cum_tokens,
         CASE WHEN p.acc + n.n_tokens <= {budget}
              THEN p.seq_id ELSE p.seq_id + 1 END,
         CASE WHEN p.acc + n.n_tokens <= {budget}
              THEN p.acc + n.n_tokens ELSE n.n_tokens END
  FROM gfold p JOIN ranked n ON n.shard = p.shard AND n.rk = p.rk + 1
),
gpacked AS (
  SELECT id, shard, seq_id,
         CAST(row_number() OVER (
           PARTITION BY shard, seq_id ORDER BY id) - 1 AS INT) AS seq_pos,
         n_tokens, cum_tokens
  FROM gfold
)"""


def pack_sequences_sql(docs_cte: str, id_expr: str, token_expr: str,
                       budget: int, n_shards: int) -> str:
    """DuckDB mirror of pack_sequences over a CTE named `docs_cte` that
    exposes `id_expr` and `token_expr` columns."""
    return f"""
packed AS (
  SELECT id, shard,
         CAST((cum_tokens - n_tokens) // {budget} AS BIGINT) AS seq_id,
         n_tokens, cum_tokens
  FROM (
    SELECT CAST({id_expr} AS BIGINT) AS id,
           CAST({id_expr} AS BIGINT) % {n_shards} AS shard,
           CAST({token_expr} AS BIGINT) AS n_tokens,
           CAST(SUM(CAST({token_expr} AS BIGINT)) OVER (
             PARTITION BY CAST({id_expr} AS BIGINT) % {n_shards}
             ORDER BY CAST({id_expr} AS BIGINT)) AS BIGINT) AS cum_tokens
    FROM {docs_cte}
  )
),
packed_pos AS (
  SELECT id, shard, seq_id,
         CAST(row_number() OVER (
           PARTITION BY shard, seq_id ORDER BY id) - 1 AS INT) AS seq_pos,
         n_tokens, cum_tokens
  FROM packed
)"""


def _sample_key_col(id_col: str, seed: int):
    """Shared content-derived uniform key: poly31(id:seed) scattered by the
    affine FEAT_MULT mix (see sample_per_group's docstring).  ONE place so
    the Spark and SQL forms cannot drift apart per caller."""
    from .media import FEAT_MULT

    return (
        poly31_col(F.concat(F.col(id_col).cast("string"), F.lit(":"),
                            F.lit(str(seed))))
        * F.lit(FEAT_MULT) % F.lit(POLY_MOD)
    )


def _sample_key_sql(id_col: str, seed: int) -> str:
    from .media import FEAT_MULT

    seeded = f"CAST({id_col} AS VARCHAR) || ':{seed}'"
    return f"({poly31_sql(seeded)} * {FEAT_MULT} % {POLY_MOD})"


def sample_per_group(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep the n_per_group rows with smallest poly31(id || ':' || seed)
    per group (ties broken by id) — a deterministic stratified sample.

    The sort key is derived from row CONTENT, so the sample is identical
    at any parallelism/partitioning, and the window top-k runs map-side
    (WindowGroupLimit) before the per-group shuffle.

    The raw poly31 of a short id string is near-monotonic in the id (the
    leading digits dominate the polynomial), so the key applies an affine
    mix (* FEAT_MULT mod p) after the hash — a bijection that scatters
    adjacent ids ~10^6 apart.  A spreading hash, not a cryptographic one.
    """
    key = _sample_key_col(id_col, seed)
    w = Window.partitionBy(group_col).orderBy(
        F.col("_skey").asc(), F.col(id_col).asc())
    return (
        df.withColumn("_skey", key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
        .drop("_rn")
        .withColumnRenamed("_skey", "sample_key")
    )


def sample_per_group_sql(table: str, group_col: str, n_per_group: int,
                         id_col: str, seed: int = 42) -> str:
    """DuckDB mirror of sample_per_group (same poly31+affine key)."""
    key = _sample_key_sql(id_col, seed)
    return f"""
SELECT * EXCLUDE (_rn) FROM (
  SELECT *, {key} AS sample_key,
         row_number() OVER (
           PARTITION BY {group_col}
           ORDER BY {key} ASC, {id_col} ASC) AS _rn
  FROM {table}
) WHERE _rn <= {n_per_group}
"""


def sample_weighted(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep each row independently with probability == its weight in [0,1]
    (quality-weighted corpus sampling: keep good documents more often).

    Deterministic Bernoulli: the row's keep-threshold is the same
    content-derived poly31+affine key as sample_per_group (uniform on
    [0, POLY_MOD)), kept iff key < weight * POLY_MOD.  The comparison is
    double-exact and oracle-mirrorable as long as the weight is itself
    identical on both sides (our quality score is 6dp-rounded).  No
    shuffle at all — a pure filter.
    """
    key = _sample_key_col(id_col, seed)
    return (
        df.withColumn("sample_key", key)
        .filter(F.col("sample_key")
                < F.col(weight_col) * F.lit(float(POLY_MOD)))
    )


def sample_weighted_sql(table: str, weight_expr: str, id_col: str,
                        seed: int = 42) -> str:
    """DuckDB mirror of sample_weighted (same key, same double compare)."""
    key = _sample_key_sql(id_col, seed)
    return f"""
SELECT *, {key} AS sample_key FROM {table}
WHERE {key} < ({weight_expr}) * {float(POLY_MOD)!r}
"""


__all__ = [
    "POLY_MOD",
    "pack_sequences",
    "pack_sequences_sql",
    "sample_per_group",
    "sample_per_group_sql",
    "sample_weighted",
    "sample_weighted_sql",
]


def mix_proportion_counts(counts: dict, proportions: dict) -> dict:
    """k_g per group for the LARGEST mixture achievable by pure
    downsampling: T = floor(min_g n_g / p_g), k_g = floor(p_g * T).
    Shared by the Spark operator and the SQL-mirror generator so both
    embed the identical literal budgets."""
    missing = sorted(g for g in proportions if g not in counts)
    if missing:
        raise ValueError(f"mix groups absent from the data: {missing}")
    bad = sorted(g for g, p in proportions.items() if p <= 0)
    if bad:
        raise ValueError(f"non-positive target proportions: {bad}")
    T = min(int(counts[g] / p) for g, p in proportions.items())
    return {g: int(p * T) for g, p in proportions.items()}


def mix_to_proportions(
    df: DataFrame,
    group_col: str,
    proportions: dict,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Downsample groups to a TARGET MIXTURE — the data-mixing step of a
    training pipeline (balance languages/domains to prescribed weights).

    proportions: group -> target fraction; groups absent from the dict
    are DROPPED (that is the point of mixing), listed groups absent from
    the DATA raise.  Downsampling only: the achievable total is
    T = floor(min_g n_g / p_g) and each listed group keeps the
    k_g = floor(p_g * T) rows with smallest content-derived sample key
    (the poly31+affine construction shared with sample_per_group), so
    the mix hits the requested proportions up to floor rounding, is the
    largest such subset needing no upsampling, and is bit-identical at
    any parallelism.

    Plan: ONE metadata aggregate (group counts — groups are languages /
    domains, |groups| rows collected, never data-sized), the k_g budgets
    broadcast as a literal frame, then one window top-k per group whose
    limit runs map-side (WindowGroupLimit) before the per-group shuffle
    — the only data-sized operation.
    """
    counts = {r["g"]: r["n"] for r in
              df.groupBy(F.col(group_col).alias("g"))
              .agg(F.count("*").alias("n")).collect()}
    k = mix_proportion_counts(counts, proportions)
    spark = df.sparkSession
    limits = F.broadcast(spark.createDataFrame(
        [(g, int(n)) for g, n in sorted(k.items())],
        f"{group_col} string, _k int"))
    key = _sample_key_col(id_col, seed)
    w = Window.partitionBy(group_col).orderBy(
        F.col("_skey").asc(), F.col(id_col).asc())
    return (
        df.join(limits, group_col, "inner")
        .withColumn("_skey", key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_k"))
        .drop("_rn", "_k")
        .withColumnRenamed("_skey", "sample_key")
    )


def sample_weighted_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """EXACTLY-k weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row gets the exponential key
    es = -ln(u) / w with u the shared content-derived uniform in (0, 1],
    and the k SMALLEST keys win — P(selection) is proportional to
    weight, without replacement, in one pass.  The complement of
    sample_weighted's independent Bernoulli (which cannot hit an exact
    budget) — this is the pick-exactly-k-docs-by-quality form.

    Deterministic end to end: u derives from poly31(id:seed) (the same
    key every sampler here uses), es is rounded at 9 dp right after the
    one non-correctly-rounded op (ln — the bm25 discipline), and the
    (es, id) ordering is a total order.  Top-k runs as
    TakeOrderedAndProject (per-partition heaps + driver merge of k), so
    there is no global sort at any scale.

    Weights must be > 0; the guard rides the consumed expression.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w_checked = F.when(
        F.col(weight_col).cast("double") > 0,
        F.col(weight_col).cast("double"),
    ).otherwise(F.raise_error(F.concat(
        F.lit("sample_weighted_k requires weights > 0; got "),
        F.col(weight_col).cast("string"))))
    u = (_sample_key_col(id_col, seed) + F.lit(1).cast("double")) \
        / F.lit(float(POLY_MOD) + 1.0)
    es = F.round(-F.log(u) / w_checked, 9)
    return (df.withColumn("es_key", es)
            .orderBy(F.col("es_key").asc(), F.col(id_col).asc())
            .limit(int(k)))


def sample_weighted_k_by(
    df: DataFrame,
    by: tuple,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Per-group exactly-k weighted sampling without replacement: the
    grouped form of sample_weighted_k — within every `by` group, k rows
    win by the same Efraimidis-Spirakis exponential key (the
    pick-k-best-docs-PER-LANGUAGE / per-source quota shape).

    Same determinism contract (shared uniform, 9dp-after-ln es_key,
    (es_key, id) total order); the per-group top-k runs as a window
    rank with map-side WindowGroupLimit below the exchange — one
    shuffle on the group key, no global sort, partial limits applied
    before data moves.  Groups smaller than k return whole.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w_checked = F.when(
        F.col(weight_col).cast("double") > 0,
        F.col(weight_col).cast("double"),
    ).otherwise(F.raise_error(F.concat(
        F.lit("sample_weighted_k_by requires weights > 0; got "),
        F.col(weight_col).cast("string"))))
    u = (_sample_key_col(id_col, seed) + F.lit(1).cast("double")) \
        / F.lit(float(POLY_MOD) + 1.0)
    es = F.round(-F.log(u) / w_checked, 9)
    win = Window.partitionBy(*by).orderBy(
        F.col("es_key").asc(), F.col(id_col).asc())
    return (df.withColumn("es_key", es)
            .withColumn("_rk", F.row_number().over(win))
            .filter(F.col("_rk") <= int(k))
            .drop("_rk"))
