"""Deterministic cardinality sketches.

HyperLogLog (Flajolet et al. 2007, public) re-derived so that BOTH engines
(Spark JVM expressions, DuckDB SQL) compute bit-identical registers and —
up to one final libm log in the small-range branch — bit-identical
estimates, making the sketch oracle-checkable instead of approximately
comparable.  Built-in approx_count_distinct can never be cross-checked
that way (engine-private hashes); this one can, and at 10^12 rows the
plan is the same one partial-aggregated shuffle the built-in uses.

Design constraints that shaped the math (all ANSI-overflow-safe):
  * hash: two lowbias32 lanes (Prospector xorshift-multiply finalizer —
    public, near-ideal avalanche) concatenated to 62 bits.  The 32-bit
    wrapping multiply is emulated from 16-bit limbs so every intermediate
    stays < 2^49 — Spark ANSI throws on int64 overflow, and DuckDB BIGINT
    always does.  LCG-style hashes are NOT enough here: on sequential ids
    their lattice structure makes register maxima near-deterministic and
    biases the estimate +40-70% (measured); avalanche is load-bearing.
  * CLZ without log2: smear-fill the low b bits (v |= v>>1 .. >>32) then
    bit_count — pure integer ops both engines share; rank = b - bits + 1.
  * register sum: sum(2^(62-M_j)) as DECIMAL(38,0)/HUGEINT — an EXACT
    integer, so no float-addition-order dependence; the estimate is one
    double division of literal constants by that integer.
  * 2^-M never goes through pow(): only exact shifts and divisions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

HLL_BITS = 62
_LB_M1, _LB_M2 = 0x7FEB352D, 0x846CA68B
_LANE2_SEED = 0x5BF03635
_M32 = 0xFFFFFFFF


def _alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _mul32_col(a: Column, k: int) -> Column:
    # (a * k) mod 2^32 from 16-bit limbs of k: a*(k&0xFFFF) < 2^48 and
    # ((a*(k>>16)) & 0xFFFF) * 2^16 < 2^32 — no int64 overflow possible.
    return (
        a * F.lit(k & 0xFFFF)
        + (a * F.lit(k >> 16)).bitwiseAND(F.lit(0xFFFF)) * F.lit(65536)
    ).bitwiseAND(F.lit(_M32))


def _lowbias32_col(x: Column) -> Column:
    x = x.bitwiseXOR(F.shiftright(x, 16))
    x = _mul32_col(x, _LB_M1)
    x = x.bitwiseXOR(F.shiftright(x, 15))
    x = _mul32_col(x, _LB_M2)
    return x.bitwiseXOR(F.shiftright(x, 16))


def hll_hash_col(x: Column) -> Column:
    """The shared 62-bit deterministic hash (JVM side)."""
    xl = x.cast("long")
    x32 = xl.bitwiseXOR(F.shiftright(xl, 32)).bitwiseAND(F.lit(_M32))
    a = _lowbias32_col(x32)
    b = _lowbias32_col(x32.bitwiseXOR(F.lit(_LANE2_SEED)))
    # a(32 bits) * 2^30 + b>>2 (30 bits) < 2^62
    return a * F.lit(1 << 30) + F.shiftright(b, 2)


def _mul32_sql(a: str, k: int) -> str:
    return (f"((({a}) * {k & 0xFFFF}"
            f" + ((({a}) * {k >> 16}) & 65535) * 65536) & {_M32})")


def _lowbias32_sql(x: str) -> str:
    for sh, k in ((16, _LB_M1), (15, _LB_M2)):
        x = f"xor({x}, ({x}) >> {sh})"
        x = _mul32_sql(x, k)
    return f"xor({x}, ({x}) >> 16)"


def hll_hash_sql(x: str) -> str:
    xl = f"CAST({x} AS BIGINT)"
    x32 = f"(xor({xl}, {xl} >> 32) & {_M32})"
    a = _lowbias32_sql(x32)
    b = _lowbias32_sql(f"xor({x32}, {_LANE2_SEED})")
    return f"(({a}) * {1 << 30} + (({b}) >> 2))"


def hll_distinct(df: DataFrame, group_cols: tuple, value_col: str,
                 p: int = 8) -> DataFrame:
    """Per-group HLL distinct estimate: (group..., hll_est, v_zero, m).

    hll_est is rounded to 3 places: every input to the estimate is exact
    (integer register sum -> one double division), except the standard
    small-range linear-counting branch whose ln() may drift ~1 ulp
    between JVM and libm — round-3 absorbs it (same contract as the
    geodesic operators' haversine rounding).

    Plan: one partial-aggregated shuffle to (group, register) max-rank,
    one rollup to group — the same two-level shape at any scale; nothing
    driver-side."""
    return hll_estimate(
        hll_registers(df, group_cols, value_col, p), group_cols, p)


def hll_registers(df: DataFrame, group_cols: tuple, value_col: str,
                  p: int = 8) -> DataFrame:
    """The persistable sketch state: per (group..., _i) max rank ``_m``.

    This is what a 10^12-row pipeline stores per fine cell / day / shard:
    registers MERGE by plain max (see hll_merge), so coarser rollups and
    incremental appends never rescan the raw data."""
    group_cols = list(group_cols)
    b = HLL_BITS - p
    h = hll_hash_col(F.col(value_col))
    # h < 2^61 and non-negative, so arithmetic shift IS the integer div —
    # (h / 2^b) would round-trip through double and lose bits above 2^53
    idx = F.shiftright(h, b)
    v = h % F.lit(1 << b)
    for s in (1, 2, 4, 8, 16, 32):
        v = v.bitwiseOR(F.shiftright(v, s))
    rank = F.lit(b) - F.bit_count(v) + 1
    return (
        df.select(*group_cols, idx.alias("_i"), rank.alias("_r"))
        .groupBy(*group_cols, "_i")
        .agg(F.max("_r").alias("_m"))
    )


def hll_merge(regs: DataFrame, group_cols: tuple) -> DataFrame:
    """Merge register tables to (usually coarser) ``group_cols``: max per
    register index.  max is associative/commutative/idempotent, so
    merge(fine registers) == registers built directly at the coarse
    granularity, bit-for-bit — replayed or overlapping inputs cannot
    corrupt the sketch.  One hash aggregate over register rows (≤ m per
    input group), never over raw data."""
    return (regs.groupBy(*list(group_cols), "_i")
            .agg(F.max("_m").alias("_m")))


def hll_estimate(regs: DataFrame, group_cols: tuple,
                 p: int = 8) -> DataFrame:
    """Estimate (group..., hll_est, v_zero, m) from a register table."""
    group_cols = list(group_cols)
    m = 1 << p
    lit_num = _alpha(m) * m * m * float(1 << HLL_BITS)
    # shiftleft with a COLUMN shift amount only exists in the SQL surface
    s_exact = F.sum(F.expr(
        f"CAST(shiftleft(CAST(1 AS BIGINT), {HLL_BITS} - _m) "
        f"AS DECIMAL(38,0))"))
    agg = regs.groupBy(*group_cols).agg(
        s_exact.alias("_s"), F.count("*").cast("long").alias("_nz"))
    v_zero = F.lit(m) - F.col("_nz")
    # empty registers (M_j = 0) contribute 2^HLL_BITS each to the exact
    # scaled sum; v_zero * 2^62 can reach 2^70, so the product lives in
    # decimal from the start
    s_total = (F.col("_s")
               + v_zero.cast("decimal(38,0)")
               * F.lit(1 << HLL_BITS).cast("decimal(38,0)"))
    raw = F.lit(lit_num) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.round(est, 3).alias("hll_est"),
        v_zero.cast("long").alias("v_zero"),
        F.lit(m).cast("long").alias("m"),
    )


def hll_distinct_sql(table: str, group_cols: tuple, value_col: str,
                     p: int = 8) -> str:
    """DuckDB mirror: identical hash, smear, exact HUGEINT register sum,
    identical literals and branch predicate.

    Returns a fragment starting at ``hll_h AS (`` so callers compose it
    onto an existing CTE chain (``WITH spans AS (...), `` + fragment) or
    run it standalone by prefixing ``WITH ``."""
    group_cols = list(group_cols)
    g = ", ".join(group_cols)
    m = 1 << p
    b = HLL_BITS - p
    h = hll_hash_sql(value_col)
    smear = "v"
    for s in (1, 2, 4, 8, 16, 32):
        smear = f"({smear} | ({smear} >> {s}))"
    lit_num = repr(_alpha(m) * m * m * float(1 << HLL_BITS))
    return f"""hll_h AS (
  SELECT {g}, ({h} // {1 << b}) AS i, ({h} % {1 << b}) AS v
  FROM {table}
), hll_rank AS (
  SELECT {g}, i, {b} - bit_count({smear}) + 1 AS r FROM hll_h
), hll_regs AS (
  SELECT {g}, i, max(r) AS mr FROM hll_rank GROUP BY {g}, i
), hll_nzagg AS (
  SELECT {g},
         sum(CAST(1 AS BIGINT) << ({HLL_BITS} - mr)) AS s_nz,
         count(*) AS nz
  FROM hll_regs GROUP BY {g}
), hll_agg AS (
  -- empty registers (M_j = 0) contribute 2^HLL_BITS each; the product
  -- can reach 2^70 so it lives in HUGEINT
  SELECT {g}, s_nz + CAST({m} - nz AS HUGEINT) * {1 << HLL_BITS} AS s, nz
  FROM hll_nzagg
)
SELECT {g},
       round(CASE WHEN {lit_num} / CAST(s AS DOUBLE) <= {repr(2.5 * m)}
                   AND {m} - nz > 0
                  THEN {repr(float(m))}
                       * ln({repr(float(m))} / CAST({m} - nz AS DOUBLE))
                  ELSE {lit_num} / CAST(s AS DOUBLE) END, 3) AS hll_est,
       CAST({m} - nz AS BIGINT) AS v_zero,
       CAST({m} AS BIGINT) AS m
FROM hll_agg
"""


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005, public).  Unlike HLL this
# one is ALL integers — counters are exact sums — so the DuckDB mirror is
# exactly equal, not equal-up-to-rounding.  d hash rows reuse the lowbias32
# finalizer under per-row seeds (hex digits of pi — nothing up the sleeve).
#
# 100 TB shape: the sketch is a d x w table (a few thousand rows) produced by
# ONE map-side-combined aggregation over the corpus; merging shards is
# counter addition (the groupBy already is that merge).  Frequency probes are
# a broadcast equi-join of the candidate set against the d x w table — no
# second corpus pass, no per-item shuffle.

CMS_SEEDS = (0x243F6A88, 0x85A308D3, 0x13198A2E, 0x03707344)


def _cms_check(w: int, d: int) -> None:
    if w & (w - 1) or w <= 0:
        raise ValueError(f"w must be a power of two, got {w}")
    if not 1 <= d <= len(CMS_SEEDS):
        raise ValueError(f"d must be in 1..{len(CMS_SEEDS)}, got {d}")


def _cms_bucket_col(x: Column, r: int, w: int) -> Column:
    xl = x.cast("long")
    x32 = xl.bitwiseXOR(F.shiftright(xl, 32)).bitwiseAND(F.lit(_M32))
    return _lowbias32_col(
        x32.bitwiseXOR(F.lit(CMS_SEEDS[r]))).bitwiseAND(F.lit(w - 1))


def _cms_bucket_sql(x: str, r: int, w: int) -> str:
    xl = f"CAST({x} AS BIGINT)"
    x32 = f"(xor({xl}, {xl} >> 32) & {_M32})"
    return f"({_lowbias32_sql(f'xor({x32}, {CMS_SEEDS[r]})')} & {w - 1})"


def cms_build(df: DataFrame, value_col: str, w: int = 512,
              d: int = 4) -> DataFrame:
    """Build the d x w counter table: (r, bucket, cnt).

    One exploded projection (d small rows per input row, all JVM-side) into
    one partially-aggregated groupBy over at most d*w cells."""
    _cms_check(w, d)
    x = F.col(value_col)
    pairs = F.array(*[
        F.struct(F.lit(r).cast("int").alias("r"),
                 _cms_bucket_col(x, r, w).alias("bucket"))
        for r in range(d)
    ])
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_estimate(items: DataFrame, sketch: DataFrame, value_col: str,
                 w: int = 512, d: int = 4) -> DataFrame:
    """items + column ``cms_est``: min over the d rows of the item's counter
    (>= true count always; collisions only ever inflate).  The sketch side
    is broadcast — it has at most d*w rows by construction."""
    _cms_check(w, d)
    x = F.col(value_col)
    pairs = F.array(*[
        F.struct(F.lit(r).cast("int").alias("r"),
                 _cms_bucket_col(x, r, w).alias("bucket"))
        for r in range(d)
    ])
    probe = items.select("*", F.explode(pairs).alias("p")).select(
        *items.columns, F.col("p.r").alias("r"), F.col("p.bucket").alias("bucket"))
    joined = probe.join(F.broadcast(sketch), ["r", "bucket"], "left")
    return (
        joined.groupBy(*items.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def cms_sql(table: str, value_col: str, w: int = 512, d: int = 4) -> str:
    """DuckDB mirror: identical buckets -> identical counters -> identical
    estimates.  Fragment starting at ``cms_in AS (`` (compose like
    hll_distinct_sql); final SELECT yields (item, n, cms_est)."""
    _cms_check(w, d)
    build = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_bucket_sql(value_col, r, w)} AS bucket"
        f" FROM {table}" for r in range(d))
    probe = " UNION ALL ".join(
        f"SELECT item, n, {r} AS r, {_cms_bucket_sql('item', r, w)} AS bucket"
        f" FROM cms_items" for r in range(d))
    return f"""cms_in AS (
  {build}
), cms AS (
  SELECT r, bucket, count(*) AS cnt FROM cms_in GROUP BY r, bucket
), cms_items AS (
  SELECT {value_col} AS item, count(*) AS n FROM {table} GROUP BY 1
), cms_probe AS (
  {probe}
), cms_est AS (
  SELECT item, n, min(coalesce(cnt, 0)) AS cms_est
  FROM cms_probe LEFT JOIN cms USING (r, bucket) GROUP BY item, n
)
SELECT item, n, cms_est FROM cms_est
"""


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970, public) as a semi-join prune.  The point at
# corpus scale: the broadcast side is AT MOST m_bits positions regardless of
# how many keys went in — a bounded-size prune where broadcasting the raw key
# set would not be.  False positives are possible (never negatives), so a
# consumer verifies bloom_pass rows with an exact semi-join that sees only
# the pruned slice.  Same portable lowbias32 buckets as the count-min
# sketch, so the DuckDB mirror is exactly equal.


def bloom_positions(keys: DataFrame, key_col: str, m_bits: int = 4096,
                    k: int = 4) -> DataFrame:
    """The set bits as a one-column DataFrame (pos) — the broadcastable
    filter state; |rows| <= m_bits by construction."""
    _cms_check(m_bits, k)
    x = F.col(key_col)
    pos = F.array(*[_cms_bucket_col(x, r, m_bits) for r in range(k)])
    return keys.select(F.explode(pos).alias("pos")).distinct()


def bloom_flags(df: DataFrame, key_col: str, keys: DataFrame,
                keys_col: str, m_bits: int = 4096, k: int = 4) -> DataFrame:
    """df (distinct on key_col) + bloom_pass/member booleans.

    bloom_pass: all k positions set (the prune verdict — may be a false
    positive).  member: exact membership (ground truth).  The invariant
    member => bloom_pass is structural; (bloom_pass AND NOT member) rows are
    the false-positive cost the verify join pays."""
    _cms_check(m_bits, k)
    pos_df = bloom_positions(keys, keys_col, m_bits, k)
    x = F.col(key_col)
    probe = df.select("*", F.explode(F.array(*[
        _cms_bucket_col(x, r, m_bits) for r in range(k)])).alias("pos"))
    hit = F.when(F.col("pos_hit").isNotNull(), 1).otherwise(0)
    passed = (
        probe.join(F.broadcast(pos_df.withColumn("pos_hit", F.lit(1))),
                   ["pos"], "left")
        .groupBy(*df.columns)
        .agg((F.sum(hit) == F.lit(k)).alias("bloom_pass"))
    )
    member_keys = keys.select(
        F.col(keys_col).alias(key_col)).distinct().withColumn("_mm", F.lit(1))
    return (
        passed.join(member_keys, [key_col], "left")
        .select(*df.columns, "bloom_pass",
                F.col("_mm").isNotNull().alias("member"))
    )


def bloom_flags_sql(table: str, key_col: str, keys_table: str,
                    keys_col: str, m_bits: int = 4096, k: int = 4) -> str:
    """DuckDB mirror of bloom_flags over DISTINCT keys of ``table``.
    Fragment starting at ``bloom_keys AS (``; yields (item, bloom_pass,
    member)."""
    _cms_check(m_bits, k)
    key_pos = " UNION ALL ".join(
        f"SELECT {_cms_bucket_sql(keys_col, r, m_bits)} AS pos"
        f" FROM bloom_keys" for r in range(k))
    item_pos = " UNION ALL ".join(
        f"SELECT item, {r} AS r, {_cms_bucket_sql('item', r, m_bits)} AS pos"
        f" FROM bloom_items" for r in range(k))
    return f"""bloom_keys AS (
  SELECT DISTINCT {keys_col} FROM {keys_table}
), bloom_pos AS (
  SELECT DISTINCT pos FROM ({key_pos})
), bloom_items AS (
  SELECT DISTINCT {key_col} AS item FROM {table}
), bloom_probe AS (
  {item_pos}
), bloom_passed AS (
  SELECT item,
         count(*) FILTER (WHERE p.pos IS NOT NULL) = {k} AS bloom_pass
  FROM bloom_probe bp LEFT JOIN bloom_pos p USING (pos) GROUP BY item
)
SELECT item, bloom_pass,
       EXISTS (SELECT 1 FROM bloom_keys bk WHERE bk.{keys_col} = item)
         AS member
FROM bloom_passed
"""
