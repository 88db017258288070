"""Deduplication operators for the training-data pipeline.

All operate on a corpus DataFrame with (id_col, text_col).  Scale notes:
 * exact dedup — one hash-groupBy shuffle on a 128-bit digest; winner per
   group by min(id) so the result is deterministic at any parallelism.
 * MinHash + LSH — shingle -> 64-bit polynomial rolling hash (numpy), n_perm
   permutations via the classic (a*h+b mod p) universal-hash family with a
   FIXED seed table, banded into b bands x r rows; candidate pairs come from
   an equi-join on (band_id, band_hash) — only colliding pairs are compared,
   never O(n^2).  Exact Jaccard verification on candidate pairs is optional.
 * SimHash — 64-bit hyperplane sketch of token multiset; near-dups = equal
   sketches on rotated 16-bit bands (Hamming <= 3 guarantee via 4 bands).
 * n-gram Jaccard — exact pairwise similarity via token-postings join
   (explode n-grams -> equi-join on gram -> count matches / union), with a
   gram-frequency cap to bound skew from stop-grams.

Determinism: every hash is an explicit integer formula (no Python hash()),
so results are identical across workers, runs, and cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

MERSENNE_P = (1 << 61) - 1
N_PERM_DEFAULT = 64
# embedding_near_dup_pairs refuses inputs past this many rows (O(n^2))
MAX_EXACT_ROWS = 100_000

_P61 = np.uint64(MERSENNE_P)


def _perm_table(n_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_P, size=n_perm, dtype=np.int64)
    b = rng.randint(0, MERSENNE_P, size=n_perm, dtype=np.int64)
    return a, b


def _mod61(v: np.ndarray) -> np.ndarray:
    """v (uint64, any value) -> v mod (2^61 - 1), pure uint64 numpy.

    Mersenne fold: 2^61 ≡ 1 (mod p), so v = hi*2^61 + lo ≡ hi + lo; the
    folded value is < p + 8, so one conditional subtract finishes."""
    v = (v >> np.uint64(61)) + (v & _P61)
    return np.where(v >= _P61, v - _P61, v)


def _mulmod61(x, y: np.ndarray) -> np.ndarray:
    """(x * y) mod (2^61 - 1) for x, y < 2^61 - 1 — 32-bit limb schoolbook
    with Mersenne folds, entirely in uint64 (no Python bigints, no overflow:
    every intermediate is < 2^64)."""
    x = np.uint64(x) if np.isscalar(x) or getattr(x, "ndim", 1) == 0 else x
    x0 = x & np.uint64(0xFFFFFFFF)
    x1 = x >> np.uint64(32)          # < 2^29
    y0 = y & np.uint64(0xFFFFFFFF)
    y1 = y >> np.uint64(32)          # < 2^29
    # x*y = x1y1*2^64 + (x1y0 + x0y1)*2^32 + x0y0 ;  2^64 ≡ 8 (mod p)
    t1 = _mod61(x1 * y1 * np.uint64(8))              # x1y1 < 2^58, *8 < 2^61
    mid = _mod61(x1 * y0 + x0 * y1)                  # < 2^62, fits
    m1 = mid >> np.uint64(29)                        # < 2^32
    m0 = mid & np.uint64((1 << 29) - 1)
    t2 = _mod61(m1 + (m0 << np.uint64(32)))          # m0*2^32 ≡ via 2^61 split
    t3 = _mod61(x0 * y0)                             # < 2^64, fits exactly
    return (t1 + t2 + t3) % _P61                     # sum < 3p < 2^63


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Representative row per distinct text: (digest, rep_id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_copies"))
    )


def shingle_hashes_np(text: str, n: int = 5) -> np.ndarray:
    """Distinct 64-bit polynomial hashes of character n-gram shingles."""
    data = text.encode("utf-8")
    if len(data) < n:
        data = data + b"\x00" * (n - len(data))
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    h = np.zeros(len(arr) - n + 1, dtype=np.uint64)
    mult = np.uint64(1099511628211)  # FNV prime
    for i in range(n):
        h = h * mult + arr[i : len(arr) - n + 1 + i]
    return np.unique(h)


def _minhash_batch(texts: list[str], a_m: np.ndarray, b_m: np.ndarray,
                   shingle_n: int) -> np.ndarray:
    """Signatures for a whole Arrow batch: [n_docs, n_perm] int64.

    sig[d, j] = min over shingles h of (a_j * h + b_j) mod (2^61 - 1).
    The permutation pass is batch-vectorized: all docs' shingle hashes are
    concatenated once, reduced mod p once, and each permutation is one
    uint64 mulmod over the whole batch + a segmented min (reduceat) — no
    per-row Python, no object-dtype bigint arithmetic."""
    n_perm = len(a_m)
    hs_list = [shingle_hashes_np(t or "", shingle_n) for t in texts]
    sizes = np.fromiter((len(h) for h in hs_list), np.int64, len(hs_list))
    # shingle_hashes_np pads short/empty text to >= 1 shingle, so every
    # segment is non-empty and reduceat is well-defined
    all_h = (np.concatenate(hs_list) if hs_list
             else np.empty(0, dtype=np.uint64))
    offsets = np.zeros(len(sizes), dtype=np.int64)
    np.cumsum(sizes[:-1], out=offsets[1:])
    hmod = _mod61(all_h)
    out = np.empty((len(texts), n_perm), dtype=np.int64)
    for j in range(n_perm):
        vals = _mulmod61(a_m[j], hmod) + b_m[j]
        vals = np.where(vals >= _P61, vals - _P61, vals)
        out[:, j] = np.minimum.reduceat(vals, offsets).astype(np.int64)
    return out


def minhash_signature_np(text: str, n_perm: int = N_PERM_DEFAULT,
                         shingle_n: int = 5, seed: int = 42) -> np.ndarray:
    """Single-doc reference form of the batch kernel (tests/oracles)."""
    a, b = _perm_table(n_perm, seed)
    return _minhash_batch([text], a.astype(np.uint64), b.astype(np.uint64),
                          shingle_n)[0]


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n_perm: int = N_PERM_DEFAULT, shingle_n: int = 5,
                       seed: int = 42) -> DataFrame:
    a, b = _perm_table(n_perm, seed)
    a_m, b_m = a.astype(np.uint64), b.astype(np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        mat = _minhash_batch(texts.tolist(), a_m, b_m, shingle_n)
        return pd.Series(list(mat))

    return df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("sig"))


def minhash_bands(sigs: DataFrame, bands: int = 16,
                  n_perm: int = N_PERM_DEFAULT) -> DataFrame:
    """(id, band_id, band_key) banded signature rows — the LSH join key
    material, shared by the one-shot candidate join (lsh_candidate_pairs)
    and the persisted incremental index (dedup_increment).

    n_perm must match the signature length produced by minhash_signatures
    (fail-fast per row: the length guard is folded INTO the band-key
    expression so Catalyst cannot column-prune it away) and divide evenly
    into bands — a silently short slice would make every band key collide
    and degenerate the candidate set toward all-pairs.

    The band key is the '_'-joined decimal minima of the band's slice (an
    explicit, oracle-expressible formula — not an opaque builtin hash)."""
    if n_perm % bands != 0:
        raise ValueError(f"n_perm={n_perm} not divisible by bands={bands}")
    rows_per_band = n_perm // bands
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            "_",
            F.transform(
                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        ),
    )
    # the guard lives inside the consumed expression (a dangling assert_true
    # column gets pruned by Catalyst and never evaluates)
    guarded = F.when(F.size("sig") == F.lit(n_perm), band_keys).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"minhash signature length != n_perm={n_perm}: got "),
                F.size("sig").cast("string"),
            )
        )
    )
    return sigs.select(
        "id",
        F.posexplode(guarded).alias("band_id", "band_key"),
    )


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16,
                        n_perm: int = N_PERM_DEFAULT) -> DataFrame:
    """(id_a, id_b) candidate near-dup pairs, id_a < id_b, deduped.

    The candidate join is an equi-join on (band_id, band_key) over
    minhash_bands rows — only colliding pairs are compared, never
    all-pairs.  See minhash_bands for the key construction + guards.
    """
    banded = minhash_bands(sigs, bands, n_perm)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_est_jaccard(pairs: DataFrame, sigs: DataFrame,
                        round_to: int = 6) -> DataFrame:
    """Estimated Jaccard per candidate pair = fraction of agreeing MinHash
    signature slots (the standard unbiased estimator: P[min agrees] =
    J(A,B)).  The LSH join proposes candidates; this scores them WITHOUT
    touching the raw text — at corpus scale the texts are long and the
    signatures are 64 longs, so thresholding on the estimate before any
    exact verification is the cheap middle stage.  Two equi-joins on id +
    one JVM fold; no Python."""
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                F.round(agree / F.size("sig_a"), round_to)
                .alias("est_jaccard"))
    )


FNV_OFFSET = np.uint64(14695981039346656037)
FNV_PRIME = np.uint64(1099511628211)


def _fnv1a64_tokens_np(tokens: list[bytes]) -> np.ndarray:
    """FNV-1a 64-bit of each token, vectorized over the token axis: one
    uint64 xor-mul per BYTE POSITION (tokens are short), never per token."""
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(t) for t in tokens), np.int64, n)
    data = np.frombuffer(b"".join(tokens), dtype=np.uint8).astype(np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    h = np.full(n, FNV_OFFSET, dtype=np.uint64)
    for pos in range(int(lens.max())):
        active = lens > pos
        h[active] = (h[active] ^ data[starts[active] + pos]) * FNV_PRIME
    return h


def _simhash_batch(token_lists: list[list[str]]) -> np.ndarray:
    """SimHash sketches for a batch of token lists -> int64 array.

    One flat FNV pass over every token in the batch, then a segmented ±1
    bit-vote (reduceat) — zero per-row Python."""
    counts = np.fromiter((len(t) for t in token_lists), np.int64,
                         len(token_lists))
    flat = [t.encode("utf-8") for lst in token_lists for t in lst]
    hs = _fnv1a64_tokens_np(flat)
    shifts = np.arange(64, dtype=np.uint64)
    votes = np.where(
        ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(bool), 1, -1
    ).astype(np.int32)
    out = np.zeros(len(token_lists), dtype=np.uint64)
    nonempty = counts > 0
    if nonempty.any():
        offs = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(counts[nonempty][:-1], out=offs[1:])
        acc = np.add.reduceat(votes, offs, axis=0)
        packed = ((acc > 0).astype(np.uint64) << shifts[None, :]).sum(axis=1)
        out[nonempty] = packed
    return out.view(np.int64)


def simhash_np(tokens: list[str], bits: int = 64) -> int:
    """64-bit SimHash over the token multiset, returned as signed int64."""
    assert bits == 64
    return int(_simhash_batch([list(tokens)])[0])


def simhash_sketches(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    @F.pandas_udf(LongType())
    def sk(texts: pd.Series) -> pd.Series:
        return pd.Series(_simhash_batch([(t or "").split() for t in texts]))

    return df.select(F.col(id_col).alias("id"), sk(F.col(text_col)).alias("simhash"))


# min-label rounds before connected_components(method='auto') restarts
# with large-star/small-star; read at call time
LABEL_MAX_ITER = 20


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         method: str = "auto") -> DataFrame:
    """Connected components of the near-dup pair graph -> (node, label)
    with label = min node id in the component (the canonical duplicate to
    KEEP; everything else in the cluster is droppable).

    method:
      'auto'  — min-label propagation first: each round every node takes
        the min of its own and its neighbors' labels, so convergence needs
        component-DIAMETER rounds (near-dup clusters are shallow, and a
        round is cheaper than a star round); if it hasn't converged after
        LABEL_MAX_ITER rounds, restart with 'star'.
      'star'  — alternating large-star/small-star contraction (Kiveris et
        al., "Connected Components in MapReduce and Beyond"): O(log^2 n)
        rounds REGARDLESS of diameter — the 10^12-node path for chain-
        shaped dup graphs.

    localCheckpoint cuts the per-round lineage — the round-1 kNN lesson:
    an iterative loop of joins otherwise re-evaluates its whole history
    every action.
    """
    if method not in ("star", "auto"):
        raise ValueError(f"unknown method {method!r}")
    if method == "star":
        return _cc_star(pairs, id_a, id_b)
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(LABEL_MAX_ITER):
        prop = (
            edges.join(labels.select(F.col("node").alias("src"),
                                     F.col("label").alias("src_label")), "src")
            .groupBy("dst").agg(F.min("src_label").alias("nbr_label"))
            .select(F.col("dst").alias("node"), "nbr_label")
        )
        # the changed flag rides along in the SAME join that computes the
        # new label, so the convergence probe below is a filter+limit on
        # the checkpointed result — not a second join job per round
        new_labels = (
            labels.join(prop, "node", "left")
            .select(
                "node",
                F.least(F.col("label"),
                        F.coalesce("nbr_label", F.col("label"))
                        ).alias("new_label"),
                (F.coalesce("nbr_label", F.col("label"))
                 < F.col("label")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("chg").limit(1).count()
        labels = new_labels.select(
            "node", F.col("new_label").alias("label"))
        if changed == 0:
            return labels
    return _cc_star(pairs, id_a, id_b)


def _cc_star(pairs: DataFrame, id_a: str, id_b: str,
             max_rounds: int = 60) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Per round over the directed edge set E (edges point big -> small after
    the first large-star):
      large-star(u): m = min(N(u) ∪ {u}) over the SYMMETRIZED neighborhood;
        emit (v, m) for every neighbor v > u.
      small-star(u): m = min(N(u)) over strictly-smaller neighbors;
        emit (u, m) and (v, m) for every v in N(u), v != m.
    Fixpoint = every edge points straight at its component min (the star),
    reached in O(log^2 n) rounds independent of component diameter.
    max_rounds is a runaway backstop far above log^2 of any real corpus.
    """
    raw = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    # node universe BEFORE dropping self-pairs: a node appearing only as
    # (x, x) must still come back as its own root, as in the min-label rounds
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select("v"))
        .distinct()
        .localCheckpoint()
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def large_star(edges):
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(edges):
        mins = edges.groupBy("u").agg(F.min("v").alias("mn"))
        nbrs = (
            edges.join(mins, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        selfs = mins.select("u", F.col("mn").alias("v"))
        return nbrs.unionByName(selfs).distinct()

    for _ in range(max_rounds):
        new_e = small_star(large_star(e)).localCheckpoint()
        changed = (
            new_e.exceptAll(e).limit(1).count()
            + e.exceptAll(new_e).limit(1).count()
        )
        e = new_e
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"_cc_star did not reach a fixpoint in {max_rounds} rounds")
    stars = e.select(F.col("u").alias("node"), F.col("v").alias("label"))
    roots = all_nodes.join(
        e.select(F.col("u").alias("node")).distinct(), "node", "left_anti"
    ).select("node", F.col("node").alias("label"))
    return stars.unionByName(roots)


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    Exact all-pairs via a self cross join with JVM-side higher-order
    functions — the oracle-checkable baseline for gold sets and build
    sides.  O(n^2) by construction, so it REFUSES inputs past
    MAX_EXACT_ROWS, read at call time (one bounded limit+count probe): at
    corpus scale use embedding_near_dup_pairs_lsh — banded LSH candidates
    + the same exact cosine verify, identical output whenever every
    >=threshold pair is within the band Hamming bound (pinned by test on
    the gold fixture)."""
    from .similarity import _dot, _norm

    max_rows = MAX_EXACT_ROWS
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"embedding_near_dup_pairs is O(n^2) all-pairs and the "
            f"input exceeds MAX_EXACT_ROWS={max_rows}: use "
            f"embedding_near_dup_pairs_lsh (banded candidates + exact "
            f"verify) for the scale path")
    a = df.select(F.col(id_col).alias("id_a"),
                  F.col(vec_col).cast("array<double>").alias("va"))
    b = df.select(F.col(id_col).alias("id_b"),
                  F.col(vec_col).cast("array<double>").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(_dot(F.col("va"), F.col("vb"))
                    / (_norm(F.col("va")) * _norm(F.col("vb"))), round_to),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def embedding_lsh_candidates(
    df: DataFrame, id_col: str, vec_col: str, dim: int,
    n_bits: int = 32, bands: int = 4, seed: int = 42,
) -> DataFrame:
    """(id_a, id_b) banded hyperplane-LSH candidate pairs (id_a < id_b,
    distinct) — the prune stage of embedding_near_dup_pairs_lsh, exposed
    so callers (bench, tuning) can measure candidate volume vs n^2/2.

    Sketch = n_bits sign bits (fixed-seed hyperplanes, signs on the
    6dp-rounded dot); bands = contiguous bit slices; candidates = pairs
    agreeing exactly on >= 1 slice (equi-join on (band_id, band_key)).
    Pigeonhole: any pair within Hamming distance bands-1 is ALWAYS a
    candidate.  A row lsh_bucket_udf cannot sketch (null or wrong-length
    vector) has null band keys and joins nothing."""
    from .similarity import lsh_bucket_udf

    if n_bits % bands != 0:
        raise ValueError(f"n_bits={n_bits} not divisible by bands={bands}")
    r = n_bits // bands
    bucket = lsh_bucket_udf(dim, n_bits, seed)
    base = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    mask = (1 << r) - 1
    band_keys = F.array(*[
        F.shiftright("sk", b * r).bitwiseAND(F.lit(mask)) for b in range(bands)
    ])
    banded = (
        base.withColumn("sk", bucket(F.col("v")))
        .select("id", F.posexplode(band_keys).alias("band_id", "band_key"))
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame, id_col: str, vec_col: str, dim: int,
    threshold: float = 0.95, n_bits: int = 32, bands: int = 4,
    seed: int = 42, round_to: int = 6,
) -> DataFrame:
    """Scale path for embedding near-dup: banded hyperplane-LSH candidate
    join + exact cosine verify.  Same output columns as
    embedding_near_dup_pairs (id_a < id_b, sim >= threshold).

    Plan (never all-pairs):
      1. sketch — n_bits sign bits per vector (random hyperplanes, fixed
         seed; signs on the 6dp-rounded dot so any mirror agrees),
      2. band   — split the sketch into `bands` contiguous bit slices;
         candidates = pairs agreeing EXACTLY on at least one slice, found
         by an equi-join on (band_id, band_key) — the same banded-join
         machinery as MinHash LSH (lsh_candidate_pairs),
      3. verify — join the two vectors back by id and keep pairs whose
         EXACT rounded cosine >= threshold, so precision is exact by
         construction and false candidates only cost compute.

    Recall bound (pigeonhole): a pair whose sketches differ in fewer than
    `bands` bits always agrees on at least one whole band, so recall vs
    the exact form is 1.0 whenever every >=threshold pair sketches within
    Hamming distance bands-1.  For genuine near-duplicates the angle is
    tiny (cos 0.95 -> ~18deg -> expected flips ~ n_bits/10), so the
    default (n_bits=32, bands=4, Hamming <= 3 guaranteed) holds with wide
    margin — measured on the gold fixture: planted twins sketch at
    Hamming <= 1 and the candidate set is ~2% of all pairs (pinned equal
    to the exact form by tests/test_media_dedup_sim.py).

    100 TB shape: the sketch pass is one narrow projection, the band join
    is a bounded equi-join on short keys, and only candidate PAIRS (<< n^2
    by the band bound) carry vectors through the verify joins.  Contract
    shape mirrors the reference's candidate-prune + exact-verify semi-join
    (relevant imports, codechunk.go:691-720): cheap candidate set first,
    exact predicate second, output == the exact form's.

    The sketch is lsh_bucket_udf (one fused Arrow-batched numpy matmul per
    batch): measured 2.4x faster at n_bits=32 than the same signs as JVM
    column expressions, whose 32 chained aggregate-fold lambdas evaluate
    interpreted (NamedLambdaVariable)."""
    from .similarity import _dot, _norm

    base = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("v"))
    cand = embedding_lsh_candidates(base, "id", "v", dim, n_bits, bands,
                                    seed)
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn(
            "sim",
            F.round(_dot(F.col("va"), F.col("vb"))
                    / (_norm(F.col("va")) * _norm(F.col("vb"))), round_to),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def word_ngrams_col(text_col, n: int):
    """Word n-grams of a text column (short texts collapse to one gram) —
    shared by the Jaccard join and the corpus gram stats so engine and
    oracle build identical grams."""
    words = F.split(text_col, " ")
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def corpus_ngram_stats(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, k: int = 100) -> DataFrame:
    """Top-k n-grams by DOCUMENT frequency -> (gram, doc_freq).

    The contamination/quality-analysis staple: which n-grams dominate the
    corpus.  One distinct + one groupBy; the top-k is orderBy+limit, which
    Spark executes as TakeOrdered (map-side partial top-k per partition,
    no global sort).  Ties at the boundary break on the gram itself so
    the result is deterministic and oracle-mirrorable."""
    grams = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(word_ngrams_col(F.col(text_col), n))
                  .alias("gram"))
        .distinct()
    )
    return (
        grams.groupBy("gram").agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
        .limit(k)
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, min_jaccard: float = 0.5,
                        max_gram_freq: int = 1000) -> DataFrame:
    """Exact word-n-gram Jaccard over posting-list join.

    max_gram_freq drops grams appearing in more than that many docs (stop-gram
    skew cap — at 100TB a single hot gram would otherwise create a quadratic
    join blowup; the cap is the standard postings-pruning trick and only
    affects pairs whose similarity evidence is redundant).
    """
    grams = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(word_ngrams_col(F.col(text_col), n))
                  .alias("gram"))
        .distinct()
    )
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    gram_freq = grams.groupBy("gram").agg(F.count("*").alias("df_"))
    pruned = grams.join(
        F.broadcast(gram_freq.filter(F.col("df_") > max_gram_freq)),
        "gram",
        "left_anti",
    )
    a = pruned.alias("a")
    b = pruned.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a")
                   .withColumnRenamed("n_grams", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_grams", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_inter", "jaccard")
    )


# ------------------------------------------------ incremental MinHash ----

_INDEX_META = "_index_meta.json"


def _index_meta_path(index_path: str) -> str:
    import os

    return os.path.join(index_path, _INDEX_META)


def read_index_meta(index_path: str) -> dict | None:
    import json
    import os

    p = _index_meta_path(index_path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def dedup_increment(
    new_df: DataFrame, index_path: str,
    id_col: str = "doc_id", text_col: str = "text",
    n_perm: int = N_PERM_DEFAULT, shingle_n: int = 5,
    bands: int = 16, seed: int = 42,
    batch_name: int | None = None,
) -> DataFrame:
    """Incremental MinHash dedup of a NEW batch against a persisted banded
    corpus index — the new-crawl-vs-corpus shape a training-data pipeline
    runs daily: signature ONLY the new batch, equi-join its band keys
    against the stored corpus bands, and append the batch to the index.

    Returns the candidate near-dup pairs INTRODUCED by this batch:
    new-vs-corpus plus new-vs-new, (id_a < id_b, distinct).  The union of
    every increment's pairs equals lsh_candidate_pairs over the full
    corpus recomputed from scratch (pinned by test — each cross-corpus
    pair appears exactly in the increment that introduced its newer side).

    Index layout (parquet + JSON manifest, the operators/checkpoint.py
    commit pattern): `index_path/bands/batch=K/` holds batch K's
    (id, band_id, band_key) rows partitioned by band_id (so the candidate
    equi-join prunes corpus partitions by the probe's band ids);
    `_index_meta.json` records the signature parameters and the COMMITTED
    batch list, rewritten atomically AFTER the batch directory lands — a
    crashed increment leaves the manifest unchanged and the rerun
    overwrites the orphan directory.  Signature params are validated
    against the manifest: a mismatched n_perm/shingle_n/seed would
    silently produce non-colliding keys (zero recall), so it raises.

    100 TB shape: each increment touches O(|batch|) signature work + one
    banded equi-join whose corpus side is read band-partitioned from the
    index — the corpus is never re-signatured, never re-shuffled.
    (Snapshot/commit protocol shared with operators/checkpoint.py — the
    reference's deterministic-restart contract, codechunk.go:295-391.)"""
    import json
    import os

    spark = new_df.sparkSession
    params = {"n_perm": n_perm, "shingle_n": shingle_n, "bands": bands,
              "seed": seed}
    meta = read_index_meta(index_path)
    if meta is not None:
        got = {k: meta[k] for k in params}
        if got != params:
            raise ValueError(
                f"dedup_increment params {params} do not match the index at "
                f"{index_path} (built with {got}): mixed signature "
                "parameters never collide — rebuild or match the index")
        committed = list(meta["batches"])
    else:
        committed = []
    bands_root = os.path.join(index_path, "bands")

    # batch_name: caller-assigned id (e.g. the STREAMING micro-batch id)
    # making a replayed increment IDEMPOTENT: the corpus it joins against
    # excludes its own prior (possibly partial) write, the batch dir is
    # overwritten, and the manifest gains the id only once.  Auto ids
    # (None) and explicit ids must not be mixed on one index.
    replay = batch_name is not None and batch_name in committed
    if batch_name is not None:
        batch_id = int(batch_name)
    else:
        batch_id = (max(committed) + 1) if committed else 0
    corpus_batches = [k for k in committed if k != batch_id]
    old_paths = [os.path.join(bands_root, f"batch={k}")
                 for k in corpus_batches]

    sigs = minhash_signatures(new_df, id_col, text_col, n_perm, shingle_n,
                              seed)
    batch_dir = os.path.join(bands_root, f"batch={batch_id}")
    # overwrite: an orphan dir from a crashed (uncommitted) increment is
    # replaced, never double-counted — only the manifest defines the corpus
    minhash_bands(sigs, bands, n_perm).write.mode("overwrite") \
        .partitionBy("band_id").parquet(batch_dir)

    new_banded = spark.read.parquet(batch_dir)
    a = new_banded.alias("a")
    b = new_banded.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    pairs = within
    if old_paths:
        old = spark.read.parquet(*old_paths).alias("o")
        n = new_banded.alias("n")
        cross = (
            old.join(
                n,
                (F.col("o.band_id") == F.col("n.band_id"))
                & (F.col("o.band_key") == F.col("n.band_key"))
                & (F.col("o.id") != F.col("n.id")),
            )
            .select(
                F.least(F.col("o.id"), F.col("n.id")).alias("id_a"),
                F.greatest(F.col("o.id"), F.col("n.id")).alias("id_b"),
            )
        )
        pairs = pairs.unionByName(cross)

    new_meta = {**params,
                "batches": committed if replay else committed + [batch_id]}
    os.makedirs(index_path, exist_ok=True)
    tmp = _index_meta_path(index_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(new_meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _index_meta_path(index_path))  # atomic commit
    # the returned plan reads only immutable batch dirs (file listings were
    # resolved at read time), so later increments cannot leak into it
    return pairs.distinct()


def contamination_check(
    corpus: DataFrame, eval_df: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    eval_id_col: str = "doc_id", eval_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Train-vs-eval n-gram decontamination (the classic benchmark-leak
    filter): for every corpus document sharing at least one word n-gram
    with ANY eval document, report (id, n_grams, n_contaminated, frac,
    n_eval_docs) — the doc's distinct-gram count, how many of them occur
    in the eval set, the contaminated fraction, and how many distinct
    eval documents it collides with.  Clean documents produce no row
    (the common case at scale; callers left-anti-join to keep them).

    Plan: distinct grams per side (word_ngrams_col, shared with the
    Jaccard join so every n-gram operator tokenizes identically), the
    EVAL side reduced to (gram, its distinct doc count) and BROADCAST —
    eval sets are benchmark-sized by nature — so the 10^12-doc corpus is
    filtered by a broadcast hash join and never shuffled; one hash
    aggregation on the surviving (rare) contaminated rows.  Contract
    shape: candidate-prune + exact verify again (reference semi-join,
    codechunk.go:691-720) — except here membership IS the predicate.
    """
    grams = (
        corpus.select(F.col(id_col).alias("id"),
                      F.explode(word_ngrams_col(F.col(text_col), n))
                      .alias("gram"))
        .distinct()
    )
    eval_grams = (
        eval_df.select(F.col(eval_id_col).alias("eid"),
                       F.explode(word_ngrams_col(F.col(eval_text_col), n))
                       .alias("gram"))
        .distinct()
    )
    eval_stats = F.broadcast(
        eval_grams.groupBy("gram")
        .agg(F.countDistinct("eid").alias("n_eval_docs_g")))
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    hits = (
        grams.join(eval_stats, "gram", "inner")
        .groupBy("id")
        .agg(F.count("*").alias("n_contaminated"),
             F.sum("n_eval_docs_g").alias("n_eval_doc_hits"))
    )
    return (
        hits.join(sizes, "id")
        .select(
            "id", "n_grams", "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6)
            .alias("frac"),
            "n_eval_doc_hits",
        )
    )


def dup_span_stats(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n: int = 8) -> DataFrame:
    """Per-document duplicated-SUBSTRING coverage: for every document,
    the fraction of its word n-gram OCCURRENCES whose gram also appears
    in at least one OTHER document — the substring-level dedup signal
    (exact-substring dedup à la Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499) that document-
    level MinHash misses: boilerplate headers, license blocks and quoted
    passages shared across otherwise-distinct documents.  High dup_frac
    documents are cut or trimmed by training-data pipelines even when no
    whole-document near-duplicate exists.

    Unlike corpus_ngram_stats / contamination_check this counts every
    OCCURRENCE (a doc repeating a cross-duplicated gram 10 times has 10
    of its spans covered), so the fraction measures how much of the doc
    is duplicated text, not how many distinct grams are tainted.

    Plan: grams are generated JVM-side per row (word_ngrams_col — no
    shuffle, the same tokenizer as every other n-gram operator), the
    cross-doc gram set is one hash aggregation keyed by gram
    (countDistinct docs >= 2), and occurrences rejoin it by gram — a
    banded equi-join, never all-pairs.  At corpus scale the gram join
    key would be a 64-bit hash rather than the gram text (same bytes
    shuffled, different width); text is kept here so the result is
    directly oracle-mirrorable.  Output: (id, n_spans, n_dup_spans,
    dup_frac) — one row per doc with >= 1 gram; docs shorter than n
    words collapse to a single whole-text gram (word_ngrams_col's
    contract), so every doc has a row.
    """
    occ = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams_col(F.col(text_col), n)).alias("gram"))
    cross = (occ.distinct()
             .groupBy("gram").agg(F.count("*").alias("_ndocs"))
             .filter(F.col("_ndocs") >= 2)
             .select("gram"))
    flagged = occ.join(cross, "gram", "left_semi")
    n_spans = occ.groupBy("id").agg(F.count("*").alias("n_spans"))
    n_dup = flagged.groupBy("id").agg(F.count("*").alias("n_dup_spans"))
    return (n_spans.join(n_dup, "id", "left")
            .select("id", "n_spans",
                    F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
                    F.round(F.coalesce("n_dup_spans", F.lit(0))
                            / F.col("n_spans"), 6).alias("dup_frac")))


def jaccard_set_join(df: DataFrame, id_col: str, set_col: str,
                     t_num: int, t_den: int) -> DataFrame:
    """Set-similarity self-join: every unordered pair of rows whose
    element sets have Jaccard >= t_num/t_den, via PREFIX FILTERING
    (AllPairs/PPJoin family, Bayardo et al. 2007 — public) rather than
    minhash: the result is EXACT, not probabilistic.

    Each set's elements are put in a single global canonical order
    (ascending document frequency, then element — rare first); a pair at
    Jaccard >= t MUST share an element inside each set's first
    n - ceil(t*n) + 1 elements, so the candidate join is an equi-join on
    exploded PREFIX elements only.  Verification is integer-exact:
    t_den * |a ∩ b| >= t_num * |a ∪ b| — no float threshold wobble.

    Scale shape: one df-count aggregate over exploded elements, one
    sort_array per row (JVM), candidates = equi-join on prefix element
    (shuffle bounded by prefix postings, never n^2), verify via
    array_intersect on the two carried sets.  The prune's win grows with
    vocabulary size; on a tiny shared vocabulary (the sf0.01 documents
    table) most pairs survive to the verify — the ORACLE, not the prune,
    is what the gate checks.  Jaccard output is one correctly-rounded
    integer division, 6dp.
    """
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must be in (0, 1]")
    base = (df.select(F.col(id_col).alias("_id"),
                      F.array_distinct(F.col(set_col)).alias("_s"))
            .filter(F.size("_s") > 0))
    tok = base.select("_id", F.explode("_s").alias("_e"))
    dft = tok.groupBy("_e").agg(F.count("*").alias("_df"))
    ordered = (tok.join(dft, ["_e"])
               .groupBy("_id")
               .agg(F.sort_array(F.collect_list(
                   F.struct(F.col("_df"), F.col("_e")))).alias("_o")))
    n = F.size("_o")
    # p = n - ceil(t*n) + 1, all-integer ceil
    p = n - F.expr(f"(({t_num} * size(_o) + {t_den} - 1) div {t_den})") + 1
    prefix = (ordered.select(
        "_id", F.explode(F.slice(F.col("_o"), 1, p)).alias("_pe"))
        .select("_id", F.col("_pe._e").alias("_e")))
    cand = (prefix.alias("x")
            .join(prefix.alias("y"), ["_e"])
            .filter(F.col("x._id") < F.col("y._id"))
            .select(F.col("x._id").alias("id_a"),
                    F.col("y._id").alias("id_b"))
            .distinct())
    sets = base.select(F.col("_id"), F.col("_s"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    return (cand
            .join(sets.select(F.col("_id").alias("id_a"),
                              F.col("_s").alias("_sa")), ["id_a"])
            .join(sets.select(F.col("_id").alias("id_b"),
                              F.col("_s").alias("_sb")), ["id_b"])
            .withColumn("inter_n", inter.cast("long"))
            .withColumn("union_n", union.cast("long"))
            .filter(F.lit(int(t_den)) * F.col("inter_n")
                    >= F.lit(int(t_num)) * F.col("union_n"))
            .select("id_a", "id_b", "inter_n", "union_n",
                    F.round(F.col("inter_n").cast("double")
                            / F.col("union_n"), 6).alias("jaccard")))


def edit1_join(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    """Edit-distance-<=1 self-join over a string column via DELETION
    NEIGHBORHOODS (the SymSpell blocking, public): every string emits
    itself plus each single-character deletion; two strings within one
    edit (insert / delete / substitute) necessarily share a variant, so
    candidates come from ONE equi-join on the variant key and are then
    verified with exact levenshtein.  Never compares all pairs — the
    variant table is O(rows x avg_len), the join is hash-partitioned on
    the variant string.

    Output: (id_a, id_b, s_a, s_b, dist) for distinct-id pairs with
    dist <= 1 under (id_a < id_b); equal strings under different ids
    count (dist 0).
    """
    base = (df.select(F.col(id_col).alias("_id"),
                      F.col(str_col).alias("_s"))
            .filter(F.col("_s").isNotNull()))
    variants = base.select(
        "_id", "_s",
        F.explode(F.array_union(
            F.array(F.col("_s")),
            F.expr("transform(sequence(1, length(_s)), i -> "
                   "concat(substring(_s, 1, i - 1), "
                   "substring(_s, i + 1, length(_s) - i)))")
        )).alias("_v"))
    cand = (variants.alias("x")
            .join(variants.alias("y"), ["_v"])
            .filter(F.col("x._id") < F.col("y._id"))
            .select(F.col("x._id").alias("id_a"),
                    F.col("y._id").alias("id_b"),
                    F.col("x._s").alias("s_a"),
                    F.col("y._s").alias("s_b"))
            .distinct())
    return (cand
            .withColumn("dist", F.levenshtein("s_a", "s_b"))
            .filter(F.col("dist") <= 1)
            .select("id_a", "id_b", "s_a", "s_b",
                    F.col("dist").cast("int").alias("dist")))


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3) -> DataFrame:
    """Containment dedup: all (a_id, b_id) pairs where document a's word
    sequence is a CONTIGUOUS subsequence of document b's (word-aligned
    containment — truncated copies, quoted excerpts, articles embedded in
    digests), the dedup form document-level MinHash under-weighs when the
    container is much longer than the contained doc.

    Semantics (mirrored exactly by the brute-force SQL oracle):
    contains(' '||b.text||' ', ' '||a.text||' ') with a restricted to
    documents of >= n words, emitting (a, b) when a is strictly shorter
    in words, and for byte-identical texts only the (lower id, higher id)
    orientation.  Documents shorter than n words cannot be blocked by an
    n-gram (their whole-text gram is not a window of any container) and
    are excluded by contract — lower n to cover them.

    Plan (never all-pairs): each contained-side doc is blocked on its
    corpus-RAREST word n-gram (min doc-frequency, gram-lexicographic
    tie-break): word-aligned containment implies every a-gram occurs
    contiguously in b, in particular the rarest one, so the single
    equi-join of a's one key gram against b's distinct gram postings is
    a LOSSLESS candidate filter; candidates then pay one exact contains.
    Candidate volume = sum over docs of DF(rarest gram) — bounded by the
    rarest-gram choice, the same blocking argument as SymSpell /
    prefix-filter joins.  At corpus scale the gram join key would be a
    64-bit hash (same shuffle, narrower bytes); text is kept so the
    result is directly oracle-mirrorable.
    """
    words = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("txt"),
                     F.size(words).alias("nw"))
    grams = base.select(
        "id", F.explode(word_ngrams_col(F.col("txt"), n)).alias("gram")
    ).distinct()
    gram_df = grams.groupBy("gram").agg(F.count("*").alias("_df"))
    rarest = (
        grams.join(gram_df, "gram")
        .groupBy("id")
        .agg(F.min(F.struct(F.col("_df"), F.col("gram"))).alias("_m"))
        .select("id", F.col("_m.gram").alias("gram"))
    )
    a_side = (
        base.filter(F.col("nw") >= n)
        .join(rarest, "id")
        .select(F.col("id").alias("a_id"), F.col("txt").alias("a_txt"),
                F.col("nw").alias("a_nw"), "gram")
    )
    b_side = grams.join(
        base.select(F.col("id").alias("b_id"), F.col("txt").alias("b_txt"),
                    F.col("nw").alias("b_nw")),
        grams["id"] == F.col("b_id")
    ).select("b_id", "b_txt", "b_nw", "gram")
    pad = lambda c: F.concat(F.lit(" "), c, F.lit(" "))  # noqa: E731
    return (
        a_side.join(b_side, "gram")
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(F.contains(pad(F.col("b_txt")), pad(F.col("a_txt"))))
        .filter((F.col("a_nw") < F.col("b_nw"))
                | ((F.col("a_txt") == F.col("b_txt"))
                   & (F.col("a_id") < F.col("b_id"))))
        .select("a_id", "b_id")
    )
