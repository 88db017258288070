"""Multimodal column operators: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, mapInPandas iterator
UDFs, partition sizing) is real and tested; the actual codec work (JPEG
decode, audio PCM decode, video demux) is STUBBED because no image/audio
libraries exist in this container: `decode_fn=None` uses a deterministic
fake decoder (content-hash-seeded) clearly marked below, and passing a real
decode_fn (PIL/torchaudio/ffmpeg on a real cluster) swaps it in without any
plan change.

Schema contract:
  media:    (media_ref string, kind string in {image,audio,video},
             payload binary, meta struct<width:int,height:int,
             sample_rate:int,n_frames:int,mime:string>)
  features: (media_ref string, kind string, feature array<float>, ok boolean,
             error string)

Scale notes: payloads dominate bytes — mapInPandas with a bounded Arrow batch
(session conf arrow.maxRecordsPerBatch) keeps executor memory flat; the
feature output is narrow, so downstream joins/aggs never reshuffle payload
bytes (project features BEFORE any join).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_ref string, kind string, payload binary, "
    "meta struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>"
)

FEATURE_SCHEMA = (
    "media_ref string, kind string, feature array<float>, ok boolean, "
    "error string"
)

FEATURE_DIM = 16

# deterministic stand-in math, shared by Spark, numpy, and the DuckDB oracle:
# poly31 byte hash mod 2^31-1 seeds every derived value; feature components
# are 20-bit fixed-point fractions, EXACTLY representable in float32 so the
# three backends agree bit-for-bit.
POLY_MOD = 2147483647  # 2^31 - 1
FEAT_MULT = 1000003
FEAT_STEP = 7919
FEAT_FRAC_BITS = 20


_POW31_TABS = None


def _pow31(ks: np.ndarray) -> np.ndarray:
    """31^k mod (2^31-1), vectorized over k < 2^24 via three 256-entry
    base-256 digit tables (built once per process; the only loops are
    3x256 constant-size).  Intermediate products stay < 2^62."""
    global _POW31_TABS
    if _POW31_TABS is None:
        tabs = []
        for base in (31, pow(31, 256, POLY_MOD), pow(31, 65536, POLY_MOD)):
            t = np.empty(256, dtype=np.int64)
            acc = 1
            for j in range(256):
                t[j] = acc
                acc = acc * base % POLY_MOD
            tabs.append(t)
        _POW31_TABS = tuple(tabs)
    t1, t2, t3 = _POW31_TABS
    r = t1[ks & 255] * t2[(ks >> 8) & 255] % POLY_MOD
    return r * t3[ks >> 16] % POLY_MOD


def poly31_bytes(payload: bytes) -> int:
    """acc = (acc*31 + byte) mod (2^31-1) over the payload bytes — the
    oracle-expressible content hash.  Fully vectorized: byte i contributes
    b_i * 31^(n-1-i), powers from the digit tables, summed in 2^23-element
    chunks so every partial sum fits int64 (2^39 per term * 2^23 terms
    = 2^62).  No per-byte Python."""
    if not payload:
        return 0
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    n = len(arr)
    if n >= 1 << 24:  # power tables cover k < 2^24; fold in segments
        acc = 0
        seg = (1 << 24) - 1
        for s in range(0, n, seg):
            part = payload[s:s + seg]
            acc = (acc * pow(31, len(part), POLY_MOD)
                   + poly31_bytes(part)) % POLY_MOD
        return acc
    terms = arr * _pow31(np.arange(n - 1, -1, -1, dtype=np.int64))
    acc = 0
    chunk = 1 << 23
    for s in range(0, n, chunk):
        acc = (acc + int(terms[s:s + chunk].sum())) % POLY_MOD
    return acc


def poly31_col(col) -> F.Column:
    """Spark column mirror of poly31_bytes for ASCII string content."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % F.lit(POLY_MOD),
    )


def poly31_sql(expr: str) -> str:
    """DuckDB SQL mirror of poly31_bytes for ASCII string content."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(regexp_split_to_array({expr}, ''), "
        f"c -> unicode(c)::BIGINT)), (a, b) -> (a * 31 + b) % {POLY_MOD})"
    )


def _fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """DETERMINISTIC FAKE decoder (codec libs absent in this container).

    feature[i] = ((seed*FEAT_MULT + i*FEAT_STEP) mod 2^20) / 2^20 with
    seed = poly31(payload) — stable across runs/workers AND expressible in
    the DuckDB oracle, so the driver gate checks the full decode->feature
    path, not just row counts.  Replace via decode_fn= with a real decoder
    (PIL/torchaudio/ffmpeg) on a real cluster; the plan is unchanged.
    """
    seed = poly31_bytes(payload or b"")
    ks = (seed * FEAT_MULT + np.arange(FEATURE_DIM, dtype=np.int64) * FEAT_STEP) \
        % (1 << FEAT_FRAC_BITS)
    return (ks / float(1 << FEAT_FRAC_BITS)).astype(np.float32)


def extract_media_features(df: DataFrame, decode_fn=None) -> DataFrame:
    """media -> features via iterator mapInPandas (decoder init once per
    task, reused across Arrow batches — the reference's parser-pool pattern,
    parser.go:19-33, applied to codecs).  Per-row error capture: a failing
    payload yields ok=false + error, never fails the job (≙ ChunkBatch
    per-file error isolation, codechunk.go:363-375)."""
    decode = decode_fn or _fake_decode

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, oks, errs = [], [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                try:
                    v = decode(bytes(payload) if payload is not None else b"", kind)
                    feats.append([float(x) for x in v])
                    oks.append(True)
                    errs.append(None)
                except Exception as e:  # row-level isolation
                    feats.append(None)
                    oks.append(False)
                    errs.append(str(e)[:200])
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"],
                "kind": pdf["kind"],
                "feature": feats,
                "ok": oks,
                "error": errs,
            })

    return df.mapInPandas(fn, schema=FEATURE_SCHEMA)


def sample_frames(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling PLAN for video rows: explode sampled frame indices
    (0, n, 2n, ...) as rows — the shuffle-free fan-out that downstream
    frame decoders consume."""
    n = F.coalesce(F.col("meta.n_frames"), F.lit(0))
    idxs = F.when(
        n > 0,
        F.sequence(F.lit(0), n - 1, F.lit(every_n)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.filter(F.col("kind") == "video")
        .withColumn("frame_index", F.explode(idxs))
        .select("media_ref", "frame_index")
    )


def synth_media(spark, refs_df: DataFrame) -> DataFrame:
    """Deterministic media table from media_ref rows (payload = utf-8 of the
    ref — a stand-in blob; meta derived from the poly31 content hash so the
    DuckDB oracle can mirror every field).  Used by tests and the media
    queries; real deployments read (ref -> blob) from object storage."""
    h = poly31_col(F.col("media_ref"))
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (h % 3 + 1).cast("int")
    )
    return refs_df.select(
        "media_ref",
        kind.alias("kind"),
        F.encode(F.col("media_ref"), "utf-8").alias("payload"),
        F.struct(
            (h % 1920 + 1).cast("int").alias("width"),
            ((h / F.lit(7)).cast("long") % 1080 + 1).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            ((h / F.lit(13)).cast("long") % 300 + 1).cast("int").alias("n_frames"),
            F.concat(F.lit("x-fake/"), kind).alias("mime"),
        ).alias("meta"),
    )


def synth_media_meta_sql(href: str = "h") -> dict[str, str]:
    """DuckDB expressions mirroring synth_media's derived fields, given a
    CTE column `href` holding poly31(media_ref)."""
    kind = (f"(['image','audio','video'])[CAST({href} % 3 + 1 AS INT)]")
    return {
        "kind": kind,
        "width": f"CAST({href} % 1920 + 1 AS INT)",
        "height": f"CAST(({href} // 7) % 1080 + 1 AS INT)",
        "n_frames": f"CAST(({href} // 13) % 300 + 1 AS INT)",
    }


def media_text_context(spans: DataFrame) -> DataFrame:
    """Caption pairing for interleaved text+media documents: for every
    media span, the nearest PRECEDING and FOLLOWING text-span texts in
    span order ('' when none exists) — the text-context extraction a
    multimodal training pipeline runs to build (image, caption) pairs
    from interleaved documents.

    Input: exploded spans (doc_id, span_pos, kind, text, media_ref).
    Output: (doc_id, span_pos, media_ref, before_text, after_text).

    Scale shape: one window per doc ordered by span_pos (docs are
    bounded, so partitions are tiny and uniform) with ignore-nulls
    last/first over a CASE — no self-join, no explode; the shuffle key
    is doc_id, the same partitioning every other span operator uses."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("span_pos")
    t = F.when(F.col("kind") == "text", F.col("text"))
    before = F.last(t, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    after = F.first(t, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing))
    return (
        spans.withColumn("before_text", F.coalesce(before, F.lit("")))
        .withColumn("after_text", F.coalesce(after, F.lit("")))
        .filter(F.col("kind") == "media")
        .select("doc_id", "span_pos", "media_ref",
                "before_text", "after_text")
    )


def media_text_context_sql(spans_cte: str = "spans") -> str:
    """DuckDB mirror (ignore-nulls window frames, same '' coalesce)."""
    return f"""
SELECT doc_id, span_pos, media_ref,
       COALESCE(last_value(CASE WHEN kind = 'text' THEN text END IGNORE NULLS)
                OVER (PARTITION BY doc_id ORDER BY span_pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                '') AS before_text,
       COALESCE(first_value(CASE WHEN kind = 'text' THEN text END IGNORE NULLS)
                OVER (PARTITION BY doc_id ORDER BY span_pos
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                '') AS after_text
FROM {spans_cte}
QUALIFY kind = 'media'
"""


def media_phash(df: DataFrame, decode_fn=None) -> DataFrame:
    """Perceptual average-hash over the decoded feature vector: bit i is
    set iff feature[i] exceeds the vector's own mean — the classic
    aHash, invariant to global brightness/gain shifts of the decoded
    signal.  Runs on whatever decoder extract_media_features is given
    (the deterministic fake here; a real PIL/ffmpeg decoder on a real
    cluster via decode_fn=), entirely in JVM expressions after the
    decode: one aggregate for the mean, one fold packing FEATURE_DIM
    bits into a BIGINT.  Failed decodes (ok=false) carry phash NULL.

    Output: input media columns + ok/error + phash (bigint).
    """
    feats = extract_media_features(df, decode_fn)
    mean = F.expr(
        "aggregate(feature, CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        " / size(feature)")
    pack = F.expr(
        "aggregate(transform(sequence(0, size(feature) - 1), "
        "i -> IF(feature[i] > _fmean, shiftleft(CAST(1 AS BIGINT), i), "
        "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)")
    return (feats.withColumn("_fmean", mean)
            .withColumn("phash",
                        F.when(F.col("ok"), pack).otherwise(F.lit(None)))
            .drop("_fmean"))


def media_near_dup_pairs(df: DataFrame, max_hamming: int = 2,
                         id_col: str = "media_ref",
                         decode_fn=None) -> DataFrame:
    """Perceptual near-duplicate media pairs: unordered id pairs whose
    average-hashes differ in <= max_hamming bits.

    Banded exactly like the text SimHash/MinHash dedup: the hash splits
    into max_hamming + 1 bit-bands, so any pair within tolerance agrees
    on at least one whole band (pigeonhole) and is caught by a pure
    equi-join on (band_id, band_bits) — never all-pairs — then verified
    with an exact bit_count(xor) filter.

    SCALE CAVEAT: the prune's selectivity is the band-key space
    2^(FEATURE_DIM // (max_hamming+1)).  With this container's 16-bit
    fake decoder and max_hamming=2 that is only 2^6 buckets — fine for
    tests, degenerate (~n^2/64 candidates) at corpus scale.  The plan
    shape carries to corpus scale exactly when a real decoder supplies
    a 64-bit+ hash (FEATURE_DIM >= 64), matching the text SimHash
    family's 16-bit+ band keys.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_bands = int(max_hamming) + 1
    width = (FEATURE_DIM + n_bands - 1) // n_bands
    ph = (media_phash(df, decode_fn)
          .filter(F.col("ok"))
          .select(F.col(id_col).alias("mid"), "phash"))
    def _band_bits(j: int):
        shifted = F.shiftrightunsigned(F.col("phash"), j * width)
        if width >= 64:
            # full-width band (max_hamming=0 over a 64-bit hash): the
            # shifted hash IS the band key — a (1 << 64) - 1 literal
            # would overflow the signed 64-bit literal space
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    bands = F.explode(F.array(*[
        F.struct(F.lit(j).alias("band_id"),
                 _band_bits(j).alias("band_bits"))
        for j in range(n_bands)
    ])).alias("b")
    sides = ph.select("mid", "phash", bands).select(
        "mid", "phash", F.col("b.band_id").alias("band_id"),
        F.col("b.band_bits").alias("band_bits"))
    other = sides.select(F.col("mid").alias("b_mid"),
                         F.col("phash").alias("b_phash"),
                         "band_id", "band_bits")
    return (
        sides.join(other, ["band_id", "band_bits"])
        .filter(F.col("mid") < F.col("b_mid"))
        .select("mid", "b_mid",
                F.bit_count(F.col("phash").bitwiseXOR(F.col("b_phash")))
                .alias("hamming"))
        .filter(F.col("hamming") <= F.lit(int(max_hamming)))
        .distinct()
    )
