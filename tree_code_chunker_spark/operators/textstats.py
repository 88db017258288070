"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

All pure built-in column functions (JVM whole-stage codegen — zero Python in
the hot path), each with an exact DuckDB SQL mirror for the correctness gate.
The NWS counter mirrors the reference's byte>32 rule
(/root/reference/chunking.go:13-25).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny deterministic stopword sets per language for the n-gram-free heuristic
# language ID (public-knowledge approach: stopword/function-word hit ratios).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}

# lm_quality broadcasts its trigram count model at or under this many rows
MODEL_BROADCAST_CAP = 5_000_000


def nws_count_col(text: Column) -> Column:
    """NWS chars (reference rule: byte value > 32; ASCII-safe column form)."""
    return F.length(F.regexp_replace(text, r"[\x00-\x20]", ""))


def nws_count_sql(text: str) -> str:
    return f"length(regexp_replace({text}, '[\\x00-\\x20]', '', 'g'))"


def token_count_col(text: Column) -> Column:
    """Whitespace tokenization count (empty text -> 0)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def token_count_sql(text: str) -> str:
    return (f"CASE WHEN length(trim({text})) = 0 THEN 0 "
            f"ELSE len(regexp_split_to_array(trim({text}), '\\s+')) END")


# GPT-2-style pre-tokenizer shape (public knowledge): contractions,
# space-prefixed letter runs, digit runs, punctuation runs.  Only portable
# regex constructs so the Java (Spark) and RE2 (DuckDB) engines agree.
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^\sA-Za-z0-9]+"
)


def bpe_token_count_col(text: Column) -> Column:
    """BPE-ish token count (whitespace tokenization over-merges punctuation;
    this is the regex-pretokenizer estimate an LLM-data pipeline budgets
    with).  JVM regexp_count — zero Python."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))


def bpe_token_count_sql(text: str) -> str:
    pat = BPE_TOKEN_PATTERN.replace("'", "''")  # SQL string-literal quoting
    return f"len(regexp_extract_all({text}, '{pat}'))"


def quality_score_col(text: Column) -> Column:
    """Deterministic quality score in [0,1]: mean of three ratio features
    (length saturation, alpha ratio, mean-word-length band)."""
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    toks = token_count_col(text)
    len_feat = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_feat = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    mwl = F.when(toks > 0, n / toks).otherwise(F.lit(0.0))
    mwl_feat = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_feat + alpha_feat + mwl_feat) / F.lit(3.0), 6)


def quality_score_sql(text: str) -> str:
    n = f"length({text})"
    alpha = f"length(regexp_replace({text}, '[^A-Za-z]', '', 'g'))"
    toks = token_count_sql(text)
    mwl = f"(CASE WHEN ({toks}) > 0 THEN {n} / CAST(({toks}) AS DOUBLE) ELSE 0.0 END)"
    return (
        f"round((least({n} / 500.0, 1.0) + "
        f"(CASE WHEN {n} > 0 THEN {alpha} / CAST({n} AS DOUBLE) ELSE 0.0 END) + "
        f"(CASE WHEN {mwl} >= 3 AND {mwl} <= 10 THEN 1.0 ELSE 0.0 END)) / 3.0, 6)"
    )


def _marker_hits_col(text: Column, markers: list[str]) -> Column:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    hits = None
    for m in markers:
        h = F.when(padded.contains(f" {m} "), 1).otherwise(0)
        hits = h if hits is None else hits + h
    return hits


def lang_id_col(text: Column) -> Column:
    """Stopword-ratio language guess over LANG_MARKERS; ties and no-hits
    resolve to 'und' / first language in fixed dict order."""
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(LANG_MARKERS):  # fixed evaluation order
        h = _marker_hits_col(text, LANG_MARKERS[lang])
        cond = h > best_hits
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, h).otherwise(best_hits)
    return best_lang


def lang_id_sql(text: str) -> str:
    padded = f"(' ' || {text} || ' ')"

    def hits(lang):
        return " + ".join(
            f"(CASE WHEN contains({padded}, ' {m} ') THEN 1 ELSE 0 END)"
            for m in LANG_MARKERS[lang]
        )

    expr = "'und'"
    best = "0"
    for lang in sorted(LANG_MARKERS):
        h = f"({hits(lang)})"
        expr = f"(CASE WHEN {h} > {best} THEN '{lang}' ELSE {expr} END)"
        best = f"greatest({h}, {best})"
    return expr


FP_MULT = 31
FP_MOD = (1 << 31) - 1  # Mersenne 2^31-1


def fingerprint_col(text: Column) -> Column:
    """Polynomial rolling-hash document fingerprint over whitespace tokens:
    fp = sum(len(token_i) * 31^i) mod (2^31-1) — order-sensitive, integer-
    exact, and expressible in both Spark and DuckDB via aggregate/list_reduce-
    free cumulative form (uses token lengths, not charcodes, to stay
    overflow-safe in ANSI mode)."""
    toks = F.split(F.trim(text), r"\s+")
    return F.aggregate(
        toks,
        F.struct(F.lit(0).cast("long").alias("acc"), F.lit(1).cast("long").alias("pw")),
        lambda st, t: F.struct(
            ((st["acc"] + F.length(t) * st["pw"]) % FP_MOD).alias("acc"),
            ((st["pw"] * FP_MULT) % FP_MOD).alias("pw"),
        ),
        lambda st: st["acc"],
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Adjacent character-pair frequencies — the first iteration of BPE
    tokenizer training (count all symbol bigrams inside pretokenized words,
    pick the most frequent to merge).

    Pretokenization is whitespace-split (pairs never straddle a word
    boundary, GPT-2-style); pairing is pure JVM higher-order functions
    (split -> explode words -> transform(sequence) -> explode pairs), so
    the only shuffle is the final (lhs, rhs) count aggregation, whose
    cardinality is bounded by the alphabet squared.  The top-k cut is an
    orderBy + limit (per-partition top-k, tiny driver merge) and the rank
    window numbers only its <= top_k survivors.  Deterministic total order
    (n_pairs DESC, lhs, rhs; (lhs, rhs) is unique) makes the cut
    reproducible.
    """
    from pyspark.sql import Window

    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), "
            "i -> struct(substring(w, i, 1) AS lhs, "
            "substring(w, i + 1, 1) AS rhs))"
        )).alias("p")
    ).select("p.lhs", "p.rhs")
    agg = pairs.groupBy("lhs", "rhs").agg(F.count("*").alias("n_pairs"))
    order = (F.col("n_pairs").desc(), F.col("lhs"), F.col("rhs"))
    return (
        agg.orderBy(*order).limit(int(top_k))
        .withColumn("rank", F.row_number().over(Window.orderBy(*order))
                    .cast("long"))
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     ns: tuple = (2, 3)) -> DataFrame:
    """Within-document repetition signals (the Gopher-style quality
    filters — Rae et al. 2021, public): for each doc and n-gram order n,

      n_grams   = total word n-grams (T - n + 1 over T space-split words),
      n_distinct, n_dup = n_grams - n_distinct,
      dup_frac  = n_dup / n_grams   (fraction of n-grams that are repeats
                                     of an earlier occurrence),
      top_frac  = max multiplicity / n_grams (mass of the single most
                                     frequent n-gram; ties don't matter —
                                     only the max count is read).

    High dup_frac/top_frac marks boilerplate and looping generations;
    training pipelines drop or downweight those docs.  Output is one row
    per (doc, n) WITH AT LEAST n WORDS (shorter docs have no n-grams and
    emit nothing for that n).

    Scale shape: pure JVM higher-order functions build the grams
    (split -> guarded transform(sequence) -> explode), one hash partial-
    aggregated shuffle on (doc, n, gram) then a map-side-combinable
    rollup to (doc, n) — O(total tokens x |ns|) work, no window over the
    corpus, no Python.  Fractions are exact integer ratios rounded to 6
    places so the DuckDB mirror is bit-stable.
    """
    grams = None
    for n in ns:
        g = df.select(
            F.col(id_col),
            F.lit(int(n)).alias("n"),
            F.explode(F.expr(
                f"CASE WHEN size(split({text_col}, ' ')) >= {int(n)} THEN "
                f"transform(sequence(1, size(split({text_col}, ' ')) - {int(n) - 1}), "
                f"i -> concat_ws(' ', slice(split({text_col}, ' '), i, {int(n)}))) "
                f"ELSE array() END"
            )).alias("gram"),
        )
        grams = g if grams is None else grams.unionByName(g)
    per_gram = grams.groupBy(id_col, "n", "gram").agg(
        F.count("*").alias("c"))
    return (
        per_gram.groupBy(id_col, "n")
        .agg(F.sum("c").cast("long").alias("n_grams"),
             F.count("*").cast("long").alias("n_distinct"),
             F.max("c").cast("long").alias("_top"))
        .select(
            id_col, "n", "n_grams", "n_distinct",
            (F.col("n_grams") - F.col("n_distinct")).alias("n_dup"),
            F.round((F.col("n_grams") - F.col("n_distinct"))
                    / F.col("n_grams").cast("double"), 6).alias("dup_frac"),
            F.round(F.col("_top") / F.col("n_grams").cast("double"), 6)
            .alias("top_frac"),
        )
    )


def repetition_stats_sql(table: str, id_col: str = "doc_id",
                         text_col: str = "text",
                         ns: tuple = (2, 3)) -> str:
    """DuckDB mirror of repetition_stats (same split, same rounding)."""
    gram_selects = " UNION ALL ".join(
        f"""SELECT {id_col}, {int(n)} AS n,
       array_to_string(ws[i : i + {int(n) - 1}], ' ') AS gram
  FROM (SELECT {id_col}, string_split({text_col}, ' ') AS ws FROM {table}),
       LATERAL unnest(generate_series(1, len(ws) - {int(n) - 1})) AS t(i)
  WHERE len(ws) >= {int(n)}"""
        for n in ns)
    return f"""
WITH grams AS (
  {gram_selects}
), per_gram AS (
  SELECT {id_col}, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3
)
SELECT {id_col}, n,
       CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(c) - count(*) AS BIGINT) AS n_dup,
       round((sum(c) - count(*)) / CAST(sum(c) AS DOUBLE), 6) AS dup_frac,
       round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_frac
FROM per_gram GROUP BY 1, 2
"""


def pmi_collocations(df: DataFrame, text_col: str = "text",
                     min_count: int = 5, topk: int = 50) -> DataFrame:
    """Top-k word-bigram collocations by pointwise mutual information:
    PMI(a,b) = ln(c_ab * N_tok^2 / (N_pair * c_a * c_b)) over adjacent
    lowercased whitespace tokens within a document (bigrams never
    straddle documents).  The phrase-mining pass of a corpus pipeline.

    Bigram extraction is a pure JVM array transform (split -> struct
    zip of the list with its own tail) — no shuffle until the count
    aggregates.  Unigram/bigram totals ride the plan as one-row
    broadcast aggregates (crossJoin of scalar aggs — no collect).
    Cross-engine exactness: all counts are integers; the PMI argument is
    one exact integer ratio evaluated in doubles in a fixed op order, ln
    is the one ~1ulp op and the value is rounded to 6dp immediately; the
    (pmi DESC, a, b) ranking orders by the rounded DECIMAL — a total
    order shared with the DuckDB oracle.
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    pairs_arr = F.expr(
        "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        "(t, i) -> struct(t AS a, _toks[i + 1] AS b))")
    base = (df.select(toks.alias("_toks"))
            .filter(F.size("_toks") > 0))
    uni = (base.select(F.explode("_toks").alias("w"))
           .groupBy("w").agg(F.count("*").alias("cw")))
    bi = (base.select(F.explode(pairs_arr).alias("p"))
          .select("p.a", "p.b")
          .groupBy("a", "b").agg(F.count("*").alias("cab"))
          .filter(F.col("cab") >= int(min_count)))
    n_tok = uni.agg(F.sum("cw").alias("n_tok"))
    n_pair = (base.select(
        (F.size("_toks") - 1).cast("long").alias("np"))
        .agg(F.sum("np").alias("n_pair")))
    scored = (bi
              .join(uni.select(F.col("w").alias("a"),
                               F.col("cw").alias("ca")), ["a"])
              .join(uni.select(F.col("w").alias("b"),
                               F.col("cw").alias("cb")), ["b"])
              .crossJoin(F.broadcast(n_tok))
              .crossJoin(F.broadcast(n_pair)))
    arg = ((F.col("cab").cast("double") * F.col("n_tok").cast("double")
            * F.col("n_tok").cast("double"))
           / (F.col("n_pair").cast("double") * F.col("ca").cast("double")
              * F.col("cb").cast("double")))
    scored = scored.select(
        "a", "b", "cab",
        F.round(F.log(arg), 6).cast("decimal(18,6)").alias("_pmi"))
    # top-k via orderBy+limit = TakeOrderedAndProject (distributed per-
    # partition top-k + tiny driver merge) — a global row_number window
    # here would single-partition EVERY surviving bigram; rank is then a
    # window over the ≤ topk survivors only
    w = Window.orderBy(F.col("_pmi").desc(), F.col("a"), F.col("b"))
    return (scored
            .orderBy(F.col("_pmi").desc(), F.col("a"), F.col("b"))
            .limit(int(topk))
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "a", "b", "cab",
                    F.col("_pmi").cast("double").alias("pmi")))


def pmi_collocations_sql(table: str, text_col: str = "text",
                         min_count: int = 5, topk: int = 50) -> str:
    """DuckDB mirror of pmi_collocations (same op order, same rounding)."""
    return f"""pmi_toks AS (
  SELECT regexp_split_to_array(lower(trim({text_col})), '\\s+') AS toks
  FROM {table}
  WHERE len(regexp_split_to_array(lower(trim({text_col})), '\\s+')) > 0
), pmi_uni AS (
  SELECT w, count(*)::BIGINT AS cw
  FROM (SELECT unnest(toks) AS w FROM pmi_toks) GROUP BY w
), pmi_bi AS (
  -- unnest + generate_subscripts expand in lockstep (generate_series
  -- cannot lateral-join on a column in DuckDB)
  SELECT a, b, count(*)::BIGINT AS cab FROM (
    SELECT toks[i] AS a, toks[i + 1] AS b FROM (
      SELECT toks, generate_subscripts(toks, 1) AS i FROM pmi_toks
    ) WHERE i < len(toks)
  ) GROUP BY a, b
  HAVING count(*) >= {int(min_count)}
), pmi_tot AS (
  SELECT (SELECT sum(cw)::BIGINT FROM pmi_uni) AS n_tok,
         (SELECT sum(len(toks) - 1)::BIGINT FROM pmi_toks) AS n_pair
), pmi_scored AS (
  SELECT a, b, cab,
         CAST(round(ln((CAST(cab AS DOUBLE) * CAST(n_tok AS DOUBLE)
                        * CAST(n_tok AS DOUBLE))
                       / (CAST(n_pair AS DOUBLE) * CAST(ca AS DOUBLE)
                          * CAST(cb AS DOUBLE))), 6)
              AS DECIMAL(18,6)) AS _pmi
  FROM pmi_bi
  JOIN (SELECT w AS a, cw AS ca FROM pmi_uni) USING (a)
  JOIN (SELECT w AS b, cw AS cb FROM pmi_uni) USING (b)
  CROSS JOIN pmi_tot
), pmi_ranked AS (
  SELECT row_number() OVER (ORDER BY _pmi DESC, a, b) AS rank,
         a, b, cab, CAST(_pmi AS DOUBLE) AS pmi
  FROM pmi_scored
)
SELECT rank, a, b, cab, pmi FROM pmi_ranked WHERE rank <= {int(topk)}"""


def lm_quality(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Character-trigram language-model quality score per document: the
    average add-one-smoothed trigram log-probability
    avg_i ln((C3(t_i) + 1) / (C2(ctx_i) + V)), with counts taken from the
    corpus itself — the CCNet-style (Wenzek et al. 2020, arXiv:1911.00359)
    perplexity filter that separates fluent text from gibberish /
    boilerplate without any external model: documents whose character
    sequences are atypical for the corpus score low (more negative).
    C3 = corpus occurrences of the trigram, C2 = occurrences of its
    2-char context (= sum of C3 over the context's completions, exactly),
    V = distinct third characters observed corpus-wide (the add-one
    alphabet).

    Scale shape: trigram extraction is a pure JVM array transform per
    row (no shuffle); the count model is two hash aggregations whose
    results are bounded by the ALPHABET^3 trigram space, broadcast back
    onto the per-doc gram table — the corpus is shuffled once, on
    (id, tri).  Cross-engine exactness (the pmi_collocations discipline):
    counts are integers, each trigram's ln is one ~1ulp op on one exact
    integer ratio rounded to 6dp immediately, per-doc sums then run in
    DECIMAL (order-independent), and the single final /n is a fixed-op-
    order double rounded to 6dp.

    Output: (id, n_tri, logp_avg), one row per document with >= 3 chars
    (shorter documents have no trigram and no row).

    Plan: the "bounded by ALPHABET^3" broadcast claim only holds for small
    alphabets — a large-unicode corpus can grow the distinct-trigram
    table to hundreds of millions of rows.  One count of the model table
    picks the plan: at or under MODEL_BROADCAST_CAP the counts broadcast;
    above it they join as ordinary shuffle joins, which scale without a
    memory-resident model.
    """
    tris = (df.select(F.col(id_col).alias("id"),
                      F.col(text_col).alias("_t"))
            .filter(F.length("_t") >= 3)
            .select("id", F.explode(F.expr(
                "transform(sequence(1, length(_t) - 2), "
                "i -> substring(_t, i, 3))")).alias("tri")))
    per = tris.groupBy("id", "tri").agg(F.count("*").alias("n"))
    c3 = tris.groupBy("tri").agg(F.count("*").alias("c3"))
    c2 = (c3.groupBy(F.substring("tri", 1, 2).alias("ctx"))
          .agg(F.sum("c3").alias("c2")))
    v = c3.select(F.countDistinct(F.substring("tri", 3, 1)).alias("v"))
    lnp = F.round(
        F.log((F.col("c3") + 1).cast("double")
              / (F.col("c2") + F.col("v")).cast("double")),
        6).cast("decimal(18,6)")
    bcast = c3.count() <= MODEL_BROADCAST_CAP

    def b(d):
        return F.broadcast(d) if bcast else d

    scored = (per
              .join(b(c3), "tri")
              .join(b(c2), F.substring("tri", 1, 2) == F.col("ctx"))
              .crossJoin(F.broadcast(v))
              .select("id", "n", lnp.alias("_lnp")))
    return (scored.groupBy("id")
            .agg(F.sum("n").alias("n_tri"),
                 F.sum(F.col("n") * F.col("_lnp")).alias("_s"))
            .select(F.col("id"), "n_tri",
                    F.round(F.col("_s").cast("double") / F.col("n_tri"), 6)
                    .alias("logp_avg")))


def lm_quality_sql(table: str, id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    """DuckDB mirror of lm_quality (same op order, same rounding)."""
    return f"""lm_tris AS (
  SELECT {id_col} AS id,
         unnest(list_transform(range(1, length({text_col}) - 1),
                               i -> {text_col}[i:i + 2])) AS tri
  FROM {table} WHERE length({text_col}) >= 3
), lm_per AS (
  SELECT id, tri, count(*)::BIGINT AS n FROM lm_tris GROUP BY id, tri
), lm_c3 AS (
  SELECT tri, count(*)::BIGINT AS c3 FROM lm_tris GROUP BY tri
), lm_c2 AS (
  SELECT tri[1:2] AS ctx, sum(c3)::BIGINT AS c2 FROM lm_c3 GROUP BY ctx
), lm_v AS (
  SELECT count(DISTINCT tri[3:3])::BIGINT AS v FROM lm_c3
), lm_scored AS (
  SELECT id, n,
         CAST(round(ln(CAST(c3 + 1 AS DOUBLE) / CAST(c2 + v AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lnp
  FROM lm_per JOIN lm_c3 USING (tri)
  JOIN lm_c2 ON lm_per.tri[1:2] = lm_c2.ctx
  CROSS JOIN lm_v
)
SELECT id, sum(n)::BIGINT AS n_tri,
       round(CAST(sum(n * lnp) AS DOUBLE) / sum(n), 6) AS logp_avg
FROM lm_scored GROUP BY id"""


# PII patterns shared by the engine and the DuckDB mirror.  Deliberately
# written in the dialect-safe intersection of Java regex and RE2: literal
# dots as [.] (no backslash escapes — DuckDB standard strings do not
# process them), no word boundaries (\b is unicode-aware in Java but ASCII
# in RE2), no lookaround/backrefs (unsupported by RE2).  Order matters:
# email is redacted FIRST so a dotted quad inside an email host (e.g.
# u@10.0.0.7.net — the TLD keeps it a valid email match) is consumed by
# the email token, matching how a real scrubber prioritizes the more
# specific entity; a purely numeric host (user@10.0.0.7) fails the
# alphabetic-TLD requirement and its quad is typed as an ip.
PII_PATTERNS = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "<PHONE>"),
    ("ipv4", "([0-9]{1,3}[.]){3}[0-9]{1,3}", "<IP>"),
)


def redact_pii(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: redact emails, phone numbers and
    IPv4 addresses with typed placeholder tokens, and report per-category
    match counts (counted BEFORE redaction, so e.g. an IP inside an email
    host counts as email only — the replace chain runs in PII_PATTERNS
    order).

    Output: (id, redacted, n_email, n_phone, n_ipv4).

    Scale shape: pure per-row JVM regexp expressions — no shuffle, no
    Python; the scan stays inside whole-stage codegen and composes with
    any downstream filter/dedup stage.  Cross-engine exactness: counts are
    integers and the redacted string is byte-deterministic because both
    engines implement leftmost-first matching for this (alternation-free,
    greedy-quantifier) pattern subset.
    """
    red = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(red, F.lit(pat)).alias(f"n_{name}"))
        red = F.regexp_replace(red, pat, token)
    return df.select(F.col(id_col).alias("id"),
                     red.alias("redacted"), *counts)


def redact_pii_sql(table: str, id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    """DuckDB mirror of redact_pii (RE2 'g' flag = Java replace-all)."""
    red = text_col
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({red}, '{pat}'))::BIGINT AS n_{name}")
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    cols = ",\n       ".join(counts)
    return (f"SELECT {id_col} AS id, {red} AS redacted,\n       {cols}\n"
            f"FROM {table}")
