"""Media plumbing, dedup operators, similarity search — Spark tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tree_code_chunker_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature_np,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_np,
)
from tree_code_chunker_spark.operators.media import (
    FEATURE_DIM,
    _fake_decode,
    extract_media_features,
    sample_frames,
    synth_media,
)
from tree_code_chunker_spark.operators.similarity import ann_lsh_topk, cosine_topk


def test_media_features_deterministic_and_isolated(spark):
    refs = spark.createDataFrame(
        [(f"ref://m/{i}",) for i in range(30)], "media_ref string"
    )
    media = synth_media(spark, refs)
    feats = extract_media_features(media).collect()
    assert len(feats) == 30
    assert all(r["ok"] and len(r["feature"]) == FEATURE_DIM for r in feats)
    # deterministic: same payload -> same vector as local fake decode
    row = feats[0]
    want = _fake_decode(row["media_ref"].encode(), row["kind"])
    assert np.allclose(row["feature"], want, atol=1e-6)
    # frame-sampling plan: one row per sampled index (0, 30, 60, ...) of
    # every video row
    frames = sample_frames(media, every_n=30).collect()
    vids = [r for r in media.collect() if r["kind"] == "video"]
    assert vids
    assert len(frames) == sum(
        len(range(0, r["meta"]["n_frames"], 30)) for r in vids)


def test_media_feature_error_isolation(spark):
    refs = spark.createDataFrame([("ref://a",), ("ref://b",)], "media_ref string")
    media = synth_media(spark, refs)

    def bad_decode(payload, kind):
        if b"a" in payload:
            raise ValueError("corrupt blob")
        return _fake_decode(payload, kind)

    out = {r["media_ref"]: r for r in
           extract_media_features(media, decode_fn=bad_decode).collect()}
    assert out["ref://a"]["ok"] is False and "corrupt" in out["ref://a"]["error"]
    assert out["ref://b"]["ok"] is True


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa")], "id long, text string"
    )
    out = {r["rep_id"]: r["n_copies"] for r in
           exact_dedup(df, "id", "text").collect()}
    assert out == {1: 3, 2: 1}


def test_minhash_similarity_property():
    # near-identical texts share most signature slots; disjoint texts don't
    a = "the quick brown fox jumps over the lazy dog " * 5
    b = a + " extra tail"
    c = "zzz completely different content qqq " * 5
    sa, sb, sc = (minhash_signature_np(t) for t in (a, b, c))
    agree_ab = (sa == sb).mean()
    agree_ac = (sa == sc).mean()
    assert agree_ab > 0.5 > agree_ac


def test_lsh_finds_near_dups(spark):
    rows = [(i, "common shared prefix text for everyone here indeed") for i in range(3)]
    rows += [(10 + i, f"unique document number {i} with totally distinct words {i*7}")
             for i in range(5)]
    df = spark.createDataFrame(rows, "id long, text string")
    sigs = minhash_signatures(df, "id", "text")
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= pairs


def test_simhash_hamming():
    a = simhash_np("the quick brown fox".split() * 10)
    b = simhash_np(("the quick brown fox".split() * 10) + ["tail"])
    c = simhash_np("totally different words entirely".split() * 10)
    ham = lambda x, y: bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(a, b) < ham(a, c)


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        "id long, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(df, "id", "text", n=3, min_jaccard=0.1).collect()}
    # trigrams doc1: {abc,bcd,cde}, doc2: {abc,bcd,cdx} -> inter 2, union 4
    assert abs(out[(1, 2)] - 0.5) < 1e-9
    assert (1, 3) not in out and (2, 3) not in out


def test_cosine_topk_and_ann_agree_on_top1(spark):
    rng = np.random.RandomState(5)
    vecs = rng.standard_normal((80, 16)).astype(float)
    rows = [(i, vecs[i].tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3)
    exact = cosine_topk(q, df, k=1).collect()
    # top-1 of exact search is the query itself (sim 1.0)
    assert all(r["vec_id"] == r["query_id"] and abs(r["sim"] - 1.0) < 1e-6
               for r in exact)
    ann = ann_lsh_topk(q, df, k=1, dim=16, n_bits=8)
    got = {r["query_id"]: r["vec_id"] for r in ann.collect()}
    assert got == {0: 0, 1: 1, 2: 2}  # self always shares its own bucket


def test_connected_components_min_label(spark):
    from tree_code_chunker_spark.operators.dedup import connected_components

    # chain 1-2-3, pair 10-11, plus an edge ordering that needs >1 round
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11), (5, 6), (4, 5)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["label"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 4: 4, 5: 4, 6: 4}


def test_mersenne_mulmod_matches_bigint_reference():
    """The uint64 limb kernels must equal Python bigint arithmetic across
    the full operand range (randomized)."""
    import numpy as np

    from tree_code_chunker_spark.operators.dedup import (
        MERSENNE_P,
        _mod61,
        _mulmod61,
    )

    rng = np.random.RandomState(123)
    x = rng.randint(0, MERSENNE_P, 5000).astype(np.uint64)
    y = rng.randint(0, MERSENNE_P, 5000).astype(np.uint64)
    got = _mulmod61(x, y).astype(object)
    want = (x.astype(object) * y.astype(object)) % MERSENNE_P
    assert (got == want).all()
    v = (rng.randint(0, 2**62, 5000).astype(np.uint64) * np.uint64(4)
         + rng.randint(0, 4, 5000).astype(np.uint64))
    assert (_mod61(v).astype(object) == (v.astype(object) % MERSENNE_P)).all()


def test_minhash_signature_matches_bigint_reference():
    from tree_code_chunker_spark.operators.dedup import (
        MERSENNE_P,
        _perm_table,
        minhash_signature_np,
        shingle_hashes_np,
    )

    a, b = _perm_table(64)
    for text in ["hello world this is a test doc", "", "ab",
                 "the quick brown fox " * 20]:
        sh = shingle_hashes_np(text)
        want = [min((int(ai) * int(h) + int(bi)) % MERSENNE_P for h in sh)
                for ai, bi in zip(a, b)]
        assert list(minhash_signature_np(text)) == want


def test_fnv_vectorized_matches_byte_loop():
    from tree_code_chunker_spark.operators.dedup import _fnv1a64_tokens_np

    def ref(tok):
        h = 14695981039346656037
        for ch in tok.encode():
            h = ((h ^ ch) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
        return h

    for t in ["hello", "a", "über", "x" * 100, "mixed 123 !@#"]:
        assert int(_fnv1a64_tokens_np([t.encode()])[0]) == ref(t)


def test_ivf_flat_self_retrieval_and_centroid_lists(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.similarity import ivf_flat_topk

    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((100, 16))
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(100)],
        "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 4")
    out = ivf_flat_topk(q, df, k=1, n_lists=10, nprobe=2).collect()
    got = {r["query_id"]: (r["vec_id"], r["sim"]) for r in out}
    # a query is always in its own assigned list -> retrieves itself
    assert {k: v[0] for k, v in got.items()} == {0: 0, 1: 1, 2: 2, 3: 3}
    assert all(abs(v[1] - 1.0) < 1e-6 for v in got.values())


def test_lsh_length_guard_not_prunable(spark):
    """The signature-length fail-fast must survive Catalyst column pruning:
    wrong-length sigs raise instead of collapsing every band key to the
    same value (the degenerate all-pairs failure)."""
    short = spark.createDataFrame(
        [(1, list(range(8))), (2, list(range(8)))],
        "id long, sig array<long>")
    with pytest.raises(Exception, match="signature length"):
        lsh_candidate_pairs(short, bands=16, n_perm=64).collect()


def test_ivf_flat_centroid_count_independent_of_corpus_size(spark):
    """The IVF-flat list count must be bounded by n_lists at ANY corpus
    size — a corpus-proportional centroid set would make the assignment
    crossJoin O(N^2/stride) and the broadcast O(N)."""
    import numpy as np

    from tree_code_chunker_spark.operators.similarity import (
        ivf_flat_centroids,
        ivf_flat_stride,
    )

    rng = np.random.RandomState(5)
    counts = {}
    for n in (80, 800):
        vecs = rng.standard_normal((n, 8))
        df = spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(n)],
            "vec_id long, embedding array<double>")
        counts[n] = ivf_flat_centroids(df, n_lists=16).count()
    assert counts[80] <= 16 and counts[800] <= 16
    assert counts[80] == counts[800] == 16  # dense ids -> exactly n_lists
    assert ivf_flat_stride(10**12, 64) == 15_625_000_000


def test_cc_star_matches_label_on_random_graphs(spark):
    """Alternating large-star/small-star must agree with min-label
    propagation on random graphs (property check), and both must equal a
    networkx-free union-find reference."""
    import numpy as np

    from tree_code_chunker_spark.operators.dedup import connected_components

    rng = np.random.RandomState(17)
    for trial in range(3):
        n = 40
        m = rng.randint(10, 60)
        pairs = [(int(rng.randint(0, n)), int(rng.randint(0, n)))
                 for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")

        # union-find reference
        parent = list(range(n))
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in pairs:
            parent[find(a)] = find(b)
        nodes = {x for p in pairs for x in p}
        want = {}
        for x in nodes:
            root = find(x)
            want.setdefault(root, []).append(x)
        want = {x: min(grp) for root, grp in want.items() for x in grp}

        star = {r["node"]: r["label"] for r in
                connected_components(df, method="star").collect()}
        label = {r["node"]: r["label"] for r in
                 connected_components(df, method="auto").collect()}
        assert star == want, f"trial {trial}: star != union-find"
        assert label == want, f"trial {trial}: auto != union-find"


def test_cc_deep_path_converges(spark, monkeypatch):
    """A path graph with diameter > LABEL_MAX_ITER does not converge under
    min-label; method='auto' restarts with star, which converges in
    O(log^2 n) rounds."""
    from tree_code_chunker_spark.operators import dedup

    monkeypatch.setattr(dedup, "LABEL_MAX_ITER", 5)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")
    for method in ("auto", "star"):
        got = {r["node"]: r["label"] for r in
               dedup.connected_components(path, method=method).collect()}
        assert got == {i: 0 for i in range(41)}, method


def test_lsh_bucket_matches_numpy_sign_bits(spark):
    """lsh_bucket_udf against a per-row numpy reference: bit i is set iff
    the 6dp-rounded dot with hyperplane i is positive.  A null vector and
    one whose length is not dim get a null bucket."""
    import numpy as np

    from tree_code_chunker_spark.operators.similarity import (
        SIM_ROUND,
        _hyperplanes,
        lsh_bucket_udf,
    )

    rng = np.random.RandomState(21)
    vecs = rng.standard_normal((200, 24))
    planes = _hyperplanes(24, 10, seed=42)
    want = {i: sum(1 << b for b in range(10)
                   if np.round(np.dot(vecs[i], planes[b]), SIM_ROUND) > 0)
            for i in range(200)}
    want.update({200: None, 201: None})
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(200)]
        + [(200, None), (201, [1.0, 2.0])],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["b"] for r in df.select(
        "vec_id",
        lsh_bucket_udf(dim=24, n_bits=10)(F.col("embedding")).alias("b"),
    ).collect()}
    assert got == want
    assert len(set(want.values())) > 2  # buckets actually vary


def test_minhash_est_jaccard_scores_candidates(spark):
    from tree_code_chunker_spark.operators.dedup import minhash_est_jaccard

    rows = [(i, "common shared prefix text for everyone here indeed")
            for i in range(3)]
    rows += [(10, "totally different content with its own unique words")]
    df = spark.createDataFrame(rows, "id long, text string")
    sigs = minhash_signatures(df, "id", "text")
    pairs = lsh_candidate_pairs(sigs)
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
           minhash_est_jaccard(pairs, sigs).collect()}
    # identical texts -> every slot agrees
    assert est[(0, 1)] == est[(0, 2)] == est[(1, 2)] == 1.0
    # the unrelated doc never pairs at estimate 1.0
    assert all(v < 1.0 for k, v in est.items() if 10 in k)


def test_cc_star_keeps_self_pair_only_nodes(spark):
    from tree_code_chunker_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2)], "id_a long, id_b long")
    star = {r["node"]: r["label"] for r in
            connected_components(pairs, method="star").collect()}
    label = {r["node"]: r["label"] for r in
             connected_components(pairs, method="auto").collect()}
    assert star == label == {1: 1, 2: 1, 5: 5}
    with pytest.raises(ValueError, match="method"):
        connected_components(pairs, method="stars")


def test_corpus_ngram_stats_top_k(spark):
    from tree_code_chunker_spark.operators.dedup import corpus_ngram_stats

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "a b c"), (4, "zz")],
        "id long, text string")
    got = [(r["gram"], r["doc_freq"]) for r in
           corpus_ngram_stats(df, "id", "text", n=3, k=2).collect()]
    # 'a b c' appears in docs 1,2,3 (doc 3 collapses whole text to it);
    # next by (freq desc, gram asc) is 'b c d' (doc 1) vs 'b c x' (doc 2)
    # vs 'zz' (doc 4) all freq 1 -> 'b c d' wins the tie alphabetically
    assert got == [("a b c", 3), ("b c d", 1)]


def _planted_twin_vectors(spark, sf_dir="/root/testdata/sf0.001"):
    """Embeddings + a deterministically perturbed twin for every third
    vector (<=0.3% per-component jitter -> cosine ~0.9999): the gold
    fixture where near-duplicates EXIST at a tight threshold, so banded
    LSH genuinely prunes (the raw table's pairs top out near sim 0.5)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # two-step select: lateral alias resolution would otherwise bind the
    # lambda's vec_id to the new vec_id+100000 (see q_embed_near_dup_lsh)
    twins = base.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("orig_id"),
        F.transform(
            "v",
            lambda x, i: x * (1 + ((F.col("vec_id") * 31 + i) % 7 - 3)
                              / 1000.0),
        ).alias("v"),
    ).select((F.col("orig_id") + 100000).alias("vec_id"), "v")
    return base.unionByName(twins)


def test_embedding_lsh_near_dup_equals_exact(spark):
    """The LSH scale path must return EXACTLY the exact form's pairs on the
    planted-twin fixture at the gate threshold (recall 1.0 via the band
    pigeonhole bound — planted twins sketch at Hamming <= 1, bands=4
    guarantees Hamming <= 3; precision exact by the verify stage)."""
    from tree_code_chunker_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    aug = _planted_twin_vectors(spark)
    exact = embedding_near_dup_pairs(aug, "vec_id", "v", threshold=0.99)
    lsh = embedding_near_dup_pairs_lsh(
        aug, "vec_id", "v", dim=64, threshold=0.99, n_bits=32, bands=4)
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["sim"]) for r in rows)
    e_rows, l_rows = exact.collect(), lsh.collect()
    assert key(e_rows) == key(l_rows)
    assert len(e_rows) > 0  # the fixture must actually contain near-dups
    # every planted twin pair found
    planted = {r["vec_id"] for r in aug.filter("vec_id >= 100000").collect()}
    found_b = {r["id_b"] for r in l_rows}
    assert planted <= found_b


def test_embedding_lsh_candidates_prune(spark):
    """The banded candidate set must be a small fraction of all pairs —
    the reason the LSH form is the scale default (measured ~2% at
    n_bits=32/bands=4 on the fixture)."""
    from tree_code_chunker_spark.operators.dedup import (
        embedding_lsh_candidates,
    )

    aug = _planted_twin_vectors(spark).cache()
    n = aug.count()
    n_cand = embedding_lsh_candidates(aug, "vec_id", "v", 64).count()
    all_pairs = n * (n - 1) // 2
    assert n_cand < all_pairs * 0.10, (n_cand, all_pairs)
    aug.unpersist()


def test_lsh_paths_skip_null_and_short_vectors(spark):
    """A null vector and one shorter than dim get no LSH bucket: the job
    completes, neither row is paired, probed or answered, and every good
    row's answer is unchanged."""
    from tree_code_chunker_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
    )

    good = _planted_twin_vectors(spark)
    bad = spark.createDataFrame([(900001, None), (900002, [0.5, 0.25, 0.125])],
                                "vec_id long, v array<double>")
    mixed = good.unionByName(bad)

    def pairs(df):
        return sorted(map(tuple, embedding_near_dup_pairs_lsh(
            df, "vec_id", "v", dim=64, threshold=0.99).collect()))

    got = pairs(mixed)
    assert got and got == pairs(good)
    queries = mixed.filter((F.col("vec_id") < 5) | (F.col("vec_id") > 900000))

    def ann(corpus):
        return sorted(map(tuple, ann_lsh_topk(
            queries, corpus, k=3, dim=64, vec_col="v", n_bits=8).collect()))

    got = ann(mixed)
    assert got and got == ann(good)
    assert not {900001, 900002} & {x for r in got for x in r[:2]}


def test_embedding_exact_near_dup_row_guard(spark, monkeypatch):
    """The O(n^2) exact form refuses inputs past MAX_EXACT_ROWS and points
    at the LSH path."""
    from tree_code_chunker_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_EXACT_ROWS", 10)
    df = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("v"))
    with pytest.raises(ValueError, match="embedding_near_dup_pairs_lsh"):
        dedup.embedding_near_dup_pairs(df, "vec_id", "v")


def test_dedup_increment_equals_full_recompute(spark, tmp_path):
    """increment(batch0) ∪ increment(batch1) == full-corpus LSH candidate
    pairs recomputed from scratch — the incremental index introduces each
    cross pair exactly once, in the increment that adds its newer side."""
    from tree_code_chunker_spark.operators.dedup import (
        dedup_increment,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "mh_index")
    p0 = dedup_increment(b0, idx).collect()
    p1 = dedup_increment(b1, idx).collect()
    full = lsh_candidate_pairs(
        minhash_signatures(docs, "doc_id", "text")).collect()
    key = lambda rows: sorted((r["id_a"], r["id_b"]) for r in rows)
    got = sorted(set(key(p0)) | set(key(p1)))
    assert got == key(full)
    assert len(full) > 0  # the corpus must actually contain near-dups
    # no pair reported twice across increments
    assert not (set(key(p0)) & set(key(p1)))


def test_dedup_increment_param_mismatch_raises(spark, tmp_path):
    from tree_code_chunker_spark.operators.dedup import dedup_increment

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(10)
    idx = str(tmp_path / "mh_index2")
    dedup_increment(docs, idx)
    with pytest.raises(ValueError, match="do not match the index"):
        dedup_increment(docs, idx, bands=8)


def test_contamination_check_hand_computed(spark):
    """Train-vs-eval n-gram decontamination on a hand-computed fixture:
    partial overlap reports the exact gram counts/fraction; clean docs
    produce no row; a gram shared with TWO eval docs counts both."""
    from tree_code_chunker_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z w"), (3, "c d e")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "c d e f"), (101, "b c d e")],
        "eid long, text string")
    out = {r["id"]: (r["n_grams"], r["n_contaminated"], r["frac"],
                     r["n_eval_doc_hits"])
           for r in contamination_check(corpus, ev, eval_id_col="eid",
                                        n=3).collect()}
    # doc 1 grams: "a b c","b c d","c d e","d e f"; eval grams:
    # ev100 {"c d e","d e f"}, ev101 {"b c d","c d e"} -> contaminated
    # {"b c d","c d e","d e f"} = 3 of 4; eval-doc hits: b c d->1,
    # c d e->2, d e f->1 = 4
    assert out[1] == (4, 3, 0.75, 4)
    # doc 3 is shorter than n: collapses to the single gram "c d e" -> 1/1
    assert out[3] == (1, 1, 1.0, 2)
    assert 2 not in out


def test_media_text_context_hand_fixture(spark):
    """Caption pairing: nearest text on each side, '' at document edges,
    consecutive media spans share the same contexts."""
    from tree_code_chunker_spark.operators.media import media_text_context

    rows = [
        ("d1", 0, "media", "", "ref://d1/0"),
        ("d1", 1, "text", "alpha", ""),
        ("d1", 2, "media", "", "ref://d1/2"),
        ("d1", 3, "media", "", "ref://d1/3"),
        ("d1", 4, "text", "beta", ""),
        ("d1", 5, "media", "", "ref://d1/5"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, span_pos long, kind string, text string, "
              "media_ref string")
    got = {r["span_pos"]: (r["before_text"], r["after_text"])
           for r in media_text_context(df).collect()}
    assert got == {
        0: ("", "alpha"),
        2: ("alpha", "beta"),
        3: ("alpha", "beta"),
        5: ("beta", ""),
    }


# --- prefix-filter jaccard join + edit-distance-1 join ---

from tree_code_chunker_spark.operators.dedup import (  # noqa: E402
    edit1_join,
    jaccard_set_join,
)


def test_jaccard_set_join_equals_bruteforce(spark):
    import itertools
    import random
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    rows = [(i, rng.sample(vocab, rng.randrange(3, 12)))
            for i in range(80)]
    df = spark.createDataFrame(rows, "id long, s array<string>")
    got = sorted((r.id_a, r.id_b, r.inter_n, r.union_n) for r in
                 jaccard_set_join(df, "id", "s", 1, 2).collect())
    want = []
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        inter = len(set(sa) & set(sb))
        union = len(set(sa) | set(sb))
        if 2 * inter >= union:
            want.append((ia, ib, inter, union))
    assert got == sorted(want)
    assert len(got) > 0                           # fixture actually fires


def test_jaccard_set_join_exact_duplicates_and_threshold_one(spark):
    rows = [(1, ["a", "b"]), (2, ["b", "a", "a"]), (3, ["a", "c"])]
    df = spark.createDataFrame(rows, "id long, s array<string>")
    got = [(r.id_a, r.id_b, r.jaccard) for r in
           jaccard_set_join(df, "id", "s", 1, 1).collect()]
    assert got == [(1, 2, 1.0)]                   # t=1 keeps only set-equal


def test_edit1_join_catches_all_single_edits(spark):
    rows = [(1, "kitten"), (2, "sitten"),          # substitution
            (3, "kitte"),                          # deletion
            (4, "kittens"),                        # insertion
            (5, "sittin"),                          # 2 edits from kitten
            (6, "kitten")]                          # exact dup, distinct id
    df = spark.createDataFrame(rows, "id long, s string")
    got = sorted((r.id_a, r.id_b, r.dist) for r in
                 edit1_join(df, "id", "s").collect())
    assert (1, 2, 1) in got and (1, 3, 1) in got and (1, 4, 1) in got
    assert (1, 6, 0) in got                        # dist-0 dup pair kept
    assert all(not (a == 1 and b == 5) for a, b, _ in got)  # 2 edits out
    # symmetry/one-direction: every pair reported once with id_a < id_b
    assert all(a < b for a, b, _ in got)


def test_media_phash_and_near_dup_pairs(spark):
    from tree_code_chunker_spark.operators.media import (
        media_near_dup_pairs,
        media_phash,
    )

    refs = spark.createDataFrame(
        [(f"ref://m/{i}",) for i in range(60)], "media_ref string")
    media = synth_media(spark, refs)
    ph = media_phash(media).collect()
    assert len(ph) == 60 and all(r.ok and r.phash is not None for r in ph)
    assert all(0 <= r.phash < (1 << FEATURE_DIM) for r in ph)
    # python mirror: same aHash from the same fake decode
    import numpy as np
    from tree_code_chunker_spark.operators.media import _fake_decode
    for r in ph[:10]:
        # synth_media contract: payload == utf-8 bytes of media_ref
        f = _fake_decode(r.media_ref.encode("utf-8"), r.kind)
        want = sum(1 << i for i in range(FEATURE_DIM) if f[i] > f.mean())
        assert r.phash == want, r.media_ref
    # near-dup pairs == brute-force hamming <= h over the mirror hashes
    h = 3
    hashes = {r.media_ref: r.phash for r in ph}
    want_pairs = {(a, b) for a in hashes for b in hashes if a < b
                  and bin(hashes[a] ^ hashes[b]).count("1") <= h}
    got = {(r.mid, r.b_mid) for r in
           media_near_dup_pairs(media, max_hamming=h).collect()}
    assert got == want_pairs
    assert want_pairs  # non-vacuous at 16 bits / 60 items


def test_media_near_dup_zero_tolerance_and_bad_rows(spark):
    from tree_code_chunker_spark.operators.media import media_near_dup_pairs

    refs = spark.createDataFrame(
        [(f"ref://m/{i}",) for i in range(40)], "media_ref string")
    media = synth_media(spark, refs)

    def half_bad(payload, kind):
        if payload and payload[-1] % 2 == 0:
            raise ValueError("boom")
        return _fake_decode(payload, kind)

    from tree_code_chunker_spark.operators.media import _fake_decode
    pairs = media_near_dup_pairs(media, max_hamming=0, decode_fn=half_bad)
    got = {(r.mid, r.b_mid) for r in pairs.collect()}
    # mirror: only OK rows (odd last payload byte) may pair, exact match
    ok_refs = [r for r in media.select("media_ref").toPandas().media_ref
               if r.encode("utf-8")[-1] % 2 == 1]
    hashes = {}
    for ref in ok_refs:
        f = _fake_decode(ref.encode("utf-8"), "")
        hashes[ref] = sum(1 << i for i in range(FEATURE_DIM)
                          if f[i] > f.mean())
    want = {(a, b) for a in hashes for b in hashes
            if a < b and hashes[a] == hashes[b]}
    assert got == want
    bad = {r for r in media.select("media_ref").toPandas().media_ref
           if r.encode("utf-8")[-1] % 2 == 0}
    assert not any(a in bad or b in bad for a, b in got)


def test_media_near_dup_full_width_band_64bit(spark, monkeypatch):
    """ADVICE r5 (low): with FEATURE_DIM=64 and max_hamming=0 the single
    band is 64 bits wide and the (1 << 64) - 1 mask literal overflowed;
    the full-width band must use the hash itself as the band key."""
    import tree_code_chunker_spark.operators.media as media_mod

    monkeypatch.setattr(media_mod, "FEATURE_DIM", 64)
    refs = spark.createDataFrame(
        [("ref://m/a",), ("ref://m/a2",), ("ref://m/b",), ("ref://m/c",)],
        "media_ref string")
    media = synth_media(spark, refs)

    def dup_decode(payload, kind):
        # map the two 'a' payloads to the same 64-dim feature
        key = (payload or b"").rstrip(b"2")
        return media_mod._fake_decode(key, kind)

    ph = {r.media_ref: r.phash
          for r in media_mod.media_phash(media, decode_fn=dup_decode).collect()}
    want = {(a, b) for a in ph for b in ph if a < b and ph[a] == ph[b]}
    assert ("ref://m/a", "ref://m/a2") in want
    got = {(r.mid, r.b_mid) for r in media_mod.media_near_dup_pairs(
        media, max_hamming=0, decode_fn=dup_decode).collect()}
    assert got == want


class TestDupSpanStats:
    def test_planted_boilerplate_and_python_mirror(self, spark):
        from tree_code_chunker_spark.operators.dedup import dup_span_stats

        boiler = "all rights reserved license header text"
        rows = [
            (0, boiler + " alpha beta gamma delta epsilon"),
            (1, boiler + " zeta eta theta iota kappa"),
            (2, "totally unique content with no shared spans here at all"),
            (3, "tiny doc"),  # < n words: collapses to one whole-text gram
            (4, "tiny doc"),  # exact twin of 3 -> 100% dup
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        n = 5
        got = {r["id"]: (r["n_spans"], r["n_dup_spans"],
                         float(r["dup_frac"]))
               for r in dup_span_stats(df, n=n).collect()}

        # python mirror over the same tokenizer (split on single space)
        occ = {}
        for i, t in rows:
            ws = t.split(" ")
            grams = ([" ".join(ws[j:j + n])
                      for j in range(len(ws) - n + 1)]
                     if len(ws) >= n else [" ".join(ws)])
            occ[i] = grams
        docs_of = {}
        for i, grams in occ.items():
            for g in set(grams):
                docs_of.setdefault(g, set()).add(i)
        for i, grams in occ.items():
            dup = sum(1 for g in grams if len(docs_of[g]) >= 2)
            assert got[i] == (len(grams), dup,
                              round(dup / len(grams), 6)), i
        assert got[2][1] == 0 and got[4] == (1, 1, 1.0)
        # boilerplate prefix shows up as partial dup coverage
        assert 0 < got[0][1] < got[0][0]

    def test_every_doc_has_a_row(self, spark):
        from tree_code_chunker_spark.operators.dedup import dup_span_stats

        df = spark.createDataFrame(
            [(i, f"unique words only {i} x y") for i in range(7)],
            "doc_id long, text string")
        assert dup_span_stats(df, n=3).count() == 7


class TestLmQuality:
    def test_matches_python_mirror(self, spark):
        import math

        from tree_code_chunker_spark.operators.textstats import lm_quality

        rows = [(0, "the cat sat on the mat"),
                (1, "the dog sat on the log"),
                (2, "zzqxj jxqzz qqq"),
                (3, "ab")]  # < 3 chars: no row
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["id"]: (r["n_tri"], r["logp_avg"])
               for r in lm_quality(df).collect()}
        assert 3 not in got and set(got) == {0, 1, 2}

        tris = {}
        c3, alphabet = {}, set()
        for i, t in rows:
            if len(t) < 3:
                continue
            g = [t[j:j + 3] for j in range(len(t) - 2)]
            tris[i] = g
            for x in g:
                c3[x] = c3.get(x, 0) + 1
                alphabet.add(x[2])
        c2 = {}
        for x, c in c3.items():
            c2[x[:2]] = c2.get(x[:2], 0) + c
        v = len(alphabet)
        for i, g in tris.items():
            per = {}
            for x in g:
                per[x] = per.get(x, 0) + 1
            s = sum(nn * round(math.log((c3[x] + 1) / (c2[x[:2]] + v)), 6)
                    for x, nn in per.items())
            want = round(s / len(g), 6)
            assert got[i][0] == len(g)
            assert got[i][1] == pytest.approx(want, abs=1e-9), i
        # gibberish scores strictly below fluent text
        assert got[2][1] < got[0][1] and got[2][1] < got[1][1]

    def test_deterministic_across_parallelism(self, spark):
        from tree_code_chunker_spark.operators.textstats import lm_quality

        df = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").select(
            "doc_id", "text")
        a = sorted(map(tuple, lm_quality(df.repartition(1)).collect()))
        b = sorted(map(tuple, lm_quality(df.repartition(17)).collect()))
        assert a == b

    def test_over_cap_shuffle_plan_matches(self, spark, monkeypatch):
        """Above MODEL_BROADCAST_CAP the count model joins unhinted: same
        rows as the broadcast plan and as lm_quality_sql in DuckDB."""
        import duckdb

        from tree_code_chunker_spark.operators import textstats

        path = "/root/testdata/sf0.001/documents.parquet"
        df = spark.read.parquet(path).select("doc_id", "text")
        real, hinted = F.broadcast, []
        monkeypatch.setattr(F, "broadcast",
                            lambda d: hinted.append(d) or real(d))

        def rows():
            hinted.clear()
            return sorted(map(tuple, textstats.lm_quality(df).collect()))

        broadcast = rows()
        assert len(hinted) == 3  # c3, c2 and the one-row alphabet size
        monkeypatch.setattr(textstats, "MODEL_BROADCAST_CAP", 0)
        shuffled = rows()
        assert len(hinted) == 1  # only the one-row alphabet size
        sql = (f"WITH documents AS (SELECT * FROM '{path}'), "
               + textstats.lm_quality_sql("documents"))
        want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
        assert shuffled == broadcast == want
        assert len(want) > 100
