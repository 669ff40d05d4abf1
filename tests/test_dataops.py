"""Training-data pipeline operators: dedup, similarity, text stats, multimodal."""

import hashlib

import numpy as np
import pytest

from trinity_spark.dataops import dedup, multimodal, similarity, textstats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- exact dedup -------------------------------------------------------------

DUP_ROWS = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (1, "totally different content here about gpu kernels"),
    (2, "the quick brown fox jumps over the lazy dog today"),  # dup of 0
    (3, "the quick brown fox jumps over the lazy dog tonight"),  # near-dup of 0
    (4, "unrelated text entirely about parquet row groups"),
    (5, "totally different content here about gpu kernels"),  # dup of 1
]


def test_exact_duplicates(spark):
    groups = dedup.exact_duplicates(_docs(spark, DUP_ROWS)).collect()
    got = sorted(tuple(g["doc_ids"]) for g in groups)
    assert got == [(0, 2), (1, 5)]


def test_dedup_exact_keeps_min_id(spark):
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(_docs(spark, DUP_ROWS)).collect())
    assert kept == [0, 1, 3, 4]


# --- minhash / jaccard -------------------------------------------------------

def _py_shingles(text, n=3):
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_minhash_near_duplicates(spark):
    docs = _docs(spark, DUP_ROWS)
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    got = {(p["id_a"], p["id_b"]): p["jaccard"] for p in pairs}
    # exact dups (jaccard 1.0) and the near-dup 0-3 must surface
    assert got[(0, 2)] == 1.0
    assert got[(1, 5)] == 1.0
    a, b = _py_shingles(DUP_ROWS[0][1]), _py_shingles(DUP_ROWS[3][1])
    expect = len(a & b) / len(a | b)
    assert (0, 3) in got and abs(got[(0, 3)] - expect) < 1e-9
    # unrelated docs don't pair
    assert not any(4 in p for p in got)


def test_minhash_signature_is_md5_derived(spark):
    docs = _docs(spark, [(0, "a b c d e")])
    sig = dedup.minhash_signatures(docs, num_hashes=4).collect()[0]
    sh = _py_shingles("a b c d e")
    for i in range(4):
        expect = min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)
        assert sig[f"h{i}"] == expect


def test_minhash_arrow_kernel_verified_pairs_match_sql(spark):
    """The arrow kernel is a different (equally valid) hash family, so raw
    signatures differ from the md5 path by design — but after banding and
    exact-Jaccard verification the near-dup PAIR SET must match."""
    docs = _docs(spark, DUP_ROWS)
    want = {
        (p["id_a"], p["id_b"]): round(p["jaccard"], 9)
        for p in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    got = {
        (p["id_a"], p["id_b"]): round(p["jaccard"], 9)
        for p in dedup.minhash_near_duplicates(
            docs, threshold=0.5, kernel="arrow"
        ).collect()
    }
    assert got == want


def test_minhash_arrow_kernel_deterministic_and_content_keyed(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # same text
        (2, "short"),  # < shingle_n tokens -> whole-run shingle
        (3, "short"),
        (4, ""),  # empty text
        (5, None),  # NULL text behaves like empty
        (6, "completely different words in this one document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(16))
        for r in dedup.minhash_signatures(docs, kernel="arrow").collect()
    }
    again = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(16))
        for r in dedup.minhash_signatures(docs, kernel="arrow").collect()
    }
    assert sigs == again  # deterministic across runs
    assert sigs[0] == sigs[1]  # identical text -> identical signature
    assert sigs[2] == sigs[3]  # short-doc path too
    assert sigs[4] == sigs[5]  # NULL == empty
    assert sigs[0] != sigs[6]
    assert len(sigs) == 7


def test_minhash_arrow_kernel_matches_slow_reference(spark):
    """Pin the kernel's vectorized window/scatter math against a direct
    per-doc Python reimplementation of the same hash family."""
    import pandas as pd

    rows = [
        (0, "a b c d e f"),
        (1, "x y"),
        (2, "a b c"),
        (3, "m n o p q r s t u v w"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(4))
        for r in dedup.minhash_signatures(
            docs, num_hashes=4, kernel="arrow"
        ).collect()
    }
    mults, xors = dedup._minhash_perm_constants(4)
    POLY = np.uint64(0x9E3779B97F4A7C15)
    for doc_id, text in rows:
        toks = text.split()
        tok_h = pd.util.hash_array(np.array(toks, dtype=object)).astype(
            np.uint64
        ) if toks else np.empty(0, dtype=np.uint64)
        # scalar uint64 math warns on the (intended) mod-2^64 wrap
        with np.errstate(over="ignore"):
            if len(toks) >= 3:
                grams = []
                for i in range(len(toks) - 2):
                    h = np.uint64(0)
                    for j in range(i, i + 3):
                        h = h * POLY + tok_h[j]
                    grams.append(h)
            else:
                h = np.uint64(0)
                for j in range(len(toks)):
                    h = h * POLY + tok_h[j]
                grams = [h]
        grams = np.array(grams, dtype=np.uint64)
        expect = tuple(
            int(((grams * mults[i]) ^ xors[i]).min().astype(np.int64))
            for i in range(4)
        )
        assert got[doc_id] == expect, doc_id


def test_minhash_rejects_unknown_kernel(spark):
    with pytest.raises(ValueError, match="unknown minhash kernel"):
        dedup.minhash_signatures(_docs(spark, DUP_ROWS), kernel="gpu")


# --- simhash -----------------------------------------------------------------

def test_simhash_exact_and_near(spark):
    docs = _docs(spark, DUP_ROWS)
    pairs = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in dedup.simhash_near_duplicates(docs, max_hamming=6).collect()
    }
    assert pairs[(0, 2)] == 0  # identical text -> identical simhash
    assert pairs[(1, 5)] == 0
    assert (0, 3) in pairs  # one-word change -> few bits flip


# --- text stats --------------------------------------------------------------

def test_textstats_values(spark):
    docs = _docs(
        spark,
        [
            (0, "The quick brown fox, and the lazy dog!"),
            (1, "der hund und die katze ist nicht ein tier mit zu"),
            (2, ""),
        ],
    )
    rows = {r["doc_id"]: r for r in textstats.analyze(docs).collect()}
    assert rows[0]["n_tokens"] == 8
    assert rows[0]["lang"] == "en"
    assert rows[1]["lang"] == "de"
    assert 0.0 <= rows[0]["quality"] <= 1.0
    assert rows[2]["n_tokens"] == 0

    # fingerprint matches the documented md5 formula
    toks = "the quick brown fox and the lazy dog".split()
    M = (1 << 61) - 1
    expect = 0
    for i, t in enumerate(toks):
        expect = (expect + (i + 1) * int(hashlib.md5(t.encode()).hexdigest()[:8], 16)) % M
    assert rows[0]["fingerprint"] == expect


def test_repetition_stats_values(spark):
    """Hand-computed Gopher-style repetition metrics."""
    docs = _docs(
        spark,
        [
            (0, "alpha beta\nalpha beta\ngamma"),  # 1 of 3 lines is a repeat
            (1, "buy now buy now buy now"),  # top bigram covers everything
            (2, "all distinct words here today"),
            (3, ""),
            (4, "one"),  # no bigram possible
        ],
    )
    rows = {r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()}
    assert rows[0]["dup_line_frac"] == pytest.approx(1 - 2 / 3, abs=1e-6)
    # line chars 10+10+5=25, distinct 15 -> 0.4
    assert rows[0]["dup_line_char_frac"] == pytest.approx(0.4, abs=1e-6)
    # "alpha beta" x2, 9 token chars each, over 23 total token chars
    assert rows[0]["top_ngram_char_frac"] == pytest.approx(18 / 23, abs=1e-6)
    assert rows[1]["top_ngram_char_frac"] == 1.0  # "buy now" x3 = 18/18
    # singleton bigrams: heaviest is "distinct words" (13 chars) / 25
    assert rows[2]["top_ngram_char_frac"] == pytest.approx(13 / 25, abs=1e-6)
    for d in (3, 4):
        assert rows[d]["dup_line_frac"] == 0.0
        assert rows[d]["top_ngram_char_frac"] == 0.0


def test_repetition_stats_scan_cap_and_validation(spark):
    docs = _docs(spark, [(0, "x y " * 100 + "tail")])
    # cap to the first 4 tokens: "x y x y" -> top bigram mass 2*3=6 over 4 chars -> clamped 1.0
    r = textstats.repetition_stats(docs, max_scan_tokens=4).collect()[0]
    assert r["top_ngram_char_frac"] == 1.0
    with pytest.raises(ValueError):
        textstats.repetition_stats(docs, ngram_n=0).collect()
    with pytest.raises(ValueError):
        textstats.repetition_stats(docs, max_scan_tokens=0).collect()


def test_curate_repetitive_gate(spark):
    from trinity_spark.dataops.curate import curate

    docs = _docs(
        spark,
        [
            (0, "a normal english document that is about the weather and the news today for everyone"),
            (1, "click here click here click here click here click here click here click here click here"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in curate(
            docs,
            min_quality=0.0,
            languages=None,
            max_top_ngram_char_frac=0.5,
        ).collect()
    }
    assert out[0]["keep"] and out[0]["reason"] == ""
    assert not out[1]["keep"] and out[1]["reason"] == "repetitive"
    # gate off by default: both kept
    out2 = {
        r["doc_id"]: r
        for r in curate(docs, min_quality=0.0, languages=None).collect()
    }
    assert out2[1]["keep"]


def test_fingerprint_order_sensitive(spark):
    docs = _docs(spark, [(0, "alpha beta gamma"), (1, "gamma beta alpha")])
    rows = {r["doc_id"]: r["fingerprint"] for r in textstats.analyze(docs).collect()}
    assert rows[0] != rows[1]


# --- similarity search -------------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    rows.append((200, [float(x) for x in rows[7][1]]))  # exact dup of vec 7
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def test_brute_force_topk_matches_numpy(spark, vectors):
    df, rows = vectors
    q = rows[7][1]
    got = [(r["vec_id"], r["score"]) for r in similarity.brute_force_topk(df, q, k=5).collect()]
    M = np.array([r[1] for r in rows])
    qv = np.array(q)
    cos = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    order = sorted(range(len(rows)), key=lambda i: (-round(cos[i], 6), rows[i][0]))
    expect = [(rows[i][0], round(float(cos[i]), 6)) for i in order[:5]]
    assert [g[0] for g in got] == [e[0] for e in expect]
    for g, e in zip(got, expect):
        assert abs(g[1] - e[1]) < 1e-6
    assert got[0][0] in (7, 200) and abs(got[0][1] - 1.0) < 1e-6


def test_lsh_topk_full_probe_equals_brute(spark, vectors):
    df, rows = vectors
    q = rows[3][1]
    sigged, planes = similarity.add_lsh_signatures(df, dim=8, bits=8)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(df, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.lsh_topk(sigged, planes, q, k=5, probe_radius=8).collect()
    ]
    assert approx == exact  # radius = bits -> no pruning -> identical


def test_lsh_topk_pruned_finds_duplicate(spark, vectors):
    df, rows = vectors
    q = rows[7][1]
    sigged, planes = similarity.add_lsh_signatures(df, dim=8, bits=10)
    got = [
        r["vec_id"]
        for r in similarity.lsh_topk(sigged, planes, q, k=3, probe_radius=1).collect()
    ]
    assert got[:2] == [7, 200]  # identical vectors share the bucket at radius 0


def test_cosine_pairs_finds_planted_dup(spark, vectors):
    df, _ = vectors
    pairs = similarity.cosine_pairs(df, dim=8, threshold=0.999).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(7, 200)}
    # cap active: planted dup still found, nothing spurious
    capped = similarity.cosine_pairs(
        df, dim=8, threshold=0.999, max_bucket_size=16
    ).collect()
    assert {(p["id_a"], p["id_b"]) for p in capped} == {(7, 200)}


def test_cosine_pairs_bucket_cap_flood(spark, caplog):
    """Adversarial embedding flood: identical vectors share every sign band,
    so one bucket would generate O(n^2) verified pairs without the cap.
    Capped: bounded pairs, all cosine 1.0, and the rep chain keeps the
    flood in one connected cluster."""
    import logging

    n = 60
    vec = [1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.5]
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<double>"
    )
    with caplog.at_level(logging.WARNING, logger="trinity_spark.dataops.dedup"):
        pairs = similarity.cosine_pairs(
            df, dim=8, threshold=0.999, max_bucket_size=8
        ).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert 0 < len(got) <= n * 8
    assert len(got) < n * (n - 1) // 2
    assert all(p["cosine"] == 1.0 for p in pairs)
    assert any("CosineLSH cap" in r.getMessage() for r in caplog.records)
    from trinity_spark.dataops import dedup as _dedup

    comp = _dedup.connected_components(
        spark.createDataFrame(sorted(got), "id_a long, id_b long")
    )
    assert {r["doc_id"] for r in comp.collect()} == set(range(n))
    assert {r["component"] for r in comp.collect()} == {0}


def test_conversation_texts_orders_turns(spark):
    """Turn order must come from turn_idx, not input row order, and the
    scope change makes whole-conversation duplicates visible to the
    document-level exact dedup."""
    from trinity_spark.dataops.dedup import conversation_texts, exact_duplicates

    rows = [
        ("c1", 2, "gamma"), ("c1", 0, "alpha"), ("c1", 1, "beta"),
        ("c2", 1, "beta"), ("c2", 0, "alpha"), ("c2", 2, "gamma"),
        ("c3", 0, "other"),
    ]
    turns = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    convs = {r["conv_id"]: r["text"] for r in conversation_texts(turns).collect()}
    assert convs == {
        "c1": "alpha beta gamma",
        "c2": "alpha beta gamma",
        "c3": "other",
    }
    groups = exact_duplicates(
        conversation_texts(turns), id_col="conv_id"
    ).collect()
    assert len(groups) == 1 and sorted(groups[0]["doc_ids"]) == ["c1", "c2"]


# --- SemDeDup: cluster-scoped semantic dedup ----------------------------------


def test_semantic_dedup_pairs_single_cluster_equals_all_pairs(spark, vectors):
    """n_lists=1 degenerates to exact all-pairs cosine at the threshold —
    the correctness baseline the clustered path must match within a cell."""
    from pyspark.sql import functions as F

    df, rows = vectors
    indexed = df.withColumn("list_id", F.lit(0))
    got = {
        (p["id_a"], p["id_b"]): p["cosine"]
        for p in similarity.semantic_dedup_pairs(indexed, threshold=0.9).collect()
    }
    M = np.array([r[1] for r in rows])
    norms = np.linalg.norm(M, axis=1)
    cos = (M @ M.T) / np.outer(norms, norms)
    ids = [r[0] for r in rows]
    expect = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            c = round(float(cos[i, j]), 6)
            if c >= 0.9:
                expect[(min(ids[i], ids[j]), max(ids[i], ids[j]))] = c
    assert set(got) == set(expect)
    for k, v in got.items():
        assert abs(v - expect[k]) < 1e-6


def test_semantic_dedup_end_to_end_resolves_planted_dup(spark, vectors):
    """Full pipeline with distributed Lloyd training: the planted exact dup
    (7, 200) lands in one cluster (identical vectors cannot cross a cosine
    argmax), pairs at 0.999, and resolution keeps the smaller id."""
    df, rows = vectors
    out = similarity.semantic_dedup(df, n_lists=4, iters=1, threshold=0.999)
    by_id = {r["vec_id"]: r for r in out.collect()}
    assert len(by_id) == len(rows)  # nothing dropped or duplicated
    assert by_id[200]["component"] == 7 and not by_id[200]["is_canonical"]
    assert by_id[7]["component"] == 7 and by_id[7]["is_canonical"]
    canon = [r for r in by_id.values() if r["is_canonical"]]
    assert len(canon) == len(rows) - 1  # exactly the one duplicate removed


def test_semantic_dedup_cluster_cap_flood(spark, caplog):
    """Identical-embedding flood assigns to ONE centroid, so the
    within-cluster self-join would be O(n^2) uncapped; max_cluster_size
    bounds it, logs the cap, and the verified rep chain keeps the flood a
    single connected cluster."""
    import logging

    from pyspark.sql import functions as F

    n = 60
    vec = [1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.5]
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<double>"
    )
    indexed = df.withColumn("list_id", F.lit(0))
    with caplog.at_level(logging.WARNING, logger="trinity_spark.dataops.dedup"):
        pairs = similarity.semantic_dedup_pairs(
            indexed, threshold=0.999, max_cluster_size=8
        ).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert 0 < len(got) < n * (n - 1) // 2
    assert all(p["cosine"] == 1.0 for p in pairs)
    assert any("SemDeDup cap" in r.getMessage() for r in caplog.records)
    from trinity_spark.dataops import dedup as _dedup

    comp = _dedup.connected_components(
        spark.createDataFrame(sorted(got), "id_a long, id_b long")
    )
    assert {r["component"] for r in comp.collect()} == {0}


# --- Arrow matrix kernels (throughput path) match the SQL fold path ----------


def test_arrow_kernels_match_sql_paths(spark, vectors):
    """The Arrow matrix kernels (one M @ C.T per batch) must agree with the
    JVM fold paths: same assignments as the literal-expression argmax
    (incl. the tie-to-higher-list rule) and same LSH signatures.  The
    gram pair verify is pinned to the fold by
    test_gram_kernel_matches_sql_pairs."""
    from pyspark.sql import functions as F

    df, rows = vectors
    cents = [rows[i][1] for i in (0, 3, 9, 11)]
    a_lit = {
        r["vec_id"]: r["list_id"]
        for r in df.select(
            "vec_id",
            similarity._argmax_cosine(F.col("embedding"), cents).alias("list_id"),
        ).collect()
    }
    a_arrow = {
        r["vec_id"]: r["list_id"]
        for r in similarity.ivf_assign_arrow(df, cents).collect()
    }
    assert a_lit == a_arrow

    s_fold, planes_f = similarity.add_lsh_signatures(df, dim=8, bits=12)
    s_arrow, planes_a = similarity.add_lsh_signatures_arrow(df, dim=8, bits=12)
    assert planes_f == planes_a
    assert {(r["vec_id"], r["lsh_sig"]) for r in s_fold.collect()} == {
        (r["vec_id"], r["lsh_sig"]) for r in s_arrow.collect()
    }


def test_knn_classify_matches_numpy_reference(spark, vectors):
    """Predictions == a pure-numpy kNN with the same contract (cosine
    rounded to 6, neighbor ties by id asc, vote ties by label asc)."""
    from pyspark.sql import functions as F

    df, rows = vectors
    labeled = [(int(r[0]), int(r[0]) % 3, r[1]) for r in rows[:40]]
    unl = df.where(F.col("vec_id") >= 40)
    got = {
        r["vec_id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_classify(unl, labeled, k=5).collect()
    }
    C = np.array([t[2] for t in labeled])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    labs = np.array([t[1] for t in labeled])
    for r in rows[40:]:
        v = np.array(r[1])
        cos = np.round((Cn @ (v / np.linalg.norm(v))), 6)
        order = sorted(range(40), key=lambda i: (-cos[i], labeled[i][0]))[:5]
        votes = {}
        for i in order:
            votes[labs[i]] = votes.get(labs[i], 0) + 1
        win = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert got[r[0]] == (int(win[0]), int(win[1])), r[0]
    assert len(got) == len(rows) - 40


def test_knn_classify_tie_breaks(spark):
    """k=2 with one vote each -> smaller label wins; an exact-duplicate
    neighbor pair ties on score and resolves by neighbor id."""
    labeled = [
        (0, 7, [1.0, 0.0]),   # same direction as the query
        (1, 3, [0.9, 0.1]),   # nearly same
        (2, 9, [-1.0, 0.0]),  # opposite
    ]
    unl = spark.createDataFrame([(10, [1.0, 0.0])], "vec_id long, embedding array<double>")
    r = similarity.knn_classify(unl, labeled, k=2).collect()[0]
    assert (r["pred_label"], r["votes"]) == (3, 1)  # tie 1-1 -> label 3 < 7

    # duplicate vectors: ids 0 and 1 identical; k=1 must pick id 0's label
    labeled2 = [(1, 5, [1.0, 0.0]), (0, 2, [1.0, 0.0])]
    r2 = similarity.knn_classify(unl, labeled2, k=1).collect()[0]
    assert (r2["pred_label"], r2["votes"]) == (2, 1)


def test_ann_recall_full_probe_is_one_partial_below(spark, vectors):
    """Full-probe IVF reproduces brute force (recall 1.0 per query);
    n_probe=1 recall matches the hand-computed overlap; a query missing
    from the approx side reports 0."""
    from pyspark.sql import functions as F

    df, rows = vectors
    queries = [(f"q{i}", rows[i][1]) for i in (3, 11)]
    exact = similarity.brute_force_topk_many(df, queries, k=8)

    indexed, cents = similarity.ivf_index(df, n_lists=4, iters=1)
    full, low = [], []
    for qid, qv in queries:
        f = similarity.ivf_topk(indexed, cents, qv, k=8, n_probe=4)
        full.append(f.withColumn("query_id", F.lit(qid)))
        l = similarity.ivf_topk(indexed, cents, qv, k=8, n_probe=1)
        low.append(l.withColumn("query_id", F.lit(qid)))
    cat = lambda fs: fs[0].unionByName(fs[1])

    r_full = {r["query_id"]: r for r in similarity.ann_recall(exact, cat(full)).collect()}
    assert all(r["recall"] == 1.0 and r["k"] == 8 for r in r_full.values())

    r_low = {r["query_id"]: r for r in similarity.ann_recall(exact, cat(low)).collect()}
    ex = {q: {r["vec_id"] for r in exact.where(F.col("query_id") == q).collect()}
          for q, _ in queries}
    lo = {q: {r["vec_id"] for r in cat(low).where(F.col("query_id") == q).collect()}
          for q, _ in queries}
    for q, _ in queries:
        assert r_low[q]["hits"] == len(ex[q] & lo[q])
        assert abs(r_low[q]["recall"] - len(ex[q] & lo[q]) / 8) < 1e-12

    missing = similarity.ann_recall(
        exact, cat(low).where(F.col("query_id") != "q3")
    ).collect()
    assert {r["query_id"]: r["recall"] for r in missing}["q3"] == 0.0


def test_knn_classify_int32_ids_and_wide_labels(spark):
    """Non-long id columns pass through under their own type (not crashed
    on by the Arrow schema), and 64-bit label values survive without int32
    truncation."""
    big = 3_000_000_000  # > 2^31
    labeled = [(0, big, [1.0, 0.0]), (1, 7, [-1.0, 0.0])]
    unl = spark.createDataFrame(
        [(5, [1.0, 0.0])], "vec_id int, embedding array<float>"
    )
    r = similarity.knn_classify(unl, labeled, k=1).collect()[0]
    assert (r["vec_id"], r["pred_label"], r["votes"]) == (5, big, 1)


def test_knn_classify_validates(spark):
    unl = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="k must"):
        similarity.knn_classify(unl, [(0, 0, [1.0])], k=0)
    with pytest.raises(ValueError, match="non-empty"):
        similarity.knn_classify(unl, [])


def test_batch_matrix_rejects_ragged_and_null_rows(spark):
    """_batch_matrix must fail loudly on malformed embedding columns.

    The ragged case is chosen so the TOTAL value count still divides the row
    count (2 rows, dims 3+5 = 8 values): a divisibility-only check would
    silently reshape into a wrong 2x4 matrix and corrupt every cosine."""
    import pyarrow as pa

    from trinity_spark.dataops.similarity import _batch_matrix

    ragged = pa.RecordBatch.from_pydict(
        {"embedding": pa.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 7.0, 8.0]])}
    )
    with pytest.raises(ValueError, match="ragged"):
        _batch_matrix(ragged, "embedding")

    withnull = pa.RecordBatch.from_pydict(
        {"embedding": pa.array([[1.0, 2.0], None], type=pa.list_(pa.float64()))}
    )
    with pytest.raises(ValueError, match="null"):
        _batch_matrix(withnull, "embedding")

    ok = pa.RecordBatch.from_pydict(
        {"embedding": pa.array([[1.0, 2.0], [3.0, 4.0]])}
    )
    M = _batch_matrix(ok, "embedding")
    assert M.shape == (2, 2) and M[1, 0] == 3.0


def test_cosine_pairs_arrow_kernel_finds_planted_dup(spark, vectors):
    df, _ = vectors
    got = similarity.cosine_pairs(df, dim=8, threshold=0.999, kernel="gram").collect()
    assert {(p["id_a"], p["id_b"]) for p in got} == {(7, 200)}


def test_gram_kernel_matches_sql_pairs(spark, vectors):
    """The per-bucket Gram verify must produce the same pair set and (to
    summation order) the same cosines as the per-pair SQL fold — both for
    the cluster-scoped semantic path and the banded LSH path."""
    from pyspark.sql import functions as F

    df, _ = vectors
    indexed = df.withColumn("list_id", F.lit(0))
    sqlp = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.semantic_dedup_pairs(indexed, threshold=0.9).collect()
    }
    gramp = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.semantic_dedup_pairs(
            indexed, threshold=0.9, kernel="gram"
        ).collect()
    }
    assert set(sqlp) == set(gramp) and len(gramp) > 0
    for key, v in sqlp.items():
        assert abs(v - gramp[key]) < 2e-6

    lsql = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_pairs(df, dim=8, threshold=0.9).collect()
    }
    lgram = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_pairs(
            df, dim=8, threshold=0.9, kernel="gram"
        ).collect()
    }
    assert set(lsql) == set(lgram)
    for key, v in lsql.items():
        assert abs(v - lgram[key]) < 2e-6


def test_gram_kernel_capped_flood(spark, caplog):
    """Identical-vector flood through the gram kernel with a cluster cap:
    bounded output (sub-bucket all-pairs + rep chain), every cosine 1.0,
    still one connected cluster."""
    from pyspark.sql import functions as F

    n = 60
    vec = [1.0, 2.0, -1.0, 0.5, 0.0, 3.0, -2.0, 1.5]
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<double>"
    )
    indexed = df.withColumn("list_id", F.lit(0))
    pairs = similarity.semantic_dedup_pairs(
        indexed, threshold=0.999, max_cluster_size=8, kernel="gram"
    ).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert 0 < len(got) < n * (n - 1) // 2
    assert all(p["cosine"] == 1.0 for p in pairs)
    from trinity_spark.dataops import dedup as _dedup

    comp = _dedup.connected_components(
        spark.createDataFrame(sorted(got), "id_a long, id_b long")
    )
    assert {r["component"] for r in comp.collect()} == {0}


def test_ivf_partitioned_prunes_and_matches(spark, vectors, tmp_path):
    """write_ivf_partitioned + ivf_topk_partitioned: the probe predicate
    must land in the scan's PartitionFilters (metadata pruning, not a data
    filter), only the probed lists' files are read, and results are
    rank-identical to the in-memory ivf_topk."""
    df, rows = vectors
    q = rows[3][1]
    indexed, cents = similarity.ivf_index(df, n_lists=6, iters=1)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_partitioned(indexed, path)

    got = similarity.ivf_topk_partitioned(spark, path, cents, q, k=5, n_probe=2)
    expect = [
        (r["vec_id"], r["score"])
        for r in similarity.ivf_topk(indexed, cents, q, k=5, n_probe=2).collect()
    ]
    assert [(r["vec_id"], r["score"]) for r in got.collect()] == expect

    plan = got._jdf.queryExecution().executedPlan().toString()
    # the probe predicate must appear as a PARTITION filter on the scan
    # (metadata pruning), not only as a post-scan data filter
    assert "PartitionFilters" in plan and "list_id" in plan
    probes = set(similarity._probe_order(q, cents)[:2])
    from pyspark.sql import functions as F

    pruned = spark.read.parquet(path).where(F.col("list_id").isin(list(probes)))
    assert {r["list_id"] for r in pruned.select("list_id").distinct().collect()} <= probes
    expect_rows = indexed.where(F.col("list_id").isin(list(probes))).count()
    assert pruned.count() == expect_rows > 0


def test_ivf_scalable_arrow_assignment_matches_join(spark, vectors):
    """The scalable trainer (Arrow assignment every round, Lloyd update in
    Spark) must reproduce the literal-expression ivf_index exactly: same
    per-round assignments -> same centroids -> same final list ids."""
    df, _ = vectors
    a_lit, cents_lit = similarity.ivf_index(df, n_lists=5, iters=2)
    a_s, cdf_s = similarity.ivf_index_scalable(df, n_lists=5, iters=2)
    assert {(r["vec_id"], r["list_id"]) for r in a_lit.collect()} == {
        (r["vec_id"], r["list_id"]) for r in a_s.collect()
    }
    cs = {r["list_id"]: list(r["centroid"]) for r in cdf_s.collect()}
    assert set(cs) == set(range(len(cents_lit)))
    for lid, c in enumerate(cents_lit):
        assert np.allclose(c, cs[lid], rtol=0, atol=1e-12)


def test_brute_force_topk_many_matches_per_query(spark, vectors):
    """The batched one-scan path must return exactly the per-query
    brute_force_topk rows (same ids, same rounded scores, same tie-break),
    including a duplicate-vector tie at the top."""
    df, rows = vectors
    queries = [("qa", rows[7][1]), ("qb", rows[3][1]), ("qc", rows[11][1])]
    got = similarity.brute_force_topk_many(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    assert set(by_q) == {"qa", "qb", "qc"}
    for qid, qv in queries:
        expect = [
            (r["vec_id"], r["score"])
            for r in similarity.brute_force_topk(df, qv, k=5).collect()
        ]
        assert sorted(by_q[qid], key=lambda t: (-t[1], t[0])) == expect, qid
    # qa's query IS vector 7 (and its exact dup 200): both lead at 1.0
    qa = sorted(by_q["qa"], key=lambda t: (-t[1], t[0]))
    assert [qa[0][0], qa[1][0]] == [7, 200]


def test_exact_embedding_groups(spark, vectors):
    """Identical embeddings collapse to the smallest id with no
    verification — the documented first step before a capped near-dup
    pass."""
    df, rows = vectors
    out = {r["vec_id"]: r for r in similarity.exact_embedding_groups(df).collect()}
    assert len(out) == len(rows)
    assert out[200]["component"] == 7 and not out[200]["is_canonical"]
    assert out[7]["component"] == 7 and out[7]["is_canonical"]
    assert sum(1 for r in out.values() if r["is_canonical"]) == len(rows) - 1


def test_exact_embedding_groups_null_passthrough(spark):
    """NULL embeddings are not comparable content (the dedup_exact NULL-text
    rule): a window PARTITION BY would group all NULLs into one 'duplicate'
    cluster — each NULL row must pass through as its own canonical
    component instead."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, None), (4, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in similarity.exact_embedding_groups(df).collect()}
    assert len(out) == 4
    assert out[4]["component"] == 1 and not out[4]["is_canonical"]
    for nid in (2, 3):
        assert out[nid]["component"] == nid and out[nid]["is_canonical"]


def test_unknown_kernel_raises(spark, vectors):
    import pytest as _pytest

    from pyspark.sql import functions as F

    df, _ = vectors
    with _pytest.raises(ValueError, match="unknown kernel"):
        similarity.semantic_dedup_pairs(
            df.withColumn("list_id", F.lit(0)), kernel="numpyish"
        )


# --- scrub: PII redaction + chunking -----------------------------------------


def test_redact_pii_values(spark):
    from trinity_spark.dataops.scrub import redact_pii

    docs = _docs(
        spark,
        [
            (0, "mail me at alice.smith+x@example.co.uk or bob@test.org now"),
            (1, "server 10.0.0.1 and 192.168.255.3 rebooted"),
            (2, "call 555-123-4567 or 555.987.6543"),
            (3, "clean text with no pii at all"),
            (4, ""),
        ],
    )
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[0]["n_email"] == 2 and "<EMAIL>" in out[0]["text"]
    assert "alice" not in out[0]["text"] and "bob@" not in out[0]["text"]
    assert out[1]["n_ipv4"] == 2
    assert out[1]["text"] == "server <IPV4> and <IPV4> rebooted"
    assert out[2]["n_phone"] == 2
    assert out[2]["text"] == "call <PHONE> or <PHONE>"
    assert out[3]["text"] == "clean text with no pii at all"
    assert all(out[3][f"n_{k}"] == 0 for k in ("email", "ipv4", "phone"))
    with pytest.raises(ValueError):
        redact_pii(docs, kinds=("email", "dna")).collect()


def test_chunk_documents_windows(spark):
    from trinity_spark.dataops.scrub import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = _docs(spark, [(0, words), (1, "a b"), (2, "")])
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r
    # step 3: starts 0,3,6; start 9 is suppressed — its only token w9 lies
    # inside chunk 2's overlap (a strict-subset chunk would duplicate it)
    assert sorted(by_doc[0]) == [0, 1, 2]
    assert by_doc[0][0]["chunk_text"] == "w0 w1 w2 w3"
    assert by_doc[0][1]["chunk_text"] == "w3 w4 w5 w6"  # 1-token overlap
    assert by_doc[0][2]["chunk_text"] == "w6 w7 w8 w9"
    assert by_doc[0][2]["n_tokens"] == 4
    assert by_doc[1][0]["chunk_text"] == "a b" and len(by_doc[1]) == 1
    assert 2 not in by_doc  # zero-token doc -> zero chunks
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4).collect()
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=0).collect()


def test_chunk_documents_reconstructs_text(spark):
    """Non-overlapping chunks concatenate back to the token stream."""
    from trinity_spark.dataops.scrub import chunk_documents

    words = " ".join(f"t{i}" for i in range(257))
    docs = _docs(spark, [(7, words)])
    rows = sorted(
        chunk_documents(docs, chunk_tokens=64, overlap=0).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert " ".join(r["chunk_text"] for r in rows) == words
    assert [r["n_tokens"] for r in rows] == [64, 64, 64, 64, 1]


# --- multimodal --------------------------------------------------------------

def test_multimodal_feature_plumbing(spark):
    docs = _docs(spark, [(0, "hello world"), (1, "bytes here vary"), (2, "")])
    media = multimodal.make_media_table(docs)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media, fake=True).collect()}
    assert feats[0]["n_bytes"] == len("hello world")
    assert len(feats[0]["feature"]) == multimodal.FEATURE_DIM
    expect = multimodal._fake_decode(b"hello world")
    assert np.allclose(np.array(feats[0]["feature"]), expect, atol=1e-5)


def test_extract_features_null_payload_consistent(spark):
    """NULL/empty payload (metadata-only row): n_bytes and the feature's
    length slot must AGREE — the old b'\\x00' substitute emitted
    feature[0]=1 against n_bytes=0 in the same row."""
    media = spark.createDataFrame(
        [
            (1, "image", None, "application/octet-stream", None, None, None),
            (2, "image", bytearray(b""), "application/octet-stream", None, None, None),
            (3, "image", bytearray(b"abc"), "application/octet-stream", None, None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in multimodal.extract_features(media, fake=True).collect()}
    for mid in (1, 2, 3):
        assert rows[mid]["feature"][0] == rows[mid]["n_bytes"]
    assert rows[1]["n_bytes"] == 0 and rows[1]["feature"] == [0.0] * multimodal.FEATURE_DIM
    assert rows[2]["feature"] == [0.0] * multimodal.FEATURE_DIM
    assert rows[3]["n_bytes"] == 3


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"RIFF")


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [(1, "video", bytearray(b"x"), "video/mp4", None, None, 3500)],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    assert [(r["frame_idx"], r["ts_ms"]) for r in rows] == [(0, 0), (1, 1000), (2, 2000)]


def test_simhash_is_64_bit(spark):
    """64-bit signatures: high bits (>=32) are populated, banding covers all
    8 bands of 8 bits, and bucketing stays exact for identical docs."""
    from trinity_spark.dataops.dedup import SIMHASH_BITS, simhash

    assert SIMHASH_BITS == 64
    docs = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(40)],
        "doc_id long, text string",
    )
    sigs = [r["simhash"] for r in simhash(docs).collect()]
    assert any(abs(s) >= 1 << 32 for s in sigs)  # high half in use
    # bit-63 sign-bit path: some signature must be negative across a spread
    # of docs (statistically certain for 40 random-ish hashes)
    assert any(s < 0 for s in sigs)


def test_minhash_presets_shapes(spark):
    from trinity_spark.dataops.dedup import (
        MINHASH_PRESETS,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different text about gpu kernels"),
        ],
        "doc_id long, text string",
    )
    for name, p in MINHASH_PRESETS.items():
        assert p["num_hashes"] % p["bands"] == 0, name
        sigs = minhash_signatures(docs, num_hashes=p["num_hashes"], shingle_n=3)
        assert len(sigs.columns) == 1 + p["num_hashes"], name
        cands = {
            (r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(
                sigs, num_hashes=p["num_hashes"], bands=p["bands"]
            ).collect()
        }
        assert (0, 1) in cands, name  # near-identical docs must collide


def test_ivf_full_probe_equals_brute_force(spark):
    """IVF with n_probe = n_lists is exact (every list probed)."""
    import numpy as np

    from trinity_spark.dataops.similarity import brute_force_topk, ivf_index, ivf_topk

    rng = np.random.default_rng(11)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    query = [float(x) for x in rng.normal(size=8)]

    indexed, cents = ivf_index(df, n_lists=8, iters=2)
    assert len(cents) == 8
    want = [(r["vec_id"], r["score"]) for r in brute_force_topk(df, query, k=10).collect()]
    got = [
        (r["vec_id"], r["score"])
        for r in ivf_topk(indexed, cents, query, k=10, n_probe=8).collect()
    ]
    assert got == want


def test_ivf_partial_probe_recall(spark):
    """Probing half the lists must still find most of the true top-k (the
    classic IVF recall/latency trade; exactness is the full-probe test)."""
    import numpy as np

    from trinity_spark.dataops.similarity import brute_force_topk, ivf_index, ivf_topk

    rng = np.random.default_rng(5)
    # clustered data so lists are meaningful
    centers = rng.normal(size=(4, 8)) * 3
    vecs = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(size=8) * 0.3])
        for i in range(400)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    query = [float(x) for x in centers[1] + rng.normal(size=8) * 0.1]

    indexed, cents = ivf_index(df, n_lists=8, iters=2)
    want = {r["vec_id"] for r in brute_force_topk(df, query, k=10).collect()}
    got = {
        r["vec_id"]
        for r in ivf_topk(indexed, cents, query, k=10, n_probe=4).collect()
    }
    assert len(want & got) >= 8  # >=80% recall on clustered data
    # the lists actually partition the data (a probe restricts the scan)
    list_sizes = {
        r["list_id"]: r["n"]
        for r in indexed.groupBy("list_id").count().withColumnRenamed("count", "n").collect()
    }
    assert len(list_sizes) >= 4 and max(list_sizes.values()) < 400


def test_ivf_join_assignment_matches_literal(spark):
    """The Arrow matrix list assignment (the scale path for large n_lists)
    must agree with the literal-expression argmax."""
    import numpy as np
    from pyspark.sql import functions as F

    from trinity_spark.dataops.similarity import (
        _argmax_cosine,
        ivf_assign_arrow,
        ivf_index,
    )

    rng = np.random.default_rng(21)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(150)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    _, cents = ivf_index(df, n_lists=6, iters=1)

    lit = {
        r["vec_id"]: r["list_id"]
        for r in df.select(
            "vec_id",
            _argmax_cosine(F.col("embedding").cast("array<double>"), cents).alias(
                "list_id"
            ),
        ).collect()
    }
    arrow = {
        r["vec_id"]: r["list_id"] for r in ivf_assign_arrow(df, cents).collect()
    }
    assert arrow == lit


def test_ivf_scalable_training_no_driver_means(spark):
    """ivf_index_scalable trains at n_lists=512, dim=256 with the Lloyd
    update kept in Spark (the r2 VERDICT driver-bottleneck item): centroids
    stay a DataFrame all the way; full-probe top-k is still exact."""
    import numpy as np

    from trinity_spark.dataops.similarity import (
        brute_force_topk,
        ivf_index_scalable,
        ivf_topk,
    )

    rng = np.random.default_rng(23)
    dim, n = 256, 600
    vecs = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    indexed, cdf = ivf_index_scalable(df, n_lists=512, iters=1)
    rows = cdf.collect()  # O(n_lists x dim), query-time probe selection only
    assert len(rows) == 512
    assert all(len(r["centroid"]) == dim for r in rows)
    assert indexed.count() == n
    # full probe == brute force (exactness preserved by the scalable path)
    cents = [list(r["centroid"]) for r in sorted(rows, key=lambda r: r["list_id"])]
    query = [float(x) for x in rng.normal(size=dim)]
    want = [
        (r["vec_id"], r["score"]) for r in brute_force_topk(df, query, k=5).collect()
    ]
    got = [
        (r["vec_id"], r["score"])
        for r in ivf_topk(indexed, cents, query, k=5, n_probe=512).collect()
    ]
    assert got == want


def test_ivf_scalable_matches_literal_training(spark):
    """On well-separated clusters the scalable trainer converges to the same
    assignment as the literal-expression ivf_index."""
    import numpy as np

    from trinity_spark.dataops.similarity import ivf_index, ivf_index_scalable

    rng = np.random.default_rng(9)
    centers = rng.normal(size=(4, 8)) * 4
    vecs = [
        (i, [float(x) for x in centers[i % 4] + rng.normal(size=8) * 0.2])
        for i in range(160)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    a, _ = ivf_index(df, n_lists=4, iters=2)
    b, _ = ivf_index_scalable(df, n_lists=4, iters=2)
    la = {r["vec_id"]: r["list_id"] for r in a.collect()}
    lb = {r["vec_id"]: r["list_id"] for r in b.collect()}
    assert la == lb


def test_ivf_and_semantic_dedup_carry_any_id_type(spark, vectors):
    """The Arrow assignment passes the id column through under its own
    type: string ids train and dedup end to end (a long-typed kernel schema
    failed them mid-job with CAST_INVALID_INPUT), and int32 ids stay int
    with the same lists as the long-id trainer."""
    from pyspark.sql import functions as F

    df, rows = vectors
    want = {f"v{r[0]}" for r in rows}
    sdf = df.select(
        F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    indexed, _ = similarity.ivf_index_scalable(sdf, n_lists=5, iters=2)
    assert dict(indexed.dtypes)["vec_id"] == "string"
    assert sorted(r["vec_id"] for r in indexed.collect()) == sorted(want)

    out = similarity.semantic_dedup(
        sdf, n_lists=4, iters=1, threshold=0.999, kernel="sql"
    )
    by_id = {r["vec_id"]: r for r in out.collect()}
    assert set(by_id) == want and out.count() == len(rows)
    # the planted dup (7, 200): the smaller STRING id "v200" is canonical
    assert by_id["v7"]["component"] == by_id["v200"]["component"] == "v200"
    assert by_id["v200"]["is_canonical"] and not by_id["v7"]["is_canonical"]
    assert sum(r["is_canonical"] for r in by_id.values()) == len(rows) - 1
    # the gram verify needs integral ids: rejected before any training job
    with pytest.raises(ValueError, match="integral"):
        similarity.semantic_dedup(sdf, kernel="gram")

    idf = df.select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    i_indexed, _ = similarity.ivf_index_scalable(idf, n_lists=5, iters=2)
    l_indexed, _ = similarity.ivf_index_scalable(df, n_lists=5, iters=2)
    assert dict(i_indexed.dtypes)["vec_id"] == "int"
    assert {(r["vec_id"], r["list_id"]) for r in i_indexed.collect()} == {
        (r["vec_id"], r["list_id"]) for r in l_indexed.collect()
    }


def _string_id_vectors(spark):
    """Three string-id vectors: a and b near each other, c orthogonal."""
    return spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )


def test_brute_force_topk_many_carries_string_ids(spark):
    """The batched top-k passes string ids through its kernel (a long cast
    failed them mid-job with CAST_INVALID_INPUT) and returns the per-query
    ``brute_force_topk`` rows."""
    vecs = _string_id_vectors(spark)
    out = similarity.brute_force_topk_many(vecs, [("q", [1.0, 0.0])], k=2)
    assert dict(out.dtypes)["vec_id"] == "string"
    want = similarity.brute_force_topk(vecs, [1.0, 0.0], k=2).collect()
    assert [(r["vec_id"], r["score"]) for r in out.collect()] == [
        (r["vec_id"], r["score"]) for r in want
    ]
    assert [r["vec_id"] for r in want] == ["a", "b"]


def test_knn_classify_carries_string_ids(spark):
    """The closure kNN passes string ids through under their own type."""
    labeled = [("x", 1, [1.0, 0.0]), ("y", 2, [0.0, 1.0])]
    out = similarity.knn_classify(_string_id_vectors(spark), labeled, k=1)
    assert dict(out.dtypes)["vec_id"] == "string"
    got = {r["vec_id"]: (r["pred_label"], r["votes"]) for r in out.collect()}
    assert got == {"a": (1, 1), "b": (1, 1), "c": (2, 1)}


def test_knn_classify_ivf_carries_string_ids(spark):
    """The IVF-probed kNN carries string ids on both sides; a full probe
    answers like the closure kernel, and the dispatcher's closure route
    takes the same string seed ids."""
    labeled = [("x", 1, [1.0, 0.0]), ("y", 2, [0.0, 1.0]), ("z", 2, [0.1, 1.0])]
    lab_df = spark.createDataFrame(
        labeled, "vec_id string, label long, embedding array<double>"
    )
    unl = _string_id_vectors(spark)
    want = {
        r["vec_id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_classify(unl, labeled, k=2).collect()
    }
    out = similarity.knn_classify_ivf(unl, lab_df, k=2, n_lists=2, n_probe=2)
    assert dict(out.dtypes)["vec_id"] == "string"
    assert {
        r["vec_id"]: (r["pred_label"], r["votes"]) for r in out.collect()
    } == want
    auto = similarity.knn_classify_auto(unl, lab_df, k=2)
    assert {
        r["vec_id"]: (r["pred_label"], r["votes"]) for r in auto.collect()
    } == want


def test_knn_string_labels_rejected_at_plan_time(spark):
    """Labels vote as int64: "spam"/"ham" labels fail before any job with
    a ValueError naming the label and its type (the IVF route failed them
    mid-job with CAST_INVALID_INPUT)."""
    labeled = [(0, "spam", [1.0, 0.0]), (1, "ham", [0.0, 1.0])]
    lab_df = spark.createDataFrame(
        labeled, "vec_id long, label string, embedding array<double>"
    )
    unl = spark.createDataFrame(
        [(5, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="seed label 'spam'.*got str"):
        similarity.knn_classify(unl, labeled, k=1)
    for fn in (similarity.knn_classify_ivf, similarity.knn_classify_auto):
        with pytest.raises(
            ValueError, match=f"{fn.__name__}: label column 'label'.*'string'"
        ):
            fn(unl, lab_df, k=1)


def test_connected_components_and_resolve(spark):
    """Cluster resolution over near-dup pairs: min-id components, canonical
    selection, singletons keep themselves; a 6-link chain converges."""
    from trinity_spark.dataops.dedup import connected_components, resolve_duplicates

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13), (13, 14), (14, 15)],
        "id_a long, id_b long",
    )
    comps = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5,
                     10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10}
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 5, 6, 7]], "doc_id long, text string"
    )
    small = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    res = {
        r["doc_id"]: (r["component"], r["is_canonical"])
        for r in resolve_duplicates(docs, small).collect()
    }
    assert res == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True),
        5: (5, True), 6: (5, False), 7: (7, True),
    }
    # deduplicated corpus = canonical rows only
    kept = sorted(
        r["doc_id"] for r in resolve_duplicates(docs, small).where("is_canonical").collect()
    )
    assert kept == [1, 4, 5, 7]


def test_curate_pipeline(spark):
    """Composed curation: gate order, exact-dup canonical, near-dup cluster,
    auditable reasons; where(keep) is the curated corpus."""
    from trinity_spark.dataops.curate import curate

    good = "the quick brown fox jumps over the lazy dog again and again for fun"
    docs = spark.createDataFrame(
        [
            (0, good),                                  # keep (canonical)
            (1, "tiny"),                                # too_short
            (2, "a b c d e f !!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!"),  # low_quality
            (3, "der die und das ist nicht ein ich mit zu heute morgen abend"),  # lang (de)
            (4, good),                                  # exact_dup of 0
            (5, good + " with one extra tail word here"),  # near_dup of 0
            (6, "completely different content that is long enough to pass the gates easily and it has the stopwords for quality"),  # keep
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["keep"], r["reason"], r["component"])
        for r in curate(docs, near_dup_threshold=0.5, min_quality=0.25).collect()
    }
    assert out[0] == (True, "", 0)
    assert out[1][1] == "too_short"
    assert out[2][1] == "low_quality"
    assert out[3][1] == "lang"
    assert out[4][1] == "exact_dup"
    assert out[5] == (False, "near_dup", 0)
    assert out[6] == (True, "", 6)
    kept = sorted(d for d, (k, _, _) in out.items() if k)
    assert kept == [0, 6]


# --- LSH bucket-size cap (adversarial degenerate corpora) --------------------

def test_lsh_bucket_cap_salt_split_and_report(spark, caplog):
    """Adversarial corpus: every doc shares EVERY band (identical text), so
    without a cap one bucket generates O(n^2) pairs.  With the cap, the
    bucket is salt-split: all pairs within each sub-bucket plus a verified
    chain of sub-bucket representatives — bounded (<= n * cap pairs, far
    under C(n,2)), logged (no silent caps), and because every chain link
    VERIFIES (identical docs -> jaccard 1.0), the flood still collapses to
    ONE cluster downstream.  (A star that skipped verification would claim
    this property even when the representative was a chance collision —
    the bug this design replaced.)"""
    import logging

    n = 60
    docs = _docs(
        spark, [(i, "alpha beta gamma delta epsilon zeta eta") for i in range(n)]
    )
    with caplog.at_level(logging.WARNING, logger="trinity_spark.dataops.dedup"):
        pairs = dedup.minhash_near_duplicates(
            docs, num_hashes=4, bands=2, threshold=0.5, max_bucket_size=8
        ).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert len(got) <= n * 8  # bounded by the cap, not O(n^2)
    assert len(got) < n * (n - 1) // 2
    assert all(p["jaccard"] == 1.0 for p in pairs)
    msgs = [r.getMessage() for r in caplog.records]
    assert any("salt-split" in m and "max_bucket_size=8" in m for m in msgs)
    comp = dedup.connected_components(
        spark.createDataFrame(sorted(got), "id_a long, id_b long")
    )
    # every doc appears in the pair graph and lands in one cluster
    members = {r["doc_id"] for r in comp.collect()}
    assert members == set(range(n))
    assert {r["component"] for r in comp.collect()} == {0}


def test_capped_bucket_pairs_structure(spark):
    """Unit-level pin of the salt-split shape: one oversized bucket of 30 ids
    at cap 10 -> every within-sub-bucket pair is present, consecutive
    sub-bucket representatives are chained, and the total is bounded."""
    from pyspark.sql import functions as F

    from trinity_spark.dataops.dedup import _capped_bucket_pairs

    n, cap = 30, 10
    banded = spark.createDataFrame(
        [(i, 0, "k") for i in range(n)], "doc_id long, band int, bucket string"
    )
    got = {
        (p["id_a"], p["id_b"])
        for p in _capped_bucket_pairs(
            banded, ["band", "bucket"], "doc_id", cap
        ).collect()
    }
    subs = {
        r["doc_id"]: r["sub"]
        for r in banded.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(3)).alias("sub")
        ).collect()
    }
    for i in range(n):
        for j in range(i + 1, n):
            if subs[i] == subs[j]:
                assert (i, j) in got
    reps: dict = {}
    for d, s in subs.items():
        reps[s] = min(reps.get(s, d), d)
    order = sorted(reps)
    for a, b in zip(order, order[1:]):
        assert tuple(sorted((reps[a], reps[b]))) in got
    assert len(got) <= n * cap


def test_curate_validates_minhash_preset(spark):
    from trinity_spark.dataops.curate import curate

    docs = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError, match="minhash_preset"):
        curate(
            docs,
            near_dup_method="minhash",
            minhash_preset="hi_recall",
            near_dup_threshold=0.8,
        )


def test_lsh_bucket_cap_inactive_below_cap(spark):
    """A cap larger than every bucket must be a no-op: same pairs as exact."""
    docs = _docs(spark, DUP_ROWS)
    exact = {
        (p["id_a"], p["id_b"]): p["jaccard"]
        for p in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    capped = {
        (p["id_a"], p["id_b"]): p["jaccard"]
        for p in dedup.minhash_near_duplicates(
            docs, threshold=0.5, max_bucket_size=1000
        ).collect()
    }
    assert capped == exact


def test_lsh_bucket_cap_validates(spark):
    docs = _docs(spark, DUP_ROWS)
    sigs = dedup.minhash_signatures(docs, num_hashes=4)
    with pytest.raises(ValueError, match="max_bucket_size"):
        dedup.lsh_candidate_pairs(sigs, num_hashes=4, bands=2, max_bucket_size=1)


def test_lsh_band_config_validates(spark):
    """bands > num_hashes would make rows=0 (every band hash = md5('') ->
    ALL docs in one bucket -> O(N^2) pairs); non-divisible num_hashes would
    silently drop trailing hashes.  Both must raise, not degrade."""
    docs = _docs(spark, DUP_ROWS)
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=32)
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=5)


def test_simhash_bucket_cap_salt_split(spark, caplog):
    """Same degenerate shape through the SimHash band join: identical docs
    share all 8 byte-bands; the cap salt-splits the bucket (bounded pairs),
    verified hamming distances stay exact (0 for identical signatures), and
    the rep chain keeps the flood connected."""
    import logging

    n = 40
    docs = _docs(
        spark, [(i, "omega psi chi phi upsilon tau sigma rho") for i in range(n)]
    )
    with caplog.at_level(logging.WARNING, logger="trinity_spark.dataops.dedup"):
        pairs = dedup.simhash_near_duplicates(
            docs, max_hamming=3, max_bucket_size=8
        ).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    assert len(got) <= n * 8
    assert len(got) < n * (n - 1) // 2
    assert all(p["hamming"] == 0 for p in pairs)
    msgs = [r.getMessage() for r in caplog.records]
    assert any("SimHash cap" in m for m in msgs)
    comp = dedup.connected_components(
        spark.createDataFrame(sorted(got), "id_a long, id_b long")
    )
    assert {r["doc_id"] for r in comp.collect()} == set(range(n))
    assert {r["component"] for r in comp.collect()} == {0}


def test_curate_minhash_method(spark):
    """curate(near_dup_method='minhash'): LSH pair generation (high-recall
    preset so the 1.0/0.83-jaccard pairs are caught) produces the same
    verdicts as the exact method on this corpus; invalid method raises."""
    from trinity_spark.dataops.curate import curate

    good = "the quick brown fox jumps over the lazy dog and then naps all day long"
    docs = spark.createDataFrame(
        [
            (0, good),
            (1, good),                                  # exact dup of 0
            (2, good + " with one extra tail phrase"),  # near dup of 0
            (3, "completely different content that is long enough to pass the gates easily and it has the stopwords for quality"),
        ],
        "doc_id long, text string",
    )
    kw = dict(near_dup_threshold=0.5, min_quality=0.25)
    exact = {
        r["doc_id"]: (r["keep"], r["reason"], r["component"])
        for r in curate(docs, near_dup_method="exact", **kw).collect()
    }
    mh = {
        r["doc_id"]: (r["keep"], r["reason"], r["component"])
        for r in curate(
            docs, near_dup_method="minhash", minhash_preset="high_recall", **kw
        ).collect()
    }
    assert mh == exact
    assert mh[0] == (True, "", 0)
    assert mh[1][1] == "exact_dup"
    assert mh[2] == (False, "near_dup", 0)
    assert mh[3][0]
    with pytest.raises(ValueError, match="near_dup_method"):
        curate(docs, near_dup_method="bogus")


# --- substring-level (window) dedup ----------------------------------------

def test_token_windows_and_duplicates(spark):
    from trinity_spark.dataops.dedup import duplicate_windows, token_windows

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "x y a b c d z"), (2, "short one"),
         (3, "a b c a b c a b")],
        "doc_id long, text string",
    )
    wins = token_windows(docs, window=3).collect()
    # doc0: 4 windows, doc1: 5, doc2 (too short): 0, doc3: 6
    per_doc = {}
    for r in wins:
        per_doc.setdefault(r["doc_id"], []).append(r["start"])
    assert {k: sorted(v) for k, v in per_doc.items()} == {
        0: [0, 1, 2, 3], 1: [0, 1, 2, 3, 4], 3: [0, 1, 2, 3, 4, 5]
    }

    dup = {(r["doc_id"], r["start"]): r["n_occurrences"]
           for r in duplicate_windows(docs, window=3).collect()}
    # "a b c" occurs at doc0@0, doc1@2, doc3@0, doc3@3 -> 4 occurrences
    assert dup[(0, 0)] == 4 and dup[(1, 2)] == 4
    assert dup[(3, 0)] == 4 and dup[(3, 3)] == 4
    # "b c d" occurs at doc0@1 and doc1@3
    assert dup[(0, 1)] == 2 and dup[(1, 3)] == 2
    # doc3's within-doc repeats ("b c a", "c a b") count too
    assert dup[(3, 1)] == 2 and dup[(3, 2)] == 2
    assert (2, 0) not in dup  # short doc emits no windows


def test_token_windows_stride(spark):
    from trinity_spark.dataops.dedup import token_windows

    docs = spark.createDataFrame([(0, "a b c d e f g h")], "doc_id long, text string")
    starts = sorted(
        r["start"]
        for r in token_windows(
            docs, window=3, stride=2, anchor="position"
        ).collect()
    )
    assert starts == [0, 2, 4]  # position grid
    # content anchors: ~1/stride of positions, chosen by md5(first token)
    got = sorted(
        r["start"] for r in token_windows(docs, window=3, stride=2).collect()
    )
    import hashlib

    toks = "a b c d e f g h".split()
    want = [
        i for i in range(len(toks) - 3 + 1)
        if int(hashlib.md5(toks[i].encode()).hexdigest()[:8], 16) % 2 == 0
    ]
    assert got == want


def test_content_anchors_catch_misaligned_spans(spark):
    """The finding the content-anchor default fixes: the same >=1.5w-token
    span at offsets differing mod stride is INVISIBLE to position-aligned
    windows but caught by content anchors (span-relative anchor positions
    are a function of the span's own tokens)."""
    from trinity_spark.dataops.dedup import substring_dup_stats

    span = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    docs = spark.createDataFrame(
        [(0, span + " tail0 tail1"), (1, "off " + span + " tailz")],
        "doc_id long, text string",
    )
    pos = {r["doc_id"]: r["n_dup_windows"]
           for r in substring_dup_stats(
               docs, window=5, stride=2, anchor="position"
           ).collect()}
    assert pos == {0: 0, 1: 0}  # misaligned mod 2 -> position grid blind
    con = {r["doc_id"]: r["n_dup_windows"]
           for r in substring_dup_stats(docs, window=5, stride=2).collect()}
    assert con[0] > 0 and con[1] > 0  # content anchors detect the span


def test_substring_dup_stats_interval_union(spark):
    from trinity_spark.dataops.dedup import substring_dup_stats

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "x y a b c d z"), (2, "short one"),
         (3, "a b c a b c a b")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in substring_dup_stats(docs, window=3).collect()}
    # doc0: dup windows at starts {0,1}; union covers tokens [0,4) = 4/6
    assert got[0]["n_dup_windows"] == 2
    assert got[0]["dup_window_frac"] == 0.5
    assert abs(got[0]["dup_token_frac"] - 4 / 6) < 1e-6
    # doc1: starts {2,3} -> union [2,6) = 4/7
    assert abs(got[1]["dup_token_frac"] - 4 / 7) < 1e-6
    # doc2: no windows at all -> all-zero row still present
    assert got[2] == dict(doc_id=2, n_tokens=2, n_windows=0, n_dup_windows=0,
                          dup_window_frac=0.0, dup_token_frac=0.0)
    # doc3: every window duplicated, full coverage
    assert got[3]["dup_window_frac"] == 1.0 and got[3]["dup_token_frac"] == 1.0


def test_substring_dedup_validates(spark):
    import pytest as _pytest

    from trinity_spark.dataops.dedup import token_windows

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="window and stride"):
        token_windows(docs, window=0)
    with _pytest.raises(ValueError, match="window and stride"):
        token_windows(docs, stride=0)


def test_remove_duplicate_spans(spark):
    from trinity_spark.dataops.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "x y a b c d z"), (2, "short one"),
         (3, "a b c a b c a b")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict()
           for r in remove_duplicate_spans(docs, window=3).collect()}
    # doc0 holds the canonical (smallest (start, doc_id)) copies -> untouched
    assert got[0]["text_clean"] == "a b c d e f" and got[0]["n_removed_tokens"] == 0
    # doc1 loses the shared "a b c d" run, keeps its unique tokens in order
    assert got[1]["text_clean"] == "x y z" and got[1]["n_removed_tokens"] == 4
    # too-short doc: no windows, untouched
    assert got[2]["text_clean"] == "short one" and got[2]["n_removed_tokens"] == 0
    # fully-boilerplate doc: overlapping removable spans cover everything
    assert got[3]["text_clean"] == "" and got[3]["n_removed_tokens"] == 8
    assert got[3]["n_tokens"] == 8


def test_remove_duplicate_spans_canonical_tie(spark):
    from trinity_spark.dataops.dedup import remove_duplicate_spans

    # same span at the same start in two docs: lower doc_id is canonical
    docs = spark.createDataFrame(
        [(7, "p q r tail seven"), (9, "p q r tail nine")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_clean"]
           for r in remove_duplicate_spans(docs, window=3).collect()}
    assert got[7] == "p q r tail seven"
    # doc9 shares windows "p q r"@0 AND "q r tail"@1 -> union [0,4) removed
    assert got[9] == "nine"


def test_curate_boilerplate_gate(spark):
    from trinity_spark.dataops.curate import curate

    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (0, shared + " alpha beta gamma delta epsilon zeta eta theta"),
            (1, shared + " iota kappa lams mu nu xi omicron pi"),
            # doc2 is almost entirely the shared passage
            (2, shared + " end"),
            (3, "totally distinct words with no overlap across documents here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in curate(docs, min_tokens=3, min_quality=0.0, languages=None,
                           max_dup_token_frac=0.6, dup_window=5).collect()}
    # docs 0/1: shared passage is ~half the doc -> under the 0.6 cap, kept
    assert got[0] == (True, "") and got[1] == (True, "")
    # doc2: 10 of 11 tokens covered by duplicated windows -> boilerplate
    assert got[2] == (False, "boilerplate")
    assert got[3] == (True, "")


def test_curate_boilerplate_after_exact_dedup(spark):
    from trinity_spark.dataops.curate import curate

    # exact duplicates collapse FIRST: the canonical copy faces the
    # boilerplate gate alone, so a doc duplicated only exactly is kept once
    docs = spark.createDataFrame(
        [(0, "a quick brown fox jumps over the lazy dog today"),
         (1, "a quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in curate(docs, min_tokens=3, min_quality=0.0, languages=None,
                           max_dup_token_frac=0.5, dup_window=5).collect()}
    assert got[0] == (True, "")
    assert got[1] == (False, "exact_dup")


def test_gram_capped_pairs_unique_per_pair(spark):
    """ADVICE r4 (similarity.py): in multi-band gram runs the same
    (id_a, id_b) can reach the output via BOTH the numpy gram path and the
    SQL-fold representative chain, with a last-digit cosine difference that
    survives distinct().  The contract is one row per pair."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    base = rng.normal(size=8)
    rows = []
    for i in range(48):  # near-identical flood: every band collides
        rows.append((int(i), [float(x) for x in base + rng.normal(scale=1e-4, size=8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = similarity.cosine_pairs(
        df, dim=8, threshold=0.9, bits=12, band_bits=3,
        max_bucket_size=6, kernel="gram",
    )
    dup = (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert dup == 0
    assert pairs.count() > 0


def test_add_lsh_signatures_arrow_custom_id_and_extra_cols(spark):
    """ADVICE r4: the Arrow LSH kernel must be id-column agnostic and carry
    every input column through, like its fold twin."""
    rng = np.random.default_rng(3)
    rows = [
        (int(i), f"doc-{i}", [float(x) for x in rng.normal(size=8)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "my_id long, tag string, embedding array<double>")
    out, planes = similarity.add_lsh_signatures_arrow(df, dim=8, bits=12, id_col="my_id")
    assert set(out.columns) == {"my_id", "tag", "embedding", "lsh_sig"}
    fold, planes_f = similarity.add_lsh_signatures(
        df.withColumnRenamed("my_id", "vec_id"), dim=8, bits=12
    )
    assert planes == planes_f
    assert {(r["my_id"], r["lsh_sig"]) for r in out.collect()} == {
        (r["vec_id"], r["lsh_sig"]) for r in fold.collect()
    }
    with pytest.raises(ValueError, match="id column"):
        similarity.add_lsh_signatures_arrow(df, dim=8, id_col="vec_id")


def test_knn_ivf_full_probe_matches_closure_kernel(spark, vectors):
    """knn_classify_ivf with n_probe = n_lists is EXACT: identical
    (pred_label, votes) to the closure kernel on every vector — same
    rounding, same neighbor/vote tie-breaks."""
    from pyspark.sql import functions as F

    df, rows = vectors
    labeled = [(int(r[0]), int(r[0]) % 3, r[1]) for r in rows[:40]]
    lab_df = spark.createDataFrame(
        [(i, l, v) for i, l, v in labeled],
        "vec_id long, label long, embedding array<double>",
    )
    unl = df.where(F.col("vec_id") >= 40)
    want = {
        r["vec_id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_classify(unl, labeled, k=5).collect()
    }
    got = {
        r["vec_id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_classify_ivf(
            unl, lab_df, k=5, n_lists=8, n_probe=8
        ).collect()
    }
    assert got == want and len(got) > 0


def test_knn_auto_routes_past_ceiling(spark, vectors, monkeypatch):
    """Past KNN_CLOSURE_MAX_CELLS the dispatcher must take the IVF route
    (seed set never collect()ed); with a full probe the labels still match
    brute force exactly — the 'seed set over the documented ceiling' check
    with the ceiling lowered to test scale."""
    from pyspark.sql import functions as F

    df, rows = vectors
    labeled = [(int(r[0]), int(r[0]) % 3, r[1]) for r in rows[:40]]
    lab_df = spark.createDataFrame(
        [(i, l, v) for i, l, v in labeled],
        "vec_id long, label long, embedding array<double>",
    )
    unl = df.where(F.col("vec_id") >= 40)
    want = {
        r["vec_id"]: r["pred_label"]
        for r in similarity.knn_classify(unl, labeled, k=5).collect()
    }
    monkeypatch.setattr(similarity, "KNN_CLOSURE_MAX_CELLS", 10)  # 40x8 > 10
    got = {
        r["vec_id"]: r["pred_label"]
        for r in similarity.knn_classify_auto(
            unl, lab_df, k=5, n_lists=8, n_probe=8
        ).collect()
    }
    assert got == want
    # below the ceiling the dispatcher uses the closure kernel (same answer)
    monkeypatch.setattr(similarity, "KNN_CLOSURE_MAX_CELLS", 10**9)
    got2 = {
        r["vec_id"]: r["pred_label"]
        for r in similarity.knn_classify_auto(unl, lab_df, k=5).collect()
    }
    assert got2 == want


def test_knn_ivf_partial_probe_recalls_clustered_labels(spark):
    """Partial probe on CLUSTERED data: each unlabeled vector's true
    neighbors share its cluster, so probing 2 of 8 lists must still
    recover the cluster label for every vector."""
    rng = np.random.default_rng(17)
    centers = rng.normal(size=(4, 8)) * 5
    lab_rows, unl_rows = [], []
    for c in range(4):
        for i in range(30):
            v = centers[c] + rng.normal(scale=0.05, size=8)
            lab_rows.append((c * 100 + i, c, [float(x) for x in v]))
        for i in range(10):
            v = centers[c] + rng.normal(scale=0.05, size=8)
            unl_rows.append((1000 + c * 100 + i, c, [float(x) for x in v]))
    lab_df = spark.createDataFrame(
        lab_rows, "vec_id long, label long, embedding array<double>"
    )
    unl_df = spark.createDataFrame(
        [(i, v) for i, _, v in unl_rows], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["pred_label"]
        for r in similarity.knn_classify_ivf(
            unl_df, lab_df, k=5, n_lists=8, n_probe=2
        ).collect()
    }
    assert got == {i: c for i, c, _ in unl_rows}


def test_knn_ivf_uncovered_vector_keeps_row_with_null_label(spark):
    """One row per input vector even under a partial probe: a vector whose
    probed lists hold no labeled rows must come back with pred_label/votes
    NULL — never a silently missing row (the row-count contract
    knn_classify_auto relies on across both routes).

    Deterministic empty-probe construction from the documented tie rules:
    IDENTICAL labeled vectors make every init centroid identical, so
    assignment (ties to the HIGHER list id) sends all labels to one list
    while probe selection (ties to the LOWER list id) picks a different,
    empty list at n_probe=1."""
    v0 = [1.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0, 3.0]
    lab_df = spark.createDataFrame(
        [(i, 1, v0) for i in range(40)],
        "vec_id long, label long, embedding array<double>",
    )
    unl_df = spark.createDataFrame(
        [(900, v0), (901, [float(-x) for x in v0])],
        "vec_id long, embedding array<double>",
    )
    partial = {
        r["vec_id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_classify_ivf(
            unl_df, lab_df, k=3, n_lists=8, n_probe=1
        ).collect()
    }
    # rows for BOTH inputs, both probing a labeled-empty list -> NULLs
    assert partial == {900: (None, None), 901: (None, None)}
    # the full probe sees every labeled row and labels every input
    full = {
        r["vec_id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_classify_ivf(
            unl_df, lab_df, k=3, n_lists=8, n_probe=8
        ).collect()
    }
    assert full == {900: (1, 3), 901: (1, 3)}


def test_ivf_index_corpus_smaller_than_n_lists(spark):
    """A corpus with fewer vectors than n_lists yields fewer init centroids;
    the Lloyd update's empty-list fallback must clamp to them instead of
    indexing past the list (crashed with IndexError before the clamp)."""
    rng = np.random.default_rng(11)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    indexed, cents = similarity.ivf_index(df, n_lists=16, iters=2)
    assert len(cents) == 10
    got = indexed.collect()
    assert len(got) == 10
    assert all(0 <= r["list_id"] < 10 for r in got)


def test_curate_null_text_is_gated(spark):
    """NULL-text rows must fail a gate, not sail through: every numeric
    gate predicate evaluates NULL (skipped) on them, so without the
    explicit null gate they came out keep=true with reason=''."""
    from trinity_spark.dataops.curate import curate

    docs = spark.createDataFrame(
        [
            (0, "a normal english document that is about the weather and the news today"),
            (1, None),
            (2, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in curate(docs, min_quality=0.0, languages=None).collect()
    }
    assert out[0]["keep"] and out[0]["reason"] == ""
    for d in (1, 2):
        assert not out[d]["keep"]
        assert out[d]["reason"] == "null_text"


def test_simhash_band_recall_guard(spark):
    """max_hamming >= n_bands loses recall silently (pigeonhole: every band
    can absorb one flipped bit) — must raise instead."""
    docs = _docs(spark, [(0, "a b c")])
    with pytest.raises(ValueError, match="bands"):
        dedup.simhash_near_duplicates(docs, max_hamming=8, band_bits=8)


def test_exact_dedup_null_text_semantics(spark):
    """Absent content is not comparable content: NULL-text docs all pass
    through dedup_exact (the old equi-join dropped EVERY one — no
    representative) and never form an exact_duplicates group."""
    docs = _docs(
        spark, [(0, "same"), (1, "same"), (4, "uniq")]
    ).unionByName(
        spark.createDataFrame([(2, None), (3, None)], "doc_id long, text string")
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(docs).collect())
    assert kept == [0, 2, 3, 4]
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1 and sorted(groups[0]["doc_ids"]) == [0, 1]


def test_quality_score_null_text_scores_zero(spark):
    """F.least skips NULLs: NULL text used to get full length credit and a
    0.4 quality floor — above real short documents."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the of and to in it is short")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["q"]
        for r in df.select(
            "doc_id", textstats.quality_score(F.col("text")).alias("q")
        ).collect()
    }
    assert rows[1] == 0.0
    assert rows[2] == 0.0
    assert rows[3] > rows[1]


# --- similarity review regressions -------------------------------------------

def test_brute_force_topk_dim_mismatch_raises(spark):
    """zip_with pads the short side with NULL: every score went NULL and
    limit(k) returned k arbitrary ids — must raise instead."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="query dim|assert"):
        similarity.brute_force_topk(vecs, [1.0, 0.0], k=2).collect()


def test_lsh_topk_query_dim_mismatch_raises(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    sigged, planes = similarity.add_lsh_signatures(vecs, dim=4)
    with pytest.raises(ValueError, match="plane dim"):
        similarity.lsh_topk(sigged, planes, [1.0, 0.0], k=1)


def test_cosine_pairs_arrow_kernel_int_ids(spark):
    """The gram verify (and its Arrow signature pass) declares long ids;
    int32 inputs must be cast through, not crash with an Arrow schema
    mismatch."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(4)] + [
        (10, [0.0, 1.0, 0.0, 0.0])
    ]
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = similarity.cosine_pairs(
        vecs, dim=4, threshold=0.99, bits=8, band_bits=4, kernel="gram"
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (0, 1) in pairs and all(a < b for a, b in pairs)


def test_gram_kernel_string_ids_fail_fast(spark):
    """String ids silently cast to NULL long and produced garbage pairs
    mid-job; the numpy kernels must reject them at plan time."""
    vecs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="integral"):
        similarity.cosine_pairs(vecs, dim=2, kernel="gram")


def test_gram_cap_healthy_path_equals_uncapped(spark):
    """With no bucket over the cap, the capped gram path must short-circuit
    to the plain grouped plan and return identical pairs."""
    import random

    random.seed(5)
    rows = []
    for i in range(40):
        v = [random.gauss(0, 1) for _ in range(8)]
        rows.append((i, v))
        if i % 10 == 0:
            rows.append((1000 + i, list(v)))  # planted exact dup
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs(
            vecs, dim=8, threshold=0.99, kernel="gram", max_bucket_size=64
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs(
            vecs, dim=8, threshold=0.99, kernel="gram"
        ).collect()
    }
    assert capped == uncapped and len(uncapped) >= 4
