"""Driver contract for the spark-graft builder (PySpark target).

The engine under test is ``trinity_spark`` — a PySpark-native inverted-index
+ BM25 engine (reference semantics: phaistos-networks/Trinity).  The driver's
DuckDB oracle runs on the harness parquet tables, so every entry here builds
the index over the ``documents`` table (its synthetic text is plain lowercase
space-separated words, making ANSI-SQL tokenization exactly equivalent to the
engine's tokenizer on this corpus — verified by test_entry.py).

Scores are rounded to 6 dp on BOTH sides and top-k ordering uses the rounded
score (then doc_id) on BOTH sides, so 1-ulp ln() differences between the JVM
and DuckDB cannot flip ranks or value-hashes.

The IR-specific rank-identity gate (exact float64 scores, transcripts corpus,
18 query classes) runs in pytest — see tests/test_engine.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

K1 = 1.2  # /root/reference/similarity.h:169 (norm fixed to k1 — no length norm)


def _entry_tmpdir(prefix: str) -> str:
    """mkdtemp whose removal is deferred to interpreter exit: store-backed
    entries return LAZY DataFrames over files in this dir (the driver
    collects after the entry returns, so removal here would break it), but
    repeated gate/bench invocations must not accrete dirs unboundedly."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _index(spark: SparkSession, sf_dir: str):
    """Build the logical index over documents(doc_id, text)."""
    from trinity_spark.operators.build import build_field_stats, build_term_dict
    from trinity_spark.operators.fastbuild import postings_from_turns
    from trinity_spark.plans.planner import LogicalIndex, QueryPlanner

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    postings = postings_from_turns(docs)
    index = LogicalIndex(
        postings,
        build_term_dict(postings),
        build_field_stats(postings, docs_cnt=docs.count()),
    )
    return QueryPlanner(index)


def _top10(scored: DataFrame, k: int = 10) -> DataFrame:
    """The shared deterministic top-k tail: round scores to 6 dp, order by
    the ROUNDED score desc then doc_id asc, limit k — the exact contract
    every oracle_sql() mirrors. One definition, so the entries can't drift
    from each other or the SQL."""
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _topk(spark: SparkSession, sf_dir: str, query: str, k: int = 10) -> DataFrame:
    return _top10(_index(spark, sf_dir).score_all(query), k)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: nested boolean+phrase BM25 top-10 on sf0.001."""
    return _topk(spark, "/root/testdata/sf0.001", '("table hash" OR vector) AND join NOT slow', k=10)


# ---------------------------------------------------------------------------
# queries(): one entry per implemented operator class (SURVEY.md §2)
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # §2.1/§2.4 — term dictionary + corpus statistics
    def term_dict(spark, sf):
        return _index(spark, sf).index.term_dict.select(
            "term", F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf")
        )

    def field_stats(spark, sf):
        return _index(spark, sf).index.field_stats.select(
            F.col("sum_term_hits").cast("long").alias("sum_term_hits"),
            F.col("total_terms").cast("long").alias("total_terms"),
            F.col("sum_terms_docs").cast("long").alias("sum_terms_docs"),
            F.col("docs_cnt").cast("long").alias("docs_cnt"),
        )

    # §2.4 — per-(term,doc) tf aggregation (posting-list scan slice)
    def postings_term(spark, sf):
        p = _index(spark, sf).index.postings
        return p.where(F.col("term") == "spark").select(
            "doc_id", F.col("tf").cast("long").alias("tf")
        )

    q["term_dict"] = term_dict
    q["field_stats"] = field_stats
    q["postings_scan"] = postings_term

    # §2.3 + §2.6 — docID-set operators with BM25 top-k
    def mk(query: str):
        return lambda spark, sf: _topk(spark, sf, query, k=10)

    q["bm25_single_term"] = mk("spark")
    q["bm25_and"] = mk("join AND merge")
    q["bm25_or"] = mk("scan OR vector")
    q["bm25_not"] = mk("hash NOT join")
    q["bm25_minmatch"] = mk("[sort, merge, window] min=2")
    q["bm25_phrase"] = mk('"table hash"')
    q["bm25_mixed"] = mk('("table hash" OR vector) AND join NOT slow')

    # §2.10 — matched-hits surface (consider(matched_document&),
    # matches.h:76-108): top-k rows exploded to one row per matched term,
    # positions CSV'd so the value-hash compare sees them
    def bm25_hits(spark, sf):
        from trinity_spark.plans.parser import parse_query

        planner = _index(spark, sf)
        node = parse_query("join AND merge")
        scored = planner.score_all(node)
        top = _top10(scored)
        hit = planner.attach_hits(top, node)
        return hit.select("doc_id", "score", F.explode("hits").alias("h")).select(
            "doc_id",
            "score",
            F.col("h.term").alias("term"),
            F.col("h.tf").cast("long").alias("tf"),
            F.array_join(F.col("h.positions").cast("array<string>"), ",").alias(
                "pos_csv"
            ),
        )

    q["bm25_hits"] = bm25_hits

    # §2.8/queries.cpp:1503-1526 — MaxQueryTokens keep-first trim at parse
    # time: a 4-term disjunction trimmed to its first 2 tokens must score
    # exactly like the 2-term query
    def bm25_trimmed(spark, sf):
        from trinity_spark.plans.parser import parse_query

        planner = _index(spark, sf)
        node = parse_query("spark OR join OR merge OR scan", max_tokens=2)
        scored = planner.score_all(node)
        return _top10(scored)

    q["bm25_trimmed"] = bm25_trimmed

    # §2.10/exec.h:11-23 — ExecFlags::DocumentsOnly: matching IDs only, the
    # scorer never runs (matching_docs compiles a presence-only aggregation)
    def docs_only_matching(spark, sf):
        planner = _index(spark, sf)
        return planner.matching_docs("join AND merge NOT slow").orderBy("doc_id")

    q["docs_only_matching"] = docs_only_matching

    # §3.2/exec.h:64-177 — collection execution: two sources (doc_id parity
    # split), each scored with ITS OWN stats (per-source df/N — the
    # reference's isolated per-source exec), app-side merge by
    # (score DESC, source, doc_id)
    def collection_topk(spark, sf):
        from trinity_spark.operators.build import build_field_stats, build_term_dict
        from trinity_spark.operators.fastbuild import postings_from_turns
        from trinity_spark.plans.planner import LogicalIndex, QueryPlanner

        docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        tops = []
        for src in (0, 1):
            part = docs.where(F.col("doc_id") % 2 == src)
            postings = postings_from_turns(part)
            idx = LogicalIndex(
                postings,
                build_term_dict(postings),
                build_field_stats(postings, docs_cnt=part.count()),
            )
            scored = QueryPlanner(idx).score_all("join AND merge")
            tops.append(
                scored.select(
                    F.lit(src).alias("source"),
                    "doc_id",
                    F.round("score", 6).alias("score"),
                )
            )
        u = tops[0].unionByName(tops[1])
        return u.orderBy(
            F.desc("score"), F.asc("source"), F.asc("doc_id")
        ).limit(10)

    q["collection_topk"] = collection_topk

    # §2.10/exec.cpp:553-657 — rewrite provenance to scorers: a custom
    # similarity down-weights synonym-generated branches by 0.5 x the
    # translation coefficient; the oracle reproduces the weighting in SQL
    def bm25_rewrite_downweight(spark, sf):
        from trinity_spark.plans.parser import parse_query
        from trinity_spark.plans.planner import default_similarity
        from trinity_spark.plans.rewrite import expand_synonyms

        planner = _index(spark, sf)
        node = expand_synonyms(parse_query("join"), {"join": ["merge"]})

        def sim(ctx, freq):
            w = 1.0 if ctx.rewrite_source is None else 0.5 * ctx.translation_coefficient
            return F.lit(w) * default_similarity(ctx, freq)

        planner.similarity = sim
        scored = planner.score_all(node)
        return _top10(scored)

    q["bm25_rewrite_downweight"] = bm25_rewrite_downweight

    # §2.10/similarity.h:75-130 — the reference's TF-IDF scorer on the
    # similarity seam: idf = ln((N+1)/(df+1)) + 1, score = sqrt(tf) * idf,
    # summed over matched branches
    def tfidf_topk(spark, sf):
        from trinity_spark.functions.tfidf import tfidf_similarity

        planner = _index(spark, sf)
        planner.similarity = tfidf_similarity
        scored = planner.score_all("join AND merge")
        return _top10(scored)

    q["tfidf_topk"] = tfidf_topk

    # §2.10/similarity.h:56-74 — the Trivial scorer: score == raw match freq
    def trivial_topk(spark, sf):
        from trinity_spark.functions.tfidf import trivial_similarity

        planner = _index(spark, sf)
        planner.similarity = trivial_similarity
        scored = planner.score_all("scan OR vector")
        return _top10(scored)

    q["trivial_topk"] = trivial_topk

    # --- training-data pipeline operators (trinity_spark.dataops) ---

    def _docs(spark, sf):
        return spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")

    def dedup_exact_groups(spark, sf):
        from trinity_spark.dataops.dedup import exact_duplicates

        g = exact_duplicates(_docs(spark, sf))
        return g.select(
            "hash",
            F.col("dup_count").cast("long").alias("dup_count"),
            F.array_min("doc_ids").cast("long").alias("min_doc_id"),
        )

    def dedup_minhash_signatures(spark, sf):
        from trinity_spark.dataops.dedup import minhash_signatures

        docs = _docs(spark, sf).where(
            F.size(F.split(F.trim("text"), r"\s+")) >= 3
        )
        return minhash_signatures(docs, num_hashes=4)

    def dedup_minhash_pairs(spark, sf):
        # the FULL MinHash->LSH->verify pipeline (signatures entry covers
        # stage 1; this one proves band bucketing + candidate verification)
        from trinity_spark.dataops.dedup import minhash_near_duplicates

        docs = _docs(spark, sf).where(
            F.size(F.split(F.trim("text"), r"\s+")) >= 3
        )
        p = minhash_near_duplicates(docs, num_hashes=4, bands=2, threshold=0.5)
        return p.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )

    def percolator_route(spark, sf):
        # reverse search (percolator.cpp:1-134): docs x registered queries
        from trinity_spark.operators.percolator import percolate

        qmap = {
            "q_and": "join AND merge",
            "q_or": "scan OR vector",
            "q_not": "hash NOT join",
            "q_phrase": '"table hash"',
        }
        return percolate(_docs(spark, sf), qmap).select(
            F.col("doc_id").cast("long").alias("doc_id"), "query_id"
        )

    def percolator_routed_entry(spark, sf):
        # term-routed percolation (the many-registered-queries scale path):
        # same registry, same matches as the full scan — the oracle is the
        # SAME EXISTS SQL, so an unsound routing set (a pruned-away match)
        # fails the hash
        from trinity_spark.operators.percolator import percolate_routed

        qmap = {
            "q_and": "join AND merge",
            "q_or": "scan OR vector",
            "q_not": "hash NOT join",
            "q_phrase": '"table hash"',
        }
        return percolate_routed(_docs(spark, sf), qmap).select(
            F.col("doc_id").cast("long").alias("doc_id"), "query_id"
        )

    def embedding_exact_groups(spark, sf):
        # exact embedding dedup (window min over the vector value, one
        # shuffle, no verify); planted dups: every 10th vector re-appears
        # under id+100000, so groups are non-trivial
        from trinity_spark.dataops.similarity import exact_embedding_groups

        vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        dups = vecs.where(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        return exact_embedding_groups(vecs.unionByName(dups))

    def conversation_dedup(spark, sf):
        # conversation-SCOPE exact dedup (dedup.conversation_texts): docs
        # grouped into pseudo-conversations of 5 turns, every 7th
        # conversation re-posted under conv_id+100000 — the whole-transcript
        # duplicate per-turn dedup can't see; groups resolve to the smallest
        # conv_id.  Oracle replicates the turn-ordered concatenation with
        # string_agg(ORDER BY turn_idx)
        from trinity_spark.dataops.dedup import conversation_texts, exact_duplicates

        turns = _docs(spark, sf).select(
            F.floor(F.col("doc_id") / 5).cast("long").alias("conv_id"),
            F.pmod(F.col("doc_id"), F.lit(5)).cast("int").alias("turn_idx"),
            "text",
        )
        dups = turns.where(F.col("conv_id") % 7 == 0).withColumn(
            "conv_id", F.col("conv_id") + 100000
        )
        convs = conversation_texts(turns.unionByName(dups))
        g = exact_duplicates(convs, id_col="conv_id")
        return g.select(
            "hash",
            F.col("dup_count").cast("long").alias("dup_count"),
            F.array_min("doc_ids").cast("long").alias("min_conv_id"),
        )

    def dedup_ngram_jaccard(spark, sf):
        from trinity_spark.dataops.dedup import ngram_jaccard_pairs

        docs = _docs(spark, sf).where(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
        p = ngram_jaccard_pairs(docs, threshold=0.5)
        return p.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

    def dedup_simhash(spark, sf):
        from trinity_spark.dataops.dedup import simhash

        return simhash(_docs(spark, sf).where(F.col("text") != ""))

    def text_analysis(spark, sf):
        from trinity_spark.dataops.textstats import analyze

        return analyze(_docs(spark, sf)).select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.col("n_chars").cast("long").alias("n_chars"),
            "lang",
            "quality",
            "fingerprint",
        )

    def text_repetition(spark, sf):
        # Gopher-style intra-document repetition metrics
        # (trinity_spark/dataops/textstats.py:repetition_stats)
        from trinity_spark.dataops.textstats import repetition_stats

        return repetition_stats(_docs(spark, sf))

    def ann_topk(spark, sf):
        from trinity_spark.dataops.similarity import brute_force_topk

        vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
        query = vecs.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        return brute_force_topk(
            vecs.where(F.col("vec_id") != 0), [float(x) for x in query], k=10
        )

    def substring_dedup(spark, sf):
        # Exact-substring (token-window) dedup metrics: hash every 8-token
        # window, count corpus-wide, report per-doc duplicated-window counts
        # and the token fraction covered by the union of duplicated windows
        # (trinity_spark/dataops/dedup.py:substring_dup_stats).
        from trinity_spark.dataops.dedup import substring_dup_stats

        return substring_dup_stats(_docs(spark, sf), window=8)

    def remove_dup_spans(spark, sf):
        # Exact-substring dedup remediation: cut every non-canonical
        # duplicated 8-token span out of the corpus, keeping the globally
        # smallest (start, doc_id) occurrence per window hash
        # (trinity_spark/dataops/dedup.py:remove_duplicate_spans).
        from trinity_spark.dataops.dedup import remove_duplicate_spans

        return remove_duplicate_spans(_docs(spark, sf), window=8)

    def event_sessions(spark, sf):
        # Gap-based sessionization of the events stream (6h idle gap) +
        # per-session rollup (trinity_spark/dataops/sessions.py): one
        # window shuffle on user_id, one map-side-combined aggregation.
        from trinity_spark.dataops.sessions import session_stats

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return session_stats(ev, gap_minutes=360).select(
            "user_id", "session_id", "n_events", "duration_sec", "value_sum"
        )

    def media_n_bytes(spark, sf):
        from trinity_spark.dataops.multimodal import extract_features, make_media_table

        media = make_media_table(_docs(spark, sf))
        return extract_features(media, fake=True).select(
            "media_id", F.col("n_bytes").cast("long").alias("n_bytes")
        )

    q["dedup_exact_groups"] = dedup_exact_groups

    def dedup_exact_normalized(spark, sf):
        # normalized-key variant (dedup on the first-8-word prefix): the
        # harness corpus has no byte-identical docs, so the strict entry
        # above legitimately returns 0 groups — this one produces real
        # collision groups and exercises the hash-groupBy path non-trivially
        from trinity_spark.dataops.dedup import exact_duplicates

        docs = _docs(spark, sf).select(
            "doc_id",
            F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias("text"),
        )
        g = exact_duplicates(docs)
        return g.select(
            "hash",
            F.col("dup_count").cast("long").alias("dup_count"),
            F.array_min("doc_ids").cast("long").alias("min_doc_id"),
        )

    q["dedup_exact_normalized"] = dedup_exact_normalized
    q["dedup_minhash_signatures"] = dedup_minhash_signatures
    q["dedup_minhash_pairs"] = dedup_minhash_pairs
    q["percolator"] = percolator_route
    q["percolator_routed"] = percolator_routed_entry
    q["conversation_dedup"] = conversation_dedup
    q["embedding_exact_groups"] = embedding_exact_groups
    q["dedup_ngram_jaccard"] = dedup_ngram_jaccard

    # duplicate-CLUSTER resolution: exact n-gram-Jaccard pairs -> connected
    # components (min-id label propagation) — the canonical-doc-selection
    # step after pair generation; oracle = DuckDB recursive-CTE closure
    def dedup_components(spark, sf):
        from trinity_spark.dataops.dedup import (
            connected_components,
            ngram_jaccard_pairs,
        )

        docs = _docs(spark, sf).where(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
        pairs = ngram_jaccard_pairs(docs, threshold=0.5)
        return connected_components(pairs).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("component").cast("long").alias("component"),
        )

    q["dedup_components"] = dedup_components

    # composed curation pipeline (gates -> exact dedup), auditable reasons
    def curate_corpus(spark, sf):
        from trinity_spark.dataops.curate import curate

        return curate(
            _docs(spark, sf), min_tokens=5, min_quality=0.3,
            languages=("en",), near_dup_threshold=None,
            max_top_ngram_char_frac=0.2,
        ).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality", "lang",
            F.col("component").cast("long").alias("component"),
            "keep", "reason",
        )

    # §2.1/codecs.h:93-95 — selectable wire codec, end-to-end: a PHYSICAL
    # segment store written with the PFOR wire (functions/pfor.py, the
    # lucene_codec.cpp:163-304 128-block FOR packing), codec identity in
    # segment lineage, queried through the block decode path — same SQL
    # oracle as the logical-index entries, so a wire bug cannot hide
    def bm25_pfor_store(spark, sf):
        from trinity_spark.operators.indexer import SegmentIndex, build_index
        from trinity_spark.plans.planner import QueryPlanner
        from trinity_spark.sources.store import SegmentStore

        docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
        # conv_id = zero-padded doc_id, one turn per conv -> the engine's
        # dense (conv_id, turn_idx) assignment reproduces the table's own ids
        turns = docs.select(
            F.format_string("%020d", F.col("doc_id")).alias("conv_id"),
            F.lit(0).cast("long").alias("turn_idx"),
            "text",
        )
        store = SegmentStore(_entry_tmpdir("trinity_pfor_entry_"))
        build_index(spark, turns, store, rows_per_segment=250, codec="pfor")
        if store.layout().codec != "pfor":
            # codec identity is the point of this entry; a bare assert
            # would be compiled out under python -O
            raise RuntimeError(
                f"pfor store committed codec {store.layout().codec!r}"
            )
        planner = QueryPlanner(SegmentIndex(spark, store))
        scored = planner.score_all("hash AND scan")
        return _top10(scored)

    def ann_lsh_topk(spark, sf):
        # LSH-bucketed ANN with a PARTIAL probe (radius 2 of 8 bits): the
        # oracle re-derives the md5 hyperplanes, signatures, and hamming
        # pruning in SQL, so this checks the approximate path itself — not
        # just its agreement with brute force.
        from trinity_spark.dataops.similarity import add_lsh_signatures, lsh_topk

        vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
        query = [float(x) for x in vecs.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        sigged, planes = add_lsh_signatures(
            vecs.where(F.col("vec_id") != 0), dim=64, bits=8, seed=7
        )
        return lsh_topk(sigged, planes, query, k=10, probe_radius=2)

    def ann_ivf_topk(spark, sf):
        # IVF train (deterministic md5-sample init + 1 Lloyd round) + assign
        # + FULL probe: probing every list must reproduce exact brute force,
        # which is what the SQL oracle computes.  Checks that assignment
        # neither drops nor duplicates vectors end-to-end.
        from trinity_spark.dataops.similarity import ivf_index, ivf_topk

        vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
        query = [float(x) for x in vecs.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        indexed, cents = ivf_index(vecs.where(F.col("vec_id") != 0), n_lists=8, iters=1)
        return ivf_topk(indexed, cents, query, k=10, n_probe=8)

    def ann_ivf_partitioned(spark, sf):
        # The 100 TB ANN query route: the IVF-assigned table persisted
        # PARTITIONED BY list_id (write_ivf_partitioned), then a PARTIAL
        # probe (3 of 8 lists) whose list_id IN (...) predicate is satisfied
        # by Spark PARTITION PRUNING — non-probed lists' files never open.
        # iters=0 => centroids are exactly the md5-sampled init vectors, so
        # the oracle re-derives assignment AND probe selection in SQL and
        # scans only the probed lists (not the full corpus): this checks the
        # pruned path itself, not its agreement with brute force.
        from trinity_spark.dataops.similarity import (
            ivf_index,
            ivf_topk_partitioned,
            write_ivf_partitioned,
        )

        vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
        query = [float(x) for x in vecs.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        indexed, cents = ivf_index(vecs.where(F.col("vec_id") != 0), n_lists=8, iters=0)
        path = _entry_tmpdir("trinity_ivf_part_") + "/ivf"
        write_ivf_partitioned(indexed, path)
        return ivf_topk_partitioned(spark, path, cents, query, k=10, n_probe=3)

    def embedding_near_dup(spark, sf):
        # Embedding-cosine near-duplicate pairs: 12-bit signature, two 6-bit
        # bands, exact verify.  The harness corpus has no true near-dups
        # (max pairwise cosine ~0.51), so the threshold sits where it splits
        # the banded candidate set non-trivially; semantics are identical at
        # any threshold.  Oracle reimplements banding + verify in SQL.
        from trinity_spark.dataops.similarity import cosine_pairs

        vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
        return cosine_pairs(vecs, dim=64, threshold=0.35, bits=12, band_bits=6, seed=7)

    def semantic_dedup_pairs(spark, sf):
        # SemDeDup-style cluster-scoped semantic near-dup pairs
        # (similarity.semantic_dedup_pairs, arXiv:2303.09540): k-means
        # partition the embeddings, then exact cosine ONLY within clusters.
        # Deterministic init centroids (iters=0: the 4 smallest-md5(id)
        # vectors) keep the assignment SQL-replicable; the oracle re-derives
        # init, argmax-cosine assignment (ties to the higher list id, the
        # array_max struct order), within-cluster pairing, and the verify —
        # so a wrong assignment changes the pair set and fails the hash.
        # Scalable Lloyd training is pinned by pytest (ivf_index_scalable).
        from trinity_spark.dataops.similarity import (
            ivf_index,
            semantic_dedup_pairs as sd_pairs,
        )

        vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        indexed, _cents = ivf_index(vecs, n_lists=4, iters=0)
        return sd_pairs(indexed, threshold=0.35)

    def ann_batch_topk(spark, sf):
        # batched exact ANN (brute_force_topk_many): three query vectors,
        # ONE corpus scan (M @ Q.T per Arrow batch, batch-local top-k under
        # the final total order, tiny candidate shuffle).  Oracle computes
        # each query's cosine top-k independently and unions them.
        from trinity_spark.dataops.similarity import brute_force_topk_many

        vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        qrows = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in vecs.where(F.col("vec_id") < 3).collect()
        }
        queries = [(f"q{i}", qrows[i]) for i in sorted(qrows)]
        return brute_force_topk_many(
            vecs.where(F.col("vec_id") >= 3), queries, k=10
        )

    def data_split(spark, sf):
        # deterministic hash-based train/val/test split: pure function of
        # (seed, doc_id), stable under appends/re-runs — the property a
        # 100 TB corpus needs (a sampled split reshuffles on every run)
        from trinity_spark.dataops.traindata import hash_split

        return hash_split(_docs(spark, sf)).select("doc_id", "bucket", "split")

    def source_mixture(spark, sf):
        # deterministic mixture reweighting (traindata.sample_sources):
        # src0 upsampled to 2.5 epochs, src1 thinned to 0.4, src2 dropped,
        # everything else kept at 1.0 — copy counts are a pure function of
        # (seed, doc_id) so the mix is append-stable
        from trinity_spark.dataops.traindata import sample_sources

        docs = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "source"
        )
        return sample_sources(
            docs, {"src0": 2.5, "src1": 0.4, "src2": 0.0}, seed=11
        ).select("doc_id", "source", "epoch")

    def bm25_page2(spark, sf):
        # search-after deep paging: the SECOND page (rows 11-20) of a BM25
        # disjunction, fetched with a cursor filter — never re-materializing
        # the first page.  Entry-side cursor works on the ROUNDED order all
        # bm25_* entries share (cross-engine float noise can't flip the page
        # boundary); the engine's plan(after=...) raw-score cursor is pinned
        # rank-identical by the pocket-oracle paging tests in test_engine.py
        scored = _index(spark, sf).score_all("scan OR vector OR batch").select(
            "doc_id", F.round("score", 6).alias("score")
        )
        p1 = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
        if not p1:  # empty page 1 -> empty page 2 (oracle's rn 11..20 agrees)
            return scored.where(F.lit(False)).orderBy(
                F.desc("score"), F.asc("doc_id")
            )
        s, d = p1[-1]["score"], p1[-1]["doc_id"]
        cursor = (F.col("score") < F.lit(s)) | (
            (F.col("score") == F.lit(s)) & (F.col("doc_id") > F.lit(d))
        )
        return (
            scored.where(cursor)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
        )

    def bm25_facets(spark, sf):
        # result-set facet counts (operators/grouped.facet_counts): how the
        # matches of a DocumentsOnly query distribute over metadata
        # dimensions — matching_docs (scorer never runs) joined to a narrow
        # (id, lang, source) projection, one map-side-combined groupBy
        from trinity_spark.operators.grouped import facet_counts

        planner = _index(spark, sf)
        matching = planner.matching_docs("merge AND join")
        meta = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "lang", "source"
        )
        return facet_counts(matching, meta, ["lang", "source"])

    def balanced_corpus(spark, sf):
        # exact per-stratum balanced downsample (traindata.balanced_sample):
        # equal doc counts per language in deterministic md5(seed|id) order —
        # the class-balancing pass classifier training data needs; per-row
        # probabilistic sampling can't hit exact counts
        from trinity_spark.dataops.traindata import balanced_sample

        docs = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "lang"
        )
        return balanced_sample(docs, "lang", n_per_stratum=50, seed=13)

    def knn_labels(spark, sf):
        # kNN label propagation (similarity.knn_classify): vectors 0-99 act
        # as the labeled seed set, every other vector takes the majority
        # label of its 5 nearest seeds by cosine — ONE corpus scan, zero
        # shuffles (the seed matrix rides into each Arrow batch).  Contract:
        # cosine rounded to 6, neighbor ties by seed id asc, vote ties by
        # label asc — all replicated in the oracle
        from trinity_spark.dataops.similarity import knn_classify

        ev = spark.read.parquet(f"{sf}/embeddings.parquet")
        labeled = [
            (int(r["vec_id"]), int(r["label"]), [float(x) for x in r["embedding"]])
            for r in ev.where(F.col("vec_id") < 100).collect()
        ]
        return knn_classify(
            ev.where(F.col("vec_id") >= 100).select("vec_id", "embedding"),
            labeled,
            k=5,
        )

    def intersect_counts(spark, sf):
        # token-subset intersection counting (intersect.cpp:5-230 parity;
        # operators/intersect.py): docs per exact token-subset bitmask —
        # bit 0 = 'join', bit 1 = 'merge', bit 2 = 'scan'
        from trinity_spark.operators.fastbuild import postings_from_turns
        from trinity_spark.operators.intersect import intersection_counts

        postings = postings_from_turns(_docs(spark, sf))
        return intersection_counts(postings, ["join", "merge", "scan"]).select(
            F.col("mask").cast("long").alias("mask"),
            F.col("doc_count").cast("long").alias("doc_count"),
        )

    def pii_redaction(spark, sf):
        # pattern-tier PII scrubbing (dataops/scrub.redact_pii): the corpus
        # is synthetic and clean, so every 5th doc gets a deterministic
        # email + IPv4 suffix injected first — counts and replacement are
        # then non-trivial; the oracle injects the identical suffix
        from trinity_spark.dataops.scrub import redact_pii

        docs = _docs(spark, sf).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com from 10.0.0."),
                    (F.col("doc_id") % 256).cast("string"),
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return redact_pii(docs)

    def doc_chunks(spark, sf):
        # overlapping token-window chunking (dataops/scrub.chunk_documents):
        # deterministic (doc_id, chunk_id) identity, verbatim token windows
        from trinity_spark.dataops.scrub import chunk_documents

        return chunk_documents(_docs(spark, sf), chunk_tokens=32, overlap=8)

    def decontaminate_corpus(spark, sf):
        # eval-set decontamination: every 20th doc plays the benchmark, the
        # rest are checked for shared word 5-grams (broadcast probe join)
        from trinity_spark.dataops.traindata import decontaminate

        docs = _docs(spark, sf)
        bench = docs.where(F.col("doc_id") % 20 == 0)
        corpus = docs.where(F.col("doc_id") % 20 != 0)
        return decontaminate(corpus, bench, n=5)

    def pack_sequences_bins(spark, sf):
        # contiguous token-budget packing (concat-then-chunk): bin_id =
        # exclusive-prefix-sum(n_tokens in doc_id order) // budget, computed
        # with the distributed two-phase prefix sum (no global window)
        from trinity_spark.dataops.traindata import pack_sequences

        return pack_sequences(_docs(spark, sf), budget=512)

    def bm25_conv_topk(spark, sf):
        # group-scope retrieval (operators/grouped.py): top-k CONVERSATIONS
        # by summed BM25 of their matching turns — documents grouped into
        # pseudo-conversations of 5 for a deterministic multi-turn mapping
        from trinity_spark.operators.grouped import grouped_topk

        planner = _index(spark, sf)
        scored = planner.score_all("join AND merge")
        groups = _docs(spark, sf).select(
            "doc_id", F.floor(F.col("doc_id") / 5).cast("long").alias("conv_id")
        )
        out = grouped_topk(scored, groups, k=10)
        return out.select(
            "conv_id", F.col("n_docs").cast("long").alias("n_turns"), "score"
        )

    q["bm25_conv_topk"] = bm25_conv_topk
    q["data_split"] = data_split
    q["source_mixture"] = source_mixture
    q["intersect_counts"] = intersect_counts
    q["pii_redaction"] = pii_redaction
    q["doc_chunks"] = doc_chunks
    q["decontaminate_corpus"] = decontaminate_corpus
    q["pack_sequences"] = pack_sequences_bins
    q["ann_lsh_topk"] = ann_lsh_topk
    q["ann_ivf_topk"] = ann_ivf_topk
    q["ann_ivf_partitioned"] = ann_ivf_partitioned
    q["ann_batch_topk"] = ann_batch_topk
    q["embedding_near_dup"] = embedding_near_dup
    q["semantic_dedup_pairs"] = semantic_dedup_pairs
    q["bm25_pfor_store"] = bm25_pfor_store
    q["curate_corpus"] = curate_corpus
    q["dedup_simhash"] = dedup_simhash
    q["text_analysis"] = text_analysis
    q["text_repetition"] = text_repetition
    q["substring_dedup"] = substring_dedup
    q["remove_dup_spans"] = remove_dup_spans
    q["event_sessions"] = event_sessions
    q["ann_cosine_topk"] = ann_topk
    q["media_feature_plumbing"] = media_n_bytes
    q["balanced_sample"] = balanced_corpus
    q["knn_classify"] = knn_labels
    q["bm25_page2"] = bm25_page2
    q["bm25_facets"] = bm25_facets
    # Driver correctness snapshots have historically recorded at most 50
    # rows (round 4 recorded 50/54, dropping exactly the LAST-registered
    # entries).  Order the registry so every entry that has never had a
    # driver row sits inside the first 50 positions; the tail re-lists
    # entries whose green rows already exist in CORRECTNESS_r04.json.
    tail = [
        "pii_redaction",
        "doc_chunks",
        "text_repetition",
        "substring_dedup",
        "remove_dup_spans",
    ]
    ordered = {n: fn for n, fn in q.items() if n not in tail}
    # ENFORCED, not just hand-maintained: the non-tail count sits exactly at
    # the 50-row snapshot cap, so the very next entry added before the tail
    # block would silently fall out of driver snapshots again (the 8a64d6b
    # regression).  Raising here keeps the failure loud and local — move an
    # already-green entry into `tail` when registering a new one.
    if len(ordered) > 50:
        raise RuntimeError(
            f"{len(ordered)} entries registered ahead of the 50-row driver "
            "snapshot cap; move an already-driver-green entry into `tail`"
        )
    for n in tail:
        ordered[n] = q[n]
    return ordered


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB-equivalent ANSI SQL over the same parquet views
# ---------------------------------------------------------------------------

_TOKS = """
toks AS (
  SELECT doc_id, u.term, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents
  ) u
  WHERE u.term <> ''
  GROUP BY doc_id, u.term
)"""

_STATS = """
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM toks GROUP BY term)"""


def _score_sql(where: str, having: str = "", phrase: bool = False) -> str:
    """Shared skeleton: per-doc BM25 sum over the matched query terms."""
    return f"""
WITH {_TOKS}, {_STATS},
scored AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + {K1}))) AS raw
  FROM toks t
  JOIN dfs d ON d.term = t.term
  CROSS JOIN stats s
  WHERE {where}
  GROUP BY t.doc_id
  {having}
)
SELECT doc_id, round(raw, 6) AS score
FROM scored
ORDER BY round(raw, 6) DESC, doc_id ASC
LIMIT 10
"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["term_dict"] = f"""
WITH {_TOKS}
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM toks GROUP BY term
"""
    o["field_stats"] = f"""
WITH {_TOKS}
SELECT CAST(sum(tf) AS BIGINT) AS sum_term_hits,
       CAST(count(DISTINCT term) AS BIGINT) AS total_terms,
       CAST(count(*) AS BIGINT) AS sum_terms_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS docs_cnt
FROM toks
"""
    o["postings_scan"] = f"""
WITH {_TOKS}
SELECT doc_id, tf FROM toks WHERE term = 'spark'
"""
    o["bm25_single_term"] = _score_sql("t.term = 'spark'")
    o["bm25_and"] = _score_sql(
        "t.term IN ('join','merge')", having="HAVING count(DISTINCT t.term) = 2"
    )
    o["bm25_or"] = _score_sql("t.term IN ('scan','vector')")
    o["bm25_hits"] = f"""
WITH {_TOKS}, {_STATS},
scored AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + {K1}))) AS raw
  FROM toks t
  JOIN dfs d ON d.term = t.term
  CROSS JOIN stats s
  WHERE t.term IN ('join','merge')
  GROUP BY t.doc_id
  HAVING count(DISTINCT t.term) = 2
),
top AS (
  SELECT doc_id, round(raw, 6) AS score FROM scored
  ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT 10
),
d2 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
pos AS (
  SELECT u.doc_id, u.p.term AS term, u.p.pos AS pos
  FROM (
    SELECT doc_id,
           unnest(list_transform(tk, (t, i) -> struct_pack(term := t, pos := i))) AS p
    FROM d2
  ) u
  WHERE u.p.term <> ''
),
hits AS (
  SELECT p.doc_id, p.term, CAST(count(*) AS BIGINT) AS tf,
         string_agg(CAST(p.pos AS VARCHAR), ',' ORDER BY p.pos) AS pos_csv
  FROM pos p JOIN top t ON t.doc_id = p.doc_id
  WHERE p.term IN ('join','merge')
  GROUP BY p.doc_id, p.term
)
SELECT t.doc_id, t.score, h.term, h.tf, h.pos_csv
FROM top t JOIN hits h ON h.doc_id = t.doc_id
"""
    o["bm25_not"] = f"""
WITH {_TOKS}, {_STATS},
scored AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + {K1}))) AS raw
  FROM toks t
  JOIN dfs d ON d.term = t.term
  CROSS JOIN stats s
  WHERE t.term = 'hash'
    AND t.doc_id NOT IN (SELECT doc_id FROM toks WHERE term = 'join')
  GROUP BY t.doc_id
)
SELECT doc_id, round(raw, 6) AS score
FROM scored ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT 10
"""
    # PFOR-wired physical store scores identically to the logical index —
    # the oracle is plain BM25; codec correctness IS the assertion
    o["bm25_pfor_store"] = _score_sql(
        "t.term IN ('hash','scan')", having="HAVING count(DISTINCT t.term) = 2"
    )
    o["bm25_minmatch"] = _score_sql(
        "t.term IN ('sort','merge','window')",
        having="HAVING count(DISTINCT t.term) >= 2",
    )
    # keep-first trim: only the first 2 of 4 OR'd tokens survive
    o["bm25_trimmed"] = _score_sql("t.term IN ('spark','join')")
    o["docs_only_matching"] = f"""
WITH {_TOKS}
SELECT doc_id FROM toks
WHERE term IN ('join','merge')
  AND doc_id NOT IN (SELECT doc_id FROM toks WHERE term = 'slow')
GROUP BY doc_id
HAVING count(DISTINCT term) = 2
ORDER BY doc_id
"""
    # rewrite-down-weighted OR: synonym branch 'merge' scored at 0.5x
    o["bm25_rewrite_downweight"] = f"""
WITH {_TOKS}, {_STATS},
scored AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + {K1}))
             * CASE WHEN t.term = 'merge' THEN 0.5 ELSE 1.0 END) AS raw
  FROM toks t
  JOIN dfs d ON d.term = t.term
  CROSS JOIN stats s
  WHERE t.term IN ('join','merge')
  GROUP BY t.doc_id
)
SELECT doc_id, round(raw, 6) AS score
FROM scored
ORDER BY round(raw, 6) DESC, doc_id ASC
LIMIT 10
"""
    # TF-IDF scorer (similarity.h:75-130): idf = ln((N+1)/(df+1)) + 1,
    # per-branch score = sqrt(tf) * idf, summed over matched branches
    o["tfidf_topk"] = f"""
WITH {_TOKS}, {_STATS},
scored AS (
  SELECT t.doc_id,
         sum(sqrt(t.tf) * (ln((s.n + 1) / (d.df + 1)) + 1.0)) AS raw
  FROM toks t
  JOIN dfs d ON d.term = t.term
  CROSS JOIN stats s
  WHERE t.term IN ('join','merge')
  GROUP BY t.doc_id
  HAVING count(DISTINCT t.term) = 2
)
SELECT doc_id, round(raw, 6) AS score
FROM scored ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT 10
"""
    # Trivial scorer (similarity.h:56-74): per-branch score = raw freq
    o["trivial_topk"] = f"""
WITH {_TOKS}
SELECT doc_id, round(CAST(sum(tf) AS DOUBLE), 6) AS score
FROM toks
WHERE term IN ('scan','vector')
GROUP BY doc_id
ORDER BY round(CAST(sum(tf) AS DOUBLE), 6) DESC, doc_id ASC
LIMIT 10
"""
    # phrase: adjacency via position lists; phrase freq is the BM25 freq and
    # phrase idf = sum of member idfs (similarity.h:209-217)
    o["bm25_phrase"] = f"""
WITH pos AS (
  SELECT doc_id, u.term, u.p
  FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS term,
           generate_subscripts(string_split(text, ' '), 1) AS p
    FROM documents
  ) u
  WHERE u.term <> ''
), {_TOKS}, {_STATS},
pf AS (
  SELECT a.doc_id, CAST(count(*) AS DOUBLE) AS pf
  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  WHERE a.term = 'table' AND b.term = 'hash'
  GROUP BY a.doc_id
),
phrase_idf AS (
  SELECT sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))) AS idf
  FROM dfs d, stats s WHERE d.term IN ('table','hash')
)
SELECT pf.doc_id, round(i.idf * (pf.pf / (pf.pf + {K1})), 6) AS score
FROM pf, phrase_idf i
ORDER BY round(i.idf * (pf.pf / (pf.pf + {K1})), 6) DESC, pf.doc_id ASC
LIMIT 10
"""
    # mixed: ("table hash" OR vector) AND join NOT slow
    # score = sum of matched branch scores: phrase-or-vector branch + join branch
    o["bm25_mixed"] = f"""
WITH pos AS (
  SELECT doc_id, u.term, u.p
  FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS term,
           generate_subscripts(string_split(text, ' '), 1) AS p
    FROM documents
  ) u
  WHERE u.term <> ''
), {_TOKS}, {_STATS},
pf AS (
  SELECT a.doc_id, CAST(count(*) AS DOUBLE) AS pf
  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  WHERE a.term = 'table' AND b.term = 'hash'
  GROUP BY a.doc_id
),
idfs AS (
  SELECT d.term, ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) AS idf
  FROM dfs d, stats s
),
phrase_score AS (
  SELECT pf.doc_id,
         (SELECT sum(idf) FROM idfs WHERE term IN ('table','hash')) * (pf.pf / (pf.pf + {K1})) AS s
  FROM pf
),
vector_score AS (
  SELECT t.doc_id, i.idf * (t.tf / (t.tf + {K1})) AS s
  FROM toks t JOIN idfs i ON i.term = t.term WHERE t.term = 'vector'
),
or_branch AS (
  SELECT coalesce(p.doc_id, v.doc_id) AS doc_id,
         coalesce(p.s, 0) + coalesce(v.s, 0) AS s
  FROM phrase_score p FULL OUTER JOIN vector_score v ON v.doc_id = p.doc_id
),
join_score AS (
  SELECT t.doc_id, i.idf * (t.tf / (t.tf + {K1})) AS s
  FROM toks t JOIN idfs i ON i.term = t.term WHERE t.term = 'join'
),
anded AS (
  SELECT o.doc_id, o.s + j.s AS raw
  FROM or_branch o JOIN join_score j ON j.doc_id = o.doc_id
  WHERE o.doc_id NOT IN (SELECT doc_id FROM toks WHERE term = 'slow')
)
SELECT doc_id, round(raw, 6) AS score
FROM anded ORDER BY round(raw, 6) DESC, doc_id ASC LIMIT 10
"""

    # --- training-data pipeline oracles -----------------------------------

    o["dedup_exact_groups"] = """
SELECT md5(text) AS hash,
       CAST(count(*) AS BIGINT) AS dup_count,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""
    o["dedup_exact_normalized"] = """
WITH norm AS (
  SELECT doc_id,
         array_to_string(string_split(text, ' ')[1:8], ' ') AS text
  FROM documents
)
SELECT md5(text) AS hash,
       CAST(count(*) AS BIGINT) AS dup_count,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM norm GROUP BY md5(text) HAVING count(*) > 1
"""
    o["collection_topk"] = f"""
WITH toks AS (
  SELECT doc_id, doc_id % 2 AS source, u.term, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) u
  WHERE u.term <> ''
  GROUP BY doc_id, u.term
),
stats AS (
  SELECT doc_id % 2 AS source, CAST(count(*) AS DOUBLE) AS n
  FROM documents GROUP BY 1
),
dfs AS (
  SELECT source, term, CAST(count(*) AS DOUBLE) AS df
  FROM toks GROUP BY source, term
),
scored AS (
  SELECT t.source, t.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + {K1}))) AS raw
  FROM toks t
  JOIN dfs d ON d.term = t.term AND d.source = t.source
  JOIN stats s ON s.source = t.source
  WHERE t.term IN ('join','merge')
  GROUP BY t.source, t.doc_id
  HAVING count(DISTINCT t.term) = 2
)
SELECT CAST(source AS INT) AS source, doc_id, round(raw, 6) AS score
FROM scored
ORDER BY round(raw, 6) DESC, source ASC, doc_id ASC
LIMIT 10
"""

    # shingle CTE shared by the minhash/jaccard oracles (docs with >= 3 tokens;
    # word-3-gram shingles, DISTINCT, mirroring dataops.dedup.shingles)
    _SH = """
toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
  WHERE len(string_split(trim(text), ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks)
)"""

    o["dedup_minhash_signatures"] = f"""
WITH {_SH}
SELECT doc_id,
       min(md5('0|' || sh)) AS h0,
       min(md5('1|' || sh)) AS h1,
       min(md5('2|' || sh)) AS h2,
       min(md5('3|' || sh)) AS h3
FROM sh GROUP BY doc_id
"""

    # full MinHash pipeline: 4 hashes / 2 bands (rows=2), band bucket =
    # md5(h_a || '|' || h_b) exactly like dedup.lsh_candidate_pairs, then
    # exact-jaccard verification of candidates at threshold 0.5
    o["dedup_minhash_pairs"] = f"""
WITH {_SH},
sigs AS (
  SELECT doc_id,
         min(md5('0|' || sh)) AS h0, min(md5('1|' || sh)) AS h1,
         min(md5('2|' || sh)) AS h2, min(md5('3|' || sh)) AS h3
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS bucket FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band, md5(h2 || '|' || h3) AS bucket FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON b.band = a.band AND b.bucket = a.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(DISTINCT a.sh) AS inter
  FROM sh a JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
FROM cand c
JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.5
"""

    o["percolator"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
pos AS (
  SELECT u.doc_id, u.p.term AS term, u.p.pos AS pos
  FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(text, ' '),
                                 (t, i) -> struct_pack(term := t, pos := i))) AS p
    FROM documents
  ) u
)
SELECT doc_id, 'q_and' AS query_id FROM documents d
WHERE EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = d.doc_id AND t.term = 'join')
  AND EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = d.doc_id AND t.term = 'merge')
UNION ALL
SELECT doc_id, 'q_or' FROM documents d
WHERE EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = d.doc_id AND t.term = 'scan')
   OR EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = d.doc_id AND t.term = 'vector')
UNION ALL
SELECT doc_id, 'q_not' FROM documents d
WHERE EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = d.doc_id AND t.term = 'hash')
  AND NOT EXISTS (SELECT 1 FROM toks t WHERE t.doc_id = d.doc_id AND t.term = 'join')
UNION ALL
SELECT doc_id, 'q_phrase' FROM documents d
WHERE EXISTS (
  SELECT 1 FROM pos p1 JOIN pos p2
    ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
  WHERE p1.doc_id = d.doc_id AND p1.term = 'table' AND p2.term = 'hash')
"""

    o["percolator_routed"] = o["percolator"]

    # batched ANN: per-query cosine top-k, unioned; queries are the first
    # three stored vectors, corpus is the rest
    o["ann_batch_topk"] = """
WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
qs AS (SELECT 'q' || vec_id AS query_id, v AS qv FROM ev WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.v, q.qv)
               / greatest(sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(q.qv, q.qv)), 1e-300), 6) AS score
  FROM ev e, qs q WHERE e.vec_id >= 3
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rn <= 10
"""

    # deep paging: rows 11-20 of the rounded deterministic order (the
    # cursor formulation on the Spark side selects exactly the rows after
    # rank 10, so an offset window is the equivalent oracle)
    o["bm25_page2"] = f"""
WITH {_TOKS}, {_STATS},
scored AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + {K1}))) AS raw
  FROM toks t
  JOIN dfs d ON d.term = t.term
  CROSS JOIN stats s
  WHERE t.term IN ('scan', 'vector', 'batch')
  GROUP BY t.doc_id
),
ranked AS (
  SELECT doc_id, round(raw, 6) AS score,
         row_number() OVER (ORDER BY round(raw, 6) DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT doc_id, score FROM ranked WHERE rn BETWEEN 11 AND 20
"""

    # facet counts over a DocumentsOnly match set: EXISTS per required term,
    # group by the metadata dimensions, deterministic render order
    o["bm25_facets"] = f"""
WITH {_TOKS}
SELECT d.lang, d.source, CAST(count(*) AS BIGINT) AS n_docs
FROM documents d
WHERE EXISTS (SELECT 1 FROM toks t
              WHERE t.doc_id = d.doc_id AND t.term = 'merge')
  AND EXISTS (SELECT 1 FROM toks t
              WHERE t.doc_id = d.doc_id AND t.term = 'join')
GROUP BY d.lang, d.source
ORDER BY n_docs DESC, d.lang ASC, d.source ASC
"""

    # balanced sample: per-lang row_number in md5('13|'||id) order (8-char
    # lowercase hex sorts identically to its numeric bucket value), ties by id
    o["balanced_sample"] = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(md5('13|' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 50
"""

    # kNN label propagation: seeds = vec_id < 100; 5 nearest by rounded
    # cosine (ties by seed id), majority vote (ties by label)
    o["knn_classify"] = """
WITH ev AS (SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
lab AS (SELECT * FROM ev WHERE vec_id < 100),
unl AS (SELECT * FROM ev WHERE vec_id >= 100),
scored AS (
  SELECT u.vec_id, l.vec_id AS lid, l.label,
         round(list_dot_product(u.v, l.v)
               / greatest(sqrt(list_dot_product(u.v, u.v))
                  * sqrt(list_dot_product(l.v, l.v)), 1e-300), 6) AS s
  FROM unl u, lab l
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY s DESC, lid ASC) AS rn
  FROM scored
),
votes AS (
  SELECT vec_id, label, count(*) AS c
  FROM ranked WHERE rn <= 5 GROUP BY vec_id, label
),
win AS (
  SELECT vec_id, label, c,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c DESC, label ASC) AS rn
  FROM votes
)
SELECT vec_id, CAST(label AS BIGINT) AS pred_label, CAST(c AS INT) AS votes
FROM win WHERE rn = 1
"""

    # conversation texts = turn-ordered concatenation; groups = identical
    # concatenations, resolved to the smallest conv_id
    o["conversation_dedup"] = """
WITH turns AS (
  SELECT CAST(floor(doc_id / 5) AS BIGINT) AS conv_id,
         CAST(doc_id % 5 AS INT) AS turn_idx, text
  FROM documents
),
all_turns AS (
  SELECT * FROM turns
  UNION ALL
  SELECT conv_id + 100000, turn_idx, text FROM turns WHERE conv_id % 7 = 0
),
convs AS (
  SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx, text) AS text
  FROM all_turns GROUP BY conv_id
),
g AS (
  SELECT md5(text) AS hash, count(*) AS dup_count, min(conv_id) AS min_conv_id
  FROM convs GROUP BY md5(text)
)
SELECT hash, CAST(dup_count AS BIGINT) AS dup_count, min_conv_id
FROM g WHERE dup_count > 1
"""

    o["embedding_exact_groups"] = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 10 = 0
)
SELECT vec_id,
       CASE WHEN embedding IS NULL THEN vec_id
            ELSE min(vec_id) OVER (PARTITION BY embedding) END AS component,
       vec_id = CASE WHEN embedding IS NULL THEN vec_id
                     ELSE min(vec_id) OVER (PARTITION BY embedding) END
         AS is_canonical
FROM base
"""

    o["substring_dedup"] = """
WITH base AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
meta AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) >= 8 THEN len(toks) - 8 + 1 ELSE 0 END AS n_windows
  FROM base
),
starts AS (
  SELECT doc_id, toks, CAST(unnest(range(0, len(toks) - 8 + 1)) AS INT) AS s
  FROM base WHERE len(toks) >= 8
),
wins AS (
  SELECT doc_id, s, md5(array_to_string(toks[s + 1 : s + 8], ' ')) AS whash
  FROM starts
),
counts AS (
  SELECT whash, count(*) AS n FROM wins GROUP BY whash HAVING count(*) >= 2
),
dup AS (
  SELECT w.doc_id, w.s FROM wins w JOIN counts c USING (whash)
),
cov AS (
  SELECT doc_id, s,
         CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
              THEN 8
              ELSE least(8, s - lag(s) OVER (PARTITION BY doc_id ORDER BY s))
         END AS add
  FROM dup
),
per_doc AS (
  SELECT doc_id, count(*) AS n_dup_windows, sum(add) AS covered
  FROM cov GROUP BY doc_id
)
SELECT m.doc_id,
       CAST(m.n_tokens AS BIGINT) AS n_tokens,
       CAST(m.n_windows AS BIGINT) AS n_windows,
       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       round(CASE WHEN m.n_windows > 0
                  THEN CAST(coalesce(p.n_dup_windows, 0) AS DOUBLE) / m.n_windows
                  ELSE 0.0 END, 6) AS dup_window_frac,
       round(CASE WHEN m.n_tokens > 0
                  THEN least(CAST(coalesce(p.covered, 0) AS DOUBLE) / m.n_tokens, 1.0)
                  ELSE 0.0 END, 6) AS dup_token_frac
FROM meta m LEFT JOIN per_doc p ON p.doc_id = m.doc_id
"""

    o["event_sessions"] = """
WITH flagged AS (
  SELECT user_id, event_id, value, epoch_us(ts) / 1000000.0 AS sec,
         CASE WHEN lag(epoch_us(ts) / 1000000.0) OVER w IS NULL
                   OR epoch_us(ts) / 1000000.0
                      - lag(epoch_us(ts) / 1000000.0) OVER w > 360 * 60.0
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, value, sec,
         sum(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(max(sec) - min(sec), 6) AS duration_sec,
       round(sum(value), 6) AS value_sum
FROM sess
GROUP BY user_id, session_id
"""

    o["remove_dup_spans"] = """
WITH base AS (
  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
starts AS (
  SELECT doc_id, toks, CAST(unnest(range(0, len(toks) - 8 + 1)) AS INT) AS s
  FROM base WHERE len(toks) >= 8
),
wins AS (
  SELECT doc_id, s, md5(array_to_string(toks[s + 1 : s + 8], ' ')) AS whash
  FROM starts
),
counts AS (
  SELECT whash FROM wins GROUP BY whash HAVING count(*) >= 2
),
dup AS (
  SELECT w.doc_id, w.s, w.whash FROM wins w JOIN counts c USING (whash)
),
canon AS (
  SELECT whash, doc_id, s FROM (
    SELECT *, row_number() OVER (PARTITION BY whash ORDER BY s, doc_id) AS rn
    FROM dup
  ) WHERE rn = 1
),
removable AS (
  SELECT d.doc_id, d.s
  FROM dup d LEFT JOIN canon c
    ON c.whash = d.whash AND c.doc_id = d.doc_id AND c.s = d.s
  WHERE c.whash IS NULL
),
tokpos AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
  FROM base
),
keep AS (
  SELECT t.doc_id, t.tok, t.i
  FROM tokpos t
  WHERE NOT EXISTS (
    SELECT 1 FROM removable r
    WHERE r.doc_id = t.doc_id AND r.s <= t.i - 1 AND t.i - 1 < r.s + 8
  )
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean,
         count(*) AS kept
  FROM keep GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(a.text_clean, '') AS text_clean,
       CAST(len(b.toks) AS BIGINT) AS n_tokens,
       CAST(len(b.toks) - coalesce(a.kept, 0) AS BIGINT) AS n_removed_tokens
FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
"""

    o["dedup_ngram_jaccard"] = f"""
WITH {_SH},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(DISTINCT a.sh) AS inter
  FROM sh a JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       round(CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter), 6) AS jaccard
FROM cand c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.5
"""

    # transitive closure of the ngram-jaccard pair graph, component = min
    # reachable id (exactly connected_components' fixpoint)
    o["dedup_components"] = f"""
WITH RECURSIVE {_SH},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(DISTINCT a.sh) AS inter
  FROM sh a JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(comp) AS BIGINT) AS component
FROM reach GROUP BY id
"""

    # 64-bit SimHash: bits 0..31 from md5 hex chars 1-8, bits 32..63 from
    # chars 9-16 (exactly dataops/dedup.py:simhash); bit 63's weight is the
    # two's-complement sign value on both engines
    simhash_votes = ",\n       ".join(
        f"sum(CASE WHEN ({'hv_lo' if b < 32 else 'hv_hi'} >> {b % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    simhash_sum = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({(1 << b) if b < 63 else -(1 << 63)} AS BIGINT) "
        "ELSE 0 END"
        for b in range(64)
    )
    o["dedup_simhash"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents WHERE text <> ''
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv_lo,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hv_hi
  FROM toks WHERE tok <> ''
),
votes AS (SELECT doc_id, {simhash_votes} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({simhash_sum} AS BIGINT) AS simhash FROM votes
"""

    en = "['the','and','of','to','is','in','it','you','that','for']"
    de = "['der','die','und','das','ist','nicht','ein','ich','mit','zu']"
    fr = "['le','la','et','les','des','est','une','que','pas','pour']"
    es = "['el','la','los','que','de','es','una','por','con','para']"
    o["text_repetition"] = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS lines,
         (list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                      x -> x <> ''))[1:2048] AS toks
  FROM documents
),
linestats AS (
  SELECT doc_id,
         CASE WHEN len(lines) > 0
              THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
              ELSE 0.0 END AS dlf,
         coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0)
           AS line_chars,
         coalesce(list_aggregate(list_transform(list_distinct(lines),
                                                x -> length(x)), 'sum'), 0)
           AS dline_chars,
         coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0)
           AS tok_chars
  FROM base
),
flat AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i
  FROM base
),
gmass AS (
  SELECT doc_id, max(cnt * (length(g) - 1)) AS mass
  FROM (
    SELECT a.doc_id, a.tok || ' ' || b.tok AS g, count(*) AS cnt
    FROM flat a JOIN flat b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    GROUP BY a.doc_id, g
  )
  GROUP BY doc_id
)
SELECT l.doc_id,
       round(l.dlf, 6) AS dup_line_frac,
       round(CASE WHEN l.line_chars > 0
                  THEN 1.0 - CAST(l.dline_chars AS DOUBLE) / l.line_chars
                  ELSE 0.0 END, 6) AS dup_line_char_frac,
       round(CASE WHEN l.tok_chars > 0 AND m.mass IS NOT NULL
                  THEN least(CAST(m.mass AS DOUBLE) / l.tok_chars, 1.0)
                  ELSE 0.0 END, 6) AS top_ngram_char_frac
FROM linestats l LEFT JOIN gmass m ON m.doc_id = l.doc_id
"""

    o["text_analysis"] = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, text, toks,
         len(toks) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
         length(text) AS n_chars,
         len(list_intersect(toks, {en})) AS sc_en,
         len(list_intersect(toks, {de})) AS sc_de,
         len(list_intersect(toks, {fr})) AS sc_fr,
         len(list_intersect(toks, {es})) AS sc_es
  FROM base
),
fpflat AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i FROM base
),
fp AS (
  SELECT doc_id,
         CAST(sum(CAST(i AS HUGEINT)
               * (('0x' || substr(md5(tok), 1, 8))::BIGINT))
             % 2305843009213693951 AS BIGINT) AS fingerprint
  FROM fpflat GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.n_bpe AS BIGINT) AS n_bpe_tokens,
       CAST(s.n_chars AS BIGINT) AS n_chars,
       CASE
         WHEN s.sc_es > greatest(s.sc_en, s.sc_de, s.sc_fr) THEN 'es'
         WHEN s.sc_fr > greatest(s.sc_en, s.sc_de) AND s.sc_fr >= s.sc_es THEN 'fr'
         WHEN s.sc_de > s.sc_en AND s.sc_de >= s.sc_fr AND s.sc_de >= s.sc_es THEN 'de'
         WHEN s.sc_en > 0 AND s.sc_en >= s.sc_de AND s.sc_en >= s.sc_fr AND s.sc_en >= s.sc_es THEN 'en'
         ELSE 'und'
       END AS lang,
       round(
         0.4 * least(CAST(s.n_chars AS DOUBLE) / 500.0, 1.0)
         + 0.3 * (1.0 - CASE WHEN s.n_chars > 0
             THEN CAST(length(regexp_replace(s.text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / s.n_chars
             ELSE 1.0 END)
         + 0.3 * least(CASE WHEN s.n_tokens > 0
             THEN CAST(s.sc_en AS DOUBLE) / least(s.n_tokens, 10)
             ELSE 0.0 END, 1.0),
         6) AS quality,
       coalesce(f.fingerprint, 0) AS fingerprint
FROM scored s LEFT JOIN fp f ON f.doc_id = s.doc_id
"""

    # composed curation (gates -> exact dedup) with auditable reasons; the
    # near-dup stage is proven separately by dedup_components
    o["curate_corpus"] = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, text,
         len(toks) AS n_tokens,
         length(text) AS n_chars,
         len(list_intersect(toks, {en})) AS sc_en,
         len(list_intersect(toks, {de})) AS sc_de,
         len(list_intersect(toks, {fr})) AS sc_fr,
         len(list_intersect(toks, {es})) AS sc_es
  FROM base
),
metr AS (
  SELECT doc_id, text, n_tokens,
         round(
           0.4 * least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
           + 0.3 * (1.0 - CASE WHEN n_chars > 0
               THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / n_chars
               ELSE 1.0 END)
           + 0.3 * least(CASE WHEN n_tokens > 0
               THEN CAST(sc_en AS DOUBLE) / least(n_tokens, 10)
               ELSE 0.0 END, 1.0),
           6) AS quality,
         CASE
           WHEN sc_es > greatest(sc_en, sc_de, sc_fr) THEN 'es'
           WHEN sc_fr > greatest(sc_en, sc_de) AND sc_fr >= sc_es THEN 'fr'
           WHEN sc_de > sc_en AND sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
           WHEN sc_en > 0 AND sc_en >= sc_de AND sc_en >= sc_fr AND sc_en >= sc_es THEN 'en'
           ELSE 'und'
         END AS lang
  FROM scored
),
repflat AS (
  SELECT doc_id, unnest(toks[1:2048]) AS tok,
         generate_subscripts(toks[1:2048], 1) AS i
  FROM base
),
repmass AS (
  SELECT doc_id, max(cnt * (length(g) - 1)) AS mass
  FROM (
    SELECT a.doc_id, a.tok || ' ' || b.tok AS g, count(*) AS cnt
    FROM repflat a JOIN repflat b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    GROUP BY a.doc_id, g
  )
  GROUP BY doc_id
),
repfrac AS (
  SELECT b.doc_id,
         round(CASE WHEN coalesce(list_aggregate(list_transform(b.toks[1:2048],
                                                 x -> length(x)), 'sum'), 0) > 0
                         AND m.mass IS NOT NULL
                    THEN least(CAST(m.mass AS DOUBLE)
                               / list_aggregate(list_transform(b.toks[1:2048],
                                                x -> length(x)), 'sum'), 1.0)
                    ELSE 0.0 END, 6) AS tfrac
  FROM base b LEFT JOIN repmass m ON m.doc_id = b.doc_id
),
gated AS (
  SELECT metr.*,
         CASE
           WHEN n_tokens < 5 THEN 'too_short'
           WHEN quality < 0.3 THEN 'low_quality'
           WHEN lang <> 'en' THEN 'lang'
           WHEN r.tfrac > 0.2 THEN 'repetitive'
           ELSE ''
         END AS gate_reason
  FROM metr JOIN repfrac r ON r.doc_id = metr.doc_id
),
canon AS (
  SELECT md5(text) AS h, min(doc_id) AS canon_id
  FROM gated WHERE gate_reason = ''
  GROUP BY md5(text)
)
SELECT g.doc_id,
       CAST(g.n_tokens AS BIGINT) AS n_tokens,
       g.quality, g.lang,
       CAST(g.doc_id AS BIGINT) AS component,
       (CASE WHEN g.gate_reason = '' AND g.doc_id = c.canon_id THEN ''
             WHEN g.gate_reason = '' THEN 'exact_dup'
             ELSE g.gate_reason END) = '' AS keep,
       CASE WHEN g.gate_reason = '' AND g.doc_id = c.canon_id THEN ''
            WHEN g.gate_reason = '' THEN 'exact_dup'
            ELSE g.gate_reason END AS reason
FROM gated g LEFT JOIN canon c ON c.h = md5(g.text)
"""

    # float64 parity with the Spark side: dataops/similarity.py casts the
    # embedding to array<double> before the fold, so the oracle must also
    # accumulate in DOUBLE (raw FLOAT[] lists differ by >1 ulp at 6 dp).
    o["ann_cosine_topk"] = """
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id = 0),
ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
       FROM embeddings WHERE vec_id <> 0)
SELECT e.vec_id,
       round(list_dot_product(e.ev, q.qv)
             / greatest(sqrt(list_dot_product(e.ev, e.ev))
                * sqrt(list_dot_product(q.qv, q.qv)), 1e-300), 6) AS score
FROM ed e, q
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""

    o["media_feature_plumbing"] = """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""

    # Random-hyperplane LSH signatures, re-derived in SQL: plane weight
    # (bit, dim) = int(md5("7|bit|dim")[:8], 16) / 2^31 - 1, exactly the
    # arithmetic of similarity.py::_hyperplane, so signatures match the
    # Spark side bit-for-bit (verified: 0/500 mismatches at sf0.01).
    def _lsh_sig_ctes(bits: int) -> str:
        return f"""
planes AS (
  SELECT b.range AS bit, d.range AS dim,
         (('0x' || substr(md5(7 || '|' || b.range || '|' || d.range), 1, 8))::BIGINT
          / 2147483648.0) - 1.0 AS w
  FROM range(0, {bits}) b, range(0, 64) d
),
pl AS (SELECT bit, list(w ORDER BY dim) AS plane FROM planes GROUP BY bit),
ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       FROM embeddings),
sigbits AS (
  SELECT e.vec_id,
         CASE WHEN list_dot_product(e.v, p.plane) >= 0
              THEN (1::BIGINT << p.bit) ELSE 0::BIGINT END AS bv
  FROM ev e, pl p
),
sigs AS (SELECT vec_id, sum(bv)::BIGINT AS sig FROM sigbits GROUP BY vec_id)"""

    o["ann_lsh_topk"] = f"""
WITH {_lsh_sig_ctes(8)},
q AS (SELECT s.sig AS qsig, e.v AS qv
      FROM sigs s JOIN ev e ON e.vec_id = s.vec_id WHERE s.vec_id = 0),
cand AS (
  SELECT e.vec_id, e.v
  FROM ev e JOIN sigs s ON s.vec_id = e.vec_id, q
  WHERE e.vec_id <> 0 AND bit_count(xor(s.sig, q.qsig)) <= 2
)
SELECT c.vec_id,
       round(list_dot_product(c.v, q.qv)
             / greatest(sqrt(list_dot_product(c.v, c.v))
                * sqrt(list_dot_product(q.qv, q.qv)), 1e-300), 6) AS score
FROM cand c, q
ORDER BY score DESC, c.vec_id ASC
LIMIT 10
"""

    # Full-probe IVF == exact brute force (every vector lives in exactly one
    # list), so the oracle is the brute-force cosine top-k.
    o["ann_ivf_topk"] = o["ann_cosine_topk"]

    # Partial-probe partitioned IVF: the oracle re-derives the ENTIRE pruned
    # path — init centroids (the 8 vectors with smallest md5(vec_id), i.e.
    # ivf_index iters=0), argmax-cosine assignment (ties to the HIGHER list
    # id, matching _argmax_cosine's struct ordering), probe selection (3
    # centroids nearest the query, ties to the LOWER id, _probe_order) — and
    # scores ONLY vectors assigned to probed lists.
    o["ann_ivf_partitioned"] = """
WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id = 0),
ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       FROM embeddings WHERE vec_id <> 0),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS list_id,
         v AS centroid
  FROM ev
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 8
),
asg AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.centroid)
                      / greatest(sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(c.centroid, c.centroid)), 1e-300) DESC,
                      c.list_id DESC
           ) AS rn
    FROM ev e CROSS JOIN init c
  ) WHERE rn = 1
),
probes AS (
  SELECT c.list_id
  FROM init c, q
  ORDER BY list_dot_product(c.centroid, q.qv)
           / greatest(sqrt(list_dot_product(c.centroid, c.centroid))
              * sqrt(list_dot_product(q.qv, q.qv)), 1e-300) DESC,
           c.list_id ASC
  LIMIT 3
)
SELECT e.vec_id,
       round(list_dot_product(e.v, q.qv)
             / greatest(sqrt(list_dot_product(e.v, e.v))
                * sqrt(list_dot_product(q.qv, q.qv)), 1e-300), 6) AS score
FROM ev e
JOIN asg a ON a.vec_id = e.vec_id
JOIN probes p ON p.list_id = a.list_id, q
ORDER BY score DESC, e.vec_id ASC
LIMIT 10
"""

    o["embedding_near_dup"] = f"""
WITH {_lsh_sig_ctes(12)},
banded AS (
  SELECT s.vec_id, b.range AS band, (s.sig >> (b.range * 6)) & 63 AS key
  FROM sigs s, range(0, 2) b
),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
verified AS (
  SELECT p.id_a, p.id_b,
         round(list_dot_product(ea.v, eb.v)
               / greatest(sqrt(list_dot_product(ea.v, ea.v))
                  * sqrt(list_dot_product(eb.v, eb.v)), 1e-300), 6) AS cosine
  FROM pairs p
  JOIN ev ea ON ea.vec_id = p.id_a
  JOIN ev eb ON eb.vec_id = p.id_b
)
SELECT id_a, id_b, cosine FROM verified WHERE cosine >= 0.35
"""

    # SemDeDup cluster-scoped pairs: re-derives ivf_index's deterministic
    # init (the n_lists vectors with smallest md5(CAST(id AS VARCHAR)),
    # ordered (md5, id) — similarity.py::ivf_index init), the argmax-cosine
    # assignment with ties to the HIGHER list id (array_max struct order of
    # _argmax_cosine), the within-cluster self-join, and the exact-cosine
    # verify.  list_dot_product folds left-to-right like F.aggregate, so
    # cosines agree bit-for-bit (verified: 0/98 pair mismatches at sf0.01).
    o["semantic_dedup_pairs"] = """
WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
init AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS rk
  FROM ev
),
cents AS (SELECT rk::INT AS list_id, v AS c FROM init WHERE rk < 4),
scored AS (
  SELECT e.vec_id, c.list_id,
         list_dot_product(e.v, c.c)
           / greatest(sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(c.c, c.c)), 1e-300) AS cos
  FROM ev e, cents c
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, list_id DESC) AS rn
    FROM scored) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
)
SELECT p.id_a, p.id_b,
       round(list_dot_product(ea.v, eb.v)
             / greatest(sqrt(list_dot_product(ea.v, ea.v))
                * sqrt(list_dot_product(eb.v, eb.v)), 1e-300), 6) AS cosine
FROM pairs p
JOIN ev ea ON ea.vec_id = p.id_a
JOIN ev eb ON eb.vec_id = p.id_b
WHERE cosine >= 0.35
"""

    # split boundaries: IMPORT the engine's derivation (traindata.hash_split
    # compiles exactly these bounds) — a hand copy here would keep passing
    # its own arithmetic while the engine drifted
    from trinity_spark.dataops.traindata import mixture_parts, split_bounds

    _bounds = split_bounds({"train": 0.8, "val": 0.1, "test": 0.1})
    o["data_split"] = f"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5('7|' || doc_id), 1, 8))::BIGINT AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < {_bounds[0]} THEN 'train'
            WHEN bucket < {_bounds[1]} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""

    # mixture copy counts: the engine's own derivation (sample_sources
    # compiles exactly these base/threshold pairs)
    _mix = {s: mixture_parts(w) for s, w in
            (("src0", 2.5), ("src1", 0.4), ("src2", 0.0))}
    _mix_base = " ".join(
        f"WHEN '{s}' THEN {b}" for s, (b, _) in _mix.items()
    )
    _mix_thr = " ".join(
        f"WHEN '{s}' THEN {t}" for s, (_, t) in _mix.items()
    )
    o["source_mixture"] = f"""
WITH c AS (
  SELECT doc_id, source,
         CASE source {_mix_base} ELSE 1 END
         + CASE WHEN ('0x' || substr(md5('11|' || doc_id), 1, 8))::BIGINT
                     < CASE source {_mix_thr} ELSE 0 END
                THEN 1 ELSE 0 END AS copies
  FROM documents
)
SELECT doc_id, source, CAST(u.e AS BIGINT) AS epoch
FROM c, unnest(range(c.copies)) u(e)
WHERE c.copies > 0
"""

    # PII patterns shared VERBATIM with the engine (RE2-safe by design)
    from trinity_spark.dataops.scrub import PII_PATTERNS as _PII

    o["intersect_counts"] = """
WITH bits AS (
  SELECT DISTINCT doc_id,
         CASE term WHEN 'join' THEN 1 WHEN 'merge' THEN 2 WHEN 'scan' THEN 4 END AS bit
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term IN ('join', 'merge', 'scan')
),
masks AS (
  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS mask FROM bits GROUP BY doc_id
)
SELECT mask, CAST(count(*) AS BIGINT) AS doc_count
FROM masks GROUP BY mask
"""

    o["pii_redaction"] = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || doc_id
                   || '@example.com from 10.0.0.' || (doc_id % 256)
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{_PII["email"]}', '<EMAIL>', 'g'),
           '{_PII["ipv4"]}', '<IPV4>', 'g'),
         '{_PII["phone"]}', '<PHONE>', 'g') AS text,
       CAST(len(regexp_extract_all(text, '{_PII["email"]}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{_PII["ipv4"]}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{_PII["phone"]}')) AS BIGINT) AS n_phone
FROM injected
"""

    o["doc_chunks"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
),
st AS (
  SELECT doc_id, t, unnest(range(0, len(t), 24)) AS s
  FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(s / 24 AS BIGINT) AS chunk_id,
       array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text,
       CAST(least(32, len(t) - s) AS BIGINT) AS n_tokens
FROM st
WHERE s = 0 OR s + 8 < len(t)
"""

    o["decontaminate_corpus"] = """
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
sh5 AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
        FROM toks WHERE len(t) >= 5)
),
bench AS (SELECT DISTINCT sh FROM sh5 WHERE doc_id % 20 = 0),
hits AS (
  SELECT s.doc_id, count(DISTINCT s.sh) AS n_hit
  FROM sh5 s JOIN bench b ON b.sh = s.sh
  WHERE s.doc_id % 20 <> 0
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_ngrams,
       coalesce(h.n_hit, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 20 <> 0
"""

    o["bm25_conv_topk"] = f"""
WITH {_TOKS}, {_STATS},
scored AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (t.tf / (t.tf + {K1}))) AS raw
  FROM toks t
  JOIN dfs d ON d.term = t.term
  CROSS JOIN stats s
  WHERE t.term IN ('join','merge')
  GROUP BY t.doc_id
  HAVING count(DISTINCT t.term) = 2
),
conv AS (
  SELECT doc_id // 5 AS conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         round(sum(raw), 6) AS score
  FROM scored GROUP BY 1
)
SELECT conv_id, n_turns, score
FROM conv ORDER BY score DESC, conv_id ASC LIMIT 10
"""

    o["pack_sequences"] = """
WITH base AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS nt
  FROM documents
),
c AS (
  SELECT doc_id, nt,
         coalesce(sum(nt) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS cb
  FROM base
)
SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
       CAST(cb // 512 AS BIGINT) AS bin_id
FROM c
"""
    return o
