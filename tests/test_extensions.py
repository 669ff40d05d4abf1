"""Extension-point operators: percolator, intersection counts, query rewrite,
doc-level pre-filter."""

from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts
from trinity_spark.operators.build import (
    build_field_stats,
    build_postings,
    build_term_dict,
    tokenize_turns,
)
from trinity_spark.operators.docids import assign_doc_ids
from trinity_spark.operators.intersect import intersection_counts
from trinity_spark.operators.percolator import percolate
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.ast import And, Or, Phrase, Token
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import LogicalIndex, QueryPlanner
from trinity_spark.plans.rewrite import expand_synonyms

DOCS = [
    (0, "error timeout in the gpu kernel"),
    (1, "all quiet on the western front"),
    (2, "connection reset by peer"),
    (3, "timeout waiting for error response"),
    (4, "gpu driver error"),
]


def test_percolate(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = {
        "q_err_and_to": "error AND timeout",
        "q_phrase": '"connection reset by peer"',
        "q_not": "gpu NOT kernel",
        "q_some": "[error, gpu, peer] min=2",
        "q_nohit": "zzznothing",
    }
    got = sorted(
        (r["doc_id"], r["query_id"]) for r in percolate(docs, queries).collect()
    )
    assert got == [
        (0, "q_err_and_to"),
        (0, "q_some"),
        (2, "q_phrase"),
        (3, "q_err_and_to"),
        (4, "q_not"),
        (4, "q_some"),
    ]


def test_routing_terms_soundness_rules():
    from trinity_spark.operators.percolator import routing_terms
    from trinity_spark.plans.parser import parse_query

    # AND routes on its cheapest required child
    assert routing_terms(parse_query("error AND timeout")) in (
        frozenset({"error"}),
        frozenset({"timeout"}),
    )
    # OR must union every branch
    assert routing_terms(parse_query("error OR timeout")) == frozenset(
        {"error", "timeout"}
    )
    # NOT routes on the required side only
    assert routing_terms(parse_query("gpu NOT kernel")) == frozenset({"gpu"})
    # phrase needs all members -> first is enough
    assert routing_terms(parse_query('"connection reset by peer"')) == frozenset(
        {"connection"}
    )
    # minmatch (k>=1) unions its children
    assert routing_terms(parse_query("[error, gpu, peer] min=2")) == frozenset(
        {"error", "gpu", "peer"}
    )
    # an all-optional AND can match docs sharing no term -> unroutable
    assert routing_terms(parse_query("<error> <gpu>")) is None


def test_percolate_routed_string_doc_ids(spark):
    """The routed path must work for non-long id columns (the empty
    fallback frame takes the INPUT's id type, not a hard-coded long)."""
    from trinity_spark.operators.percolator import percolate_routed

    docs = spark.createDataFrame(
        [("a", "error timeout"), ("b", "all quiet")], "doc_id string, text string"
    )
    got = sorted(
        (r["doc_id"], r["query_id"])
        for r in percolate_routed(docs, {"q": "error AND timeout"}).collect()
    )
    assert got == [("a", "q")]


def test_percolate_all_optional_matches_nothing(spark):
    """Engine/oracle rule: an AND with no required child (and a bare
    top-level optional) matches NOTHING — the percolator predicate must
    agree, not degenerate to always-true."""
    docs = spark.createDataFrame(
        [(0, "error timeout"), (1, "all quiet")], "doc_id long, text string"
    )
    got = percolate(docs, {"q": "<error> <timeout>", "q2": "<error>"}).collect()
    assert got == []
    # but optional branches still never reject alongside a required one
    got2 = sorted(
        (r["doc_id"], r["query_id"])
        for r in percolate(docs, {"q": "error <zzz>"}).collect()
    )
    assert got2 == [(0, "q")]


def test_percolate_routed_equals_full_scan(spark):
    """Routing must be invisible in the results: same matches as percolate,
    including fallback queries (unroutable optionals) and no-hit queries."""
    from trinity_spark.operators.percolator import percolate_routed

    corpus = gen_transcripts(300)
    sdf = assign_doc_ids(spark.createDataFrame(corpus), num_partitions=3)
    queries = {
        "a": "error AND timeout",
        "b": "retry OR backoff",
        "c": '"connection reset by peer"',
        "d": "gpu NOT kernel",
        "e": "[error, gpu, peer] min=2",
        "f": "zzznothing",
        "g": "error <gpu>",      # routable on 'error', optional branch
        "h": "<error> <gpu>",    # unroutable -> full-scan fallback
        "i": '"site:a.com error"',  # positionless phrase: const-false
    }
    full = sorted(
        (r["doc_id"], r["query_id"]) for r in percolate(sdf, queries).collect()
    )
    routed = sorted(
        (r["doc_id"], r["query_id"])
        for r in percolate_routed(sdf, queries).collect()
    )
    assert routed == full and len(full) > 0


def test_percolate_matches_oracle_eval(spark):
    corpus = gen_transcripts(300)
    docs = docs_in_stable_order(corpus)
    oracle = OracleIndex.build(docs)
    sdf = assign_doc_ids(spark.createDataFrame(corpus), num_partitions=3)
    queries = {
        "a": "error AND timeout",
        "b": "retry OR backoff",
        "c": '"connection reset by peer"',
    }
    got = {
        qid: sorted(r["doc_id"] for r in rows)
        for qid, rows in __group(percolate(sdf, queries).collect()).items()
    }
    for qid, q in queries.items():
        want = sorted(oracle.eval(parse_query(q)).keys())
        assert got.get(qid, []) == want, qid


def __group(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(r)
    return out


def test_intersection_counts(spark):
    turns = assign_doc_ids(
        spark.createDataFrame(
            [(str(i), 0, t) for i, t in DOCS], "conv_id string, turn_idx int, text string"
        ),
        num_partitions=2,
    )
    postings = build_postings(tokenize_turns(turns))
    tokens = ["error", "timeout", "gpu"]
    rows = {r["mask"]: r["doc_count"] for r in intersection_counts(postings, tokens).collect()}
    # doc0: error+timeout+gpu=0b111; doc3: error+timeout=0b011; doc4: error+gpu=0b101
    assert rows == {0b111: 1, 0b011: 1, 0b101: 1}


def test_expand_synonyms_budget():
    from trinity_spark.plans.ast import RewriteCtx

    node = parse_query("error AND timeout")
    syn = {"error": ["failure", "fault"], "timeout": ["deadline"]}
    out = expand_synonyms(node, syn, max_expansion=64)
    # alternatives carry rewrite provenance (src + translation coefficient)
    assert out == And(
        (
            Or(
                (
                    Token("error"),
                    Token("failure", rewrite=RewriteCtx("error", 1.0, 1)),
                    Token("fault", rewrite=RewriteCtx("error", 1.0, 1)),
                )
            ),
            Or(
                (
                    Token("timeout"),
                    Token("deadline", rewrite=RewriteCtx("timeout", 1.0, 1)),
                )
            ),
        )
    )
    # tiny budget: nothing expands
    assert expand_synonyms(node, syn, max_expansion=1) == node
    # phrase-level synonym
    p = parse_query('"rate limit"')
    out2 = expand_synonyms(p, {"rate limit": ["throttle cap"]})
    assert out2 == Or(
        (
            Phrase(("rate", "limit")),
            Phrase(("throttle", "cap"), rewrite=RewriteCtx("rate limit", 1.0, 2)),
        )
    )


def test_expanded_query_rank_matches_oracle(spark):
    corpus = gen_transcripts(400)
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    turns = assign_doc_ids(spark.createDataFrame(corpus), num_partitions=3)
    postings = build_postings(tokenize_turns(turns)).persist()
    index = LogicalIndex(
        postings, build_term_dict(postings), build_field_stats(postings, 400)
    )
    node = expand_synonyms(parse_query("error"), {"error": ["timeout", "failed"]})
    want = oracle.topk(node, k=10)
    got = [(r["doc_id"], r["score"]) for r in QueryPlanner(index).plan(node, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]


def test_doc_filter_prefilter(spark):
    corpus = gen_transcripts(400)
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    turns = assign_doc_ids(spark.createDataFrame(corpus), num_partitions=3)
    postings = build_postings(tokenize_turns(turns)).persist()
    index = LogicalIndex(
        postings, build_term_dict(postings), build_field_stats(postings, 400)
    )
    node = parse_query("error")
    # filter: only assistant turns (role-based doc pre-filter)
    allowed = turns.where("role = 'assistant'").select("doc_id")
    allowed_ids = {r["doc_id"] for r in allowed.collect()}
    got = [
        r["doc_id"]
        for r in QueryPlanner(index).plan(node, k=10, doc_filter=allowed).collect()
    ]
    want = [d for d, _ in oracle.topk(node, k=10 ** 6) if d in allowed_ids][:10]
    assert got == want
    assert set(got) <= allowed_ids


def _tiny_index(spark, docs=DOCS):
    pdf = spark.createDataFrame(docs, "doc_id long, text string")
    postings = build_postings(tokenize_turns(pdf))
    return LogicalIndex(
        postings, build_term_dict(postings), build_field_stats(postings, len(docs))
    )


def test_with_hits_surface(spark):
    """plan(with_hits=True) returns matched terms + tf + positions per result
    doc (the consider(matched_document&) surface, matches.h:76-108) without
    the caller re-joining postings."""
    from trinity_spark.tokenizer import tokenize_terms_py

    index = _tiny_index(spark)
    planner = QueryPlanner(index)
    plain = [(r["doc_id"], r["score"]) for r in planner.plan("error AND timeout", k=5).collect()]
    rows = planner.plan("error AND timeout", k=5, with_hits=True).collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == plain  # same ranking
    texts = dict(DOCS)
    for r in rows:
        got = {h["term"]: (h["tf"], list(h["positions"])) for h in r["hits"]}
        assert set(got) == {"error", "timeout"}  # AND: both matched
        toks = tokenize_terms_py(texts[r["doc_id"]])
        for term, (tf, positions) in got.items():
            want = [p for t, p in toks if t == term]
            assert positions == want and tf == len(want), (r["doc_id"], term)


def test_with_hits_excludes_not_side(spark):
    index = _tiny_index(spark)
    rows = QueryPlanner(index).plan("gpu NOT kernel", k=5, with_hits=True).collect()
    assert rows, "gpu NOT kernel should match doc 4"
    for r in rows:
        assert {h["term"] for h in r["hits"]} == {"gpu"}  # excl side absent


def test_with_hits_empty_query(spark):
    index = _tiny_index(spark)
    assert QueryPlanner(index).plan("", k=5, with_hits=True).collect() == []


def test_rep_visible_to_custom_similarity(spark):
    """Token.rep (adjacent-duplicate collapse) must reach a custom similarity
    (matches.h:85-91: rep is metadata for app scorers; the default BM25
    ignores it, reference-faithful)."""
    from pyspark.sql import functions as F

    from trinity_spark.plans.planner import default_similarity

    node = parse_query("error error")
    assert isinstance(node, Token) and node.rep == 2

    index = _tiny_index(spark)
    base = {r["doc_id"]: r["score"] for r in QueryPlanner(index).plan(node, k=5).collect()}

    def rep_boost(ctx, freq):
        return F.lit(float(ctx.rep)) * default_similarity(ctx, freq)

    boosted = {
        r["doc_id"]: r["score"]
        for r in QueryPlanner(index, similarity=rep_boost).plan(node, k=5).collect()
    }
    assert set(base) == set(boosted)
    for d, s in base.items():
        assert abs(boosted[d] - 2.0 * s) <= 1e-9  # scorer saw rep=2


def test_rewrite_provenance_reaches_scorer(spark):
    """expand_synonyms/expand_spans provenance rides TermContext into a custom
    similarity (exec.cpp:553-657 query_term_ctx): a scorer can down-weight
    synonym-matched terms — weight 0 makes the expanded query score exactly
    like the original for docs containing the original term."""
    from pyspark.sql import functions as F

    from trinity_spark.plans.planner import default_similarity

    index = _tiny_index(spark)
    node = expand_synonyms(parse_query("error"), {"error": ["peer"]})
    seen = {}

    def down_weight(ctx, freq):
        seen[ctx.term] = (
            ctx.rewrite_source,
            ctx.translation_coefficient,
            ctx.src_seq_size,
        )
        w = 0.0 if ctx.rewrite_source is not None else 1.0
        return F.lit(w) * default_similarity(ctx, freq)

    rows = QueryPlanner(index, similarity=down_weight).plan(node, k=5).collect()
    assert seen["error"] == (None, 1.0, 1)
    assert seen["peer"] == ("error", 1.0, 1)
    # docs matching only the synonym survive as matches but score 0; docs
    # with the original term score exactly the single-term BM25
    base = {
        r["doc_id"]: r["score"]
        for r in QueryPlanner(index).plan("error", k=5).collect()
    }
    got = {r["doc_id"]: r["score"] for r in rows}
    assert set(base) <= set(got)
    for d, s in base.items():
        assert abs(got[d] - s) <= 1e-9
    assert got[2] == 0.0  # doc 2 has only "peer"


def test_span_rewrite_shapes():
    """K-token span rewrite (queries_rewrite.h:992-1148): "big apple" -> nyc
    produces Or(And(big, apple), nyc); budget bounds expansion."""
    from trinity_spark.plans.rewrite import expand_spans

    from trinity_spark.plans.ast import RewriteCtx

    node = parse_query("big apple pie")
    out = expand_spans(node, {"big apple": ["nyc"]})
    # the generated alternative carries rewrite provenance: source text +
    # translation coefficient min(2,1)/max(2,1) = 0.5 (queries.h:402-407)
    nyc = Token("nyc", rewrite=RewriteCtx("big apple", 0.5, 2))
    assert out == And(
        (Or((And((Token("big"), Token("apple"))), nyc)), Token("pie"))
    )
    # longest span wins
    out3 = expand_spans(
        parse_query("big apple pie now"),
        {"big apple": ["nyc"], "big apple pie": ["dessert"]},
    )
    assert out3 == And(
        (
            Or(
                (
                    And((Token("big"), Token("apple"), Token("pie"))),
                    Token("dessert", rewrite=RewriteCtx("big apple pie", 1 / 3, 3)),
                )
            ),
            Token("now"),
        )
    )
    # multi-word alternative becomes a Phrase (adjacency)
    outp = expand_spans(parse_query("nyc trip"), {"nyc": []})  # no 2+ span: unchanged
    assert outp == parse_query("nyc trip")
    outm = expand_spans(parse_query("big apple"), {"big apple": ["new york"]})
    assert outm == Or(
        (
            And((Token("big"), Token("apple"))),
            Phrase(("new", "york"), rewrite=RewriteCtx("big apple", 1.0, 2)),
        )
    )
    # budget: expansion refused when the coefficient would blow the cap
    capped = expand_spans(parse_query("big apple"), {"big apple": ["nyc"]}, max_expansion=1)
    assert capped == parse_query("big apple")


def test_span_rewrite_rank_identity(spark):
    """The rewritten tree executes and matches the oracle on the same tree."""
    from trinity_spark.plans.rewrite import expand_spans

    corpus = gen_transcripts(300)
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    sdf = assign_doc_ids(spark.createDataFrame(corpus), num_partitions=3)
    postings = build_postings(tokenize_turns(sdf))
    index = LogicalIndex(
        postings, build_term_dict(postings), build_field_stats(postings, 300)
    )
    node = expand_spans(
        parse_query("connection reset please"), {"connection reset": ["timeout"]}
    )
    want = oracle.topk(node, k=10)
    got = [(r["doc_id"], r["score"]) for r in QueryPlanner(index).plan(node, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9


def test_percolate_many_queries_one_pass(spark):
    """200 registered queries compile into ONE projection (no per-query scan
    blowup) and route correctly."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = {f"q{i}": f"term{i}" for i in range(197)}  # all misses
    queries["hit_and"] = "error AND timeout"
    queries["hit_phrase"] = '"connection reset by peer"'
    queries["hit_or"] = "gpu OR western"
    got = sorted((r["doc_id"], r["query_id"]) for r in percolate(docs, queries).collect())
    assert got == [
        (0, "hit_and"),
        (0, "hit_or"),
        (1, "hit_or"),
        (2, "hit_phrase"),
        (3, "hit_and"),
        (4, "hit_or"),
    ]


def test_attach_snippets(spark):
    """Snippets: token window around the first matched position, exact slot
    alignment (incl. positionless operator tokens occupying their slot)."""
    docs = [
        (0, "aaa bbb ccc ddd error eee fff ggg hhh"),
        (1, "error at the very start of this one"),
        (2, "x1 x2 site:x.com error x3 x4"),
        (3, "no match here at all in this document"),
    ]
    index = _tiny_index(spark, docs)
    planner = QueryPlanner(index)
    top = planner.plan("error", k=10, with_hits=True)
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["snippet"] for r in planner.attach_snippets(top, ddf, window=2).collect()}
    assert out[0] == "ccc ddd error eee fff"
    assert out[1] == "error at the very start"  # clamped at doc head
    # operator token consumes slot 3; error is slot 4 -> window covers it
    assert out[2] == "x2 site:x.com error x3 x4"
    assert 3 not in out
    # phrase-aware anchor: window centers on the ACTUAL phrase match, not an
    # earlier independent occurrence of a member term
    pdocs = [(0, "reset the machine then saw connection reset by peer today")]
    pindex = _tiny_index(spark, pdocs)
    pplanner = QueryPlanner(pindex)
    q = '"connection reset by peer"'
    ptop = pplanner.plan(q, k=5, with_hits=True)
    pddf = spark.createDataFrame(pdocs, "doc_id long, text string")
    psnip = pplanner.attach_snippets(ptop, pddf, node=q, window=3).collect()
    assert psnip[0]["snippet"] == "machine then saw connection reset by peer"


def test_segment_index_refresh_after_append(spark, tmp_path_factory):
    """A SegmentIndex snapshot is frozen at open; refresh() picks up NRT
    appends (stats AND postings).  A view whose first stats_for runs after
    a commit still answers from its open-time snapshot: N, df and postings
    all equal the view pinned to that snapshot through ``store.at``."""
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.indexer import SegmentIndex, build_index
    from trinity_spark.sources.store import SegmentStore
    from trinity_spark.streaming.nrt import append_micro_segment

    base = str(tmp_path_factory.mktemp("refresh"))
    store = SegmentStore(base)
    build_index(
        spark, spark.createDataFrame(gen_transcripts(300)), store,
        rows_per_segment=300, input_desc="refresh",
    )
    index = SegmentIndex(spark, store)
    unasked = SegmentIndex(spark, store)  # no stats_for before the append
    open_snapshot = store.read_manifest()["snapshot_id"]
    n0 = index.stats_for([]).n_docs
    append_micro_segment(spark, store, spark.createDataFrame(gen_transcripts(100, seed=3)))
    assert index.stats_for([]).n_docs == n0  # frozen snapshot (documented)

    pinned = SegmentIndex(spark, store.at(open_snapshot))
    got, want = unasked.stats_for(["error"]), pinned.stats_for(["error"])
    assert got.n_docs == want.n_docs == n0
    assert got.df("error") == want.df("error")

    def top(ix):
        rows = QueryPlanner(ix).plan("error", k=5).collect()
        return [(r["doc_id"], r["score"]) for r in rows]

    assert top(unasked) == top(pinned)
    assert index.refresh().stats_for([]).n_docs == n0 + 100


def test_documents_only_mode(spark):
    """ExecFlags::DocumentsOnly (exec.h:11-23): matching doc IDs only, no
    similarity evaluation.  Must equal the scored path's match SET for every
    query class, and the single-token plan must not even aggregate."""
    corpus = gen_transcripts(400)
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    turns = assign_doc_ids(spark.createDataFrame(corpus), num_partitions=3)
    postings = build_postings(tokenize_turns(turns)).persist()
    index = LogicalIndex(
        postings, build_term_dict(postings), build_field_stats(postings, 400)
    )
    planner = QueryPlanner(index)
    for q in [
        "error",
        "error AND timeout",
        "retry OR backoff",
        '"connection reset by peer"',
        "error NOT test",
        '("rate limit" OR throttle) AND the',
        "[error, timeout, retry] min=2",
        "zzznothing",
        "",
    ]:
        node = parse_query(q)
        got = {r["doc_id"] for r in planner.matching_docs(q).collect()}
        want = {d for d, _ in oracle.topk(node, k=10**6)} if node else set()
        assert got == want, q
    # single token: pure filter+project — the QUERY adds no aggregation on
    # top of the postings source (the in-memory build's own groupBy shows in
    # both plans; a segment-backed index has a plain scan there)
    def n_aggs(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Aggregate")

    base = n_aggs(index.postings.where("term = 'error'").select("doc_id"))
    assert n_aggs(planner.matching_docs("error")) == base
    # the boolean path's aggregation carries presence columns only (no s{i})
    tree = planner.matching_docs("error AND timeout")
    assert "doc_id" == tree.columns[0] and tree.columns == ["doc_id"]


def test_documents_only_never_calls_similarity(spark):
    calls = []

    def spy_similarity(ctx, freq):
        calls.append(ctx.term)
        import pyspark.sql.functions as F

        return F.lit(1.0)

    index = _tiny_index(spark)
    planner = QueryPlanner(index, similarity=spy_similarity)
    rows = planner.matching_docs('error AND "gpu driver"').collect()
    assert rows == [] or all(set(r.asDict()) == {"doc_id"} for r in rows)
    assert calls == []  # DocumentsOnly: the scorer seam is never touched


def test_percolate_chunked_registry_equals_unchunked(spark, monkeypatch):
    """Registries past MAX_COMPILED_QUERIES evaluate in bounded chunks over
    the once-tokenized frame — same (doc_id, query_id) rows, both for the
    full scan and for the routed verify side."""
    from trinity_spark.operators import percolator as perc
    from trinity_spark.fixtures import gen_transcripts

    corpus = gen_transcripts(300)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus["text"].tolist())],
        "doc_id long, text string",
    )
    queries = {f"q{i}": q for i, q in enumerate(
        ["error", "timeout AND retry", '"rate limit"', "gpu OR cuda",
         "error NOT test", "kernel", "driver AND gpu", "api", "cache miss",
         "the AND throttle"]
    )}
    want = {
        (r["doc_id"], r["query_id"])
        for r in perc.percolate(docs, queries).collect()
    }
    monkeypatch.setattr(perc, "MAX_COMPILED_QUERIES", 3)
    got = {
        (r["doc_id"], r["query_id"])
        for r in perc.percolate(docs, queries).collect()
    }
    assert got == want and len(want) > 0
    got_routed = {
        (r["doc_id"], r["query_id"])
        for r in perc.percolate_routed(docs, queries).collect()
    }
    assert got_routed == want


def test_expand_synonyms_identity_alternative_filtered():
    """A synonym list containing the source itself must not add a duplicate
    branch: the Token arm already filters ``s != term``; the Phrase arm's
    duplicate would double-count the phrase score (its rewrite ctx differs,
    so Or.normalize's repr-dedup cannot catch it)."""
    from trinity_spark.plans.ast import RewriteCtx

    # token identity alternative
    t = expand_synonyms(parse_query("error"), {"error": ["error", "fault"]})
    assert t == Or(
        (Token("error"), Token("fault", rewrite=RewriteCtx("error", 1.0, 1)))
    )
    # phrase identity alternative
    p = expand_synonyms(
        parse_query('"big apple"'), {"big apple": ["big apple", "nyc"]}
    )
    assert p == Or(
        (
            Phrase(("big", "apple")),
            Token("nyc", rewrite=RewriteCtx("big apple", 0.5, 2)),
        )
    )


def test_percolate_direct_some_k0_node_matches_union(spark):
    """A directly-registered (unnormalized) Some(k=0) node bypasses
    parse_query's normalize; the predicate must degenerate to OR (oracle:
    candidates are the union of child matches), not match every doc."""
    from trinity_spark.operators.percolator import percolate
    from trinity_spark.plans.ast import Some, Token

    docs = spark.createDataFrame(
        [(0, "error timeout"), (1, "all quiet"), (2, "retry storm")],
        "doc_id long, text string",
    )
    node = Some((Token("error"), Token("retry")), k=0)
    got = sorted(
        (r["doc_id"], r["query_id"]) for r in percolate(docs, {"q": node}).collect()
    )
    assert got == [(0, "q"), (2, "q")]


def test_expand_alternatives_are_tokenized():
    """Alternatives run through the FROZEN tokenizer: 'NYC'/'I.B.M' must
    become the normalized index terms, identity alts ('Error' for 'error')
    are dropped, and punctuation-only alts vanish — verbatim splitting
    minted df=0 terms the planner folded to constfalse, silently killing
    the expansion."""
    from trinity_spark.plans.ast import RewriteCtx
    from trinity_spark.plans.rewrite import expand_spans

    out = expand_synonyms(
        parse_query("error"), {"error": ["NYC", "Error", "I.B.M", "!!"]}
    )
    assert out == Or(
        (
            Token("error"),
            Token("nyc", rewrite=RewriteCtx("error", 1.0, 1)),
            Token("ibm", rewrite=RewriteCtx("error", 1.0, 1)),
        )
    )
    # span rewriting normalizes multi-word alternatives into Phrases of
    # normalized terms
    out2 = expand_spans(parse_query("big apple"), {"big apple": ["New York City"]})
    assert out2 == Or(
        (
            And((Token("big"), Token("apple"))),
            Phrase(
                ("new", "york", "city"),
                rewrite=RewriteCtx("big apple", 2 / 3, 2),
            ),
        )
    )


def test_and_normalize_preserves_strict_flag():
    """Flattening must not merge a STRICT_AND into a plain AND (or graft
    strictness onto plain children) — the '+term' provenance is the flag's
    whole reason to exist."""
    a, b, c = Token("a"), Token("b"), Token("c")
    mixed = And((a, And((b, c), strict=True))).normalize()
    assert mixed == And((a, And((b, c), strict=True)), strict=False)
    flat = And((a, And((b, c), strict=False))).normalize()
    assert flat == And((a, b, c), strict=False)
    strict_in_strict = And((a, And((b, c), strict=True)), strict=True).normalize()
    assert strict_in_strict == And((a, b, c), strict=True)
