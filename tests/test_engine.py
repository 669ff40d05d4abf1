"""End-to-end rank-identity gate (SURVEY.md §5.2): the Spark engine must
produce identical (doc_id, score) top-k lists to the pocket oracle for every
query class in queries.jsonl, on the deterministic transcript fixture."""

import json
import os

import pytest

from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts
from trinity_spark.operators.build import (
    build_field_stats,
    build_postings,
    build_term_dict,
    tokenize_turns,
)
from trinity_spark.operators.docids import assign_doc_ids
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import LogicalIndex, QueryPlanner

N_TURNS = 1500
QUERIES = [
    json.loads(line)
    for line in open(os.path.join(os.path.dirname(__file__), "..", "queries.jsonl"))
    if line.strip()
]


@pytest.fixture(scope="module")
def corpus():
    return gen_transcripts(N_TURNS)


@pytest.fixture(scope="module")
def engine(spark, corpus):
    turns = assign_doc_ids(spark.createDataFrame(corpus), num_partitions=7)
    turns.persist()
    hits = tokenize_turns(turns)
    postings = build_postings(hits)
    postings.persist()
    term_dict = build_term_dict(postings)
    field_stats = build_field_stats(postings, docs_cnt=turns.count())
    index = LogicalIndex(postings, term_dict, field_stats)
    return QueryPlanner(index), turns


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build(docs_in_stable_order(corpus))


def test_docid_dense_and_stable(engine, corpus):
    """North-rule per-row invariant: per-turn text equality under the stable
    (conv_id, turn_idx) ordering."""
    _, turns = engine
    rows = turns.select("doc_id", "conv_id", "turn_idx", "text").collect()
    assert len(rows) == N_TURNS
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == list(range(N_TURNS))  # dense, zero-based
    by_id = {r["doc_id"]: r for r in rows}
    expected = docs_in_stable_order(corpus)
    for doc_id, text in expected:
        assert by_id[doc_id]["text"] == text


def test_field_stats_match_oracle(engine, oracle):
    planner, _ = engine
    row = planner.index.field_stats.collect()[0]
    assert row["docs_cnt"] == oracle.n_docs
    assert row["total_terms"] == len(oracle.postings)
    assert row["sum_terms_docs"] == sum(len(d) for d in oracle.postings.values())
    assert row["sum_term_hits"] == sum(
        len(ps) for d in oracle.postings.values() for ps in d.values()
    )


def test_term_dict_df_matches_oracle(engine, oracle):
    planner, _ = engine
    rows = planner.index.term_dict.collect()
    got = {r["term"]: (r["df"], r["cf"]) for r in rows}
    assert len(got) == len(oracle.postings)
    for term, docs in oracle.postings.items():
        assert got[term] == (len(docs), sum(len(p) for p in docs.values()))


@pytest.mark.parametrize("q", QUERIES, ids=[q["id"] for q in QUERIES])
def test_rank_identity(q, engine, oracle):
    planner, _ = engine
    node = parse_query(q["query"])
    want = oracle.topk(node, k=q["k"])
    got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=q["k"]).collect()]
    assert [d for d, _ in got] == [d for d, _ in want], (
        f"{q['id']}: docIDs diverge\n got={got}\nwant={want}"
    )
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9, f"{q['id']}: score mismatch doc {gd}: {gs} vs {ws}"


def test_queries_have_hits(oracle):
    """Every planted query class must actually hit the fixture corpus."""
    for q in QUERIES:
        node = parse_query(q["query"])
        assert node is not None
        assert oracle.topk(node, k=1), f"{q['id']} has no hits in fixture"


@pytest.mark.parametrize("qs", [
    "<error> <timeout>",          # all-optional AND: matches nothing
    "error error OR error",       # duplicate-term OR branches survive normalize
    "error OR error OR timeout",  # exact-duplicate branch dedup
    "error OR <timeout>",         # optional under OR: never matches/scores
    "<error> OR <timeout>",       # all-optional OR: matches nothing
    "[error, <timeout>] min=1",   # optional under MatchSome never counts
    '[error, <"rate limit">] min=1',  # same, phrase optional (map path)
    "[error, timeout, retry] min=0",  # min=0 degenerates to OR
])
def test_rank_identity_edge_shapes(qs, engine, oracle):
    """Regression shapes from the round-4 core review: all-optional AND used
    to crash the n-ary compiler (reduce over empty required), and
    duplicate-term ORs must never route through the pruned path's
    single-count bound."""
    eng, _ = engine
    node = parse_query(qs)
    want = oracle.topk(node, k=10)
    got = [(r["doc_id"], r["score"]) for r in eng.plan(node, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want], qs
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9


def test_custom_similarity_may_return_null(engine, oracle):
    """A custom scorer returning NULL for some matched rows must not drop
    the doc on a token n-ary (presence is aggregated separately)."""
    from pyspark.sql import functions as F

    eng, _ = engine

    def nullish(ctx, freq):
        # null score whenever tf is even; matched docs must still match
        from trinity_spark.plans.planner import default_similarity

        return F.when(freq % 2 == 1, default_similarity(ctx, freq))

    nul = QueryPlanner(eng.index, similarity=nullish)
    got = nul.plan("error AND timeout", k=100000).collect()
    base = eng.plan("error AND timeout", k=100000).collect()
    assert {r["doc_id"] for r in got} == {r["doc_id"] for r in base}


@pytest.mark.parametrize(
    "qs",
    [
        "error",
        "error OR timeout OR retry",          # pruned-routable OR shape
        "error AND timeout",
        '"connection reset by peer" OR error',
    ],
)
def test_search_after_pages_reconstruct_topk(qs, engine, oracle):
    """plan(after=cursor) paging: concatenating pages of size 5 must equal
    the oracle's top-15 exactly (ids and scores); cursor queries must route
    single-pass with the reason recorded."""
    eng, _ = engine
    node = parse_query(qs)
    want = oracle.topk(node, k=15)

    got, cursor = [], None
    for _ in range(3):
        page = eng.plan(node, k=5, after=cursor).collect()
        if cursor is not None:
            assert eng.last_route["gate"]["type"] == "search_after"
        if not page:
            break
        got.extend((r["doc_id"], r["score"]) for r in page)
        cursor = (page[-1]["score"], page[-1]["doc_id"])

    assert [d for d, _ in got] == [d for d, _ in want], qs
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9


def test_search_after_tie_boundary(engine, oracle):
    """A cursor that lands INSIDE a tie group (equal scores, doc_id
    tie-break) must not skip or duplicate the remaining tied docs."""
    eng, _ = engine
    node = parse_query("the")  # high-df term: many equal-score docs
    want = oracle.topk(node, k=40)
    scores = [s for _, s in want]
    assert len(set(scores)) < len(scores), "fixture lost its tie group"

    # choose a page size that splits the largest tie group
    k1 = next(
        i for i in range(1, len(want)) if want[i][1] == want[i - 1][1]
    )
    p1 = eng.plan(node, k=k1).collect()
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = eng.plan(node, k=len(want) - k1, after=cur).collect()
    got = [(r["doc_id"], r["score"]) for r in p1 + p2]
    assert [d for d, _ in got] == [d for d, _ in want[: len(got)]]
    assert len(got) == len(set(d for d, _ in got))  # no dup across the seam


def test_search_after_past_end_returns_empty(engine, oracle):
    eng, _ = engine
    node = parse_query("zxqv-marker-7")
    all_rows = eng.plan(node, k=100000).collect()
    last = all_rows[-1]
    assert eng.plan(node, k=5, after=(last["score"], last["doc_id"])).collect() == []
