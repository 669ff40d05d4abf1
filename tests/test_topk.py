"""Block-max pruned top-k: must be EXACTLY the unpruned result, and must
actually prune chunks on skewed disjunctions."""

import pytest

from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.operators.topk import pruned_or_topk
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.ast import Or, Token
from trinity_spark.sources.store import SegmentStore

N_TURNS = 2000


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bmx"))
    corpus = gen_transcripts(N_TURNS)
    store = SegmentStore(base)
    # chunk_bits=8 -> 256-doc chunks -> ~8 chunks: pruning observable at test scale
    build_index(
        spark,
        spark.createDataFrame(corpus),
        store,
        rows_per_segment=1000,
        chunk_bits=8,
        input_desc="bmx-fixture",
    )
    return SegmentIndex(spark, store), corpus


CASES = [
    ["error", "timeout", "retry"],
    ["the", "qqfluxcapacitor"],          # stopword + rare: the skew path
    ["gpu", "cuda", "driver", "kernel"],
    ["the", "a", "error"],               # mostly stopwords
]


@pytest.mark.parametrize("terms", CASES, ids=["mid", "skew", "topic", "stop"])
def test_pruned_equals_unpruned_equals_oracle(spark, built, terms):
    index, corpus = built
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    node = Or(tuple(Token(t) for t in terms)).normalize()
    want = oracle.topk(node, k=10)
    got, report = pruned_or_topk(index, terms, k=10, return_report=True)
    rows = [(r["doc_id"], r["score"]) for r in got.collect()]
    assert [d for d, _ in rows] == [d for d, _ in want], (terms, report)
    for (gd, gs), (_, ws) in zip(rows, want):
        assert abs(gs - ws) <= 1e-9, (terms, gd)


def test_skew_query_actually_prunes(spark, built):
    index, corpus = built
    # rare markers (df 2+4, idf ~6) + the top stopword (idf ~0.05): the cheap
    # pass yields T ~ 2.8 while marker-free chunks bound at ~0.04 -> pruned
    terms = ["qqfluxcapacitor", "zxqv", "the"]
    got, report = pruned_or_topk(index, terms, k=5, return_report=True)
    assert report.threshold > 1.0, report
    assert 0 < report.kept_chunks < report.total_chunks, report
    # and still exact
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    from trinity_spark.plans.ast import Or, Token

    want = oracle.topk(Or((Token(terms[0]), Token(terms[1]), Token(terms[2]))), k=5)
    rows = [(r["doc_id"], r["score"]) for r in got.collect()]
    assert [d for d, _ in rows] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(rows, want):
        assert abs(gs - ws) <= 1e-9


def _plan_str(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_small_df_or_stays_single_pass(spark, built):
    """Cost gate: a low-df disjunction must NOT take the pruned path — its
    plan has no chunk-restriction join and no reference to block chunks."""
    from trinity_spark.plans.planner import QueryPlanner

    index, _ = built
    df = QueryPlanner(index).plan("error OR timeout", k=10)
    plan = _plan_str(df)
    assert "chunk" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan


def test_gate_opens_when_df_profile_pays(spark, built, monkeypatch):
    """With thresholds forced low, plan() routes through the pruned path and
    the result is still rank-identical to the oracle."""
    from trinity_spark.operators import topk as topk_mod
    from trinity_spark.plans.planner import QueryPlanner

    monkeypatch.setattr(topk_mod, "PRUNE_MIN_TAIL_DF", 1)
    monkeypatch.setattr(topk_mod, "PRUNE_MIN_SKEW", 1.0)
    index, corpus = built
    df = QueryPlanner(index).plan("qqfluxcapacitor OR zxqv OR the", k=5)
    plan = _plan_str(df)
    # block scan restricted to blocks covering surviving spans
    assert "span" in plan and "LeftSemi" in plan
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    want = oracle.topk(
        Or((Token("qqfluxcapacitor"), Token("zxqv"), Token("the"))), k=5
    )
    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
    assert [d for d, _ in rows] == [d for d, _ in want]


def test_rare_and_span_restriction_exact(spark, built, monkeypatch):
    """AND-with-rare-term (meta_span tier): restricting the scan to blocks
    intersecting the rare term's covered spans is exact (every match
    contains the rare term) and visible in the plan as a semi-join: on
    block keys for a block codec, on each native row's span."""
    from trinity_spark.operators import topk as topk_mod
    from trinity_spark.plans.ast import And
    from trinity_spark.plans.planner import QueryPlanner

    monkeypatch.setattr(topk_mod, "AND_PRUNE_MIN_DF", 1)
    index, corpus = built
    planner = QueryPlanner(index)
    df = planner.plan("the AND qqfluxcapacitor", k=5)
    assert planner.last_route["gate"]["tier"] == "meta_span"
    plan = _plan_str(df)
    key = "span" if index.codec == "native" else "block_id"
    assert key in plan and "LeftSemi" in plan
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    want = oracle.topk(And((Token("the"), Token("qqfluxcapacitor"))), k=5)
    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
    assert [d for d, _ in rows] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(rows, want):
        assert abs(gs - ws) <= 1e-9


def test_gate_report_and_last_route_surface(spark, built, monkeypatch):
    """plan() records the routing decision + the gate's df-derived reasons in
    planner.last_route — the artifact benchmarks print so 'gate closed,
    identical single-pass plan' is provable, not inferred."""
    from trinity_spark.operators import topk as topk_mod
    from trinity_spark.plans.planner import QueryPlanner

    index, _ = built
    planner = QueryPlanner(index)
    planner.plan("error OR timeout", k=10)
    r = planner.last_route
    assert r["path"] == "single_pass"
    assert r["gate"]["type"] == "or_block_max"
    assert r["gate"]["open"] is False
    assert "tail df" in r["gate"]["reason"]
    # forced-open profile routes and reports the pruned path
    monkeypatch.setattr(topk_mod, "PRUNE_MIN_TAIL_DF", 1)
    monkeypatch.setattr(topk_mod, "PRUNE_MIN_SKEW", 1.0)
    planner.plan("qqfluxcapacitor OR zxqv OR the", k=5)
    r = planner.last_route
    assert r["path"] == "pruned_or"
    assert r["gate"]["open"] is True
    # AND gate reports its own type
    planner.plan("the AND error", k=5)
    r = planner.last_route
    assert r["gate"]["type"] == "and_span_restrict"
    assert r["path"] in ("single_pass", "rare_and")


def test_single_term_falls_back(spark, built):
    index, corpus = built
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    got, report = pruned_or_topk(index, ["error"], k=5, return_report=True)
    want = oracle.topk(Token("error"), k=5)
    rows = [(r["doc_id"], r["score"]) for r in got.collect()]
    assert [d for d, _ in rows] == [d for d, _ in want]
    assert report.total_chunks == 0  # fallback path


def test_rare_phrase_and_span_restriction_exact(spark, built, monkeypatch):
    """AND with a rare PHRASE branch (the q_skew shape): any member term of a
    required branch restricts the whole AND's spans — exact and visible."""
    from trinity_spark.operators import topk as topk_mod
    from trinity_spark.plans.parser import parse_query
    from trinity_spark.plans.planner import QueryPlanner

    monkeypatch.setattr(topk_mod, "AND_PRUNE_MIN_DF", 1)
    index, corpus = built
    node = parse_query("the AND zxqv-marker-7")
    planner = QueryPlanner(index)
    df = planner.plan(node, k=5)
    assert planner.last_route["path"] == "rare_and"
    assert "LeftSemi" in _plan_str(df)
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    want = oracle.topk(node, k=5)
    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
    assert [d for d, _ in rows] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(rows, want):
        assert abs(gs - ws) <= 1e-9


def test_probe_tier_phrase_measures_phrase_rarity(spark, built, monkeypatch):
    """Probe tier (the q_skew scale path): the rarest MEMBER TERM is too
    common for meta_span, but the expensive branch dominates, so pass 1
    evaluates the cheap branch exactly — a PHRASE's measured match set, not
    its member dfs — and its spans restrict the stopword's blocks.  Result
    must be rank-identical to the oracle, and the runtime gate record must
    show the measured span counts."""
    from trinity_spark.operators import topk as topk_mod
    from trinity_spark.plans.parser import parse_query
    from trinity_spark.plans.planner import QueryPlanner

    monkeypatch.setattr(topk_mod, "AND_PRUNE_MIN_DF", 1)
    monkeypatch.setattr(topk_mod, "META_KEEP_MAX", 0.0)  # force past meta tier
    monkeypatch.setattr(topk_mod, "PROBE_DOMINANCE", 1.01)
    index, corpus = built
    node = parse_query('the AND "rate limit"')
    planner = QueryPlanner(index)
    df = planner.plan(node, k=5)
    gate = planner.last_route["gate"]
    assert gate["tier"] == "probe", gate
    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
    assert gate["bailed"] in (False, True)
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    want = oracle.topk(node, k=5)
    assert [d for d, _ in rows] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(rows, want):
        assert abs(gs - ws) <= 1e-9
    if not gate["bailed"]:
        assert 0 < gate["probe_spans"] <= gate["total_spans"]


def test_probe_tier_bails_when_candidates_dense(spark, built, monkeypatch):
    """When pass 1 measures candidate spans covering most of the corpus the
    probe path must BAIL to the single-pass plan (still exact) and record
    it — the adaptive safety net for mispredicted phrase rarity."""
    from trinity_spark.operators import topk as topk_mod
    from trinity_spark.plans.parser import parse_query
    from trinity_spark.plans.planner import QueryPlanner

    monkeypatch.setattr(topk_mod, "AND_PRUNE_MIN_DF", 1)
    monkeypatch.setattr(topk_mod, "META_KEEP_MAX", 0.0)
    monkeypatch.setattr(topk_mod, "PROBE_DOMINANCE", 1.0)
    monkeypatch.setattr(topk_mod, "PROBE_BAIL_KEEP", 0.0)  # any span -> bail
    index, corpus = built
    node = parse_query("the AND error")
    planner = QueryPlanner(index)
    df = planner.plan(node, k=5)
    gate = planner.last_route["gate"]
    assert gate["tier"] == "probe" and gate["bailed"] is True
    assert planner.last_route["path"] == "single_pass"
    assert "bailed to single-pass" in gate["reason"]
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    want = oracle.topk(node, k=5)
    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
    assert [d for d, _ in rows] == [d for d, _ in want]


def test_meta_tier_measures_spread_terms(spark, built, monkeypatch):
    """df bounds postings, not block-range coverage: when the worst case
    (df x spans-per-chunk) exceeds the gate budget, the meta tier must
    MEASURE covered spans (metadata-only) and record the count — and bail
    to single-pass when the rare term's ranges tile the corpus."""
    from trinity_spark.operators import topk as topk_mod
    from trinity_spark.plans.planner import QueryPlanner

    monkeypatch.setattr(topk_mod, "AND_PRUNE_MIN_DF", 1)
    # widen the meta gate so zxqv (df ~4 at 15 total spans) takes the meta
    # tier, while its worst case (df x 2 spans-per-chunk at chunk_bits=8)
    # still exceeds the budget -> the measured branch runs
    monkeypatch.setattr(topk_mod, "META_KEEP_MAX", 0.5)
    index, corpus = built
    planner = QueryPlanner(index)
    df = planner.plan("the AND zxqv", k=5)
    gate = planner.last_route["gate"]
    assert gate["tier"] == "meta_span"
    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
    assert "meta_spans" in gate, gate
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    from trinity_spark.plans.parser import parse_query

    want = oracle.topk(parse_query("the AND zxqv"), k=5)
    assert [d for d, _ in rows] == [d for d, _ in want]
    # force the bail: any measured coverage is "too much"
    monkeypatch.setattr(topk_mod, "PROBE_BAIL_KEEP", 0.0)
    df2 = planner.plan("the AND zxqv", k=5)
    gate2 = planner.last_route["gate"]
    assert gate2["bailed"] is True and planner.last_route["path"] == "single_pass"
    rows2 = [(r["doc_id"], r["score"]) for r in df2.collect()]
    assert rows2 == rows


def test_meta_measures_published_by_gate():
    """and_gate_report publishes whether the meta_span tier must MEASURE its
    covered spans (a pass-1 driver action) — the bit routing_decision's
    dispatcher test reads, so it can't drift from the executor."""
    from trinity_spark.operators.topk import and_gate_report
    from trinity_spark.plans.ast import And, Token
    from trinity_spark.plans.planner import IndexStats

    node = And((Token("the"), Token("rare")))
    # df 1000 opens the meta tier but cannot bound coverage in the worst
    # case (1000 postings x 512 spans/chunk tiles > 25% of 78125 spans)
    stats = IndexStats(10_000_000, {"the": 2_000_000, "rare": 1000})
    rep = and_gate_report(stats, node, chunk_bits=16)
    assert rep["open"] and rep["tier"] == "meta_span"
    assert rep["meta_measures"] is True
    # df 10 bounds coverage by df alone: no measurement action
    stats2 = IndexStats(10_000_000, {"the": 2_000_000, "rare": 10})
    rep2 = and_gate_report(stats2, node, chunk_bits=16)
    assert rep2["open"] and rep2["tier"] == "meta_span"
    assert rep2["meta_measures"] is False


def test_intersection_counts_token_bounds():
    """Empty token lists and >63 tokens raise instead of producing a broken
    signed-64-bit mask (bit 63 is unrepresentable as a Spark long literal)."""
    import pytest

    from trinity_spark.operators.intersect import intersection_counts

    with pytest.raises(ValueError, match="empty"):
        intersection_counts(None, [])
    with pytest.raises(ValueError, match="63"):
        intersection_counts(None, [f"t{i}" for i in range(64)])
    with pytest.raises(ValueError, match="duplicate"):
        # coalesce fires the FIRST matching branch: a repeated token's later
        # bit would silently never be set in any mask
        intersection_counts(None, ["join", "join", "scan"])
