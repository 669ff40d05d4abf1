"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in .explain() — term predicate pushed to the parquet block scan,
broadcast of pruning chunk sets, no Python row-at-a-time UDFs in query plans."""

import pytest

from trinity_spark.fixtures import gen_transcripts
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.sources.store import SegmentStore


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    # these plans pin the varbyte block decode's shape (its MapInArrow
    # scans, the pos_bytes stream); tests/test_native.py covers the default
    base = str(tmp_path_factory.mktemp("plans"))
    store = SegmentStore(base)
    build_index(spark, spark.createDataFrame(gen_transcripts(600)), store,
                rows_per_segment=600, codec="varbyte")
    return SegmentIndex(spark, store)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_term_filter_pushed_to_block_scan(index):
    plan = _plan(index.postings_for(["error", "timeout"]))
    # the isin filter must reach the parquet scan of the encoded blocks
    assert "PushedFilters" in plan
    assert "In(term" in plan, plan[:2000]


def test_query_plan_prunes_columns(index):
    df = index.blocks.where("term = 'error'").select("term", "max_tf")
    plan = _plan(df)
    # only the needed columns are read (no binary payload columns)
    assert "doc_deltas" not in plan.split("ReadSchema")[1][:300]


def test_no_python_row_udfs_in_boolean_query(index):
    from trinity_spark.plans.planner import QueryPlanner

    df = QueryPlanner(index).plan("error AND timeout", k=10)
    plan = _plan(df)
    # decode is ArrowEvalPython/MapInArrow (vectorized); BatchEvalPython would
    # mean a row-at-a-time Python UDF snuck into the hot path
    assert "BatchEvalPython" not in plan
    # scoring/aggregation is JVM hash aggregation (codegen shows post-AQE)
    assert "HashAggregate" in plan


def test_topk_is_take_ordered(index):
    from trinity_spark.plans.planner import QueryPlanner

    df = QueryPlanner(index).plan("error OR timeout", k=10)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_mixed_tree_is_single_scan_single_agg(index):
    """Every boolean tree — plain-token OR/AND/min-match (duplicate terms
    included), and the phrase-bearing / NOT-bearing q_mixed shape — compiles
    to ONE doc_id aggregation: no per-branch aggregations and no anti-join
    exchange.  The decode is ONE MapInArrow per position-ness: phrase-member
    terms carry positions, plain tokens scan docs/freqs-only (their
    pos_bytes is never read), so a token-only tree decodes its blocks once
    and a tree mixing both shapes has exactly TWO scans feeding the one
    agg."""
    from trinity_spark.plans.planner import QueryPlanner

    planner = QueryPlanner(index)
    for q, n_scans_expected in [
        ("error OR timeout OR retry", 1),
        ("error AND timeout", 1),
        ("[gpu, cuda, driver] min=2", 1),
        ("error <timeout>", 1),  # optional branch under AND
        ("error error timeout", 1),  # duplicate term
        ('("rate limit" OR throttle) AND api NOT sandbox', 2),
        ('"connection reset by peer" AND error', 2),
        ("error NOT test", 1),
        ('[gpu, "rate limit", cuda] min=2', 2),
        ('"rate limit"', 1),  # all terms are members: one positioned scan
    ]:
        plan = _plan(planner.plan(q, k=10, block_pruning=False))
        tree = plan.split("\n\n")[0]
        assert tree.count("MapInArrow") == n_scans_expected, (q, tree)
        # exactly one aggregation pair (partial + final) keyed on doc_id
        n_aggs = tree.count("HashAggregate")  # matches ObjectHashAggregate too
        assert n_aggs <= 2, (q, n_aggs, tree)
        assert "Join" not in tree, (q, tree)
        assert "BatchEvalPython" not in plan
        # the split is real column pruning: when both scan shapes exist, one
        # ReadSchema carries pos_bytes and one does not
        reads = [seg[:400] for seg in plan.split("ReadSchema")[1:]]
        if n_scans_expected == 2:
            assert any("pos_bytes" in r for r in reads), (q, reads)
            assert any("pos_bytes" not in r for r in reads), (q, reads)


def test_token_only_query_skips_position_stream(index):
    """A query with no phrase must not read pos_bytes (the largest stream) —
    the docs/freqs-only decode, visible as parquet column pruning."""
    from trinity_spark.plans.planner import QueryPlanner

    planner = QueryPlanner(index)
    for q in ["error OR timeout OR retry", "error AND timeout", "error NOT test"]:
        plan = _plan(planner.plan(q, k=10, block_pruning=False))
        read = plan.split("ReadSchema")[1][:400]
        assert "pos_bytes" not in read, (q, read)
        assert "doc_deltas" in read and "tf_bytes" in read, (q, read)
    # and a phrase query still reads it
    plan = _plan(planner.plan('"rate limit"', k=10, block_pruning=False))
    assert "pos_bytes" in plan.split("ReadSchema")[1][:400]


def test_routing_decision_is_the_planner_predicate(index):
    """routing_decision (shared with the collection dispatcher) must agree
    with what plan() actually does — including the guards the dispatcher
    once hand-mirrored and drifted on (k=0, duplicate OR terms)."""
    from trinity_spark.plans.parser import parse_query
    from trinity_spark.plans.planner import QueryPlanner, routing_decision

    planner = QueryPlanner(index)
    for q, k in [
        ("error OR timeout OR retry", 10),
        ("error OR timeout", 0),  # k=0: no pruning threshold -> never pass1
        ("error OR error OR timeout", 10),  # dup terms -> never pass1
        ("error AND timeout", 10),
        ('the AND "rate limit"', 10),
    ]:
        node = parse_query(q)
        dec = routing_decision(index, node, k)
        planner.plan(q, k=k)
        route = planner.last_route
        predicted = dec["route"] or "single_pass"
        # a probe-tier bail rewrites path to single_pass at runtime; the
        # prediction is still "would take the pruned route"
        if not (route["gate"] or {}).get("bailed"):
            assert route["path"] == predicted, (q, dec, route)
        if k == 0 or "error OR error" in q:
            assert dec["pass1"] is False, (q, dec)
    # k=0 AND: the OR branch always had this guard; the AND branch paid
    # eager pass-1 probe jobs for a guaranteed-empty page
    for q in ["error AND timeout", 'the AND "rate limit"']:
        dec = routing_decision(index, parse_query(q), 0)
        assert dec["route"] is None and dec["pass1"] is False, (q, dec)
