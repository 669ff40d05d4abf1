"""The native codec (the default): flat Parquet postings rows that Spark
scans in the JVM.  Queries never enter Python, every route returns the
oracle's ranks, and the write paths (build, NRT append and replace,
tiered compaction with tombstones) keep fsck and the lineage exact."""

import json
import os

import pytest
from pyspark.sql import functions as F

from trinity_spark.fixtures import docs_in_stable_order, gen_transcripts
from trinity_spark.operators import topk as topk_mod
from trinity_spark.operators.indexer import SegmentIndex, build_index
from trinity_spark.operators.topk import pruned_or_topk, rare_and_topk
from trinity_spark.oracle import OracleIndex
from trinity_spark.plans.ast import And, Phrase, Token
from trinity_spark.plans.parser import parse_query
from trinity_spark.plans.planner import QueryPlanner
from trinity_spark.sources.store import SegmentStore

N_TURNS = 3000
PYTHON_NODES = ("PythonMapInArrow", "MapInArrow", "ArrowEvalPython", "BatchEvalPython")
QUERIES = os.path.join(os.path.dirname(os.path.dirname(__file__)), "queries.jsonl")


@pytest.fixture(scope="module")
def native(spark, tmp_path_factory):
    """A default-codec store at chunk_bits=10 (bench.py's ``_cb10`` width),
    in three segments, and its oracle."""
    corpus = gen_transcripts(N_TURNS)
    store = SegmentStore(str(tmp_path_factory.mktemp("native") / "idx"))
    build_index(
        spark, spark.createDataFrame(corpus), store, rows_per_segment=1000,
        chunk_bits=10,
    )
    assert store.layout().codec == "native"
    return SegmentIndex(spark, store), OracleIndex.build(docs_in_stable_order(corpus))


def _force_meta_span(monkeypatch) -> None:
    """Open the AND gate's meta_span tier at test scale, and never bail."""
    monkeypatch.setattr(topk_mod, "AND_PRUNE_MIN_DF", 1)
    monkeypatch.setattr(topk_mod, "META_KEEP_MAX", float("inf"))
    monkeypatch.setattr(topk_mod, "PROBE_BAIL_KEEP", float("inf"))


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _ranks(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _oracle_ranks(oracle, query, k=10) -> list[tuple[int, float]]:
    return [(d, round(s, 9)) for d, s in oracle.topk(parse_query(query), k)]


def test_native_queries_never_enter_python(spark, native, tmp_path, monkeypatch):
    """A token query, a boolean tree, a phrase and the forced pruned_or /
    rare_and plans execute with no Python node; a varbyte store's token
    query shows its decode node, so the check can fail."""
    index, _ = native
    planner = QueryPlanner(index)
    _force_meta_span(monkeypatch)
    plans = {
        "token": planner.plan("error", k=10),
        "tree": planner.plan('("rate limit" OR throttle) AND api NOT sandbox', k=10),
        "phrase": planner.plan('"connection reset by peer"', k=10),
        "pruned_or": pruned_or_topk(index, ["the", "error", "timeout"], k=10),
        "rare_and": rare_and_topk(
            index, And((Token("the"), Phrase(("rate", "limit")))), k=10
        ),
    }
    for name, df in plans.items():
        plan = _executed_plan(df)
        assert not [n for n in PYTHON_NODES if n in plan], (name, plan)

    store = SegmentStore(str(tmp_path / "varbyte"))
    build_index(
        spark, spark.createDataFrame(gen_transcripts(300)), store, codec="varbyte"
    )
    plan = _executed_plan(QueryPlanner(SegmentIndex(spark, store)).plan("error", k=10))
    assert "MapInArrow" in plan, plan


def test_native_ranks_equal_the_oracle(native):
    """All 18 queries of queries.jsonl, single pass, in the oracle's ranks."""
    index, oracle = native
    planner = QueryPlanner(index)
    with open(QUERIES) as f:
        queries = [json.loads(x)["query"] for x in f if x.strip()]
    assert len(queries) == 18
    for q in queries:
        assert _ranks(planner.plan(q, k=10)) == _oracle_ranks(oracle, q), q


@pytest.mark.parametrize(
    "terms", [["the", "qqfluxcapacitor"], ["the", "a", "error"], ["error", "timeout", "retry"]]
)
def test_native_pruned_or_matches_single_pass(native, terms):
    index, oracle = native
    got, report = pruned_or_topk(index, terms, k=10, return_report=True)
    query = " OR ".join(terms)
    single = QueryPlanner(index).plan(query, k=10, block_pruning=False)
    assert _ranks(got) == _ranks(single) == _oracle_ranks(oracle, query)
    assert report.total_chunks > 0


@pytest.mark.parametrize(
    "tier,query",
    [("meta_span", 'the AND "rate limit"'), ("probe", 'the AND "rate limit"'),
     ("meta_span", "the AND qqfluxcapacitor"), ("probe", "error AND timeout")],
)
def test_native_rare_and_matches_single_pass(native, monkeypatch, tier, query):
    """rare_and, forced open in either tier, returns the single-pass rows:
    native rows are restricted per doc to the kept spans."""
    index, oracle = native
    _force_meta_span(monkeypatch)
    if tier == "probe":
        monkeypatch.setattr(topk_mod, "META_KEEP_MAX", 0.0)
        monkeypatch.setattr(topk_mod, "PROBE_DOMINANCE", 1.0)
    node = parse_query(query)
    planner = QueryPlanner(index)
    got = planner.plan(node, k=10)
    report = planner.last_route["gate"]
    assert planner.last_route["path"] == "rare_and", planner.last_route
    assert report["tier"] == tier and not report.get("bailed"), report
    single = QueryPlanner(index).plan(node, k=10, block_pruning=False)
    assert _ranks(got) == _ranks(single) == _oracle_ranks(oracle, query), report


def _physical(spark, store, segment_id):
    """(postings rows, field stats) recounted from a segment's files."""
    rows = spark.read.parquet(store.segment_dir(segment_id, "postings"))
    r = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("tf"), F.lit(0)).alias("hits"),
        F.countDistinct("term").alias("terms"),
    ).first()
    return int(r["n"]), {
        "sum_term_hits": int(r["hits"]),
        "total_terms": int(r["terms"]),
        "sum_terms_docs": int(r["n"]),
    }


def test_native_write_paths_keep_fsck_and_lineage_exact(spark, tmp_path):
    """Build, NRT append, replace_documents and a tiered compaction with
    tombstones: deep fsck stays clean, each live segment's lineage n_blocks
    (postings rows under native) and field stats equal a physical recount,
    block_meta sums its doc_count to n_blocks, the merge reports its input
    rows re-encoded, and tombstoned versions are gone from the merged
    rows."""
    from trinity_spark.operators.compaction import compact
    from trinity_spark.streaming.nrt import append_micro_segment, replace_documents

    store = SegmentStore(str(tmp_path / "idx"))
    corpus = gen_transcripts(600)
    build_index(spark, spark.createDataFrame(corpus), store, rows_per_segment=300)
    for i in range(3):
        b = gen_transcripts(80, seed=20 + i)
        b["conv_id"] = f"nrt{i}-" + b["conv_id"]
        append_micro_segment(spark, store, spark.createDataFrame(b), f"batch-{i}")
    updated = corpus.iloc[:4].copy()
    updated["text"] = "qqreplaced marker " + updated["text"]
    replace_documents(spark, store, spark.createDataFrame(updated), "replace-0")
    store.add_deletes(spark, [10, 320])
    merged = compact(spark, store)
    assert merged
    for m in merged:
        # every input row is rewritten or dropped with its tombstoned doc
        assert m.metrics["blocks_reused"] == 0
        assert m.metrics["blocks_reencoded"] > m.lineage["n_blocks"]

    rep = store.fsck(spark, deep=True)
    assert rep["ok"], rep
    for meta in store.segments():
        n, stats = _physical(spark, store, meta.segment_id)
        assert (meta.lineage["n_blocks"], meta.lineage["field_stats"]) == (n, stats)
        covered = spark.read.parquet(
            store.segment_dir(meta.segment_id, "block_meta")
        ).agg(F.sum("doc_count")).first()[0]
        assert covered == n, meta.segment_id
        assert sorted(os.listdir(os.path.join(store.base, "segments", meta.segment_id))) == [
            "block_meta", "postings",
        ]

    index = SegmentIndex(spark, store)
    hits = _ranks(QueryPlanner(index).plan("qqreplaced", k=10))
    assert len(hits) == 4 and all(d >= 600 for d, _ in hits)
    # the tombstoned docs (two deletes, four replaced versions) are gone
    # from the merged rows
    gone = index.postings.where(F.col("doc_id").isin([0, 1, 2, 3, 10, 320]))
    assert gone.count() == 0


@pytest.mark.parametrize("part", ["postings", "block_meta"])
def test_native_lost_file_fails_fsck(spark, tmp_path, part):
    store = SegmentStore(str(tmp_path / "idx"))
    build_index(spark, spark.createDataFrame(gen_transcripts(300)), store)
    assert store.fsck(spark, deep=True)["ok"]
    seg = store.segments()[0].segment_id
    d = store.segment_dir(seg, part)
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            os.remove(os.path.join(d, f))
    rep = store.fsck(spark, deep=True)
    assert not rep["ok"]
    assert any(part in e for e in rep["errors"]), rep["errors"]
    assert any("n_blocks" in e for e in rep["errors"]), rep["errors"]


@pytest.mark.parametrize("codec,part", [("native", "block_meta"), ("varbyte", "term_dict")])
def test_dictionary_files_follow_the_size_estimate(spark, tmp_path, monkeypatch, codec, part):
    """A segment's per-term table is one file at the bench size — the first
    stats_for then runs one Spark job (counted with AQE off, which submits
    each shuffle stage as a job of its own) — and several once the postings
    estimate passes DICT_FILE_RATIO target files."""
    import trinity_spark.sources.store as store_mod

    def parquet_files(store):
        d = store.segment_dir(store.segments()[0].segment_id, part)
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    turns = spark.createDataFrame(gen_transcripts(400))
    small = SegmentStore(str(tmp_path / "small"))
    build_index(spark, turns, small, codec=codec)
    assert len(parquet_files(small)) == 1
    index = SegmentIndex(spark, small)
    sc = spark.sparkContext
    group = f"first-stats-{codec}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        index.stats_for(["error"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    monkeypatch.setattr(store_mod, "POSTINGS_TARGET_FILE_BYTES", 1)
    monkeypatch.setattr(store_mod, "DICT_FILE_RATIO", 1)
    large = SegmentStore(str(tmp_path / "large"))
    build_index(spark, turns, large, codec=codec)
    assert len(parquet_files(large)) > 1
    assert large.fsck(spark, deep=True)["ok"]
    assert (
        SegmentIndex(spark, large).stats_for(["error", "the"]).df("error")
        == index.stats_for(["error", "the"]).df("error")
    )


def test_native_dictionary_is_one_row_per_term(spark, native):
    """The native dictionary reads each term's first block_meta row: one
    row per term per segment (as many as the lineage's distinct terms),
    whose df / cf equal the term's summed block doc_count / sum_tf."""
    index, _ = native
    metas = index.store.segments()
    got = {
        r["term"]: (r["df"], r["cf"])
        for r in index.term_dict.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .collect()
    }
    assert index.term_dict.count() == sum(
        m.lineage["field_stats"]["total_terms"] for m in metas
    )
    want = {
        r["term"]: (r["df"], r["cf"])
        for r in index.blocks.groupBy("term")
        .agg(F.sum("doc_count").alias("df"), F.sum("sum_tf").alias("cf"))
        .collect()
    }
    assert got == want


def test_native_dictionary_lookup_skips_a_stopwords_blocks(spark, tmp_path):
    """A dictionary lookup's ``df IS NOT NULL`` filter reaches the Parquet
    scan, so a stopword whose block_meta rows span many row groups is read
    from about one of them, not from all its df / 128 block rows.  The
    segment's block_meta is swapped for a synthetic one of 200k block rows,
    written as the commit writes it."""
    import pyarrow.parquet as pq

    from trinity_spark.operators.segments import NATIVE_WRITE_OPTIONS

    store = SegmentStore(str(tmp_path / "idx"))
    build_index(spark, spark.createDataFrame(gen_transcripts(50)), store)
    d = store.segment_dir(store.segments()[0].segment_id, "block_meta")
    n = 200_000
    i = F.col("id")
    first = (i == 0) | (i == n - 1)
    spark.range(n).select(
        F.when(i < n - 1, F.lit("the")).otherwise(F.lit("zz")).alias("term"),
        F.shiftright(i, 9).alias("chunk"),
        i.alias("block_id"),
        F.lit(128).alias("doc_count"),
        (i * 1000 + F.hash(i) % 100).alias("min_doc_id"),
        (i * 1000 + 900 + F.hash(i) % 50).alias("max_doc_id"),
        (F.abs(F.hash(i)) % 30).alias("max_tf"),
        (F.abs(F.hash(i, F.lit(1))) % 3000).cast("long").alias("sum_tf"),
        F.when(first, F.lit(n * 128)).cast("long").alias("df"),
        F.when(first, F.lit(n * 300)).cast("long").alias("cf"),
    ).coalesce(1).sortWithinPartitions("term", "block_id").write.mode(
        "overwrite"
    ).options(**NATIVE_WRITE_OPTIONS).parquet(d)
    (f,) = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    groups = pq.ParquetFile(f).metadata.num_row_groups
    assert groups >= 5

    lookup = SegmentIndex(spark, store).term_dict.where(F.col("term") == "the")
    assert [tuple(r) for r in lookup.collect()] == [("the", n * 128, n * 300)]
    plan = lookup._jdf.queryExecution().executedPlan()
    assert "IsNotNull(df)" in plan.toString()

    def nodes(p):
        yield p
        kids = p.children().iterator()
        while kids.hasNext():
            yield from nodes(kids.next())

    (scanned,) = [
        p.metrics().apply("numOutputRows").value()
        for p in nodes(plan) if p.nodeName().startswith("Scan")
    ]
    assert scanned <= 2 * n // groups
