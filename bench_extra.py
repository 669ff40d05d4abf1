#!/usr/bin/env python
"""Round-6 auxiliary benchmarks (bench.py is frozen for measurement, so
optimization-evidence legs live here; numbers are cited in
OPTIMIZATION_r06.md).

Sections (each gated by an env flag so a run measures only what it asks):
  TRINITY_XB_MINHASH=1   MinHash signature kernel A/B (sql md5 vs arrow),
                         interleaved same-window reps, verified-pair parity.
  TRINITY_XB_DECODE=1    Postings-scan decode-job floor: per-task Python
                         overhead vs scan task count on the sf0.1 index
                         (guide 1.4 noop-sink isolation).

Env: SPARK_GRAFT_CPUS (default 32), TRINITY_XB_MINHASH_DOCS (default 1M).
Prints one JSON object (pretty) to stdout; nothing is cached or reused.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_minhash_ab(cpus: int) -> dict:
    from pyspark.sql import functions as F

    from trinity_spark.dataops.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.session import get_spark

    n_docs = int(os.environ.get("TRINITY_XB_MINHASH_DOCS", "1000000"))
    spark = get_spark(f"xb_minhash_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    pdf = gen_transcripts(n_docs)[["text"]].copy()
    # plant 2% exact dups so the candidate stage is non-trivial
    for i in range(0, n_docs, 50):
        pdf.iat[i, 0] = pdf.iat[(i + 1) % n_docs, 0]
    pdf["doc_id"] = range(n_docs)
    docs = spark.createDataFrame(pdf[["doc_id", "text"]]).persist()
    docs.count()

    def sig_wall(kernel: str) -> float:
        spark.sparkContext.setJobDescription(f"minhash sigs [{kernel}]")
        t0 = time.monotonic()
        # checksum aggregation forces every signature to be computed
        minhash_signatures(docs, kernel=kernel).agg(
            F.count(F.lit(1)), F.sum(F.crc32(F.concat_ws("|", "h0", "h15")))
        ).collect()
        return time.monotonic() - t0

    walls: dict[str, list[float]] = {"sql": [], "arrow": []}
    for rep in range(3):  # interleaved same-window reps
        order = ("sql", "arrow") if rep % 2 == 0 else ("arrow", "sql")
        for k in order:
            walls[k].append(round(sig_wall(k), 2))

    # parity of the banded candidate stage (pair sets differ slightly by
    # family; VERIFIED near-dup sets are compared in the test suite — here
    # we record candidate counts for scale context)
    n_cand = {}
    for k in ("sql", "arrow"):
        sigs = minhash_signatures(docs, kernel=k)
        n_cand[k] = lsh_candidate_pairs(
            sigs, num_hashes=16, bands=4, max_bucket_size=2000
        ).count()
    med = {k: statistics.median(v) for k, v in walls.items()}
    return {
        "n_docs": n_docs,
        "signature_walls_sec": walls,
        "signature_median_sec": med,
        "docs_per_sec": {
            k: round(n_docs / med[k], 1) for k in med
        },
        "speedup_arrow_over_sql": round(med["sql"] / med["arrow"], 2),
        "candidate_pairs": n_cand,
    }


def run_decode_floor(cpus: int) -> dict:
    """Per-task cost of reading one term's postings on the bench index: the
    decode MapInArrow's Python boundary under a block codec, the bare
    Parquet scan under native (guide 1.4: noop sink so the sink never
    distorts the timing)."""
    from pyspark.sql import functions as F

    from trinity_spark.operators.indexer import SegmentIndex
    from trinity_spark.operators.segments import decode_segments
    from trinity_spark.session import get_spark
    from trinity_spark.sources.store import SegmentStore

    idx = os.environ.get(
        "TRINITY_XB_INDEX", "/tmp/trinity_bench/index_c32_1000000"
    )
    spark = get_spark(f"xb_decode_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    index = SegmentIndex(spark, SegmentStore(idx))
    noop = lambda df: df.write.format("noop").mode("overwrite").save()
    out: dict = {"index": idx}
    for label, term in [("empty_term", "zzznothing"), ("mid_term", "error"),
                        ("stopword", "the")]:
        src = index.stored.where(F.col("term") == term)
        noop(decode_segments(src, with_positions=False, codec=index.codec))  # warm
        walls = []
        for _ in range(5):
            t0 = time.monotonic()
            noop(decode_segments(src, with_positions=False, codec=index.codec))
            walls.append(round(time.monotonic() - t0, 3))
        out[label] = {"walls": walls, "median": statistics.median(walls)}
    return out


def run_percolator_50k(cpus: int) -> dict:
    """VERDICT r5 #7: the percolator at a selective 50k-query registry
    (rare routing terms; 80% never-firing alerts), chunked compile engaged
    (50k >> MAX_COMPILED_QUERIES), routed vs full scan with a hits-match
    assertion.  Doc side is a deterministic 10k-doc slice of the dataops
    corpus so the full-scan control stays measurable."""
    from pyspark.sql import functions as F

    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.percolator import (
        MAX_COMPILED_QUERIES,
        percolate,
        percolate_routed,
    )
    from trinity_spark.session import get_spark

    spark = get_spark(f"xb_perc_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    n_docs = 10_000
    pdf = gen_transcripts(n_docs)[["text"]].copy()
    pdf["doc_id"] = range(n_docs)
    docs = spark.createDataFrame(pdf[["doc_id", "text"]]).persist()
    docs.count()
    qs = {}
    for i in range(50_000):
        if i % 5:  # 80%: alerts on terms that never occur
            qs[f"q{i}"] = f"qqalert{i:05d} AND error"
        else:  # 20%: rare-tail vocabulary (Zipf tail of the corpus)
            w = f"w{4000 + (i % 950):04d}"
            qs[f"q{i}"] = [
                f"{w} AND error",
                f'"{w} gpu"',
                f"{w} OR w{4000 + ((i + 7) % 950):04d}",
                f"{w} NOT test",
            ][i % 4]
    t0 = time.monotonic()
    hits_full = percolate(docs, qs).count()
    w_full = time.monotonic() - t0
    t0 = time.monotonic()
    hits_routed = percolate_routed(docs, qs).count()
    w_routed = time.monotonic() - t0
    if hits_routed != hits_full:
        raise RuntimeError(f"diverged: {hits_routed} != {hits_full}")
    docs.unpersist()
    return {
        "n_queries": len(qs),
        "n_docs": n_docs,
        "chunked_compile": len(qs) > MAX_COMPILED_QUERIES,
        "max_compiled_queries": MAX_COMPILED_QUERIES,
        "full_scan_wall_sec": round(w_full, 2),
        "routed_wall_sec": round(w_routed, 2),
        "win": round(w_full / max(w_routed, 1e-9), 2),
        "hits": int(hits_routed),
        "hits_match_full_scan": True,
    }


def run_collection_64(cpus: int) -> dict:
    """VERDICT r5 #6: collection execution at 64 micro-stores — the shape
    the pooled path exists for.  Stores-vs-wall curve at 8/32/64 stores,
    gate-closed (lazy union vs pooled) and forced-gate-open (per-store
    pass-1 driver actions), rows asserted identical each time."""
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators import collection as coll
    from trinity_spark.operators import topk as topk_mod
    from trinity_spark.operators.indexer import build_index
    from trinity_spark.session import get_spark
    from trinity_spark.sources.store import SegmentStore

    spark = get_spark(f"xb_coll_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    stores = []
    for i in range(64):
        base = f"/tmp/trinity_bench/xb_coll_store_{i}"
        st = SegmentStore(base)
        if not st.segments():
            build_index(
                spark, spark.createDataFrame(gen_transcripts(25_000, seed=700 + i)),
                st, rows_per_segment=25_000, input_desc=f"xbcoll{i}",
            )
        stores.append(st)

    def rows_of(df):
        return [(r["source"], r["doc_id"], r["score"]) for r in df.collect()]

    out: dict = {"turns_per_store": 25_000, "curve": []}
    q, q2 = "error AND timeout", "the AND error"
    for n in (8, 32, 64):
        sub = stores[:n]
        point: dict = {"n_stores": n}
        # gate-closed: lazy union vs pooled
        orig = coll.PAR_MIN_STORES
        try:
            coll.PAR_MIN_STORES = 10_000
            rows_of(coll.exec_query_collection(spark, sub, q, k=10))  # warm
            t0 = time.monotonic()
            r_ser = rows_of(coll.exec_query_collection(spark, sub, q, k=10))
            point["closed_serial_sec"] = round(time.monotonic() - t0, 2)
        finally:
            coll.PAR_MIN_STORES = orig
        rows_of(coll.exec_query_collection_par(spark, sub, q, k=10))  # warm
        t0 = time.monotonic()
        r_par = rows_of(coll.exec_query_collection_par(spark, sub, q, k=10))
        point["closed_pooled_sec"] = round(time.monotonic() - t0, 2)
        point["closed_rows_identical"] = r_ser == r_par
        # forced-gate-open: per-store pass-1 actions are what serialize
        saved = (topk_mod.AND_PRUNE_MIN_DF, topk_mod.META_KEEP_MAX,
                 topk_mod.PROBE_DOMINANCE, topk_mod.PROBE_BAIL_KEEP)
        try:
            topk_mod.AND_PRUNE_MIN_DF = 1
            topk_mod.META_KEEP_MAX = 0.0
            topk_mod.PROBE_DOMINANCE = 1.0
            topk_mod.PROBE_BAIL_KEEP = 1.1
            try:
                coll.PAR_MIN_STORES = 10_000
                rows_of(coll.exec_query_collection(spark, sub, q2, k=10))
                t0 = time.monotonic()
                fo_ser = rows_of(coll.exec_query_collection(spark, sub, q2, k=10))
                point["open_serial_sec"] = round(time.monotonic() - t0, 2)
            finally:
                coll.PAR_MIN_STORES = orig
            rows_of(coll.exec_query_collection_par(spark, sub, q2, k=10))
            t0 = time.monotonic()
            fo_par = rows_of(coll.exec_query_collection_par(spark, sub, q2, k=10))
            point["open_pooled_sec"] = round(time.monotonic() - t0, 2)
            point["open_rows_identical"] = fo_ser == fo_par
            point["open_win"] = round(
                point["open_serial_sec"] / max(point["open_pooled_sec"], 1e-9), 2
            )
        finally:
            (topk_mod.AND_PRUNE_MIN_DF, topk_mod.META_KEEP_MAX,
             topk_mod.PROBE_DOMINANCE, topk_mod.PROBE_BAIL_KEEP) = saved
        out["curve"].append(point)
    return out


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result: dict = {"cpus": cpus}
    if os.environ.get("TRINITY_XB_MINHASH", "0") == "1":
        result["minhash_kernel_ab"] = run_minhash_ab(cpus)
    if os.environ.get("TRINITY_XB_DECODE", "0") == "1":
        result["decode_floor"] = run_decode_floor(cpus)
    if os.environ.get("TRINITY_XB_PERC50K", "0") == "1":
        result["percolator_50k"] = run_percolator_50k(cpus)
    if os.environ.get("TRINITY_XB_COLL64", "0") == "1":
        result["collection_64"] = run_collection_64(cpus)
    print(json.dumps(result, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
