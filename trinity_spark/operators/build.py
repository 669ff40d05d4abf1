"""Index build: transcripts -> hits -> logical postings + term_dict + field_stats.

Reference analog: ``SegmentIndexSession`` (``/root/reference/indexer.cpp``):
per-document term hits are accumulated (``indexer.cpp:33-153``), sorted by
(term, docID) (``indexer.cpp:395-420`` — its 32-way parallel sort is Spark's
shuffle), then encoded per term.  Spark-first version:

    transcripts --tokenize(pandas UDF)--> posexplode --> hits(doc_id, term, pos)
      --groupBy(term, doc_id)--> postings(term, doc_id, tf, positions)
      --groupBy(term)--> term_dict(term, df, cf)
      --agg--> field_stats (one row)

All aggregates are partial+final (map-side combine) — no driver loops.
``field_stats`` carries exactly the reference's per-source statistics
(``index_source.h:44-53``): sum_term_hits, total_terms, sum_terms_docs,
docs_cnt; BM25 sums them across segments at query time
(``similarity.h:238-250``).  A segment store records the same statistics
per segment in its manifest (``sources/store.py``) instead of a table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tokenizer import positionless_col, tokens_column

HITS_SCHEMA = "doc_id long, term string, pos int"
POSTINGS_SCHEMA = "term string, doc_id long, tf int, positions array<int>"


def tokenize_turns(turns: DataFrame, text_col: str = "text") -> DataFrame:
    """turns(doc_id, text, ...) -> hits(doc_id, term, pos); pos is the
    1-based slot index — except word:tail operator tokens, which are
    positionless (pos 0, codecs.h:191-195) while still consuming their slot."""
    toks = turns.select("doc_id", tokens_column(F.col(text_col)).alias("toks"))
    return toks.select(
        "doc_id",
        F.posexplode("toks").alias("pos0", "term"),
    ).select(
        "doc_id",
        "term",
        F.when(positionless_col(F.col("term")), F.lit(0))
        .otherwise(F.col("pos0") + 1)
        .cast("int")
        .alias("pos"),
    )


def build_postings(hits: DataFrame) -> DataFrame:
    """hits -> logical postings (term, doc_id, tf, positions sorted asc)."""
    return hits.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def build_term_dict(postings: DataFrame) -> DataFrame:
    """term -> (df, cf); the term dictionary (terms.cpp:126-172 analog —
    parquet min/max stats + pushdown replace the prefix-coded skiplist)."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def term_dict_from_blocks(blocks: DataFrame) -> DataFrame:
    """term_dict straight off encoded block METADATA (no decode): df = sum of
    block doc_counts, cf = sum of block tf sums.  ``SegmentStore`` is its
    one caller: a segment commit derives its own dictionary."""
    return blocks.groupBy("term").agg(
        F.sum("doc_count").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
    )


def build_field_stats(postings: DataFrame, docs_cnt: int) -> DataFrame:
    """One-row field statistics (index_source.h:44-53)."""
    return postings.agg(
        F.coalesce(F.sum("tf"), F.lit(0)).alias("sum_term_hits"),
        F.count_distinct("term").alias("total_terms"),
        F.count(F.lit(1)).alias("sum_terms_docs"),
        F.lit(docs_cnt).cast("long").alias("docs_cnt"),
    )
