"""The fused turns->blocks encoder must decode back to exactly the postings
the reference paths produce, and its block-metadata stats must match."""

from trinity_spark.fixtures import gen_transcripts
from trinity_spark.operators.build import term_dict_from_blocks
from trinity_spark.operators.docids import assign_doc_ids
from trinity_spark.operators.fastbuild import blocks_from_turns, postings_from_turns
from trinity_spark.operators.segments import BLOCK_SIZE, decode_segments


def _norm(df):
    return sorted(
        (r["term"], r["doc_id"], r["tf"], tuple(r["positions"])) for r in df.collect()
    )


def test_fused_blocks_roundtrip(spark):
    turns = assign_doc_ids(spark.createDataFrame(gen_transcripts(800)), num_partitions=5)
    turns.persist()
    want = _norm(postings_from_turns(turns))
    blocks = blocks_from_turns(turns, chunk_bits=8).persist()
    got = _norm(decode_segments(blocks))
    assert got == want

    # block invariants
    rows = blocks.collect()
    assert all(1 <= r["doc_count"] <= BLOCK_SIZE for r in rows)
    assert all(r["min_doc_id"] <= r["max_doc_id"] for r in rows)
    assert all(r["chunk"] == r["min_doc_id"] >> 8 for r in rows)

    # metadata-derived dictionary == groupBy over decoded postings
    td = {r["term"]: (r["df"], r["cf"]) for r in term_dict_from_blocks(blocks).collect()}
    byterm = {}
    for t, d, tf, _ in want:
        df_, cf_ = byterm.get(t, (0, 0))
        byterm[t] = (df_ + 1, cf_ + tf)
    assert td == byterm
