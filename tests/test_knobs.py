"""Every ``TRINITY_*`` environment variable the engine reads is listed in
README.md's "Environment settings" section, and the list names no variable
the engine has dropped — a new knob shows up as a failing test and a README
diff, not as a silent lookup."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
KNOB = re.compile(r"TRINITY_[A-Z_]+")


def _readme_knobs() -> set[str]:
    text = (ROOT / "README.md").read_text()
    section = text.split("## Environment settings", 1)[1].split("\n## ", 1)[0]
    return set(KNOB.findall(section))


def test_env_knobs_match_readme():
    in_code = {
        name
        for path in (ROOT / "trinity_spark").rglob("*.py")
        for name in KNOB.findall(path.read_text())
    }
    assert in_code == _readme_knobs()


# a READ of a segment's lineage codec / chunk width: ``m.lineage.get("codec"``,
# ``meta.lineage["chunk_bits"]``, ``s["lineage"]["codec"]``
LINEAGE_LAYOUT_READ = re.compile(
    r"""lineage["']?\]?\s*(?:\.get\(|\[)\s*["'](?:codec|chunk_bits)["']"""
)


def test_wire_layout_has_one_owner():
    """One wire layout per store: no codec-tagged block read and no
    ``"mixed"`` codec sentinel anywhere in the engine, and segment lineage
    codec / chunk_bits are read only by ``sources/store.py`` (the store owns
    the layout decision, so a new codec plugs in there and nowhere else)."""
    store = "trinity_spark/sources/store.py"
    for path in sorted((ROOT / "trinity_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        text = path.read_text()
        assert "with_codec" not in text, rel
        assert '"mixed"' not in text and "'mixed'" not in text, rel
        if rel != store:
            assert not LINEAGE_LAYOUT_READ.search(text), rel
    # the pattern is not vacuous: it catches the read forms it is meant for
    for read in ('m.lineage.get("chunk_bits", 16)', 's["lineage"]["codec"]'):
        assert LINEAGE_LAYOUT_READ.search(read), read


# a CALL of a block-stream encoder (the module-level kernels in functions/)
STREAM_ENCODE_CALL = re.compile(
    r"\b(?:encode_varbyte_offsets|pfor_encode_rows|encode_varbyte|pfor_encode)\("
)


def test_block_encoder_has_one_owner():
    """One block encoder: no per-group pandas encoder under operators/, and
    only ``operators/segments.py`` calls the stream encoders, so build and
    merge write blocks through the same kernel (``_encode_partition``)."""
    owner = "trinity_spark/operators/segments.py"
    for path in sorted((ROOT / "trinity_spark" / "operators").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        text = path.read_text()
        for name in ("applyInPandas", "_encode_group", "_encode_stream"):
            assert name not in text, (rel, name)
        if rel != owner:
            assert not STREAM_ENCODE_CALL.search(text), rel
    assert STREAM_ENCODE_CALL.search((ROOT / owner).read_text())


# a CALL of the block-metadata dictionary function (its ``def`` is not one)
TERM_DICT_CALL = re.compile(r"(?<!def )\bterm_dict_from_blocks\(")


def test_segment_stats_have_one_owner():
    """The store owns what a segment records: only ``sources/store.py``
    derives a segment's term dictionary, no per-segment field-stats table
    or the function that built it survives, and the commit calls take
    blocks and meta — no caller-built dictionary or stats frame."""
    import inspect

    from trinity_spark.sources.store import SegmentStore

    store = "trinity_spark/sources/store.py"
    for path in sorted((ROOT / "trinity_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        text = path.read_text()
        for name in ("field_stats_from_blocks", "read_field_stats", "FIELD_STATS_SCHEMA"):
            assert name not in text, (rel, name)
        if rel != store:
            assert not TERM_DICT_CALL.search(text), rel
    assert TERM_DICT_CALL.search((ROOT / store).read_text())
    params = set(inspect.signature(SegmentStore.commit_segment).parameters)
    assert not params & {"term_dict", "field_stats", "stats"}, params
    assert {"blocks", "meta"} <= params, params


# a CALL of the manifest writer (its ``def`` is not one)
MANIFEST_WRITE_CALL = re.compile(r"(?<!def )\b_write_manifest\(")


def test_segment_commit_has_one_owner():
    """One segment commit, one manifest write: build, NRT append/replace
    and merge all commit through ``SegmentStore.commit_segment``, whose
    single manifest write carries the segment, its tombstones or retired
    inputs, and its metrics.  The per-mode commits, the metrics patch and
    the uncalled retire/lookup helpers are gone, and only
    ``sources/store.py`` writes the manifest."""
    from trinity_spark.sources.store import SegmentStore

    gone = (
        "commit_segment_with_deletes",
        "commit_merge",
        "update_segment_metrics",
        "retire_segments",
        "has_segment",
        "discard_uncommitted",  # now the store's private _discard_uncommitted
    )
    pattern = re.compile(r"\b(?:" + "|".join(gone) + r")\b")
    store = "trinity_spark/sources/store.py"
    for path in sorted((ROOT / "trinity_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        text = path.read_text()
        assert not pattern.search(text), (rel, pattern.search(text))
        if rel != store:
            assert not MANIFEST_WRITE_CALL.search(text), rel
    assert MANIFEST_WRITE_CALL.search((ROOT / store).read_text())
    assert [n for n in dir(SegmentStore) if n.startswith("commit")] == [
        "commit_segment"
    ]
    for name in gone:
        assert not hasattr(SegmentStore, name), name


def test_similarity_has_no_dominated_twin():
    """Each similarity job keeps the JVM fold and at most one vectorized
    kernel: the broadcast-join IVF assignment, the per-pair Arrow verify,
    the separate gram entry point and the ``assign_kernel`` option are gone
    from the engine and the bench, and the pair verifies reject any kernel
    but ``sql`` and ``gram`` before touching their input."""
    import pytest

    from trinity_spark.dataops import similarity

    gone = (
        "ivf_assign_join",
        "_assign_with_cdf",
        "_verify_pairs_arrow",
        "semantic_dedup_pairs_gram",
        "assign_kernel",
    )
    paths = sorted((ROOT / "trinity_spark").rglob("*.py")) + [ROOT / "bench.py"]
    for path in paths:
        text = path.read_text()
        for name in gone:
            assert name not in text, (path.relative_to(ROOT).as_posix(), name)
    for call in (
        lambda: similarity.cosine_pairs(None, dim=2, kernel="arrow"),
        lambda: similarity.semantic_dedup_pairs(None, kernel="arrow"),
    ):
        with pytest.raises(ValueError, match=r"; use 'sql' or 'gram'$"):
            call()


def test_docid_map_has_one_reader():
    """One doc-id map contract: ``read_docid_map(spark)`` builds the keys
    from the conv bases or the batch map plus the NRT slices and never
    reads the input back — no ``attach_doc_ids``, no read of the
    manifest's recorded ``docid_map["input"]``, no ``turns`` parameter —
    and ``build_index`` accepts only ``docid_map_mode="virtual"``,
    refusing any other value before a Spark job runs."""
    import inspect

    import pytest

    from trinity_spark.operators.indexer import build_index
    from trinity_spark.sources.store import SegmentStore

    input_read = re.compile(r"""docid_map["']\]\s*(?:\[|\.get\()\s*["']input["']""")
    for path in sorted((ROOT / "trinity_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        text = path.read_text()
        assert "attach_doc_ids" not in text, rel
        assert not input_read.search(text), rel
    assert input_read.search('self.read_manifest()["docid_map"]["input"]')
    assert list(inspect.signature(SegmentStore.read_docid_map).parameters) == [
        "self", "spark",
    ]

    class NoSpark:
        def __getattr__(self, name):
            raise AssertionError(f"build touched spark.{name}")

    class NoStore:
        def __getattr__(self, name):
            raise AssertionError(f"build touched store.{name}")

    with pytest.raises(ValueError, match="docid_map_mode"):
        build_index(NoSpark(), NoSpark(), NoStore(), docid_map_mode="materialized")

