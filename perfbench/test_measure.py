"""Tests for the benchmark's own helpers.  No Spark needed:

    python3 -m pytest perfbench -q
"""

import os

import pytest

from measure import (
    WriteLedger,
    compare_topk,
    parse_proc_stat,
    samples_beyond,
    steal_seconds,
    tail_supported,
    text_bytes,
    timed_rounds,
    tree_cpu_ticks,
)
from tracing import Tracer, _leading_int, self_times_ms


def test_samples_beyond_counts_the_interpolated_tail():
    # with linear interpolation p90 of n samples sits at index 0.9 * (n - 1)
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(92, 90) == 10
    assert samples_beyond(91, 90) == 9
    assert samples_beyond(18, 90) == 2
    assert samples_beyond(4, 90) == 1
    assert samples_beyond(0, 90) == 0
    assert tail_supported(92, 90)
    assert not tail_supported(91, 90)
    assert tail_supported(11, 0)


def test_timed_rounds_depends_on_arguments_only():
    assert timed_rounds(10, 5, 3) == 3
    assert timed_rounds(20, 5, 3) == 4
    assert timed_rounds(10, 15, 1) == 1
    assert timed_rounds(30, 15, 1) == 2


def test_write_ledger_counts_each_created_path_once(tmp_path):
    root = tmp_path / "store"
    root.mkdir()
    (root / "old.bin").write_bytes(b"x" * 10)
    ledger = WriteLedger(str(root))
    (root / "old.bin").write_bytes(b"x" * 50)  # rewritten baseline file: not new
    (root / "seg").mkdir()
    (root / "seg" / "a.parquet").write_bytes(b"y" * 7)
    ledger.observe()
    (root / "seg" / "a.parquet").write_bytes(b"y" * 9)  # grew: largest size counts
    ledger.observe()
    ledger.observe()  # observing twice counts nothing twice
    os.remove(root / "seg" / "a.parquet")  # merged away after being seen
    (root / "seg" / "b.parquet").write_bytes(b"z" * 3)
    os.symlink(root / "old.bin", root / "link")  # links are not files of the store
    ledger.observe()
    assert ledger.bytes_written == 9 + 3


def test_text_bytes_counts_utf8():
    assert text_bytes(["ab", "é", None, ""]) == 2 + 2


PROC_STAT = (
    "cpu  100 5 50 1000 20 0 3 250 0 0\n"
    "cpu0 50 2 25 500 10 0 1 125 0 0\n"
    "intr 1 2 3\n"
)


def test_steal_seconds_reads_aggregate_line():
    assert steal_seconds(PROC_STAT, 100) == 2.5
    assert steal_seconds("cpu  1 2 3 4 5 6 7\n", 100) == 0.0
    with pytest.raises(ValueError):
        steal_seconds("intr 1\n", 100)


def _stat(pid, comm, ppid, ticks):
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    u, s, cu, cs = ticks
    return (f"{pid} ({comm}) S {ppid} 1 1 0 -1 0 0 0 0 0 "
            f"{u} {s} {cu} {cs} 20 0 1 0 100 0 0")


def test_parse_proc_stat_handles_odd_command_names():
    assert parse_proc_stat(_stat(42, "a) (b c", 7, (1, 2, 3, 4))) == (42, 7, 10)


def test_tree_cpu_ticks_sums_descendants_only():
    stats = [
        _stat(10, "python3", 1, (5, 5, 0, 0)),
        _stat(11, "java", 10, (100, 20, 0, 0)),
        _stat(12, "python3 -m daemon", 11, (3, 1, 6, 0)),
        _stat(13, "worker", 12, (2, 0, 0, 0)),
        _stat(20, "other", 1, (999, 999, 0, 0)),
    ]
    assert tree_cpu_ticks(stats, 10) == 10 + 120 + 10 + 2
    assert tree_cpu_ticks(stats, 12) == 12
    assert tree_cpu_ticks(stats, 99) == 0


def test_compare_topk():
    want = [(3, 2.5), (1, 2.5), (7, 1.0)]
    assert compare_topk(want, want) is None
    assert compare_topk([(3, 2.5 + 1e-12), (1, 2.5), (7, 1.0)], want) is None
    assert "doc ids differ" in compare_topk([(1, 2.5), (3, 2.5), (7, 1.0)], want)
    assert "doc ids differ" in compare_topk(want[:2], want)
    assert "score of doc 7" in compare_topk([(3, 2.5), (1, 2.5), (7, 1.1)], want)
    assert compare_topk([(1, float("nan"))], [(1, 1.0)]) is not None


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "op": 0, "start": start, "end": end}


def test_self_times_subtract_direct_children():
    spans = [
        _span(0, "op", None, 0.0, 1.0),
        _span(1, "plan", 0, 0.1, 0.3),
        _span(2, "collect", 0, 0.3, 0.9),
        _span(3, "decode", 2, 0.4, 0.5),
        _span(4, "op", None, 2.0, 2.5),
    ]
    got = self_times_ms(spans)
    assert got["op"] == pytest.approx(200.0 + 500.0)
    assert got["plan"] == pytest.approx(200.0)
    assert got["collect"] == pytest.approx(500.0)
    assert got["decode"] == pytest.approx(100.0)


def test_tracer_records_nesting_and_disabled_records_nothing():
    tr = Tracer(True)
    tr.op = 3
    with tr.span("op") as outer:
        with tr.span("plan", kind="broad") as inner:
            pass
    assert inner["parent"] == outer["id"] and inner["op"] == 3
    assert inner["kind"] == "broad" and inner["end"] >= inner["start"]
    assert outer["end"] >= inner["end"]
    off = Tracer(False)
    with off.span("op") as rec:
        assert rec is None
    assert off.spans == []


def test_leading_int_parses_spark_metric_strings():
    assert _leading_int("1,234") == 1234
    assert _leading_int("4") == 4
    assert _leading_int("n/a") == 0


def test_layer_metrics_from_spans_tolerates_failed_ops():
    from workloads import LAYER_UNITS, layer_metrics

    tr = Tracer(True)
    with tr.span("build") as b:
        pass
    b.update(start=0.0, end=2.0, segment_ms=1500.0)
    for op, jobs in ((0, 3), (1, None)):  # op 1 failed before its counts
        tr.op = op
        with tr.span("op") as rec:
            with tr.span("compaction") as c:
                pass
        if jobs is not None:
            rec.update(jobs=jobs, stages=jobs, tasks=2 * jobs, input_bytes=10,
                       files_read=1)
            c.update(merges=1, blocks_reused=3, blocks_reencoded=1)
    host = {"steal_s_begin": 1.0, "steal_s_end": 1.5, "cpu_s_begin": 0.0, "cpu_s_end": 4.0}
    out = layer_metrics(tr, {"ops": [{"ms": 10.0}, {"ms": 30.0}]}, host)
    assert set(out) == set(LAYER_UNITS)
    assert out["spark.jobs_per_op"] == 1.5
    assert out["compaction.merges_per_op"] == 0.5
    assert out["merge.byte_reuse_ratio"] == 0.75
    assert out["build.wall_ms"] == 2000.0 and out["build.docid_ms"] == 500.0
    assert out["host.steal_s"] == 0.5 and out["host.cpu_s_per_op"] == 2.0
    assert out["trace.op_p50_ms"] == 20.0
    assert out["nrt.append_ms"] == 0.0 and out["planner.route.pruned_or"] == 0.0
