"""North-rule packaging: the job runs via `spark-submit --py-files
trinity_spark.zip` — the library must work from the zip, with the session
spark-submit provides (no reliance on our session factory or repo cwd)."""

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_build(spark, tmp_path):
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.operators.indexer import SegmentIndex
    from trinity_spark.oracle import OracleIndex
    from trinity_spark.fixtures import docs_in_stable_order
    from trinity_spark.plans.parser import parse_query
    from trinity_spark.plans.planner import QueryPlanner
    from trinity_spark.sources.store import SegmentStore

    # package the library exactly like a cluster deploy would
    zip_path = str(tmp_path / "trinity_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(REPO, "trinity_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    corpus = gen_transcripts(1500)
    src = str(tmp_path / "input")
    spark.createDataFrame(corpus).write.parquet(src)
    index_dir = str(tmp_path / "index")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    p = subprocess.run(
        [
            SPARK_SUBMIT, "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=2",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "submit_build.py"),
            "--input", src, "--index-dir", index_dir,
            "--rows-per-segment", "800",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    line = next(x for x in p.stdout.splitlines() if x.startswith("SUBMIT_BUILD "))
    out = json.loads(line[len("SUBMIT_BUILD "):])
    assert len(out["segments"]) == 2
    assert all(s["metrics"]["docs_per_sec"] > 0 for s in out["segments"])

    # the index the submitted job built is queryable and rank-identical
    oracle = OracleIndex.build(docs_in_stable_order(corpus))
    planner = QueryPlanner(SegmentIndex(spark, SegmentStore(index_dir)))
    node = parse_query("error AND timeout")
    want = oracle.topk(node, k=10)
    got = [(r["doc_id"], r["score"]) for r in planner.plan(node, k=10).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-9


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_maintenance_cli(spark, tmp_path, capsys):
    """scripts/maintain_index.py: compact via spark-submit, gc inline."""
    from trinity_spark.fixtures import gen_transcripts
    from trinity_spark.sources.store import SegmentStore

    zip_path = str(tmp_path / "trinity_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(REPO, "trinity_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    corpus = gen_transcripts(1000)
    src = str(tmp_path / "input")
    spark.createDataFrame(corpus).write.parquet(src)
    index_dir = str(tmp_path / "index")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    common = [
        SPARK_SUBMIT, "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=2",
        "--py-files", zip_path,
    ]
    p = subprocess.run(
        common + [
            os.path.join(REPO, "scripts", "submit_build.py"),
            "--input", src, "--index-dir", index_dir,
            "--rows-per-segment", "500",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert len(SegmentStore(index_dir).segments()) == 2

    p = subprocess.run(
        common + [
            os.path.join(REPO, "scripts", "maintain_index.py"),
            "--index-dir", index_dir, "compact", "--min-merge", "2",
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    line = next(x for x in p.stdout.splitlines() if x.startswith("MAINTAIN_COMPACT "))
    out = json.loads(line[len("MAINTAIN_COMPACT "):])
    assert out["live_segments"] == 1
    assert out["merged_segments"][0]["metrics"]["blocks_reused"] >= 0

    # gc action needs no Spark: callable inline
    import sys
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import maintain_index

    maintain_index.main(["--index-dir", index_dir, "gc"])
    removed = json.loads(
        capsys.readouterr().out.splitlines()[-1][len("MAINTAIN_GC "):]
    )
    # compact already ran its own gc: nothing left to reclaim, and only the
    # merged segment's dir remains on disk
    assert removed == {"segments": [], "deletes": [], "docid_map_slices": []}
    store = SegmentStore(index_dir)
    seg_root = os.path.join(index_dir, "segments")
    assert sorted(os.listdir(seg_root)) == [store.segments()[0].segment_id]
    assert store.fsck(spark, deep=True)["ok"]


def test_local_master_thread_parse():
    """local[N,F] (maxFailures form) is legal Spark master syntax; the
    thread-count parse must not crash on it."""
    from trinity_spark.session import _local_threads

    assert _local_threads("local[4]", 8) == 4
    assert _local_threads("local[4,2]", 8) == 4
    assert _local_threads("local[*]", 8) == 8
    assert _local_threads("local[*,3]", 8) == 8
    assert _local_threads("spark://host:7077", 8) == 8
