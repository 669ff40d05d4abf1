import pytest


@pytest.fixture(scope="session")
def spark():
    from trinity_spark.session import get_spark

    s = get_spark("trinity_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def jobs_in_window(spark):
    """``(group, fn) -> (fn's result, job ids recorded under group, every
    job id started while fn ran)``.  Marker jobs in their own groups bound
    the window; job ids are assigned in submission order."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def grouped(tag, body):
        sc.setJobGroup(tag, tag)
        try:
            out = body()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, set(tracker.getJobIdsForGroup(tag))

    def marker(tag):
        return max(grouped(tag, lambda: sc.parallelize([0], 1).count())[1])

    def run(group, fn):
        lo = marker(f"{group}-before")
        out, got = grouped(group, fn)
        hi = marker(f"{group}-after")
        started = {j for j in range(lo + 1, hi) if tracker.getJobInfo(j) is not None}
        return out, got, started

    return run
