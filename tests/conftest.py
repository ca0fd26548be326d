import pytest


@pytest.fixture(scope="session")
def spark():
    from mecab_ko_lucene_analyzer_spark.plans import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)``: the Spark jobs ``fn()`` runs, counted by the
    statusTracker under a job group of its own. A marker job in a second
    group closes the count: the listener bus delivers job starts in
    order, so once the marker shows, every job ``fn`` ran shows too."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def count(fn) -> int:
        group, marker = f"audit-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "serving audit")
        try:
            fn()
            sc.setJobGroup(marker, "serving audit marker")
            sc.parallelize([0], 1).count()
            deadline = time.monotonic() + 30
            while not tracker.getJobIdsForGroup(marker):
                assert time.monotonic() < deadline, "marker job never showed"
                time.sleep(0.05)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(tracker.getJobIdsForGroup(group))

    return count
