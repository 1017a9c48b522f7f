import os

import duckdb
import pytest

TESTDATA = "/root/testdata"
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_ORACLE = f"{TESTDATA}/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def job_ids(spark, action) -> list[int]:
    """Ids of the Spark jobs ``action()`` starts, read from the status
    tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def job_count(spark, action):
    """Spark jobs ``action()`` starts."""
    return len(job_ids(spark, action))


def fs_calls(spark, action):
    """Calls ``action()`` makes on the cached Hadoop FileSystem handles
    (``table._hadoop_fs``), as a Counter of method names. Each handle is
    swapped for a counting proxy while ``action`` runs; driver-side calls
    only (Spark's own writers and readers use their own handles). The
    default FileSystem's handle, which scheme-less paths use, is cached
    first."""
    from collections import Counter

    from klogs_spark.table import _hadoop_fs

    calls = Counter()
    _hadoop_fs(spark, "/")
    handles = spark.sparkContext._klogs_hadoop_fs[1]
    saved = dict(handles)

    class Counting:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            method = getattr(self._fs, name)

            def call(*args):
                calls[name] += 1
                return method(*args)

            return call

    handles.update({key: Counting(fs) for key, fs in saved.items()})
    try:
        action()
    finally:
        handles.update(saved)
    return calls


def stage_operations(spark, job_id) -> set[str]:
    """Names of the operation clusters (SQL operators such as
    ``MapInPandas``, RDD transformations) in the stages of one job, from
    the status store's operation graphs."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    names: set[str] = set()

    def walk(cluster):
        names.add(cluster.name())
        children = cluster.childClusters().iterator()
        while children.hasNext():
            walk(children.next())

    for stage in sc.statusTracker().getJobInfo(job_id).stageIds:
        walk(store.operationGraphForStage(stage).rootCluster())
    return names


def compiled_classes(spark) -> int:
    """Classes the JVM's code generator has compiled with Janino so far
    (Spark's ``CodegenMetrics`` compilation-time histogram count)."""
    return int(
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from klogs_spark.session import get_spark

    s = get_spark("klogs-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="module", autouse=True)
def _release_tracked_caches():
    """Bound operator-internal cache growth across the suite: tracked
    caches (ext.caching) release at each module boundary — within a module
    plan-equal reuse still applies."""
    yield
    from klogs_spark.ext.caching import release_tracked

    release_tracked()
