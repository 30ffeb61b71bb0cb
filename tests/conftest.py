import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# the whole suite shares one driver JVM; a fixed 8g gives it the same heap on
# every host (the package default is a quarter of the host's RAM) and stays
# inside a 16 GB host, where a 24g heap grew past the RAM mid-suite and the
# kernel OOM killer ended the JVM
os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")


@pytest.fixture(scope="session")
def spark():
    from sbustreamspot_core_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_ckpt():
    d = tempfile.mkdtemp(prefix="ssc_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def jobs_in_group(spark, group, fn):
    """Run ``fn`` under a Spark job group; return its result and the number
    of jobs the group ran, read from the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


REFERENCE_EDGES = "/root/reference/test_edges.txt"
REFERENCE_BOOTSTRAP = "/root/reference/test_bootstrap_clusters.txt"


def load_reference_edge_tuples():
    """The published 12-edge sample as python tuples, grouped by gid."""
    by_gid = {}
    with open(REFERENCE_EDGES) as f:
        for line in f:
            s, st, d, dt, et, gid = line.split("\t")
            by_gid.setdefault(int(gid), []).append(
                (int(s), st, int(d), dt, et))
    return by_gid
