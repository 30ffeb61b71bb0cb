"""Job budgets of the graph suite's non-adaptive calls.

``pagerank`` and ``triangle_count`` plan under ``iterative_conf`` for the
whole call: init and triangle stages run inside a fixed set of jobs instead
of one re-planned AQE job per stage (18 jobs each before).  The session's
adaptive and broadcast settings must be back as they were afterwards,
including when the call raises.
"""

import pytest

from sbustreamspot_core_spark.config import GraphParams
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.graph.triangles import (
    triangle_count,
    triangle_count_per_vertex,
)
from sbustreamspot_core_spark.oracles.graph_oracle import triangle_count_oracle

from .conftest import jobs_in_group

SESSION_KEYS = ("spark.sql.adaptive.enabled",
                "spark.sql.autoBroadcastJoinThreshold")

# K4 plus a path, a hub and a few chords: heavy enough for a CSR block
# split (csr_block_size below the hub's out-degree) and some triangles
EDGES = ([(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (10, 11), (11, 12)]
         + [(100, i) for i in range(20, 60)]
         + [(i, i + 1) for i in range(20, 59, 3)])
PARAMS = GraphParams(num_partitions=4, max_iters=2, tol=0.0,
                     checkpoint_interval=2, csr_block_size=16)


@pytest.fixture()
def edges_df(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long").cache()
    df.count()
    yield df
    df.unpersist()


def test_triangle_count_is_one_job(spark, edges_df):
    n, jobs = jobs_in_group(spark, "graph-jobs-tri",
                            lambda: triangle_count(spark, edges_df, PARAMS))
    assert n == triangle_count_oracle(EDGES)
    assert jobs == 1
    # per-vertex: the eager local checkpoint, then the caller's collect
    rows, jobs = jobs_in_group(
        spark, "graph-jobs-tri-v",
        lambda: triangle_count_per_vertex(spark, edges_df, PARAMS).collect())
    assert sum(r.triangles for r in rows) == 3 * n
    assert jobs <= 2


def test_pagerank_job_budget(spark, edges_df, tmp_ckpt):
    # init: heavy-hub broadcast + one aggregation (n, dangling count);
    # per superstep one stats action; one checkpoint = parquet write +
    # the lineage aggregation that fills the re-read cache; the collect
    ranks, jobs = jobs_in_group(
        spark, "graph-jobs-pr",
        lambda: pagerank(spark, edges_df, PARAMS,
                         checkpoint_dir=tmp_ckpt).ranks.collect())
    assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-9
    assert jobs <= 7


def test_session_conf_restored(spark, edges_df):
    conf = spark.conf
    saved = {k: conf.get(k) for k in SESSION_KEYS}
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "1234567")
        want = {k: conf.get(k) for k in SESSION_KEYS}
        pagerank(spark, edges_df, PARAMS)
        assert {k: conf.get(k) for k in SESSION_KEYS} == want
        triangle_count(spark, edges_df, PARAMS)
        assert {k: conf.get(k) for k in SESSION_KEYS} == want
        triangle_count_per_vertex(spark, edges_df, PARAMS)
        assert {k: conf.get(k) for k in SESSION_KEYS} == want

        # a missing column fails analysis inside the call
        bad = edges_df.select("src")
        for fn in (pagerank, triangle_count, triangle_count_per_vertex):
            with pytest.raises(Exception):
                fn(spark, bad, PARAMS)
            assert {k: conf.get(k) for k in SESSION_KEYS} == want, fn
    finally:
        for k, v in saved.items():
            conf.set(k, v)
