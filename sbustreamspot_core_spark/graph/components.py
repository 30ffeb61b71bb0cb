"""Connected components via Hash-Min label propagation (north rule G1/G5).

Semantics: undirected components; each vertex's final label is the minimum
vertex id in its component (exact-match vs the union-find oracle).  This is
the DataFrame rewrite of the reference's BFS over LSH shared-bucket neighbors
(main.cpp:672-721).

Scale notes:
- messages = labels joined to the symmetrized edge table; min-aggregation is
  a partial+final hash agg, so high-degree hubs combine map-side.
- min is an order-insensitive combiner => results are partition-invariant
  (exact match across parallelism levels).
- convergence without a join: hash-min labels are non-increasing, so the
  label sum strictly decreases until fixpoint; equal sum <=> converged.
- supersteps ~ graph diameter; web graphs have small effective diameter.
  Parquet checkpoints every few supersteps truncate the plan and give resume.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import GraphParams
from .superstep import SuperstepDriver, iterative_conf


@dataclass
class ComponentsResult:
    components: DataFrame       # (id long, component long)
    supersteps: int
    converged: bool
    metrics: list[dict]


def symmetrize(edges: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Undirected edge table: both directions, no self-loops, distinct.

    With ``num_partitions``, the table is hash-partitioned on ``a`` BEFORE
    the distinct — partitioning on a subset of the dedup key satisfies its
    clustering requirement, so the dedup rides the same exchange instead of
    adding a second full-width one, and the result is already co-partitioned
    for the per-superstep message joins (round 7, guide §2.4)."""
    fwd = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    rev = edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    sym = fwd.unionByName(rev).filter("a != b")
    if num_partitions is not None:
        sym = sym.repartition(num_partitions, "a")
    return sym.distinct()


def _small_graph_components(spark: SparkSession, raw_edges: DataFrame,
                            node_ids: DataFrame,
                            n_edges: int) -> ComponentsResult:
    """Driver union-find over a collected (bounded) edge list.

    Exactly the Hash-Min fixpoint's output — each vertex labeled with the
    minimum id of its component — in ONE collect + one broadcast join,
    instead of diameter-many supersteps each costing several actions.  The
    node set stays distributed: vertices absent from the (tiny) edge list
    are singletons, labeled by the left join's coalesce, so a huge corpus
    with a tiny pair graph never funnels its node table through the
    driver.

    Round 7: collects the RAW directed edge rows (self-loops filtered,
    duplicates and orientation left to the union-find, which is idempotent
    under both) — the symmetrize/distinct/repartition machinery existed
    only for the distributed supersteps, and building + counting it cost
    this path three of its five tiny jobs (measured: the clusters leg of
    the web pipeline, OPTIMIZATION_r07.md).

    The id -> component map goes to Spark as an Arrow table of numpy
    columns: the JVM builds the relation from Arrow batches with no
    Python-worker task, also when the map is empty (an empty pandas frame
    would fall back to the list path).  ``createDataFrame`` of a
    Python list is ``sc.parallelize`` plus one pickled Python-worker task
    per slice (4 on 4 cores), each with a fixed worker cost whatever its
    row count: building and collecting a 28- or 1000-row map measured
    1.1-1.4 CPU-s that way against 0.07 CPU-s via Arrow (driver, JVM and
    workers, 4-vCPU VM)."""
    rows = raw_edges.select(F.col("src").alias("a"), F.col("dst").alias("b")) \
        .filter("a != b").collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:           # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r.a), find(r.b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = set(parent) | {r.a for r in rows} | {r.b for r in rows}
    ids = np.fromiter(members, dtype=np.int64, count=len(members))
    comp = np.fromiter((find(v) for v in members), dtype=np.int64,
                       count=len(members))
    map_df = spark.createDataFrame(pa.table({"id": ids, "component": comp}),
                                   "id long, component long")
    comps = (
        node_ids.distinct()
        .join(F.broadcast(map_df), "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    return ComponentsResult(
        comps, 0, True,
        [{"mode": "driver_union_find", "edges": n_edges}])


def connected_components(spark: SparkSession, edges: DataFrame,
                         nodes: DataFrame | None = None,
                         params: GraphParams = GraphParams(),
                         checkpoint_dir: str | None = None,
                         resume: bool = True,
                         lineage_table: str | None = None) -> ComponentsResult:
    """edges: (src long, dst long); nodes: optional (id long) to include
    isolated vertices (they become singleton components).

    ``edges`` is scanned more than once during init (symmetrize cache build
    + vertex set): cache/materialize it first when it is a derived UDF plan
    (see graph/pagerank.py's note — measured 3.4x end-to-end there).

    With ``params.small_graph_threshold > 0``, an edge table at or below
    the threshold takes the driver union-find fast path (identical output;
    no checkpoints — the whole job is one action).  The gate counts the
    RAW edge rows — a stricter bound than the former symmetrized-distinct
    count, so the fast path never engages later, and under the gate the
    symmetrize/distinct machinery is skipped entirely (round 7: it cost
    the fast path most of its tiny jobs)."""
    node_ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
    )
    if nodes is not None:
        node_ids = node_ids.unionByName(nodes.select("id"))
    if params.small_graph_threshold and lineage_table is None:
        # a caller asking for per-superstep lineage gets the superstep
        # machinery — the fast path has no supersteps to record
        n_raw = edges.count()
        if n_raw <= params.small_graph_threshold:
            return _small_graph_components(spark, edges, node_ids, n_raw)
    sym = symmetrize(edges, params.num_partitions).cache()
    labels0 = (
        node_ids.repartition(params.num_partitions, "id")
        .distinct()          # rides the repartition exchange (subset rule)
        .select("id", F.col("id").alias("label"),
                F.lit(1).alias("changed"))
    ).cache()

    def step(state: DataFrame, k: int):
        # frontier optimization (exact): a vertex's label can only drop via a
        # neighbor whose label dropped last round, so only changed labels are
        # propagated — message volume collapses as components converge.
        frontier = state.filter("changed = 1")
        msgs = (
            frontier.join(sym.hint("shuffle_hash"), frontier["id"] == sym["a"])
            .select(F.col("b").alias("id"), F.col("label").alias("msg"))
            .groupBy("id")
            .agg(F.min("msg").alias("msg"))
        )
        new_state = (
            state.join(msgs.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                F.least("label", F.coalesce("msg", "label")).alias("label"),
                (F.coalesce("msg", "label") < F.col("label"))
                .cast("int").alias("changed"),
            )
        ).cache()
        n_changed = new_state.agg(F.sum("changed").alias("c")).collect()[0].c
        return new_state, {"changed": n_changed, "converged": n_changed == 0}

    driver = SuperstepDriver(spark, checkpoint_dir, params.checkpoint_interval,
                             lineage_table=lineage_table)
    with iterative_conf(spark):
        result = driver.run(labels0, step, params.max_iters, resume)
    sym.unpersist()
    labels0.unpersist()
    return ComponentsResult(
        result.state.select("id", F.col("label").alias("component")),
        result.supersteps, result.converged, result.metrics)


def components_fn(spark: SparkSession, params: GraphParams = GraphParams()):
    """Adapter matching ``operators.lsh.lsh_clusters``'s injectable signature."""
    def fn(edges: DataFrame, nodes: DataFrame) -> DataFrame:
        return connected_components(spark, edges, nodes, params).components
    return fn
