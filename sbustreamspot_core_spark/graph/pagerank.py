"""PageRank as an iterative DataFrame job (north rule G4).

Semantics (matched by ``oracles.graph_oracle.pagerank_oracle`` to 1e-6):
power iteration with damping ``d`` and dangling-mass redistribution:

    r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + dangling/N)

Scale design (100 TB / 10^12-edge mindset, tested at local scale):
- Adjacency is built ONCE into CSR-style blocks: (src, deg, targets[]) rows,
  with heavy out-degree vertices split into blocks of ``csr_block_size``
  targets (out-degree skew cap: one mega-hub's fan-out is spread over many
  rows/partitions instead of one giant task).
- Per superstep there is exactly ONE shuffle: explode contributions and
  groupBy(dst).  The rank join against the adjacency reuses the hash
  partitioning of both sides (both are hash-partitioned on the vertex key
  with the same partition count), and the contribution aggregation is a
  partial+final hash agg, so in-degree skew (mega-hub *inbound* links) is
  absorbed by map-side combine before the shuffle.
- Dangling mass and the convergence delta are computed in the SAME single
  action per superstep (one driver barrier), with the dangling sum for
  superstep k+1 taken from superstep k's output.
- Lineage-plan blowup is cut by the SuperstepDriver's parquet checkpoints,
  which double as the resume point.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import GraphParams
from .superstep import SuperstepDriver, SuperstepResult, iterative_conf


@dataclass
class PageRankResult:
    ranks: DataFrame            # (id long, rank double)
    supersteps: int
    converged: bool
    metrics: list[dict]


def prepared_edges(edges: DataFrame, params: GraphParams) -> DataFrame:
    """The deduped edge table hash-partitioned on ``src`` — the ONE full
    exchange all of init derives from (round 7, guide §2.4): hash
    partitioning on src satisfies the clustering every downstream init
    aggregation needs (distinct on (src,dst), out-degrees on src, block
    aggregation on (src, blk)), so ordering the repartition FIRST lets
    Catalyst elide their exchanges and leaves the adjacency already
    co-partitioned for the superstep joins.  The former shape deduped and
    degree-counted twice (build_links + init_ranks each), costing four
    full-width exchanges plus a final repartition."""
    e = edges.select("src", "dst").repartition(params.num_partitions, "src")
    return e if params.edges_distinct else e.distinct()


def build_links(edges: DataFrame, params: GraphParams,
                prepared: DataFrame | None = None) -> DataFrame:
    """CSR-blocked adjacency: (src, deg, targets array<long>) with ~
    ``csr_block_size`` targets per block; ``deg`` is the full out-degree.

    Blocking happens BEFORE the list aggregation: heavy sources (out-degree >
    block size — a tiny, broadcastable set even on power-law web graphs) get a
    block id hashed from the target, so no single aggregation buffer ever
    holds more than ~one block of targets and a 10^8-out-degree mega-hub is
    spread across many groups/partitions instead of one giant task buffer.
    Light sources skip the join entirely (one block, deg = size(targets)).

    ``prepared`` (optional): the ``prepared_edges`` table, when the caller
    shares it across init steps (pagerank caches it); everything below it
    is exchange-free and the output stays partitioned by src.
    """
    bs = params.csr_block_size
    e = prepared if prepared is not None else prepared_edges(edges, params)
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    heavy = deg.filter(F.col("deg") > bs)          # O(#hubs) rows: broadcast
    e2 = e.join(F.broadcast(heavy), "src", "left")
    nblk = F.coalesce(F.ceil(F.col("deg") / bs).cast("int"), F.lit(1))
    blocked = (
        e2.withColumn("blk", F.pmod(F.xxhash64("dst"), nblk))
        .groupBy("src", "blk")
        .agg(F.collect_list("dst").alias("targets"),
             F.first("deg").alias("heavy_deg"))
    )
    return blocked.select(
        "src",
        F.coalesce("heavy_deg", F.size("targets").cast("long")).alias("deg"),
        "targets")


def init_ranks(edges: DataFrame, params: GraphParams,
               prepared: DataFrame | None = None) -> tuple[DataFrame, int]:
    """(id, rank, deg) for every vertex; deg = out-degree (0 => dangling).

    One exchange (the vertex-set repartition; distinct and the degree join
    ride the established partitionings — the degree table inherits the
    ``prepared_edges`` src partitioning, so the left join is co-partitioned
    hash, no sort, no broadcast of the O(V) degree table)."""
    e = prepared if prepared is not None else prepared_edges(edges, params)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .repartition(params.num_partitions, "id")
        .distinct()
    )
    degs = e.groupBy(
        F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    n = nodes.count()
    ranks = (
        nodes.join(degs.hint("shuffle_hash"), "id", "left")
        .select("id", F.lit(1.0 / n).alias("rank"),
                F.coalesce("deg", F.lit(0)).alias("deg"))
    )
    return ranks, n


def pagerank(spark: SparkSession, edges: DataFrame,
             params: GraphParams = GraphParams(),
             checkpoint_dir: str | None = None,
             resume: bool = True,
             lineage_table: str | None = None) -> PageRankResult:
    """edges: (src long, dst long).  Returns per-vertex ranks summing to 1.

    Round-7 init: raw ``edges`` is scanned ONCE (one repartition exchange,
    then the dedup/degree/block aggregations all ride that partitioning —
    see ``prepared_edges``); the vertex set and out-degrees are then derived
    from the CACHED adjacency (src + exploded targets) instead of
    re-scanning the edge table, which removes init's other two full-width
    scans/exchanges.  Still pass a cached DataFrame when ``edges`` is an
    expensive derived plan (e.g. the href-extraction pipeline) — the one
    init scan plus any superstep resume re-executes it otherwise."""
    # the whole call runs non-adaptive, init included: AQE would make each
    # init stage its own re-planned job, and the init joins rely on the
    # explicit num_partitions co-partitioning, not on runtime coalescing
    with iterative_conf(spark):
        result = _pagerank(spark, edges, params, checkpoint_dir, resume,
                           lineage_table)
    return PageRankResult(
        result.state.select("id", "rank"),
        result.supersteps, result.converged, result.metrics)


def _pagerank(spark: SparkSession, edges: DataFrame, params: GraphParams,
              checkpoint_dir: str | None, resume: bool,
              lineage_table: str | None) -> SuperstepResult:
    e = prepared_edges(edges, params).cache()
    # cached so the heavy-hub broadcast build inside build_links reads the
    # same materialized table instead of re-running the repartition+distinct
    # chain (the executed init plan otherwise carries two copies of it)
    links = build_links(edges, params, prepared=e).cache()
    nodes = (
        links.select(F.col("src").alias("id"))
        .unionByName(links.select(F.explode("targets").alias("id")))
        .repartition(params.num_partitions, "id")
        .distinct()
    )
    # every block row of a heavy src carries the full out-degree, light
    # srcs have one block: first() per src is the exact out-degree, and the
    # groupBy rides the adjacency's src partitioning (no exchange)
    degs = links.groupBy(F.col("src").alias("id")).agg(
        F.first("deg").alias("deg"))
    vdeg = (
        nodes.join(degs.hint("shuffle_hash"), "id", "left")
        .select("id", F.coalesce("deg", F.lit(0)).alias("deg"))
    ).cache()
    # ONE init action: materializes the adjacency and (id, deg) caches and
    # returns n together with the dangling count, which seeds superstep
    # 0's dangling mass exactly (every initial rank is 1/n)
    init = vdeg.agg(F.count("*").alias("n"),
                    F.count(F.when(F.col("deg") == 0, 1)).alias("n_dangling")
                    ).collect()[0]
    n = init.n
    # early supersteps reference the state 2-3x; the projection of the
    # cached table keeps them off the distinct/join init pipeline
    ranks0 = vdeg.select("id", F.lit(1.0 / n).alias("rank"), "deg")
    d = params.damping

    # state schema: (id, rank, deg); dangling sum for the NEXT superstep is
    # carried on the driver, seeded from init (or, on resume, from the
    # checkpointed state)
    dangling_holder = {"value": init.n_dangling / n}

    def seed_dangling(state: DataFrame) -> float:
        return state.filter("deg = 0").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0))).collect()[0][0]

    def step(state: DataFrame, k: int):
        if dangling_holder["value"] is None:
            dangling_holder["value"] = seed_dangling(state)
        dangling = dangling_holder["value"]
        targets_only = links.select("src", "targets")  # deg already in state
        # shuffle_hash hints: both joins are co-partitioned on the vertex
        # key, so a hash join per partition needs no exchange and no sort
        contribs = (
            state.filter("deg > 0")
            .join(targets_only.hint("shuffle_hash"),
                  state["id"] == targets_only["src"])
            .select(F.explode("targets").alias("id"),
                    (F.col("rank") / F.col("deg")).alias("w"))
            .groupBy("id")
            .agg(F.sum("w").alias("contrib"))
        )
        new_state = (
            state.join(contribs.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                (F.lit((1.0 - d) / n)
                 + d * (F.coalesce("contrib", F.lit(0.0)) + F.lit(dangling / n))
                 ).alias("rank"),
                "deg",
                F.col("rank").alias("prev_rank"),
            )
        ).cache()
        stats = new_state.agg(
            F.max(F.abs(F.col("rank") - F.col("prev_rank"))).alias("delta"),
            F.sum(F.when(F.col("deg") == 0, F.col("rank"))
                  .otherwise(F.lit(0.0))).alias("dangling"),
            F.sum("rank").alias("total"),
        ).collect()[0]
        dangling_holder["value"] = stats.dangling
        metrics = {
            "delta": stats.delta,
            "total_rank": stats.total,
            "converged": stats.delta < params.tol,
        }
        # keep prev_rank in the state (dropping would derive a new uncached
        # plan and break the driver's unpersist bookkeeping)
        return new_state, metrics

    driver = SuperstepDriver(spark, checkpoint_dir, params.checkpoint_interval,
                             lineage_table=lineage_table)
    if resume and checkpoint_dir and driver.last_complete_superstep() is not None:
        dangling_holder["value"] = None  # recomputed from the checkpointed state
    result = driver.run(ranks0, step, params.max_iters, resume)
    links.unpersist()
    vdeg.unpersist()
    e.unpersist()
    return result
