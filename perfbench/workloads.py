"""The three benchmark workloads.

Each runner sets up (session, seeded inputs, warmup), measures for
``ctx.seconds`` with tracing off, checks every output against the
package's oracles, and -- in a traced run -- repeats one unit of work with
spans and Spark counters around every call into a package module.

Terms used below:
- a *pass* is one unit of work a caller submits and waits for: all four
  graph-suite results (crawl_linkgraph), or the link-edge table plus the
  host anomaly outputs (host_anomaly);
- a *batch* is the latency sample: a pass, or one micro-batch
  (streamspot_replay);
- an *operation* is a timed job or a micro-batch; ``failed`` counts the
  operations that raised or whose output did not match its oracle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import gen
import host
from spans import Tracer

# The tail percentile reported for every workload (see README: with the
# replay's 5 batches a run has fewer than ten batches beyond it).
TAIL_PCT = 75


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    corrupt: bool
    work: str
    cores: int
    spans_path: str
    spark: object = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: dict = field(default_factory=dict)   # name -> (value, unit)
    per_layer: dict = field(default_factory=dict)    # name -> (value, unit)
    notes: list = field(default_factory=list)


# ---------------------------------------------------------------- helpers

def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    return float(np.percentile(np.asarray(values, dtype=float), pct))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Recorder:
    """Wall and process-tree CPU seconds of every batch of the measured
    region, and the machine's busy and stolen CPU shares over it.

    The gated metrics are CPU-based: on a shared host, time stolen by other
    tenants stretches wall time by 10-40% from one run to the next, while
    the CPU the program itself spends per batch stays within a few percent.
    Wall-clock figures are reported too, ungated."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.t0 = time.perf_counter()
        self.host0 = host.cpu_ticks()

    @contextmanager
    def batch(self):
        c0 = host.process_tree_cpu_s(self.ctx.spark)
        t0 = time.perf_counter()
        yield
        self.wall.append(time.perf_counter() - t0)
        self.cpu.append(host.process_tree_cpu_s(self.ctx.spark) - c0)

    def elapsed(self) -> float:
        return sum(self.wall)

    def report(self, res: Result, edges: int, setup_s: float) -> None:
        """``edges``: input edges the measured batches processed in total."""
        busy, steal, total = (b - a for a, b in
                              zip(self.host0, host.cpu_ticks()))
        res.end_to_end.update({
            "setup_s": (setup_s, "s"),
            "edges_per_cpu_s": (edges / sum(self.cpu), "1/s"),
            "batch_cpu_p50_s": (statistics.median(self.cpu), "s"),
            f"batch_cpu_p{TAIL_PCT}_s": (percentile(self.cpu, TAIL_PCT), "s"),
        })
        res.per_layer.update({
            "wall.edges_per_s": (edges / sum(self.wall), "1/s"),
            "wall.batch_p50_s": (statistics.median(self.wall), "s"),
            f"wall.batch_p{TAIL_PCT}_s":
                (percentile(self.wall, TAIL_PCT), "s"),
            "driver.peak_rss_mb": (host.peak_rss_mb(self.ctx.spark), "MB"),
            "host.busy_pct": (100 * busy / max(total, 1), "%"),
            "host.steal_pct": (100 * steal / max(total, 1), "%"),
        })
        res.notes.append(f"batches = {len(self.cpu)}")


def session_setup(ctx: Context) -> float:
    t0 = time.perf_counter()
    ctx.spark = host.start_spark(ctx.cores, ctx.work)
    return time.perf_counter() - t0


def median_of(reps: int, fn: Callable):
    """Run ``fn`` ``reps`` times; (median seconds, last return value).
    Inputs are generated this way: the generators are deterministic, so the
    repeats only steady the set-up time."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


# Every per-layer metric, so that each traced run reports the full set
# (0 for a layer the workload does not call). Name -> unit.
LAYER_COUNTERS = ("jobs", "tasks_failed", "shuffle_write_bytes")
LAYERS = {
    "text": "functions.text", "pipeline": "pipeline",
    "shingles": "operators.shingles", "sketch": "operators.sketch",
    "lsh": "operators.lsh", "similarity": "operators.similarity",
    "pagerank": "graph.pagerank", "components": "graph.components",
    "labelprop": "graph.labelprop", "triangles": "graph.triangles",
    "superstep": "graph.superstep", "replay": "streaming.structured",
}
LAYER_METRICS = {
    "text.extract_s": "s", "text.link_edges": "count",
    "pipeline.edge_table_s": "s", "pipeline.edge_rows": "count",
    "shingles.s": "s", "shingles.chunk_rows": "count",
    "sketch.s": "s", "sketch.graphs": "count",
    "lsh.s": "s", "lsh.candidate_pairs": "count", "lsh.clusters": "count",
    "lsh.anomalies": "count", "lsh.useful_ratio": "ratio",
    "lsh.planted_outliers_flagged": "count",
    "similarity.s": "s", "similarity.pairs": "count",
    "pagerank.s": "s", "pagerank.init_s": "s", "pagerank.step_s_p50": "s",
    "pagerank.supersteps": "count",
    "components.s": "s", "components.supersteps": "count",
    "labelprop.s": "s", "labelprop.supersteps": "count",
    "triangles.s": "s",
    "superstep.ckpt_s": "s", "superstep.ckpt_bytes": "bytes",
    "replay.bootstrap_s": "s", "replay.jobs_per_batch": "count",
    "replay.touched_graphs_per_batch": "count", "replay.state_bytes": "bytes",
    "replay.attacks_flagged": "count",
    "crawl.scaling_eff_1to4": "ratio",
    "trace.untraced_s": "s", "trace.traced_s": "s", "trace.overhead_s": "s",
    "wall.edges_per_s": "1/s", "wall.batch_p50_s": "s",
    f"wall.batch_p{TAIL_PCT}_s": "s", "driver.peak_rss_mb": "MB",
    "host.busy_pct": "%", "host.steal_pct": "%",
    **{f"{short}.{c}": ("bytes" if c.endswith("bytes") else "count")
       for short in LAYERS for c in LAYER_COUNTERS},
}


def layer_report(res: Result, tracer: Tracer, values: dict,
                 untraced_s: float, traced_s: float, spans_path: str) -> None:
    """Fill ``res.per_layer`` with every LAYER_METRICS entry -- from
    ``values`` and the tracer's counters, 0 for a layer never called -- and
    write the spans out."""
    by_module = tracer.totals()
    for short, module in LAYERS.items():
        t = by_module.get(module, {})
        for c in LAYER_COUNTERS:
            values.setdefault(f"{short}.{c}", t.get(c, 0))
    values.update({"trace.untraced_s": untraced_s, "trace.traced_s": traced_s,
                   "trace.overhead_s": traced_s - untraced_s})
    for name, unit in LAYER_METRICS.items():
        if name not in res.per_layer:
            res.per_layer[name] = (float(values.get(name, 0.0)), unit)
    tracer.dump(spans_path)


def guarded(res: Result, what: str, fn: Callable):
    """Run one operation; an exception counts it failed and returns None.
    Operations are independent, so one failure must not end the run."""
    res.attempted += 1
    try:
        return fn()
    except Exception:   # any error of the program under test is a failure
        res.failed += 1
        res.notes.append(f"FAILED {what}: {traceback.format_exc(limit=3)}")
        return None


def fail(res: Result, what: str) -> None:
    res.failed += 1
    res.notes.append(f"MISMATCH {what}")


# ------------------------------------------------------------ crawl_linkgraph

CRAWL = {
    "full": dict(n_edges=12_000, n_islands=16, island_len=4, pr_steps=2,
                 lpa_iters=2),
    "tiny": dict(n_edges=1_500, n_islands=3, island_len=4, pr_steps=2,
                 lpa_iters=2),
}


def run_crawl(ctx: Context) -> Result:
    from sbustreamspot_core_spark.config import GraphParams
    from sbustreamspot_core_spark.graph.components import connected_components
    from sbustreamspot_core_spark.graph.labelprop import label_propagation
    from sbustreamspot_core_spark.graph.pagerank import pagerank
    from sbustreamspot_core_spark.graph.triangles import triangle_count
    from sbustreamspot_core_spark.oracles import graph_oracle as oracle

    size = CRAWL["tiny" if ctx.tiny else "full"]
    res = Result()
    t_session = session_setup(ctx)
    # num_partitions is fixed by the data, not the core count, so the
    # local[1] scaling pass does the same work
    gp = GraphParams(num_partitions=4, tol=0.0, max_iters=size["pr_steps"],
                     lpa_max_iters=size["lpa_iters"], checkpoint_interval=2)
    gp_cc = GraphParams(num_partitions=4, checkpoint_interval=2)
    ck_root = os.path.join(ctx.work, "ckpt")
    holder = {}

    def load(spark, pdf):
        if "edges" in holder:
            holder["edges"].unpersist()
        df = spark.createDataFrame(pdf).cache()
        df.count()
        holder["edges"] = df
        return df

    graph_kw = {k: size[k] for k in ("n_edges", "n_islands", "island_len")}

    def one_pass(spark, edges, tracer, tag, res):
        """The four graph-suite jobs, each result collected to the driver."""
        ck = os.path.join(ck_root, tag)
        out = {"metrics": {}}

        def pr():
            with tracer.span("graph.pagerank"):
                r = pagerank(spark, edges, gp,
                             checkpoint_dir=os.path.join(ck, "pr"))
                ranks = {row.id: row.rank for row in r.ranks.collect()}
            out["metrics"]["pagerank"] = (r.metrics, r.supersteps)
            return ranks

        def cc():
            with tracer.span("graph.components"):
                r = connected_components(spark, edges, params=gp_cc)
                comps = {row.id: row.component
                         for row in r.components.collect()}
            out["metrics"]["components"] = (r.metrics, r.supersteps)
            return comps

        def lpa():
            with tracer.span("graph.labelprop"):
                r = label_propagation(spark, edges, gp)
                labels = {row.id: row.label for row in r.labels.collect()}
            out["metrics"]["labelprop"] = (r.metrics, r.supersteps)
            return labels

        def tri():
            with tracer.span("graph.triangles"):
                return triangle_count(spark, edges, gp)

        t0 = time.perf_counter()
        for name, fn in (("pagerank", pr), ("components", cc),
                         ("labelprop", lpa), ("triangles", tri)):
            out[name] = guarded(res, f"{tag} {name}", fn)
        out["seconds"] = time.perf_counter() - t0
        out["ckpt_bytes"] = dir_bytes(ck)
        shutil.rmtree(ck, ignore_errors=True)
        return out

    # ---- setup: input generation (median of three), a warmup pass on a
    # small graph, which compiles every stage shape the passes use, and
    # the input load
    t_gen, pdf = median_of(
        3, lambda: gen.crawl_linkgraph(ctx.seed, **graph_kw))
    t0 = time.perf_counter()
    warm = load(ctx.spark, gen.crawl_linkgraph(
        ctx.seed + 1, **{k: CRAWL["tiny"][k] for k in graph_kw}))
    plain = Tracer(ctx.spark, enabled=False)
    one_pass(ctx.spark, warm, plain, "warmup", Result())
    edges = load(ctx.spark, pdf)
    setup_s = t_session + t_gen + (time.perf_counter() - t0)

    # ---- measured passes, tracing off
    passes = []
    rec = Recorder(ctx)
    while not passes or rec.elapsed() < ctx.seconds:
        with rec.batch():
            passes.append(one_pass(ctx.spark, edges, plain,
                                   f"p{len(passes)}", res))
    pass_s = [p["seconds"] for p in passes]
    n_edges = len(pdf)
    rec.report(res, n_edges * len(passes), setup_s)

    if ctx.trace:
        tracer = Tracer(ctx.spark, enabled=True)
        t = one_pass(ctx.spark, edges, tracer, "traced", res)
        passes.append(t)
        st = tracer.self_times()
        pr_metrics, pr_steps = t["metrics"].get("pagerank", ([], 0))
        steps = [m["step_sec"] for m in pr_metrics]
        ckpt = sum(m["ckpt_sec"] for ms, _ in t["metrics"].values()
                   for m in ms)
        pr_s = st.get("graph.pagerank", 0.0)
        values = {
            "pagerank.s": pr_s, "pagerank.supersteps": pr_steps,
            "pagerank.step_s_p50": statistics.median(steps) if steps else 0,
            "pagerank.init_s": pr_s - sum(steps) - sum(
                m["ckpt_sec"] for m in pr_metrics),
            "components.s": st.get("graph.components", 0.0),
            "components.supersteps":
                t["metrics"].get("components", ([], 0))[1],
            "labelprop.s": st.get("graph.labelprop", 0.0),
            "labelprop.supersteps": t["metrics"].get("labelprop", ([], 0))[1],
            "triangles.s": st.get("graph.triangles", 0.0),
            "superstep.ckpt_s": ckpt, "superstep.ckpt_bytes": t["ckpt_bytes"],
        }
        # graph.superstep runs inside the graph.* calls: its jobs are the
        # ones whose call site is in superstep.py
        values.update({f"superstep.{k}": v for k, v in
                       tracer.jobs_at("graph/superstep.py").items()})
        # N -> 4N scaling where the benchmark runs: one warm pass at
        # local[1] (same JVM, same data partitioning) against the
        # local[cores] passes above
        ctx.spark.stop()
        holder.clear()
        one = host.start_spark(1, ctx.work)
        ctx.spark = one
        edges1 = load(one, pdf)
        passes.append(one_pass(one, edges1, Tracer(one, enabled=False),
                               "local1", res))
        values["crawl.scaling_eff_1to4"] = (
            passes[-1]["seconds"] / (4 * statistics.median(pass_s)))
        layer_report(res, tracer, values, statistics.median(pass_s),
                     t["seconds"], ctx.spans_path)

    # ---- output checks against the single-node oracles (untimed), for
    # every pass run: measured, traced and local[1]
    e = list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    want_pr, _ = oracle.pagerank_oracle(e, gp.damping, tol=0.0,
                                        max_iters=gp.max_iters)
    want_cc = oracle.connected_components_oracle(e)
    want_lpa, _ = oracle.label_propagation_oracle(e, gp.lpa_max_iters)
    want_tri = oracle.triangle_count_oracle(e)
    if ctx.corrupt and passes[0]["pagerank"]:
        some = next(iter(passes[0]["pagerank"]))
        passes[0]["pagerank"][some] += 1e-3
    for i, p in enumerate(passes):
        got = p["pagerank"]
        if got is not None and not (
                got.keys() == want_pr.keys()
                and all(abs(got[k] - want_pr[k]) <= 1e-6 for k in got)):
            fail(res, f"pass {i} pagerank vs oracle")
        if p["components"] is not None and p["components"] != want_cc:
            fail(res, f"pass {i} connected_components vs oracle")
        if p["labelprop"] is not None and p["labelprop"] != want_lpa:
            fail(res, f"pass {i} label_propagation vs oracle")
        if p["triangles"] is not None and p["triangles"] != want_tri:
            fail(res, f"pass {i} triangle_count vs oracle")
    res.notes.append(f"edges = {n_edges}, passes = {len(pass_s)}, "
                     f"triangles = {want_tri}")
    return res


# --------------------------------------------------------------- host_anomaly

HOST = {
    "full": dict(n_hosts=80, pages_per_host=20, n_outliers=4),
    "tiny": dict(n_hosts=24, pages_per_host=8, n_outliers=2),
}
SIMILARITY_PRUNE_CAP = 10_000   # host_anomaly_pipeline's "auto" cap


def run_host(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from sbustreamspot_core_spark.config import GraphParams, StreamSpotParams
    from sbustreamspot_core_spark.functions.sketches import (
        sketch_bytes_to_bits)
    from sbustreamspot_core_spark.graph.components import components_fn
    from sbustreamspot_core_spark.operators.lsh import (
        candidate_pairs, isolated_vs_others, lsh_clusters)
    from sbustreamspot_core_spark.operators.shingles import (
        build_adjacency, build_chunk_counts, build_shingles)
    from sbustreamspot_core_spark.operators.similarity import (
        all_pairs_sketch_similarity)
    from sbustreamspot_core_spark.operators.sketch import (
        build_sketches, sketch_bands)
    from sbustreamspot_core_spark.oracles import streamspot_oracle as oracle
    from sbustreamspot_core_spark.pipeline import (
        encode_url_ids, extract_link_edges, host_anomaly_pipeline,
        host_subgraph_edges)

    size = HOST["tiny" if ctx.tiny else "full"]
    res = Result()
    params = StreamSpotParams()
    # the LSH co-bucket graph is tiny: CC takes its driver union-find path
    graph_params = GraphParams(num_partitions=ctx.cores,
                               small_graph_threshold=65_536)
    t_session = session_setup(ctx)
    spark = ctx.spark
    holder = {}

    def load(pages):
        if "df" in holder:
            holder["df"].unpersist()
        df = spark.createDataFrame(pages.df).cache()
        df.count()
        holder["df"] = df
        return df

    def edge_table(hrefs):
        ids = encode_url_ids(hrefs)
        return ids.agg(F.count("*").alias("n"), F.max("src").alias("mx"),
                       F.min("dst").alias("mn")).collect()[0].n

    def one_pass(pages_df, res):
        """Link-edge table, then the host anomaly pipeline with sketches,
        LSH clusters, anomalies and similarities all collected."""
        out = {}
        t0 = time.perf_counter()
        out["edges"] = guarded(res, "edge table", lambda: edge_table(
            extract_link_edges(pages_df)))

        def anomaly():
            r = host_anomaly_pipeline(spark, pages_df, params, graph_params)
            got = {
                "sketches": {row.gid: bytes(row.sketch) for row in
                             r["sketches"].select("gid", "sketch").collect()},
                "clusters": {row.gid: row.lsh_cluster
                             for row in r["lsh_clusters"].collect()},
                "anomalies": {row.gid for row in r["anomalies"].collect()},
                "similarities": r["similarities"].collect(),
            }
            for k in ("edges", "sketches", "bands"):
                r[k].unpersist()
            return got
        out["anomaly"] = guarded(res, "host anomaly pipeline", anomaly)
        out["seconds"] = time.perf_counter() - t0
        return out

    # ---- setup: input generation (median of three), one warmup pass on a
    # small pages table, and the input load
    t_gen, pages = median_of(3, lambda: gen.web_pages(ctx.seed, **size))
    t0 = time.perf_counter()
    one_pass(load(gen.web_pages(ctx.seed + 1, **HOST["tiny"])), Result())
    pages_df = load(pages)
    setup_s = t_session + t_gen + (time.perf_counter() - t0)

    # ---- measured passes, tracing off
    passes = []
    rec = Recorder(ctx)
    while not passes or rec.elapsed() < ctx.seconds:
        with rec.batch():
            passes.append(one_pass(pages_df, res))
    pass_s = [p["seconds"] for p in passes]
    n_pages = len(pages.df)
    rec.report(res, pages.n_links * len(passes), setup_s)

    # ---- output checks (untimed): LSH clusters and isolated hosts against
    # the single-node oracle over the first pass's collected sketch bits
    first = next((p["anomaly"] for p in passes if p["anomaly"]), None)
    outlier_gids = {r[0] for r in spark.createDataFrame(
        [(h,) for h in pages.outliers], "host string")
        .select(F.xxhash64("host")).collect()}
    flagged = 0
    if first is not None:
        gids = sorted(first["sketches"])
        bit_rows = sketch_bytes_to_bits(
            [first["sketches"][g] for g in gids], params.L)
        bits = {g: bit_rows[i].tolist() for i, g in enumerate(gids)}
        want_clusters = {frozenset(c) for c in
                         oracle.lsh_clusters(bits, params.B, params.R)}
        want_isolated = {g for g in gids if oracle.is_isolated(
            bits[g], {h: b for h, b in bits.items() if h != g},
            params.B, params.R)}
        if ctx.corrupt:
            first["anomalies"] ^= {gids[0]}
        flagged = len(want_isolated & outlier_gids)
        res.notes.append(
            f"pages = {n_pages}, link edges = {pages.n_links}, hosts = "
            f"{len(gids)}, clusters = {len(want_clusters)}, isolated = "
            f"{len(want_isolated)}, planted outliers flagged = {flagged}"
            f"/{len(outlier_gids)}, passes = {len(passes)}")
    res.notes.append(f"pages_per_s = {n_pages / statistics.median(pass_s):.6g}"
                     " 1/s")
    for i, p in enumerate(passes):
        if p["edges"] is not None and p["edges"] != pages.n_links:
            fail(res, f"pass {i} edge table rows {p['edges']} != "
                      f"{pages.n_links}")
        got = p["anomaly"]
        if got is None:
            continue
        clusters: dict = {}
        for g, c in got["clusters"].items():
            clusters.setdefault(c, set()).add(g)
        if (got["sketches"] != first["sketches"]
                or {frozenset(c) for c in clusters.values()} != want_clusters
                or got["anomalies"] != want_isolated):
            fail(res, f"pass {i} sketches/LSH clusters/isolated hosts vs "
                      "oracle")

    if ctx.trace:
        tracer = Tracer(spark, enabled=True)
        timed_cc = components_fn(spark, graph_params)

        def traced_components(edges, nodes):
            with tracer.span("graph.components"):
                return timed_cc(edges, nodes)

        v: dict = {}
        t0 = time.perf_counter()
        with tracer.span("functions.text"):
            hrefs = extract_link_edges(pages_df).cache()
            v["text.link_edges"] = hrefs.count()
        with tracer.span("pipeline"):
            edge_table(hrefs)
            ss = host_subgraph_edges(hrefs).cache()
            v["pipeline.edge_rows"] = ss.count()
        with tracer.span("operators.shingles"):
            cc = build_chunk_counts(build_shingles(build_adjacency(ss)),
                                    params.chunk_length).cache()
            v["shingles.chunk_rows"] = cc.count()
        with tracer.span("operators.sketch"):
            sk = build_sketches(cc, params).cache()
            v["sketch.graphs"] = sk.count()
        with tracer.span("operators.lsh"):
            bands = sketch_bands(sk, params).cache()
            clusters = lsh_clusters(bands, traced_components).collect()
            v["lsh.clusters"] = len({r.lsh_cluster for r in clusters})
            anomalies = {r.gid for r in isolated_vs_others(bands).collect()}
            v["lsh.anomalies"] = len(anomalies)
            cand = candidate_pairs(
                bands, max_bucket_size=SIMILARITY_PRUNE_CAP).cache()
            v["lsh.candidate_pairs"] = cand.count()
        with tracer.span("operators.similarity"):
            sims = all_pairs_sketch_similarity(sk, params,
                                               lsh_prune=cand).collect()
            v["similarity.pairs"] = len(sims)
        traced_s = time.perf_counter() - t0
        for df in (hrefs, ss, cc, sk, bands, cand):
            df.unpersist()
        st = tracer.self_times()
        v.update({
            "text.extract_s": st.get("functions.text", 0.0),
            "pipeline.edge_table_s": st.get("pipeline", 0.0),
            "shingles.s": st.get("operators.shingles", 0.0),
            "sketch.s": st.get("operators.sketch", 0.0),
            "lsh.s": st.get("operators.lsh", 0.0),
            "similarity.s": st.get("operators.similarity", 0.0),
            "components.s": st.get("graph.components", 0.0),
            "lsh.planted_outliers_flagged": len(anomalies & outlier_gids),
        })
        # useful candidate pairs: sketch similarity at or above the band
        # collision threshold (1/B)^(1/R), where a pair shares a bucket
        # with probability about one half
        threshold = (1.0 / params.B) ** (1.0 / params.R)
        if v["lsh.candidate_pairs"]:
            v["lsh.useful_ratio"] = sum(
                1 for r in sims if r.similarity >= threshold
            ) / v["lsh.candidate_pairs"]
        layer_report(res, tracer, v, statistics.median(pass_s), traced_s,
                     ctx.spans_path)
    return res


# ---------------------------------------------------------- streamspot_replay

REPLAY = {
    "full": dict(n_train=12, n_test=16, n_attacks=2, edges_per_graph=15,
                 batch_edges=48),
    "tiny": dict(n_train=6, n_test=4, n_attacks=1, edges_per_graph=6,
                 batch_edges=12),
}


def run_replay(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from sbustreamspot_core_spark.config import ANOMALY, StreamSpotParams
    from sbustreamspot_core_spark.operators.shingles import (
        build_adjacency, build_chunk_counts, build_shingles)
    from sbustreamspot_core_spark.operators.sketch import build_sketches
    from sbustreamspot_core_spark.sources.bootstrap import BootstrapClusters
    from sbustreamspot_core_spark.sources.edges import EDGE_SCHEMA
    from sbustreamspot_core_spark.streaming.structured import (
        StructuredStreamSpot)

    size = dict(REPLAY["tiny" if ctx.tiny else "full"])
    batch_edges = size.pop("batch_edges")
    res = Result()
    params = StreamSpotParams()
    t_session = session_setup(ctx)
    spark = ctx.spark
    schema = ", ".join([f"{f.name} {f.dataType.simpleString()}"
                        for f in EDGE_SCHEMA.fields] + ["seq long"])
    holder = {}

    def load(stream):
        for df in holder.get("dfs", ()):
            df.unpersist()
        train = spark.createDataFrame(stream.train, schema).cache()
        test = spark.createDataFrame(stream.test, schema).cache()
        train.count()
        test.count()
        boot = BootstrapClusters(stream.clusters,
                                 [0.5] * len(stream.clusters), 0.5)
        n = len(stream.test)
        batches = [(test.filter((F.col("seq") >= lo)
                                & (F.col("seq") < lo + batch_edges)),
                    set(stream.test["gid"][lo:lo + batch_edges]))
                   for lo in range(0, n, batch_edges)]
        holder["dfs"] = (train, test)
        return train, test, boot, batches

    def replay(train, boot, batches, tracer, tag, res, batch=nullcontext):
        """Bootstrap a fresh engine (untimed), then feed the batches one at a
        time -- closed loop, one batch in flight, as foreachBatch does."""
        state = os.path.join(ctx.work, "state", tag)
        t0 = time.perf_counter()
        engine = StructuredStreamSpot(spark, params, boot, train, state)
        bootstrap_s = time.perf_counter() - t0
        lat, ok = [], []
        for epoch, (df, _gids) in enumerate(batches):
            t0 = time.perf_counter()

            def one():
                with tracer.span("streaming.structured"):
                    engine.process_batch(df, epoch)
                return True
            with batch():
                ok.append(guarded(res, f"{tag} batch {epoch}", one))
            lat.append(time.perf_counter() - t0)
        return engine, lat, ok, bootstrap_s, state

    # ---- setup: input generation (median of three), a warmup replay of a
    # small stream (engine bootstrap included), and the input load
    t_gen, stream = median_of(
        3, lambda: gen.provenance_stream(ctx.seed, **size))
    t0 = time.perf_counter()
    warm_size = {k: v for k, v in REPLAY["tiny"].items()
                 if k != "batch_edges"}
    wtrain, _, wboot, wbatches = load(
        gen.provenance_stream(ctx.seed + 1, **warm_size))
    plain = Tracer(spark, enabled=False)
    replay(wtrain, wboot, wbatches, plain, "warmup", Result())
    train, test, boot, batches = load(stream)
    setup_s = t_session + t_gen + (time.perf_counter() - t0)

    # ---- expected final projections: one-shot sketches over each test
    # graph's complete edge set (untimed)
    one_shot = build_sketches(build_chunk_counts(build_shingles(
        build_adjacency(test)), params.chunk_length), params)
    want = {r.gid: np.array(r.projection, dtype=np.float64)
            for r in one_shot.collect()}

    # ---- measured replays, tracing off
    replays = 0
    rec = Recorder(ctx)
    while not replays or rec.elapsed() < ctx.seconds:
        engine, _, ok, _, state = replay(train, boot, batches, plain,
                                         f"r{replays}", res, rec.batch)
        replays += 1
        check_replay(res, engine, want, batches, ok, ctx.corrupt and
                     replays == 1, len(boot.clusters), ANOMALY)
        shutil.rmtree(state, ignore_errors=True)
    rec.report(res, len(stream.test) * replays, setup_s)
    flagged = sum(1 for g in stream.attacks
                  if engine.cluster_map.get(g) == ANOMALY)
    res.notes.append(
        f"replays = {replays}, batches per replay = {len(batches)}, "
        f"stream edges = {len(stream.test)}, attacks flagged = "
        f"{flagged}/{len(stream.attacks)}")

    if ctx.trace:
        tracer = Tracer(spark, enabled=True)
        engine, lat, _, bootstrap_s, state = replay(
            train, boot, batches, tracer, "traced", Result())
        totals = tracer.totals().get("streaming.structured", {})
        v = {
            "replay.bootstrap_s": bootstrap_s,
            "replay.jobs_per_batch": totals.get("jobs", 0) / len(batches),
            "replay.touched_graphs_per_batch":
                statistics.mean(len(g) for _, g in batches),
            "replay.state_bytes": dir_bytes(state),
            "replay.attacks_flagged": flagged,
        }
        layer_report(res, tracer, v, sum(rec.wall) / replays, sum(lat),
                     ctx.spans_path)
    return res


def check_replay(res: Result, engine, want: dict, batches, ok: list,
                 corrupt: bool, n_clusters: int, anomaly: int) -> None:
    """Every replayed graph's final projection equals the one-shot sketch of
    its complete edge set, and it holds a cluster id or ANOMALY. A batch
    fails if it raised or touched a graph that fails either check."""
    bad = set()
    if corrupt:
        bad.add(next(iter(want)))
    for g, proj in want.items():
        got = engine.projections.get(g)
        label = engine.cluster_map.get(g)
        if (got is None or not np.array_equal(got, proj)
                or (label != anomaly and label not in range(n_clusters))):
            bad.add(g)
    for (df, gids), passed in zip(batches, ok):
        if passed and gids & bad:
            fail(res, f"batch touching graphs {sorted(gids & bad)}")


RUNNERS = {"crawl_linkgraph": run_crawl, "host_anomaly": run_host,
           "streamspot_replay": run_replay}
