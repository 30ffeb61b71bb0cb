"""Micro-batch engines on inline synthetic provenance graphs.

``StructuredStreamSpot`` and ``MicroBatchReplay`` keep their tables of
driver state (score snapshots) off Spark: the snapshot is written on the
driver, and the edge state is keyed by epoch, so a re-delivered epoch
replaces its rows.  A micro-batch runs at most six Spark jobs, and neither
engine, the small-graph components path nor a superstep lineage commit
calls ``sc.parallelize``.
"""

import dataclasses
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import (
    ANOMALY,
    UNSEEN,
    GraphParams,
    StreamSpotParams,
)
from sbustreamspot_core_spark.graph.components import connected_components
from sbustreamspot_core_spark.operators.shingles import (
    build_adjacency,
    build_chunk_counts,
    build_shingles,
)
from sbustreamspot_core_spark.operators.sketch import build_sketches
from sbustreamspot_core_spark.oracles.streamspot_oracle import SequentialStreamSpot
from sbustreamspot_core_spark.sources.bootstrap import BootstrapClusters
from sbustreamspot_core_spark.streaming.replay import (
    MicroBatchReplay,
    assign_replay_seq,
)
from sbustreamspot_core_spark.streaming.structured import StructuredStreamSpot

from .conftest import jobs_in_group

SCHEMA = ("src_id long, src_type string, dst_id long, dst_type string, "
          "e_type string, gid long, seq long")
PARAMS = StreamSpotParams(chunk_length=10, L=100, B=5, R=20,
                          cluster_update_interval=8)
# (node types, edge types) per behaviour; the last one only in the test set
TEMPLATES = [("ab", "xy"), ("cd", "uvw"), ("ez", "q")]
TRAIN = {0: 0, 1: 0, 2: 1, 3: 1}            # gid -> template
TEST = {10: 0, 11: 1, 12: 0, 13: 2}
EDGES_PER_GRAPH = 6
BATCH = 8


def graph_edges(gid, template):
    nodes, etypes = TEMPLATES[template]
    return [(i % 3 + gid, nodes[i % 2], (2 * i + 1) % 4 + gid,
             nodes[(i + gid) % 2], etypes[(i + gid) % len(etypes)])
            for i in range(EDGES_PER_GRAPH)]


def train_rows():
    return [(*e, g, s) for g, t in TRAIN.items()
            for s, e in enumerate(graph_edges(g, t))]


def stream_rows():
    """Round robin across the test graphs: one global ``seq`` order."""
    per = {g: graph_edges(g, t) for g, t in TEST.items()}
    rows = []
    for off in range(EDGES_PER_GRAPH):
        for g in TEST:
            rows.append((*per[g][off], g, len(rows)))
    return rows


N_TEST = len(TEST) * EDGES_PER_GRAPH
BOOT = BootstrapClusters([[0, 1], [2, 3]], [0.5, 0.5], 0.5)


@pytest.fixture(scope="module")
def inputs(spark):
    train = spark.createDataFrame(train_rows(), SCHEMA).cache()
    test = spark.createDataFrame(stream_rows(), SCHEMA).cache()
    train.count()
    test.count()
    batches = [test.filter((F.col("seq") >= lo) & (F.col("seq") < lo + BATCH))
               for lo in range(0, N_TEST, BATCH)]
    one_shot = build_sketches(build_chunk_counts(build_shingles(
        build_adjacency(test)), PARAMS.chunk_length), PARAMS)
    want = {r.gid: np.array(r.projection, dtype=np.float64)
            for r in one_shot.collect()}
    yield train, test, batches, want
    train.unpersist()
    test.unpersist()


@pytest.fixture(scope="module")
def streamed(spark, inputs, tmp_path_factory):
    """Three epochs through ``process_batch``."""
    train, _, batches, _ = inputs
    state = str(tmp_path_factory.mktemp("structured"))
    engine = StructuredStreamSpot(spark, PARAMS, BOOT, train, state)
    for epoch, df in enumerate(batches):
        engine.process_batch(df, epoch)
    return engine, state


def forbid_parallelize(spark, monkeypatch):
    def no_parallelize(*args, **kwargs):
        raise AssertionError("sc.parallelize called")

    monkeypatch.setattr(spark.sparkContext, "parallelize", no_parallelize)


def assert_projections(engine, want):
    assert set(want) <= set(engine.projections)
    for g, proj in want.items():
        assert np.array_equal(engine.projections[g], proj), g


def test_structured_epochs_match_one_shot(streamed, inputs):
    engine, _ = streamed
    _, _, batches, want = inputs
    assert len(batches) >= 3
    assert_projections(engine, want)
    for g in want:
        label = engine.cluster_map[g]
        assert label == ANOMALY or label in range(len(BOOT.clusters)), g


def test_redelivered_epoch_is_not_appended_twice(spark, inputs, tmp_path):
    train, _, batches, want = inputs
    engine = StructuredStreamSpot(spark, PARAMS, BOOT, train, str(tmp_path))
    for epoch in (0, 0, 1, 2):          # epoch 0 delivered twice
        engine.process_batch(batches[epoch], epoch)
    assert spark.read.parquet(engine.edges_dir).count() == N_TEST
    assert_projections(engine, want)


def test_snapshot_reads_back_with_schema(spark, streamed):
    engine, state = streamed
    last = engine.last_complete_batch()
    assert last == 2
    snap = spark.read.parquet(
        os.path.join(state, "snapshots", f"batch={last}", "snapshot"))
    assert snap.schema.simpleString() == (
        "struct<gid:bigint,cluster_id:int,anomaly_score:double>")
    want = [(g, engine.cluster_map.get(g, UNSEEN),
             engine.anomaly_scores.get(g, float(UNSEEN)))
            for g in sorted(engine.projections)]
    assert [tuple(r) for r in snap.orderBy("gid").collect()] == want


def test_process_batch_job_budget(spark, inputs, tmp_path):
    # collect of the batch's (gid, seq), the epoch's edge-state write and
    # the touched-graph sketch query; the snapshot costs no job
    train, _, batches, _ = inputs
    engine = StructuredStreamSpot(spark, PARAMS, BOOT, train, str(tmp_path))
    _, jobs = jobs_in_group(spark, "replay-batch-jobs",
                            lambda: engine.process_batch(batches[0], 0))
    assert jobs <= 6


def test_driver_tables_skip_parallelize(spark, inputs, tmp_path, monkeypatch):
    train, test, batches, _ = inputs
    test_seq = assign_replay_seq(test).cache()
    test_seq.count()
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "src long, dst long").cache()
    loops = spark.createDataFrame([(4, 4)], "src long, dst long").cache()
    edges.count()
    loops.count()
    structured = StructuredStreamSpot(spark, PARAMS, BOOT, train,
                                      str(tmp_path / "structured"))
    replay = MicroBatchReplay(spark, PARAMS, BOOT, train,
                              checkpoint_dir=str(tmp_path / "replay"))
    forbid_parallelize(spark, monkeypatch)
    structured.process_batch(batches[0], 0)
    replay.run(test_seq, resume=False)
    assert replay.last_complete_batch() == len(batches) - 1
    small = GraphParams(num_partitions=4, small_graph_threshold=10)
    comps = connected_components(spark, edges, params=small)
    assert comps.supersteps == 0
    assert sorted(tuple(r) for r in comps.components.collect()) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    # only a self-loop: the id -> component map is empty
    comps = connected_components(spark, loops, params=small)
    assert [tuple(r) for r in comps.components.collect()] == [(4, 4)]
    for df in (test_seq, edges, loops):
        df.unpersist()


def test_replay_resume_matches_straight_run(spark, inputs, tmp_path):
    train, test, _, _ = inputs
    test_seq = assign_replay_seq(test).cache()
    straight = MicroBatchReplay(spark, PARAMS, BOOT, train)
    expect = straight.run(test_seq, resume=False)
    assert expect["batches"] == 3

    ckpt = str(tmp_path)
    killed = MicroBatchReplay(spark, PARAMS, BOOT, train, checkpoint_dir=ckpt)
    save = killed._save_state

    def dying_save(k, snapshot, n_edges):
        if k == 1:
            raise RuntimeError("injected kill before batch 1's state")
        save(k, snapshot, n_edges)

    killed._save_state = dying_save
    with pytest.raises(RuntimeError):
        killed.run(test_seq)
    assert killed.last_complete_batch() == 0

    resumed = MicroBatchReplay(spark, PARAMS, BOOT, train, checkpoint_dir=ckpt)
    got = resumed.run(test_seq)
    test_seq.unpersist()
    assert got["cluster_map"] == expect["cluster_map"]
    assert got["anomaly_scores"] == expect["anomaly_scores"]
    assert resumed.projections.keys() == straight.projections.keys()
    for g, proj in straight.projections.items():
        assert np.array_equal(resumed.projections[g], proj), g
    assert np.array_equal(resumed.centroids, straight.centroids)
    assert resumed.last_complete_batch() == 2


def test_per_edge_replay_matches_sequential_oracle(spark, inputs, tmp_path):
    """At interval=1 each micro-batch is one edge: every batch snapshot must
    equal the per-edge simulator's state after the same edge of the same
    round-robin stream, with the edge window evicting along the way."""
    train, test, _, _ = inputs
    params = dataclasses.replace(PARAMS, cluster_update_interval=1,
                                 max_num_edges=5)
    test_seq = assign_replay_seq(test).cache()
    # the replay order is the stream_rows order the simulator is fed
    assert [r.seq for r in test_seq.orderBy("replay_seq").collect()] == list(
        range(N_TEST))
    out = MicroBatchReplay(spark, params, BOOT, train,
                           checkpoint_dir=str(tmp_path)).run(
        test_seq, resume=False)
    test_seq.unpersist()

    sim = SequentialStreamSpot(
        params, BOOT.clusters, BOOT.thresholds, BOOT.global_threshold,
        {g: graph_edges(g, t) for g, t in TRAIN.items()})
    for k, (*edge, gid, _) in enumerate(stream_rows()):
        sim.process_edge(tuple(edge), gid)
        snap = pq.read_table(tmp_path / f"batch={k}" / "snapshot").to_pylist()
        gids = sorted(sim.projections)
        assert [(r["gid"], r["cluster_id"]) for r in snap] == [
            (g, sim.cluster_map.get(g, UNSEEN)) for g in gids], k
        assert [r["anomaly_score"] for r in snap] == pytest.approx(
            [sim.anomaly_scores.get(g, float(UNSEEN)) for g in gids]), k

    assert out["batches"] == N_TEST
    assert out["cluster_map"] == sim.cluster_map
    assert out["anomaly_scores"].keys() == sim.anomaly_scores.keys()
    for gid, score in sim.anomaly_scores.items():
        assert out["anomaly_scores"][gid] == pytest.approx(score), gid


def test_lineage_commit_skips_parallelize(spark, tmp_path, monkeypatch):
    from sbustreamspot_core_spark.sources.snaptable import SnapTable

    edges = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "src long, dst long").cache()
    edges.count()
    forbid_parallelize(spark, monkeypatch)
    ckpt, lt = str(tmp_path / "ck"), str(tmp_path / "lineage")
    res = connected_components(
        spark, edges, params=GraphParams(num_partitions=4, max_iters=20,
                                         checkpoint_interval=2),
        checkpoint_dir=ckpt, lineage_table=lt)
    edges.unpersist()
    assert res.supersteps > 0
    snaps = SnapTable(lt).snapshots()
    assert [s["summary"]["superstep"] for s in snaps] == sorted(
        int(n.split("=", 1)[1]) for n in os.listdir(ckpt)
        if n.startswith("superstep="))
    log = SnapTable(lt).read(spark)
    assert log.schema.simpleString() == (
        "struct<superstep:int,partition_id:int,rows:bigint>")
    for s in snaps:
        k = s["summary"]["superstep"]
        with open(os.path.join(ckpt, f"superstep={k}", "lineage.json")) as f:
            parts = json.load(f)["partitions"]
        assert sorted(tuple(r) for r in log.filter(F.col("superstep") == k)
                      .collect()) == sorted(
            (k, p["partition_id"], p["rows"]) for p in parts)
