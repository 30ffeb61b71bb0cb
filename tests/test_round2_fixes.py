"""Round-2 scale-fix regression tests: hub-safe CSR blocking, SimHash vocab
guard, vectorized rolling fingerprint."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams, StreamSpotParams
from sbustreamspot_core_spark.functions.text import rolling_fingerprint_bytes
from sbustreamspot_core_spark.graph.pagerank import build_links, pagerank
from sbustreamspot_core_spark.operators.sketch import build_simhash_sketches
from sbustreamspot_core_spark.oracles.graph_oracle import pagerank_oracle


def test_build_links_blocks_mega_hub_before_aggregation(spark):
    """A hub with out-degree >> csr_block_size must never put more than ~one
    block of targets into a single aggregation buffer / output row."""
    bs = 64
    hub_deg = 5000
    edges = spark.range(hub_deg).select(
        F.lit(0).alias("src"), (F.col("id") + 1).alias("dst"))
    edges = edges.unionByName(spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"))
    links = build_links(edges, GraphParams(num_partitions=4, csr_block_size=bs))
    rows = links.collect()
    hub_rows = [r for r in rows if r.src == 0]
    # full out-degree carried on every block row
    assert all(r.deg == hub_deg for r in hub_rows)
    # hash-split blocks: none much above the block size, union is exact
    assert max(len(r.targets) for r in hub_rows) <= 3 * bs
    assert len(hub_rows) >= hub_deg // bs
    got = sorted(t for r in hub_rows for t in r.targets)
    assert got == list(range(1, hub_deg + 1))
    light = {r.src: r for r in rows if r.src != 0}
    assert light[1].deg == 1 and list(light[1].targets) == [2]


def test_pagerank_unchanged_with_hub_blocking(spark):
    """Blocked adjacency must not change PageRank values (hub graph)."""
    e = [(0, i) for i in range(1, 40)] + [(i, (i % 7) + 1) for i in range(1, 40)]
    edges = spark.createDataFrame(e, "src long, dst long")
    params = GraphParams(num_partitions=4, max_iters=25, tol=1e-10,
                         checkpoint_interval=10, csr_block_size=8)
    expect, _ = pagerank_oracle(e, damping=0.85, tol=1e-10, max_iters=25)
    got = {r.id: r.rank for r in pagerank(spark, edges, params).ranks.collect()}
    for node, r in expect.items():
        assert got[node] == pytest.approx(r, abs=1e-6)


def test_simhash_vocab_guard(spark):
    cc = spark.range(200).select(
        F.lit(0).alias("gid"),
        F.concat(F.lit("c"), F.col("id")).alias("chunk"),
        F.lit(1).alias("cnt"))
    params = StreamSpotParams(chunk_length=8, L=100, B=5, R=20)
    with pytest.raises(ValueError, match="max_vocab"):
        build_simhash_sketches(cc, params, max_vocab=100)
    # under the cap it still works
    out = build_simhash_sketches(cc, params, max_vocab=1000).collect()
    assert len(out) == 1


def _fp_scalar_oracle(data: bytes) -> int:
    M, P = (1 << 61) - 1, 1315423911
    h = 0
    for x in data:
        h = (h * P + x) % M
    return h


def test_rolling_fingerprint_matches_scalar_horner():
    rng = np.random.default_rng(7)
    for n in (0, 1, 100, 4096, 4097, 10000, 1 << 17):
        data = bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
        assert rolling_fingerprint_bytes(data) == _fp_scalar_oracle(data)


def test_rolling_fingerprint_speed_1mb():
    """>100x per-doc speedup requirement: 1 MB must fingerprint in well under
    the old per-byte-Python budget (~5+ s); allow generous CI noise."""
    import time
    data = bytes(np.random.default_rng(0).integers(
        0, 256, size=1 << 20, dtype=np.uint8))
    rolling_fingerprint_bytes(data[:8192])          # warm the path
    t0 = time.time()
    rolling_fingerprint_bytes(data)
    elapsed = time.time() - t0
    # ~7 ms standalone; 2 s budget absorbs shared-host noise while still
    # catching any return of the per-byte loop (~10+ s per MB)
    assert elapsed < 2.0, elapsed
