"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: link-graph PageRank over the events-derived
edge table at sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2 plus the
training-data pipeline ops; each callable takes (spark, sf_dir).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for EVERY query (same column
names/aliases both sides).  Iterative jobs are expressed as fixed-superstep
unrollings (PageRank 3 iters, LPA 2 rounds) or recursive CTE closures
(connected components / near-dup clusters) so DuckDB can verify them exactly.

Oracle strategies for non-SQL kernels:
- StreamHash (MT19937-seeded multilinear hash): the chunk->sign-bits table is
  a pure function of (chunk, seed), committed as a parquet fixture
  (fixtures/streamhash_bits_L200_C10.parquet, tools/make_fixtures.py); the
  oracle recomputes projections/bands/similarities/centroids from it in SQL.
- MinHash/SimHash64/fingerprint: the base hash is 60 bits of md5, computable
  bit-identically by Spark JVM expressions and DuckDB hex-cast — the oracle
  recomputes the full pipeline in SQL, no fixture needed.
- Scans/extraction/PRNG: committed sample files / expected-output fixtures;
  the gate checks the distributed run against them.

Integer-type discipline: DuckDB's integer ``sum()`` returns int128, which the
driver's value hasher distinguishes from int64 — every aggregate is wrapped
in ``CAST(... AS BIGINT)``.  Float discipline: money/value sums go through
integer cents (CAST(round(x*100) AS BIGINT)) so results are order-independent
and hash-stable; cosines/ranks/distances are rounded well above float-noise
level, and orderings are by values monotone in exact integers so argmin
tie-breaks agree across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams, StreamSpotParams
from sbustreamspot_core_spark.graph.components import connected_components
from sbustreamspot_core_spark.graph.labelprop import label_propagation
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.graph.triangles import (
    triangle_count,
    triangle_count_per_vertex,
)
from sbustreamspot_core_spark.operators.clustering import (
    assign_clusters,
    build_centroids,
)
from sbustreamspot_core_spark.operators.lsh import candidate_pairs, isolated_vs_others
from sbustreamspot_core_spark.operators.similarity import (
    all_pairs_sketch_similarity,
    angular_similarity_expr,
)
from sbustreamspot_core_spark.operators.sketch import sketch_bands
from sbustreamspot_core_spark.functions.text import (
    _STOPWORDS,
    fingerprint_expr,
    lang_id_expr,
)
from sbustreamspot_core_spark.pipeline import extract_link_edges, with_extracted_text
from sbustreamspot_core_spark.rng import MT19937_64
from sbustreamspot_core_spark.sources.bootstrap import read_bootstrap_clusters
from sbustreamspot_core_spark.sources.edges import read_streamspot_edges
from sbustreamspot_core_spark.sources.pages import generate_pages
from sbustreamspot_core_spark.streaming.replay import assign_replay_seq
from sbustreamspot_core_spark.operators.dedup import (
    MINHASH_MOD,
    exact_dedup,
    minhash_coeffs,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from sbustreamspot_core_spark.operators.shingles import chunk_expr
from sbustreamspot_core_spark.operators.similarity import shingle_cosine_pairs
from sbustreamspot_core_spark.operators.sketch import build_sketches

CHUNK = 10  # chunk_length for the events-derived shingle queries
FIXTURES = "/root/repo/fixtures"  # committed deterministic fixtures
SS_PARAMS = StreamSpotParams(chunk_length=CHUNK, L=200, B=10, R=20)
WINDOW_EDGES = 5000  # count-based window size for q_windowed_sketches (W2)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# events -> StreamSpot analog: gid := user_id, node/edge types from
# event_type's first char, arrival order (ts, event_id).
# --------------------------------------------------------------------------

def _event_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ordered = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct(
            "ts", "event_id",
            F.substring("event_type", 1, 1).alias("c")))).alias("seq"))
    )
    return ordered.select(
        "user_id",
        F.concat(F.lit(" u"),
                 F.array_join(F.transform("seq", lambda x: x.c), "")
                 ).alias("shingle"),
    )


def _event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic link graph derived from events: src=user_id,
    dst=(event_id*7) % 150."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.col("user_id").alias("src"),
                  ((F.col("event_id") * 7) % 150).alias("dst"))
        .filter("src != dst").distinct()
    )


def _event_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter("event_id < 2000")
    return (
        ev.select(F.col("user_id").alias("src"),
                  (F.lit(200) + F.col("event_id") % 400).alias("dst"))
        .distinct()
    )


_EVENT_GRAPH_SQL = """
  SELECT DISTINCT user_id AS src, (event_id * 7) % 150 AS dst
  FROM events WHERE user_id != (event_id * 7) % 150
"""

_EVENT_BIPARTITE_SQL = """
  SELECT DISTINCT user_id AS src, 200 + event_id % 400 AS dst
  FROM events WHERE event_id < 2000
"""


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_scenario_filter(spark, sf_dir):
    # F1 (io.cpp:97-98): scenario = gid/100; keep scenario 0
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.floor(F.col("user_id") / 100).cast("int") == 0)
        .select("event_id", "user_id", "event_type")
    )


def q_train_test_split(spark, sf_dir):
    # F2/F3 (io.cpp:100-110): route by membership in the train-gid set
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("is_train", (F.col("user_id") % 2 == 0).cast("int"))
        .groupBy("is_train")
        .agg(F.count("*").alias("n_edges"),
             F.countDistinct("user_id").alias("n_graphs"))
    )


def q_adjacency_shingle(spark, sf_dir):
    # A1/W1/X1: arrival-ordered adjacency -> K=1 shingle string
    return _event_shingles(spark, sf_dir)


def q_chunk_counts(spark, sf_dir):
    # X2/A3 (graph.cpp:432-438, 119-122): chunking + frequency count
    sh = _event_shingles(spark, sf_dir)
    return (
        sh.select("user_id", F.explode(chunk_expr("shingle", CHUNK)).alias("chunk"))
        .groupBy("user_id", "chunk").agg(F.count("*").alias("cnt"))
    )


def q_graph_sizes(spark, sf_dir):
    # A8 (main.cpp:468-476)
    return _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("num_edges"))


def q_argmin_event(spark, sf_dir):
    # A10 (cluster.cpp:117-134): argmin with deterministic tie-break
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        .select("user_id", F.col("event_id").alias("argmin_event"))
    )


def q_threshold_flag(spark, sf_dir):
    # F5 (cluster.cpp:147-150): score > min(global, per-cluster threshold)
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.count("*").alias("n"))
    thr = F.least(F.lit(750), 500 + (F.col("user_id") % 5) * 100)
    return agg.select(
        "user_id",
        (F.col("cents") > F.col("n") * thr).cast("int").alias("is_anomaly"))


def q_sliding_window(spark, sf_dir):
    # W2 (main.cpp:315-319): count-based sliding window per stream
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, 0))
    return ev.select(
        "event_id",
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w)
        .alias("window_cents"))


def q_snapshot_batches(spark, sf_dir):
    # W3 (param.h:20, main.cpp:394-398): fixed-size interval snapshots
    ev = _t(spark, sf_dir, "events")
    w = Window.orderBy("ts", "event_id")
    return (
        ev.withColumn("batch", F.floor((F.row_number().over(w) - 1) / 1000).cast("long"))
        .groupBy("batch")
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )


def q_topk_orders(spark, sf_dir):
    # top-k per group (sort/limit surface)
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy(F.col("o_custkey") % 10).orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("bucket", F.col("o_custkey") % 10)
        .withColumn("rn", F.row_number().over(w)).filter("rn <= 3")
        .select("bucket", "rn", "o_orderkey")
    )


def q_segment_revenue(spark, sf_dir):
    # J1-style broadcast equi-join + aggregation
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
             .alias("revenue_cents"),
             F.count("*").alias("n_orders"))
    )


def q_lineitem_agg(spark, sf_dir):
    # TPC-H Q1-shaped scan+agg (pushdown/pruning surface)
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") < "1998-01-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_cents"),
             F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_cents"),
             F.count("*").alias("count_order"))
    )


def q_shingle_cosine(spark, sf_dir):
    # X9 (graph.cpp:440-461): exact cosine over chunk-count vectors, plus
    # X10 angular similarity from the same pairs (merged from the former
    # q_angular row — the driver artifact caps at 50 queries, so related
    # operators share a row; both sides transform the *rounded* cosine so
    # acos inputs are identical)
    cc = q_chunk_counts(spark, sf_dir).withColumnRenamed("user_id", "gid")
    pairs = shingle_cosine_pairs(cc).select(
        "gid_a", "gid_b", F.round("cosine", 6).alias("cosine"))
    return pairs.withColumn(
        "angsim", F.round(angular_similarity_expr("cosine"), 6))


def q_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs)


def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 60")
    out = ngram_jaccard_pairs(docs, n=5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_token_count(spark, sf_dir):
    # real BPE-ish tokenizer (functions/text.py TOKEN_PATTERN) as a pure JVM
    # expression; the oracle runs the identical pattern through DuckDB RE2
    from sbustreamspot_core_spark.functions.text import token_count_expr
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count_expr(F.col("text")).alias("n_tokens"))


def q_doc_stats(spark, sf_dir):
    # n_bytes merged from the former q_multimodal_bytelen row (binary-size
    # accounting over the same scan; 50-row driver cap)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )


def q_lang_distribution(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"))


def q_lang_id(spark, sf_dir):
    # language-ID heuristic (argmax stopword hits, alphabetical tie-break,
    # zero hits -> 'und') — now a pure JVM expression (array_intersect +
    # greatest/when argmax); the SQL oracle replays the same decision rule
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", lang_id_expr(F.col("text")).alias("lang_guess"))


def q_quality(spark, sf_dir):
    # quality scoring (training-data pipeline): pure JVM column expressions;
    # regex classes ([^\w\s], [A-Z]) agree between Java regex and RE2
    from sbustreamspot_core_spark.functions.text import quality_score_cols
    docs = _t(spark, sf_dir, "documents")
    cols = quality_score_cols("text")
    return docs.select("doc_id", *[v.alias(k) for k, v in cols.items()])


def q_fingerprint(spark, sf_dir):
    # document fingerprinting: JVM md5-60bit portable hash (functions/text.py
    # fingerprint_expr; rolling-hash variant is rolling_fingerprint_bytes)
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_expr(F.col("text")).alias("fp"))


def q_pagerank3(spark, sf_dir):
    # G4+G5 merged (50-row driver cap, round 6 — freed a slot for the
    # SnapTable read surface): 3 PageRank supersteps joined with 2
    # synchronous LPA rounds over the SAME event graph; both matched by
    # unrolled SQL oracles.  LEFT join: a node reachable only through
    # self-loops ranks but carries no label (LPA ignores self-loops).
    e = _event_graph(spark, sf_dir)
    params = GraphParams(num_partitions=8, max_iters=3, tol=0.0,
                         checkpoint_interval=10)
    res = pagerank(spark, e, params)
    lpa = label_propagation(
        spark, e, params=GraphParams(num_partitions=8, lpa_max_iters=2,
                                     checkpoint_interval=10)).labels
    return (res.ranks.select("id", F.round("rank", 6).alias("rank"))
            .join(lpa, "id", "left").select("id", "rank", "label"))


def q_connected_components(spark, sf_dir):
    # G1: Hash-Min CC — matched by the recursive-closure SQL oracle
    e = _event_bipartite(spark, sf_dir)
    params = GraphParams(num_partitions=8, max_iters=50, checkpoint_interval=5)
    return connected_components(spark, e, params=params).components


def q_snaptable_timetravel(spark, sf_dir):
    # S4/SnapTable read surface (round 6): time travel to a pinned
    # snapshot + the append-only changelog scan, over the committed
    # fixture table (tools/make_fixtures.py:snaptable_fixture — 3 appends
    # then a compact, so the changelog walk must SKIP the replace
    # snapshot).  The DuckDB oracle reads the SAME manifest's parquet
    # files, resolved from the table metadata at oracle build time —
    # proving the pinned-snapshot scan reads exactly the manifest; the
    # CONTENT is pinned non-circularly by
    # tests/test_snaptable.py::test_fixture_table_matches_generation_rule.
    from sbustreamspot_core_spark.sources.snaptable import SnapTable
    t = SnapTable(f"{FIXTURES}/snaptable_demo")
    tt = (t.read(spark, snapshot_id=2).select("id", "val")
          .withColumn("surface", F.lit("time_travel")))
    ch = (t.incremental(spark, from_snapshot_id=1).select("id", "val")
          .withColumn("surface", F.lit("changelog")))
    return tt.unionByName(ch)


def q_streamhash_sketches(spark, sf_dir):
    # A5/X3/X5/X11: full sketch pipeline on the events-derived shingles.
    # Verified against the committed chunk->sign-bits fixture (the hash table
    # is a pure function of (chunk, seed); tools/make_fixtures.py): proj0 is
    # hash function l=0's projection, band0/band9 are the first/last packed
    # LSH band values (bits 0..19 / 180..199).
    sk = _event_sketches(spark, sf_dir)
    return sk.select("gid", F.col("projection").getItem(0).alias("proj0"),
                     F.col("bands").getItem(0).alias("band0"),
                     F.col("bands").getItem(9).alias("band9"))


def q_minhash_lsh(spark, sf_dir):
    # banded LSH candidate pairs + the signature-based Jaccard estimate
    # (matching-minhash fraction) over them (merged from the former
    # q_minhash_est row: the pair keys gate the banding, est_jaccard gates
    # the estimator; 50-row driver cap)
    from sbustreamspot_core_spark.operators.dedup import (
        minhash_jaccard_estimate,
    )
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    sigs = minhash_signatures(docs, num_hashes=64, n=5)
    cands = minhash_lsh_candidates(sigs, bands=16)
    return minhash_jaccard_estimate(sigs, cands).select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def q_variant_docs(spark, sf_dir):
    # planted near-duplicate corpus generator (sources/docs.py) — fully
    # deterministic md5-token streams, so DuckDB regenerates it exactly
    from sbustreamspot_core_spark.sources.docs import generate_variant_docs
    docs = generate_variant_docs(spark, n_bases=30, variants=10,
                                 tokens_per_doc=20, mutate_tokens=4,
                                 num_partitions=8)
    return docs.select("doc_id", "base_id", "variant",
                       F.md5("text").alias("text_md5"))


def q_exact_jaccard_cands(spark, sf_dir):
    # the dedup VERIFIER operator (exact_jaccard_for_pairs): exact n-gram
    # Jaccard restricted to the banded-MinHash candidate set — cost scales
    # with candidate volume, not all-pairs
    from sbustreamspot_core_spark.operators.dedup import (
        exact_jaccard_for_pairs,
    )
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    sigs = minhash_signatures(docs, num_hashes=64, n=5)
    cands = minhash_lsh_candidates(sigs, bands=16)
    return exact_jaccard_for_pairs(docs, cands, n=5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_minhash_sigs(spark, sf_dir):
    # long-format minhash signatures: (id, i, h) — scalar columns so the
    # driver's value hash covers every signature element
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    sigs = minhash_signatures(docs, num_hashes=64, n=5)
    return sigs.select("id", F.posexplode("sig").alias("i", "h"))


def q_simhash64(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    return simhash64(docs, n=5)


def q_simhash_cands(spark, sf_dir):
    # SimHash near-dup candidates via pigeonhole banding: plant suffix-
    # perturbed copies (doc_id + 10000, text || ' x') whose SimHashes sit
    # mostly within Hamming <= 3 of the original, then find them WITHOUT an
    # all-pairs scan
    from sbustreamspot_core_spark.operators.dedup import (
        simhash_hamming_candidates,
    )
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    aug = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 10000).alias("doc_id"),
                    F.concat("text", F.lit(" x")).alias("text")))
    sh = simhash64(aug, n=5)
    return simhash_hamming_candidates(sh, radius=3, bands=4).select(
        "id_a", "id_b", "hamming")


def q_dedup_clusters(spark, sf_dir):
    # end-to-end near-dup clustering: shingles -> minhash -> LSH bands ->
    # candidate pairs -> connected components; cluster id = min doc id
    docs = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    sigs = minhash_signatures(docs, num_hashes=64, n=5)
    pairs = minhash_lsh_candidates(sigs, bands=16)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = docs.select(F.col("doc_id").alias("id"))
    # near-dup LSH clusters are chain-y (many supersteps): truncate the plan
    # every 3 steps or Catalyst analysis cost explodes (see superstep.py)
    params = GraphParams(num_partitions=8, max_iters=40, checkpoint_interval=3)
    comp = connected_components(spark, edges, nodes, params).components
    return comp.select("id", F.col("component").alias("cluster"))


# ----- sketch/LSH/cluster suite over the events-derived graphs --------------

def _event_sketches(spark, sf_dir, max_gid: int | None = None):
    cc = q_chunk_counts(spark, sf_dir).withColumnRenamed("user_id", "gid")
    if max_gid is not None:
        cc = cc.filter(F.col("gid") < max_gid)
    return build_sketches(cc, SS_PARAMS)


def q_sketch_similarity(spark, sf_dir):
    # X6/J6 (streamhash.cpp:17-20, main.cpp:584-605): all-pairs StreamHash
    # similarity (bounded gid subset keeps the pair count driver-friendly)
    sk = _event_sketches(spark, sf_dir, max_gid=40)
    sims = all_pairs_sketch_similarity(sk, SS_PARAMS)
    return sims.select("gid_a", "gid_b", F.round("similarity", 6).alias("similarity"))


def q_lsh_candidates(spark, sf_dir):
    # J4 (cluster.cpp:59-74): shared-bucket candidate pairs
    bands = sketch_bands(_event_sketches(spark, sf_dir), SS_PARAMS)
    return candidate_pairs(bands)


def q_isolated(spark, sf_dir):
    # J5/G3 (cluster.cpp:44-57, main.cpp:723-738): per-gid isolation flag
    bands = sketch_bands(_event_sketches(spark, sf_dir), SS_PARAMS)
    gids = bands.select("gid").distinct()
    iso = isolated_vs_others(bands).withColumn("flag", F.lit(1))
    return gids.join(iso, "gid", "left").select(
        "gid", F.coalesce("flag", F.lit(0)).cast("int").alias("is_isolated"))


def q_centroid_assign(spark, sf_dir):
    # J2/J3/A6/A10/F5 (cluster.cpp:76-150): centroids from a deterministic
    # bootstrap membership (cluster c = gids with gid%5==c), then nearest-
    # centroid assignment with the threshold anomaly predicate
    sk = _event_sketches(spark, sf_dir)
    membership = sk.select((F.col("gid") % 5).cast("int").alias("cluster_id"), "gid")
    centroids = build_centroids(sk, membership, SS_PARAMS)
    thresholds = spark.createDataFrame(
        [(c, 0.30 + 0.05 * c) for c in range(5)],
        "cluster_id int, threshold double")
    # round_digits=6: predicate on the rounded distance on BOTH sides so a
    # 1-ulp JVM-vs-libm cos() difference at a threshold boundary can't flip
    # is_anomaly in the gate
    out = assign_clusters(sk, centroids, thresholds, 0.42, SS_PARAMS,
                          round_digits=6)
    return out.select(
        "gid", "cluster_id",
        F.round("anomaly_score", 6).alias("anomaly_score"),
        F.col("is_anomaly").cast("int").alias("is_anomaly"))


def q_chunk_dict(spark, sf_dir):
    # A4 (graph.cpp:204-209): global chunk dictionary with dense sorted ids.
    # The global window is safe: the vocabulary is type-alphabet bounded,
    # not |E|-bounded (see operators/sketch.py module docstring).
    cc = q_chunk_counts(spark, sf_dir)
    vocab = cc.select("chunk").distinct()
    return vocab.select(
        "chunk",
        (F.row_number().over(Window.orderBy("chunk")) - 1).cast("long")
        .alias("chunk_id"))


def q_windowed_sketches(spark, sf_dir):
    # W2/A2 (main.cpp:315-319,355-361): count-based edge window over the
    # interleaved replay order; sketches recomputed from the live window
    # (DEVIATIONS.md #4 semantics).  proj0/band0 verified vs the hash fixture.
    ev = _t(spark, sf_dir, "events")
    per = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = ev.select(
        F.col("user_id").alias("gid"), "ts", "event_id",
        F.substring("event_type", 1, 1).alias("c"),
        (F.row_number().over(per) - 1).cast("long").alias("seq"))
    rs = assign_replay_seq(edges)
    n = rs.count()
    win = rs.filter(F.col("replay_seq") >= n - WINDOW_EDGES)
    shingles = (
        win.groupBy("gid")
        .agg(F.sort_array(F.collect_list(F.struct(
            "ts", "event_id", "c"))).alias("s"))
        .select("gid", F.concat(
            F.lit(" u"),
            F.array_join(F.transform("s", lambda x: x.c), "")).alias("shingle"))
    )
    cc = (shingles.select("gid", F.explode(chunk_expr("shingle", CHUNK)).alias("chunk"))
          .groupBy("gid", "chunk").agg(F.count("*").alias("cnt")))
    sk = build_sketches(cc, SS_PARAMS)
    return sk.select("gid", F.col("projection").getItem(0).alias("proj0"),
                     F.col("bands").getItem(0).alias("band0"))


def q_replay_seq(spark, sf_dir):
    # W4 (main.cpp:201-219,336-343): deterministic interleaved replay order
    ev = _t(spark, sf_dir, "events")
    per = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = ev.select(F.col("user_id").alias("gid"), "event_id",
                      (F.row_number().over(per) - 1).cast("long").alias("seq"))
    return assign_replay_seq(edges).select("event_id", "replay_seq")


def q_triangles_per_vertex(spark, sf_dir):
    # G6 per-vertex granularity (analysis companion consumes per-entity
    # scores, main.cpp:457-490) plus the global count via the scalar
    # triangle_count operator (merged from the former q_triangle_count row;
    # both G6 surfaces run and both values are oracle-gated)
    e = _event_graph(spark, sf_dir)
    n = triangle_count(spark, e, GraphParams(num_partitions=8))
    tv = triangle_count_per_vertex(spark, e, GraphParams(num_partitions=8))
    return tv.withColumn("total_triangles", F.lit(int(n)).cast("long"))


# ----- fixture-pinned scan/source/PRNG queries ------------------------------

def q_edge_tsv_scan(spark, sf_dir):
    # S1 (io.cpp:57-96): reference 6-field TSV edge scan (committed sample)
    e = read_streamspot_edges(spark, f"{FIXTURES}/sample_edges.tsv")
    return e.select("src_id", "src_type", "dst_id", "dst_type", "e_type", "gid")


def q_bootstrap_scan(spark, sf_dir):
    # S2 (io.cpp:134-164): bootstrap-cluster control file parse; the oracle
    # re-derives every field from the generating formula
    boot = read_bootstrap_clusters(f"{FIXTURES}/bootstrap_clusters.txt")
    df = boot.to_df(spark)
    return df.select("cluster_id", F.round("threshold", 2).alias("threshold"), "gid")


def q_rng_stream(spark, sf_dir):
    # X12 (main.cpp:83, rng.py): MT19937-64(seed=23) stream, pinned by the
    # committed fixture (regression guard on the hash-family PRNG)
    prng = MT19937_64(23)
    vals = [(i, (prng() + (1 << 63)) % (1 << 64) - (1 << 63)) for i in range(256)]
    return spark.createDataFrame(vals, "idx int, value long")


def q_text_extract(spark, sf_dir):
    # S5: distributed text extraction vs locally-computed committed expected
    # output (byte-identity invariant, functions/text.py)
    pages = generate_pages(spark, n_hosts=20, pages_per_host=10, seed=42)
    return with_extracted_text(pages.drop("text")).select("url", "text")


def q_href_edges(spark, sf_dir):
    # S6: distributed href->edge extraction vs committed expected edge list
    pages = generate_pages(spark, n_hosts=20, pages_per_host=10, seed=42)
    return extract_link_edges(pages).select("src_url", "dst_url", "link_pos")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the sf0.001 events link graph, top 100."""
    sf_dir = "/root/testdata/sf0.001"
    e = _event_graph(spark, sf_dir)
    params = GraphParams(num_partitions=8, max_iters=20, tol=1e-7,
                         checkpoint_interval=5)
    res = pagerank(spark, e, params)
    return (res.ranks.orderBy(F.desc("rank"), F.asc("id")).limit(100)
            .select("id", F.round("rank", 6).alias("rank")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE: the driver's correctness artifact records at most 50 queries
    # (CORRECTNESS_r03 recorded exactly the first 50 of 53 dict entries), so
    # this dict is kept at <= 50 entries by merging closely-related operator
    # surfaces into shared rows (cosine+angular, per-vertex+global triangles,
    # doc-stats+bytelen, lsh-pairs+estimate) and the fixture-backed rows that
    # were silently dropped in r03 are front-loaded.
    return {
        "q_rng_stream": q_rng_stream,
        "q_text_extract": q_text_extract,
        "q_href_edges": q_href_edges,
        "q_scenario_filter": q_scenario_filter,
        "q_train_test_split": q_train_test_split,
        "q_adjacency_shingle": q_adjacency_shingle,
        "q_chunk_counts": q_chunk_counts,
        "q_graph_sizes": q_graph_sizes,
        "q_argmin_event": q_argmin_event,
        "q_threshold_flag": q_threshold_flag,
        "q_sliding_window": q_sliding_window,
        "q_snapshot_batches": q_snapshot_batches,
        "q_topk_orders": q_topk_orders,
        "q_segment_revenue": q_segment_revenue,
        "q_lineitem_agg": q_lineitem_agg,
        "q_shingle_cosine": q_shingle_cosine,
        "q_exact_dedup": q_exact_dedup,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_token_count": q_token_count,
        "q_doc_stats": q_doc_stats,
        "q_lang_distribution": q_lang_distribution,
        "q_lang_id": q_lang_id,
        "q_quality": q_quality,
        "q_fingerprint": q_fingerprint,
        "q_pagerank3": q_pagerank3,
        "q_connected_components": q_connected_components,
        "q_snaptable_timetravel": q_snaptable_timetravel,
        "q_streamhash_sketches": q_streamhash_sketches,
        "q_minhash_lsh": q_minhash_lsh,
        "q_minhash_sigs": q_minhash_sigs,
        "q_exact_jaccard_cands": q_exact_jaccard_cands,
        "q_variant_docs": q_variant_docs,
        "q_simhash64": q_simhash64,
        "q_simhash_cands": q_simhash_cands,
        "q_dedup_clusters": q_dedup_clusters,
        "q_sketch_similarity": q_sketch_similarity,
        "q_lsh_candidates": q_lsh_candidates,
        "q_isolated": q_isolated,
        "q_centroid_assign": q_centroid_assign,
        "q_chunk_dict": q_chunk_dict,
        "q_windowed_sketches": q_windowed_sketches,
        "q_replay_seq": q_replay_seq,
        "q_triangles_per_vertex": q_triangles_per_vertex,
        "q_edge_tsv_scan": q_edge_tsv_scan,
        "q_bootstrap_scan": q_bootstrap_scan,
    }


def _lang_id_sql() -> str:
    """SQL replay of lang_id_udf: per-language stopword-hit counts, argmax
    with alphabetical tie-break (strict > scan over sorted languages), zero
    hits -> 'und'."""
    langs = sorted(_STOPWORDS)
    hit_cols = ", ".join(
        "(" + " + ".join(
            f"CASE WHEN list_contains(words, '{w}') THEN 1 ELSE 0 END"
            for w in _STOPWORDS[lang]) + f") AS n_{lang}"
        for lang in langs)
    gmax = "greatest(" + ", ".join(f"n_{lang}" for lang in langs) + ")"
    pick = " ".join(
        f"WHEN n_{lang} = {gmax} THEN '{lang}'" for lang in langs[:-1])
    return rf"""
      WITH w AS (
        SELECT doc_id,
               regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+') AS words
        FROM documents
      ),
      hits AS (SELECT doc_id, {hit_cols} FROM w)
      SELECT doc_id,
             CASE WHEN {gmax} = 0 THEN 'und' {pick}
                  ELSE '{langs[-1]}' END AS lang_guess
      FROM hits
    """


def oracle_sql() -> dict[str, str]:
    shingles_cte = """
      WITH sh AS (
        SELECT user_id,
               ' u' || string_agg(substring(event_type, 1, 1), ''
                                  ORDER BY ts, event_id) AS shingle
        FROM events GROUP BY user_id
      )
    """
    chunks_cte = shingles_cte + f""",
      chunks AS (
        SELECT user_id,
               unnest(list_transform(
                 range(1, CAST(ceil(length(shingle) / {CHUNK}.0) AS BIGINT) + 1),
                 g -> substring(shingle, CAST((g - 1) * {CHUNK} + 1 AS INT), {CHUNK})
               )) AS chunk
        FROM sh
      )
    """
    # StreamHash sketch pipeline over the committed chunk->sign-bits fixture
    # (the hash table is a pure function of (chunk, seed); regenerate with
    # tools/make_fixtures.py).  L=200, B=10, R=20 to match SS_PARAMS.
    def ss_tail(max_gid: int | None = None) -> str:
        gid_where = f"WHERE user_id < {max_gid}" if max_gid is not None else ""
        return f""",
      cc AS (SELECT user_id AS gid, chunk, count(*) AS cnt
             FROM chunks {gid_where} GROUP BY user_id, chunk),
      hb AS (SELECT chunk, l, bit
             FROM read_parquet('{FIXTURES}/streamhash_bits_L200_C10.parquet')),
      proj AS (SELECT gid, l, CAST(sum(cnt * bit) AS BIGINT) AS p
               FROM cc JOIN hb USING (chunk) GROUP BY gid, l),
      sbits AS (SELECT gid, l, CASE WHEN p >= 0 THEN 1 ELSE 0 END AS sbit
                FROM proj),
      bands AS (SELECT gid, CAST(l // 20 AS INT) AS band_idx,
                       CAST(sum(sbit * (CAST(1 AS BIGINT)
                                        << CAST(l % 20 AS INT)))
                            AS BIGINT) AS band_val
                FROM sbits GROUP BY gid, l // 20)
    """

    def ss_cte(max_gid: int | None = None) -> str:
        return chunks_cte + ss_tail(max_gid)

    # windowed variant: chunks from the shingles of the LAST WINDOW_EDGES
    # edges in interleaved replay order (W2/A2; mirrors assign_replay_seq)
    windowed_chunks_cte = f"""
      WITH ofs AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) - 1 AS ofs
        FROM events
      ),
      rs AS (
        SELECT *, row_number() OVER (ORDER BY ofs, user_id) - 1 AS replay_seq
        FROM ofs
      ),
      windowed AS (
        SELECT * FROM rs
        WHERE replay_seq >= (SELECT count(*) FROM rs) - {WINDOW_EDGES}
      ),
      sh AS (
        SELECT user_id,
               ' u' || string_agg(substring(event_type, 1, 1), ''
                                  ORDER BY ts, event_id) AS shingle
        FROM windowed GROUP BY user_id
      ),
      chunks AS (
        SELECT user_id,
               unnest(list_transform(
                 range(1, CAST(ceil(length(shingle) / {CHUNK}.0) AS BIGINT) + 1),
                 g -> substring(shingle, CAST((g - 1) * {CHUNK} + 1 AS INT), {CHUNK})
               )) AS chunk
        FROM sh
      )
    """

    # minhash affine family — identical constants to minhash_signatures()
    A, Bv = minhash_coeffs(64, 23)
    hp_values = ", ".join(
        f"({i}, {int(A[i])}, {int(Bv[i])})" for i in range(64))
    doc_shingles = """
      sh AS (
        SELECT DISTINCT doc_id AS id,
               unnest(list_transform(
                 range(1, greatest(length(text) - 5 + 1, 1) + 1),
                 g -> substring(text, CAST(g AS INT), 5))) AS shingle
        FROM documents WHERE doc_id < 100
      )
    """
    minhash_cte = f"""
      WITH hp AS (SELECT * FROM (VALUES {hp_values}) t(i, a, b)),
      {doc_shingles},
      hx AS (SELECT id,
                    CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT)
                      % {MINHASH_MOD} AS x
             FROM sh),
      sig AS (SELECT id, i, min((a * x + b) % {MINHASH_MOD}) AS h
              FROM hx CROSS JOIN hp GROUP BY id, i)
    """
    simhash_sql = f"""
      WITH {doc_shingles},
      bits AS (
        SELECT id, t.j AS j,
               CASE WHEN (CAST('0x' || substring(md5(shingle),
                            CAST(t.j // 4 AS INT) + 1, 1) AS BIGINT)
                          >> CAST(t.j % 4 AS INT)) & 1 = 1
                    THEN 1 ELSE -1 END AS s
        FROM sh CROSS JOIN range(0, 64) t(j)
      ),
      tot AS (SELECT id, j, sum(s) AS tot FROM bits GROUP BY id, j),
      vals AS (SELECT id,
                      CASE WHEN tot >= 0 THEN
                        CASE WHEN j = 63 THEN -9223372036854775807 - 1
                             ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
                      ELSE 0 END AS bitval
               FROM tot)
      SELECT id, CAST(sum(bitval) AS BIGINT) AS simhash FROM vals GROUP BY id
    """
    cos_cte = chunks_cte + """,
      cc2 AS (SELECT user_id AS gid, chunk, count(*) AS cnt
              FROM chunks GROUP BY user_id, chunk),
      norms AS (SELECT gid, sum(cnt * cnt) AS norm_sq FROM cc2 GROUP BY gid),
      dots AS (SELECT a.gid AS gid_a, b.gid AS gid_b,
                      sum(a.cnt * b.cnt) AS dot
               FROM cc2 a JOIN cc2 b ON a.chunk = b.chunk AND a.gid < b.gid
               GROUP BY a.gid, b.gid),
      cosres AS (
        SELECT gid_a, gid_b,
               round(dot / (sqrt(na.norm_sq) * sqrt(nb.norm_sq)), 6) AS cosine
        FROM dots
        JOIN norms na ON na.gid = dots.gid_a
        JOIN norms nb ON nb.gid = dots.gid_b)
    """
    pagerank_sql = f"""
      WITH e AS ({_EVENT_GRAPH_SQL}),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY src),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT nodes.id, 1.0e0 / (SELECT n FROM nn) AS rank,
                    coalesce(deg.d, 0) AS deg
             FROM nodes LEFT JOIN deg ON nodes.id = deg.id),
      {"".join(f'''
      r{k} AS (
        SELECT r.id,
               0.15e0 / (SELECT n FROM nn)
               + 0.85e0 * (coalesce(c.contrib, 0e0)
                         + (SELECT sum(CASE WHEN deg = 0 THEN rank ELSE 0 END)
                            FROM r{k-1}) / (SELECT n FROM nn)) AS rank,
               r.deg
        FROM r{k-1} r LEFT JOIN (
          SELECT e.dst AS id, sum(p.rank / p.deg) AS contrib
          FROM r{k-1} p JOIN e ON p.id = e.src
          WHERE p.deg > 0 GROUP BY e.dst) c ON r.id = c.id
      ),''' for k in (1, 2, 3))}
      final AS (SELECT id, round(rank, 6) AS rank FROM r3),
      sym AS (SELECT src AS a, dst AS b FROM e WHERE src != dst
              UNION SELECT dst, src FROM e WHERE src != dst),
      l1 AS (SELECT a AS id, min(b) AS label FROM sym GROUP BY a),
      cnt AS (SELECT s.a AS id, l.label AS lbl, count(*) AS c
              FROM sym s JOIN l1 l ON s.b = l.id GROUP BY s.a, l.label),
      rk AS (SELECT id, lbl,
                    row_number() OVER (PARTITION BY id
                                       ORDER BY c DESC, lbl ASC) AS rn
             FROM cnt),
      lab AS (SELECT id, lbl AS label FROM rk WHERE rn = 1)
      SELECT final.id, final.rank, lab.label
      FROM final LEFT JOIN lab ON final.id = lab.id
    """
    cc_sql = f"""
      WITH RECURSIVE e AS ({_EVENT_BIPARTITE_SQL}),
      sym AS (SELECT src AS a, dst AS b FROM e
              UNION SELECT dst, src FROM e),
      reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
      )
      SELECT id, min(r) AS component FROM reach GROUP BY id
    """
    # SnapTable oracle: read_parquet over the SAME manifest the Spark scan
    # pins, resolved from the fixture table's committed metadata here (the
    # file names carry write-time uuids, so they cannot be string literals
    # in source); see q_snaptable_timetravel for the circularity split
    from sbustreamspot_core_spark.sources.snaptable import SnapTable
    snap_base = f"{FIXTURES}/snaptable_demo"
    snap_t = SnapTable(snap_base)
    snap_meta = snap_t.metadata()
    tt_files = [f"{snap_base}/{f['path']}"
                for f in snap_t._load_manifest(snap_t._snapshot(snap_meta, 2))]
    ch_files = [f"{snap_base}/{p}" for sid in (2, 3)
                for p in snap_t._added_paths(snap_t._snapshot(snap_meta, sid))]

    def _plist(paths: list) -> str:
        return "[" + ", ".join(f"'{p}'" for p in paths) + "]"

    snaptable_sql = f"""
      SELECT id, val, 'time_travel' AS surface
      FROM read_parquet({_plist(tt_files)})
      UNION ALL
      SELECT id, val, 'changelog' AS surface
      FROM read_parquet({_plist(ch_files)})
    """
    return {
        "q_scenario_filter": """
          SELECT event_id, user_id, event_type FROM events
          WHERE CAST(floor(user_id / 100) AS INT) = 0
        """,
        "q_train_test_split": """
          SELECT CAST(user_id % 2 = 0 AS INT) AS is_train,
                 count(*) AS n_edges,
                 count(DISTINCT user_id) AS n_graphs
          FROM events GROUP BY 1
        """,
        "q_adjacency_shingle": shingles_cte + "SELECT user_id, shingle FROM sh",
        "q_chunk_counts": chunks_cte + """
          SELECT user_id, chunk, count(*) AS cnt FROM chunks
          GROUP BY user_id, chunk
        """,
        "q_graph_sizes": """
          SELECT user_id, count(*) AS num_edges FROM events GROUP BY user_id
        """,
        "q_argmin_event": """
          SELECT user_id, event_id AS argmin_event FROM (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY value ASC, event_id ASC) AS rn
            FROM events) t WHERE rn = 1
        """,
        "q_threshold_flag": """
          SELECT user_id,
                 CAST(cents > n * least(750, 500 + (user_id % 5) * 100) AS INT)
                   AS is_anomaly
          FROM (SELECT user_id,
                       sum(CAST(round(value * 100) AS BIGINT)) AS cents,
                       count(*) AS n
                FROM events GROUP BY user_id) t
        """,
        "q_sliding_window": """
          SELECT event_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS window_cents
          FROM events
        """,
        "q_snapshot_batches": """
          SELECT batch, count(*) AS n,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM (SELECT CAST(floor((row_number() OVER (ORDER BY ts, event_id) - 1)
                            / 1000) AS BIGINT) AS batch, value
                FROM events) t
          GROUP BY batch
        """,
        "q_topk_orders": """
          SELECT bucket, rn, o_orderkey FROM (
            SELECT o_custkey % 10 AS bucket, o_orderkey,
                   row_number() OVER (PARTITION BY o_custkey % 10
                                      ORDER BY o_totalprice DESC,
                                               o_orderkey ASC) AS rn
            FROM orders) t WHERE rn <= 3
        """,
        "q_segment_revenue": """
          SELECT c_mktsegment,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents,
                 count(*) AS n_orders
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment
        """,
        "q_lineitem_agg": """
          SELECT l_returnflag, l_linestatus,
                 CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                   AS sum_qty_cents,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_price_cents,
                 count(*) AS count_order
          FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l_returnflag, l_linestatus
        """,
        "q_shingle_cosine": cos_cte + """
          SELECT gid_a, gid_b, cosine,
                 round(1.0 - acos(least(greatest(cosine, -1.0), 1.0))
                       / 3.1415926535897, 6) AS angsim
          FROM cosres
        """,
        "q_exact_dedup": """
          SELECT md5(text) AS digest, min(doc_id) AS keep_id,
                 count(*) AS dup_count
          FROM documents GROUP BY md5(text)
        """,
        "q_ngram_jaccard": """
          WITH sh AS (
            SELECT DISTINCT doc_id AS id,
                   unnest(list_transform(
                     range(1, greatest(length(text) - 5 + 1, 1) + 1),
                     g -> substring(text, CAST(g AS INT), 5))) AS shingle
            FROM documents WHERE doc_id < 60
          ),
          sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
          inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
                    GROUP BY a.id, b.id)
          SELECT id_a, id_b,
                 round(i / (sa.sz + sb.sz - i), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.id = inter.id_a
          JOIN sizes sb ON sb.id = inter.id_b
        """,
        # identical TOKEN_PATTERN string through DuckDB's RE2 ('' = escaped
        # apostrophe; \t etc. are literal backslash escapes RE2 interprets)
        "q_token_count": r"""
          SELECT doc_id,
                 CAST(len(regexp_extract_all(
                   text,
                   '[A-Za-z0-9]+(?:''[a-z]+)?|[^ \t\n\x0B\f\rA-Za-z0-9]'
                 )) AS BIGINT) AS n_tokens
          FROM documents
        """,
        "q_doc_stats": """
          SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
          FROM documents
        """,
        "q_lang_distribution": """
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars
          FROM documents GROUP BY lang
        """,
        "q_lang_id": _lang_id_sql(),
        "q_quality": r"""
          WITH base AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+')) AS BIGINT)
                     AS n_words,
                   CAST(length(text)
                        - length(regexp_replace(text, '[^\w \t\n\x0b\f\r]', '', 'g'))
                        AS BIGINT) AS punct_chars,
                   CAST(length(text)
                        - length(regexp_replace(text, '[A-Z]', '', 'g'))
                        AS BIGINT) AS upper_chars
            FROM documents
          ),
          scored AS (
            SELECT *,
                   (n_chars - n_words + 1)
                     / CAST(greatest(n_words, 1) AS DOUBLE) AS mean_wl
            FROM base
          )
          SELECT doc_id, n_chars, n_words, punct_chars, upper_chars,
                 round(CASE WHEN n_words < 5 THEN 0.0e0 ELSE
                   1.0e0
                   - least(1.0e0, punct_chars
                           / CAST(greatest(n_chars, 1) AS DOUBLE) * 4.0e0)
                     * 0.5e0
                   - least(1.0e0, abs(mean_wl - 5.0e0) / 10.0e0) * 0.5e0
                 END, 6) AS quality
          FROM scored
        """,
        "q_fingerprint": """
          SELECT doc_id,
                 CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS fp
          FROM documents
        """,
        "q_pagerank3": pagerank_sql,
        "q_connected_components": cc_sql,
        "q_snaptable_timetravel": snaptable_sql,
        "q_triangles_per_vertex": f"""
          WITH e AS ({_EVENT_GRAPH_SQL}),
          und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                  FROM e WHERE src != dst),
          tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                  FROM und a JOIN und b ON b.u = a.u AND b.v > a.v
                             JOIN und c ON c.u = a.v AND c.v = b.v)
          SELECT id, CAST(count(*) AS BIGINT) AS triangles,
                 (SELECT CAST(count(*) AS BIGINT) FROM tri) AS total_triangles
          FROM (
            SELECT x AS id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri) t
          GROUP BY id
        """,
        "q_streamhash_sketches": ss_cte() + """
          SELECT p0.gid, p0.p AS proj0, b0.band_val AS band0,
                 b9.band_val AS band9
          FROM (SELECT gid, p FROM proj WHERE l = 0) p0
          JOIN (SELECT gid, band_val FROM bands WHERE band_idx = 0) b0
            USING (gid)
          JOIN (SELECT gid, band_val FROM bands WHERE band_idx = 9) b9
            USING (gid)
        """,
        "q_sketch_similarity": ss_cte(40) + """
          SELECT a.gid AS gid_a, b.gid AS gid_b,
                 round(sum(CASE WHEN a.sbit = b.sbit THEN 1 ELSE 0 END)
                       / 200.0, 6) AS similarity
          FROM sbits a JOIN sbits b ON a.l = b.l AND a.gid < b.gid
          GROUP BY a.gid, b.gid
        """,
        "q_windowed_sketches": windowed_chunks_cte + ss_tail() + """
          SELECT p0.gid, p0.p AS proj0, b0.band_val AS band0
          FROM (SELECT gid, p FROM proj WHERE l = 0) p0
          JOIN (SELECT gid, band_val FROM bands WHERE band_idx = 0) b0
            USING (gid)
        """,
        "q_lsh_candidates": ss_cte() + """
          SELECT DISTINCT a.gid AS gid_a, b.gid AS gid_b
          FROM bands a
          JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
          WHERE a.gid < b.gid
        """,
        "q_isolated": ss_cte() + """,
          occ AS (SELECT band_idx, band_val, count(DISTINCT gid) AS n
                  FROM bands GROUP BY band_idx, band_val),
          shared AS (SELECT DISTINCT gid
                     FROM bands JOIN occ USING (band_idx, band_val)
                     WHERE occ.n > 1)
          SELECT g.gid,
                 CAST(CASE WHEN s.gid IS NULL THEN 1 ELSE 0 END AS INT)
                   AS is_isolated
          FROM (SELECT DISTINCT gid FROM bands) g
          LEFT JOIN shared s ON g.gid = s.gid
        """,
        "q_centroid_assign": ss_cte() + """,
          cent AS (SELECT CAST(gid % 5 AS INT) AS cid, l,
                          avg(CAST(p AS DOUBLE)) AS cp
                   FROM proj GROUP BY gid % 5, l),
          cbits AS (SELECT cid, l, CASE WHEN cp >= 0 THEN 1 ELSE 0 END AS cbit
                    FROM cent),
          sims AS (SELECT s.gid, c.cid,
                          sum(CASE WHEN s.sbit = c.cbit THEN 1 ELSE 0 END)
                          / 200.0 AS sim
                   FROM sbits s JOIN cbits c ON s.l = c.l
                   GROUP BY s.gid, c.cid),
          dists AS (SELECT gid, cid,
                           1.0 - cos(3.1415926535897 * (1.0 - sim)) AS dist
                    FROM sims),
          best AS (SELECT gid, cid, dist,
                          row_number() OVER (PARTITION BY gid
                                             ORDER BY dist, cid) AS rn
                   FROM dists),
          sel AS (SELECT gid, cid AS nearest, dist FROM best WHERE rn = 1),
          thr AS (SELECT CAST(c AS INT) AS cid, 0.30e0 + 0.05e0 * c AS threshold
                  FROM range(0, 5) t(c))
          SELECT sel.gid,
                 CAST(CASE WHEN round(sel.dist, 6) > least(0.42e0, thr.threshold)
                           THEN -1 ELSE sel.nearest END AS INT) AS cluster_id,
                 round(sel.dist, 6) AS anomaly_score,
                 CAST(round(sel.dist, 6) > least(0.42e0, thr.threshold) AS INT)
                   AS is_anomaly
          FROM sel JOIN thr ON thr.cid = sel.nearest
        """,
        "q_chunk_dict": chunks_cte + """
          SELECT chunk,
                 CAST(row_number() OVER (ORDER BY chunk) - 1 AS BIGINT)
                   AS chunk_id
          FROM (SELECT DISTINCT chunk FROM chunks) t
        """,
        "q_replay_seq": """
          WITH s AS (SELECT user_id AS gid, event_id,
                            row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) - 1
                              AS ofs
                     FROM events)
          SELECT event_id,
                 CAST(row_number() OVER (ORDER BY ofs, gid) - 1 AS BIGINT)
                   AS replay_seq
          FROM s
        """,
        "q_minhash_sigs": minhash_cte +
            "SELECT id, CAST(i AS INT) AS i, CAST(h AS BIGINT) AS h FROM sig",
        "q_minhash_lsh": minhash_cte + """,
          bs AS (SELECT id, CAST(i // 4 AS INT) AS band_idx,
                        string_agg(CAST(h AS VARCHAR), '_' ORDER BY i)
                          AS band_key
                 FROM sig GROUP BY id, i // 4),
          pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                    FROM bs a JOIN bs b ON a.band_idx = b.band_idx
                                       AND a.band_key = b.band_key
                    WHERE a.id < b.id)
          SELECT p.id_a, p.id_b,
                 round(CAST(count(*) FILTER (WHERE sa.h = sb.h) AS DOUBLE)
                       / 64, 6) AS est_jaccard
          FROM pairs p
          JOIN sig sa ON sa.id = p.id_a
          JOIN sig sb ON sb.id = p.id_b AND sb.i = sa.i
          GROUP BY p.id_a, p.id_b
        """,
        # regenerate the planted-variant corpus in DuckDB: identical md5
        # token streams, tail-mutation rule and fresh-stream rule
        "q_variant_docs": """
          WITH ids AS (
            SELECT i AS doc_id, CAST(i // 10 AS BIGINT) AS base_id,
                   CAST(i % 10 AS INT) AS variant
            FROM range(0, 300) t(i)
          ),
          docs AS (
            SELECT doc_id, base_id, variant,
                   array_to_string(list_transform(range(1, 21), i ->
                     CASE WHEN variant >= 3 THEN
                       substring(md5(concat(base_id, '_f', variant, '_', i)), 1, 8)
                     WHEN variant > 0 AND i > 20 - 4 * variant THEN
                       substring(md5(concat(base_id, '_n', variant, '_', i)), 1, 8)
                     ELSE substring(md5(concat(base_id, '_', i)), 1, 8)
                     END), ' ') AS text
            FROM ids
          )
          SELECT doc_id, base_id, variant, md5(text) AS text_md5 FROM docs
        """,
        "q_exact_jaccard_cands": minhash_cte + """,
          bs AS (SELECT id, CAST(i // 4 AS INT) AS band_idx,
                        string_agg(CAST(h AS VARCHAR), '_' ORDER BY i)
                          AS band_key
                 FROM sig GROUP BY id, i // 4),
          pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                    FROM bs a JOIN bs b ON a.band_idx = b.band_idx
                                       AND a.band_key = b.band_key
                    WHERE a.id < b.id),
          sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
          inter AS (SELECT p.id_a, p.id_b, count(*) AS ic
                    FROM pairs p
                    JOIN sh a ON a.id = p.id_a
                    JOIN sh b ON b.id = p.id_b AND b.shingle = a.shingle
                    GROUP BY p.id_a, p.id_b)
          SELECT p.id_a, p.id_b,
                 round(COALESCE(ic, 0) * 1.0e0
                       / (sa.sz + sb.sz - COALESCE(ic, 0)), 6) AS jaccard
          FROM pairs p
          LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
          JOIN sizes sa ON sa.id = p.id_a
          JOIN sizes sb ON sb.id = p.id_b
        """,
        "q_simhash64": simhash_sql,
        # same SimHash pipeline over the suffix-augmented doc set, then the
        # 4 x 16-bit pigeonhole band join + Hamming filter
        "q_simhash_cands": """
          WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
          u AS (SELECT doc_id AS id, text FROM d
                UNION ALL SELECT doc_id + 10000, text || ' x' FROM d),
          sh AS (SELECT DISTINCT id,
                        unnest(list_transform(
                          range(1, greatest(length(text) - 5 + 1, 1) + 1),
                          g -> substring(text, CAST(g AS INT), 5))) AS shingle
                 FROM u),
          bits AS (SELECT id, t.j AS j,
                          CASE WHEN (CAST('0x' || substring(md5(shingle),
                                       CAST(t.j // 4 AS INT) + 1, 1) AS BIGINT)
                                     >> CAST(t.j % 4 AS INT)) & 1 = 1
                               THEN 1 ELSE -1 END AS s
                   FROM sh CROSS JOIN range(0, 64) t(j)),
          tot AS (SELECT id, j, sum(s) AS tot FROM bits GROUP BY id, j),
          vals AS (SELECT id,
                          CASE WHEN tot >= 0 THEN
                            CASE WHEN j = 63 THEN -9223372036854775807 - 1
                                 ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
                          ELSE 0 END AS bitval
                   FROM tot),
          sv AS (SELECT id, CAST(sum(bitval) AS BIGINT) AS simhash
                 FROM vals GROUP BY id),
          banded AS (SELECT id, simhash, CAST(t.b AS INT) AS band_idx,
                            (simhash >> CAST(t.b * 16 AS INT)) & 65535 AS band_val
                     FROM sv CROSS JOIN range(0, 4) t(b)),
          pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                           bit_count(xor(a.simhash, b.simhash)) AS hamming
                    FROM banded a
                    JOIN banded b ON a.band_idx = b.band_idx
                                 AND a.band_val = b.band_val
                    WHERE a.id < b.id)
          SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
          FROM pairs WHERE hamming <= 3
        """,
        "q_dedup_clusters":
            minhash_cte.replace("WITH hp", "WITH RECURSIVE hp") + """,
          bs AS (SELECT id, CAST(i // 4 AS INT) AS band_idx,
                        string_agg(CAST(h AS VARCHAR), '_' ORDER BY i)
                          AS band_key
                 FROM sig GROUP BY id, i // 4),
          pairs AS (SELECT DISTINCT a.id AS ia, b.id AS ib
                    FROM bs a JOIN bs b ON a.band_idx = b.band_idx
                                       AND a.band_key = b.band_key
                    WHERE a.id < b.id),
          sym AS (SELECT ia AS a, ib AS b FROM pairs
                  UNION SELECT ib, ia FROM pairs),
          nodes AS (SELECT DISTINCT id FROM hx),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
          )
          SELECT id, min(r) AS cluster FROM reach GROUP BY id
        """,
        "q_edge_tsv_scan": f"""
          SELECT * FROM read_csv('{FIXTURES}/sample_edges.tsv',
            delim='\\t', header=false,
            columns={{'src_id': 'BIGINT', 'src_type': 'VARCHAR',
                      'dst_id': 'BIGINT', 'dst_type': 'VARCHAR',
                      'e_type': 'VARCHAR', 'gid': 'BIGINT'}})
        """,
        "q_bootstrap_scan": """
          SELECT CAST(c AS INT) AS cluster_id,
                 round(0.30e0 + 0.05e0 * c, 2) AS threshold,
                 CAST(c + 5 * k AS BIGINT) AS gid
          FROM range(0, 5) t(c), range(0, 5) u(k)
        """,
        "q_rng_stream": f"""
          SELECT idx, value
          FROM read_parquet('{FIXTURES}/mt19937_seed23_first256.parquet')
        """,
        "q_text_extract": f"""
          SELECT url, text
          FROM read_parquet('{FIXTURES}/pages_expected_text.parquet')
        """,
        "q_href_edges": f"""
          SELECT src_url, dst_url, link_pos
          FROM read_parquet('{FIXTURES}/pages_expected_edges.parquet')
        """,
    }
