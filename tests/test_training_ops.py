"""Training-data pipeline ops: dedup suite and text analysis — vs
python/numpy oracles on the driver testdata (sf0.001)."""

import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.functions.text import (
    fingerprint_udf,
    lang_id_udf,
    quality_score_cols,
    token_count_udf,
)
from sbustreamspot_core_spark.operators.dedup import (
    exact_dedup,
    minhash_jaccard_estimate,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_exact_dedup_matches_python(spark, docs):
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    expect = {}
    for doc_id, text in rows:
        expect.setdefault(text, []).append(doc_id)
    got = {r.digest: (r.keep_id, r.dup_count) for r in exact_dedup(docs).collect()}
    assert len(got) == len(expect)
    by_count = sorted(v[1] for v in got.values())
    assert by_count == sorted(len(v) for v in expect.values())
    assert sum(v[1] for v in got.values()) == len(rows)


def test_ngram_jaccard_matches_python(spark, docs):
    small = docs.filter("doc_id < 20").cache()
    rows = {r.doc_id: r.text for r in small.collect()}
    n = 5
    shingles = {i: {t[j:j + n] for j in range(max(len(t) - n + 1, 1))}
                for i, t in rows.items()}
    got = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(small, n=n).collect()}
    ids = sorted(rows)
    for i_idx, a in enumerate(ids):
        for b in ids[i_idx + 1:]:
            inter = len(shingles[a] & shingles[b])
            if inter == 0:
                assert (a, b) not in got
            else:
                j = inter / len(shingles[a] | shingles[b])
                assert got[(a, b)] == pytest.approx(j), (a, b)


def test_minhash_estimates_jaccard(spark, docs):
    small = docs.filter("doc_id < 40").cache()
    sigs = minhash_signatures(small, num_hashes=128, n=5).cache()
    cands = minhash_lsh_candidates(sigs, bands=32)
    est = {(r.id_a, r.id_b): r.est_jaccard
           for r in minhash_jaccard_estimate(sigs, cands).collect()}
    true = {(r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(small, n=5).collect()}
    # near-duplicates (if any) must be candidates; estimates within 0.2
    for pair, j in true.items():
        if j > 0.8:
            assert pair in est
        if pair in est:
            assert est[pair] == pytest.approx(j, abs=0.2)


def test_simhash_near_dup_consistency(spark, docs):
    small = docs.filter("doc_id < 40")
    sh = {r.id: r.simhash for r in simhash64(small, n=5).collect()}
    assert len(sh) == 40
    # identical text -> identical simhash
    dup = {r.text: [] for r in small.collect()}
    for r in small.collect():
        dup[r.text].append(r.doc_id)
    for text, ids in dup.items():
        if len(ids) > 1:
            vals = {sh[i] for i in ids}
            assert len(vals) == 1


def test_text_analysis_columns(spark, docs):
    out = docs.select(
        "doc_id", "text",
        lang_id_udf(F.col("text")).alias("lang_guess"),
        token_count_udf(F.col("text")).alias("tokens"),
        fingerprint_udf(F.col("text")).alias("fp"),
        *[v.alias(k) for k, v in quality_score_cols("text").items()],
    ).collect()
    by_text = {}
    for r in out:
        assert r.tokens >= 0
        assert 0.0 <= r.quality <= 1.0
        assert r.n_chars == len(r.text)
        by_text.setdefault(r.text, set()).add(r.fp)
    # fingerprint is a pure function of text
    for fps in by_text.values():
        assert len(fps) == 1
    # determinism across runs
    again = {r.doc_id: r.fp for r in docs.select(
        "doc_id", fingerprint_udf(F.col("text")).alias("fp")).collect()}
    for r in out:
        assert again[r.doc_id] == r.fp


def test_text_exprs_match_python_reference(spark):
    # JVM lang_id_expr / token_count_expr vs the reference-fidelity Python
    # rules (lang_id_py / token_count_py), incl. nulls, ties, apostrophes
    from sbustreamspot_core_spark.functions.text import (
        lang_id_expr, lang_id_py, token_count_expr, token_count_py)
    texts = [
        "", None, "the and of to is in", "le la les et de", "   ",
        "don't stop-believing!! 42x", "el que y en un es the and",
        "der die das und ist", "a\tb\nc", "singleword",
        "the the the le le le",  # en/fr tie -> alphabetical 'en'
        "..,,!!", "x'y'z", "it's the cat's l'eau",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.lang, r.toks) for r in df.select(
        "id",
        lang_id_expr(F.col("text")).alias("lang"),
        token_count_expr(F.col("text")).alias("toks")).collect()}
    for i, t in rows:
        assert got[i][0] == lang_id_py(t), (i, t)
        assert got[i][1] == token_count_py(t), (i, t)


def test_planted_near_dup_precision_recall(spark):
    # small-scale pin of the bench dedup10x demo: banded MinHash candidates
    # vs the exact-Jaccard verifier on a corpus with KNOWN planted structure
    from sbustreamspot_core_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from sbustreamspot_core_spark.sources.docs import (
        generate_variant_docs,
        planted_near_dup_pairs,
    )
    docs = generate_variant_docs(spark, n_bases=60, variants=10,
                                 tokens_per_doc=100, mutate_tokens=10,
                                 num_partitions=8).cache()
    assert docs.count() == 600
    sigs = minhash_signatures(docs, num_hashes=64, n=5)
    cands = minhash_lsh_candidates(sigs, bands=16).cache()
    n_cands = cands.count()
    jac = exact_jaccard_for_pairs(docs, cands, n=5)
    tp = jac.filter("jaccard >= 0.5").count()
    planted = planted_near_dup_pairs(docs)
    truth = exact_jaccard_for_pairs(docs, planted, n=5) \
        .filter("jaccard >= 0.5").select("id_a", "id_b").cache()
    n_truth = truth.count()
    # every within-base {v0,v1,v2} pair is a true near-dup by construction
    assert n_truth == 3 * 60
    found = truth.join(cands, ["id_a", "id_b"], "left_semi").count()
    # banding math, 16 bands x 4 rows: P(caught) = 1-(1-J^4)^16 = 0.9999 at
    # J=0.82 (v0-v1), 0.971 at J=0.667 (v0-v2, v1-v2) -> E[recall] ~ 0.98;
    # gate at 0.95 to keep the pin deterministic-ish over 180 pairs
    assert found / n_truth >= 0.95
    assert tp / max(n_cands, 1) >= 0.95
    # the generator's claimed Jaccard levels (tail mutation arithmetic)
    lv = {(r.id_a % 10, r.id_b % 10): r.jaccard
          for r in exact_jaccard_for_pairs(
              docs.filter("base_id = 7"),
              planted.filter("id_a >= 70 and id_b < 80"), n=5).collect()}
    # ~ (T-mv)/(T+mv) at token level: 90/110=0.818, 80/120=0.667; char
    # 5-shingles track the token-level value closely
    assert 0.78 <= lv[(0, 1)] <= 0.86
    assert 0.62 <= lv[(0, 2)] <= 0.72
    docs.unpersist()
    cands.unpersist()
    truth.unpersist()


def test_simhash_hamming_candidates_match_brute_force(spark):
    # banded candidate join must find EXACTLY the brute-force Hamming pairs
    # (pigeonhole: radius < bands guarantees a shared band)
    from sbustreamspot_core_spark.operators.dedup import (
        simhash64,
        simhash_hamming_candidates,
    )
    docs = spark.read.parquet(SF_DIR + "/documents.parquet") \
        .filter("doc_id < 60")
    aug = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 10000).alias("doc_id"),
                    F.concat("text", F.lit(" x")).alias("text")))
    sh = simhash64(aug, n=5).cache()
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_hamming_candidates(sh, radius=3, bands=4).collect()}
    hashes = {r.id: r.simhash for r in sh.collect()}
    ids = sorted(hashes)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                expect[(a, b)] = h
    assert got == expect
    assert len(expect) > 10           # the planted copies make it non-trivial
    # remainder-band coverage: bands=5 (12-bit bands + 16-bit last band)
    # must still find every radius-4 pair
    got5 = {(r.id_a, r.id_b)
            for r in simhash_hamming_candidates(sh, radius=4, bands=5).collect()}
    expect4 = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 4:
                expect4.add((a, b))
    assert got5 == expect4
    sh.unpersist()


def test_star_reduction_stats_and_plane_sizing(spark):
    from sbustreamspot_core_spark.operators.dedup import star_reduction_stats
    rows = ([(i, 0, 7) for i in range(30)]               # one bucket of 30
            + [(100 + i, 0, 100 + i) for i in range(10)])  # 10 singletons
    banded = spark.createDataFrame(rows, "id long, band_idx int, band_val long")
    s = star_reduction_stats(banded, ["band_idx", "band_val"], 20).first()
    assert (s.total_rows, s.hot_rows, s.hot_buckets) == (40, 30, 1)
    assert abs(s.hot_frac - 0.75) < 1e-9
    s2 = star_reduction_stats(banded, ["band_idx", "band_val"], None).first()
    assert (s2.hot_rows, s2.hot_buckets) == (0, 0)


def test_hot_bucket_star_reduction_preserves_clusters(spark):
    # 50 identical docs (one degenerate bucket per band) + 2 near-dup docs:
    # the star reduction keeps O(B) pairs per hot bucket instead of B^2/2,
    # and the connected components over the pairs are IDENTICAL
    from sbustreamspot_core_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    def cc(pairs, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        groups = {}
        for n in nodes:
            groups.setdefault(find(n), set()).add(n)
        return {frozenset(g) for g in groups.values()}

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(i, base) for i in range(50)]
    rows += [(100, base.replace("lazy", "hazy")), (101, base)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    nodes = [r[0] for r in rows]
    sigs = minhash_signatures(docs, num_hashes=64, n=5).cache()
    capped = {(r.id_a, r.id_b)
              for r in minhash_lsh_candidates(
                  sigs, bands=16, max_bucket_size=20).collect()}
    uncapped = {(r.id_a, r.id_b)
                for r in minhash_lsh_candidates(
                    sigs, bands=16, max_bucket_size=None).collect()}
    assert len(uncapped) >= 51 * 50 // 2    # the quadratic mass the cap avoids
    assert capped <= uncapped
    assert len(capped) <= 2 * 52            # O(B), not O(B^2)
    # every hot-bucket member still appears (star pair with the hub)
    assert {x for p in capped for x in p} == {x for p in uncapped for x in p}
    # duplicate CLUSTERS are identical — the property the cap must preserve
    assert cc(capped, nodes) == cc(uncapped, nodes)
    sigs.unpersist()


def test_hot_bucket_over_default_cap_pair_and_cluster_contract(spark):
    # the star contract at REAL over-cap scale: 10,001 exact-duplicate docs
    # blow past the DEFAULT max_bucket_size=10_000 in every band, so the
    # full pipeline (minhash -> LSH -> exact-Jaccard verify -> CC) runs
    # through the star reduction exactly as a 10^12-doc corpus would.
    # Pins BOTH halves of the contract:
    #  - cluster-EXACT: the verified pairs still connect all duplicates
    #    into one component (hub pairs have jaccard 1.0, so the post-filter
    #    keeps them and CC closes the cluster);
    #  - pair-level recall is 2/n, NOT 1: only (hub, member) pairs are
    #    emitted — n-1 of the n(n-1)/2 true pairs — which is why
    #    exactness-claiming pair consumers must not cap (see
    #    banded_self_join_pairs docstring) and jobs/run_dedup.py collapses
    #    exact dups upstream instead.
    from sbustreamspot_core_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
    )
    n_dup = 10_001
    base = "sphinx of black quartz judge my vow"
    rows = [(i, base) for i in range(n_dup)]
    rows += [(20_000, "a completely unrelated document about spark"),
             (20_001, "another unrelated text concerning streams")]
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(8).cache()
    sigs = minhash_signatures(docs, num_hashes=64, n=5)
    cands = minhash_lsh_candidates(sigs, bands=16).cache()  # default cap
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    # star reduction engaged: O(n) pairs, not the 50M the full join implies
    assert len(pairs) == n_dup - 1
    assert pairs == {(0, i) for i in range(1, n_dup)}
    true_pairs = n_dup * (n_dup - 1) // 2
    pair_recall = len(pairs) / true_pairs          # == 2/n ~ 0.0002
    assert pair_recall < 0.001
    # verify + threshold keeps every hub pair (identical texts -> J = 1.0)
    verified = exact_jaccard_for_pairs(docs, cands, n=5) \
        .filter("jaccard >= 0.5").cache()
    assert verified.count() == n_dup - 1
    assert verified.filter("jaccard < 1.0").count() == 0
    # CC over the verified pairs: one cluster holding every duplicate
    parent = {i: i for i in range(n_dup)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in verified.collect():
        parent[find(r.id_a)] = find(r.id_b)
    assert len({find(i) for i in range(n_dup)}) == 1
    docs.unpersist()
    cands.unpersist()
    verified.unpersist()


def test_incremental_dedup_equals_full_recompute(spark, tmp_ckpt):
    """Cumulative union of per-batch incremental candidates == one full
    minhash_lsh_candidates pass over the whole corpus (batch boundaries
    must be invisible to the banded LSH)."""
    from sbustreamspot_core_spark.operators.dedup import (
        incremental_dedup_batch,
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from sbustreamspot_core_spark.sources.docs import generate_variant_docs

    docs = generate_variant_docs(spark, n_bases=40, variants=10,
                                 tokens_per_doc=40, mutate_tokens=4,
                                 num_partitions=4).cache()
    # three append-only batches split by id range
    batches = [docs.filter(f"doc_id % 3 = {k}") for k in range(3)]
    index_path = f"{tmp_ckpt}/sig_index"
    got = []
    for b in batches:
        cands = incremental_dedup_batch(spark, index_path, b,
                                        num_hashes=32, bands=8)
        got.append({(r.id_a, r.id_b) for r in cands.collect()})
        cands.unpersist()
    cumulative = set().union(*got)

    full = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(
        minhash_signatures(docs, num_hashes=32), bands=8,
        max_bucket_size=None).collect()}
    assert cumulative == full
    # batches are disjoint corpora slices: no pair may appear in two batches'
    # outputs (each pair is found exactly when its LATER doc arrives)
    assert sum(len(g) for g in got) == len(cumulative)
    # the persisted index holds every doc's bands (n_docs * 8 rows)
    n_docs = docs.count()
    assert spark.read.parquet(index_path).count() == n_docs * 8
    docs.unpersist()


def test_incremental_dedup_hot_index_bucket_star(spark, tmp_ckpt):
    """A hot INDEX bucket (over max_bucket_size) star-reduces to (min index
    id, new member) pairs: every new member still connects to the bucket,
    so clusters are preserved, with O(new) rows instead of |bucket|x|new|."""
    from sbustreamspot_core_spark.operators.dedup import (
        incremental_lsh_candidates,
    )

    # synthetic band tables: one bucket shared by 6 index docs + 2 new docs
    idx = spark.createDataFrame(
        [(i, 0, "K") for i in range(6)], "id long, band_idx int, band_key string")
    new = spark.createDataFrame(
        [(10, 0, "K"), (11, 0, "K")], "id long, band_idx int, band_key string")
    capped = {(r.id_a, r.id_b) for r in incremental_lsh_candidates(
        idx, new, max_bucket_size=3).collect()}
    # new-new pair + each new doc starred to index min id 0
    assert capped == {(10, 11), (0, 10), (0, 11)}
    exact = {(r.id_a, r.id_b) for r in incremental_lsh_candidates(
        idx, new, max_bucket_size=None).collect()}
    assert exact == {(10, 11)} | {(i, n) for i in range(6) for n in (10, 11)}


def test_stop_shingle_stats(spark):
    from sbustreamspot_core_spark.operators.dedup import stop_shingle_stats

    # 5 docs share the prefix "commonx" (its 5-grams hit df=5); each has a
    # distinct tail
    docs = spark.createDataFrame(
        [(i, "commonx" + chr(97 + i) * 6) for i in range(5)],
        "doc_id long, text string")
    r = stop_shingle_stats(docs, n=5, max_shingle_freq=3).first()
    assert r.stop_shingles == 3          # "commo", "ommon", "mmonx" at df=5
    assert r.dropped_rows == 15
    assert r.total_rows > r.dropped_rows
    assert 0 < r.dropped_frac < 1
    r_off = stop_shingle_stats(docs, n=5, max_shingle_freq=None).first()
    assert r_off.dropped_rows == 0 and r_off.dropped_frac == 0.0


def test_encode_url_ids_drops_null_urls(spark):
    from sbustreamspot_core_spark.pipeline import encode_url_ids

    edges = spark.createDataFrame(
        [("http://a/x", "http://b/y"), (None, "http://b/y"),
         ("http://a/x", None)],
        "src_url string, dst_url string")
    out = encode_url_ids(edges).collect()
    assert len(out) == 1 and out[0].src_url == "http://a/x"


def test_encode_url_ids_assume_non_null_skips_filter(spark):
    """The vouched path must not contain a Filter node (constraint
    inference otherwise materializes isnotnull stages around the upstream
    extraction UDF — measured ~8% on the web pipeline bench)."""
    from sbustreamspot_core_spark.pipeline import encode_url_ids

    edges = spark.createDataFrame(
        [("http://a/x", "http://b/y")], "src_url string, dst_url string")
    plan = encode_url_ids(edges, assume_non_null=True) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan


def _minhash_expression_reference(docs, num_hashes=64, n=5, seed=23,
                                  id_col="doc_id", text_col="text"):
    """The pre-round-7 pure-SQL minhash plan, kept as the equality oracle
    for the Arrow kernel: explode n-grams, portable 60-bit md5 hash, k
    parallel min() aggregates."""
    from sbustreamspot_core_spark.operators.dedup import (
        MINHASH_MOD, char_shingles, minhash_coeffs, portable_hash60)
    A, Bv = minhash_coeffs(num_hashes, seed)
    sh = char_shingles(docs, n, id_col, text_col, distinct=False).select(
        "id", (portable_hash60(F.col("shingle")) % MINHASH_MOD).alias("x"))
    aggs = [
        F.min((F.lit(int(A[i])) * F.col("x") + F.lit(int(Bv[i])))
              % F.lit(MINHASH_MOD)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    wide = sh.groupBy("id").agg(*aggs)
    return wide.select(
        "id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def test_minhash_kernel_matches_expression_path(spark):
    """Round-7: the Arrow minhash kernel must be bit-identical to the SQL
    expression path on every edge shape: normal, near-dup, shorter than n,
    empty, null, multibyte (codepoint slicing), and whitespace texts."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "abc"),            # shorter than n -> single whole-text gram
        (3, ""),               # empty -> single '' gram
        (4, None),             # null -> sig of 64 nulls
        (5, "héllo wörld ünïcode ünïcode ünïcode"),   # multibyte
        (6, "    "),
        (7, "日本語のテキストです、コードポイント単位で分割"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r.sig for r in minhash_signatures(
        docs, num_hashes=64, n=5).collect()}
    want = {r.id: r.sig for r in _minhash_expression_reference(
        docs, num_hashes=64, n=5).collect()}
    assert got == want
    assert got[4] == [None] * 64


def test_exact_jaccard_kernel_matches_join_path(spark):
    """Round-7: the Arrow set kernel for exact_jaccard_for_pairs must match
    the old shingle-join plan on every edge shape: overlapping, disjoint,
    null-text (one and both sides), empty-text, ids absent from docs, and
    multibyte texts."""
    from sbustreamspot_core_spark.operators.dedup import (
        char_shingles, exact_jaccard_for_pairs)

    def join_path_reference(docs, pairs, n=5):
        ids = (pairs.select(F.col("id_a").alias("id"))
               .unionByName(pairs.select(F.col("id_b").alias("id")))
               .distinct())
        sh = char_shingles(docs, n).join(ids, "id", "left_semi")
        sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
        a = sh.select(F.col("id").alias("id_a"), "shingle")
        b = sh.select(F.col("id").alias("id_b"), "shingle")
        inter = (pairs.join(a, "id_a").join(b, ["id_b", "shingle"])
                 .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
        ic = F.coalesce("inter", F.lit(0))
        denom = (F.coalesce("sz_a", F.lit(0))
                 + F.coalesce("sz_b", F.lit(0)) - ic)
        return (pairs.join(inter, ["id_a", "id_b"], "left")
                .join(sizes.select(F.col("id").alias("id_a"),
                                   F.col("sz").alias("sz_a")), "id_a", "left")
                .join(sizes.select(F.col("id").alias("id_b"),
                                   F.col("sz").alias("sz_b")), "id_b", "left")
                .select("id_a", "id_b",
                        F.when(denom > 0, ic / denom)
                        .otherwise(F.lit(0.0)).alias("jaccard")))

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, None), (4, ""),
         (5, "hello world x"), (6, "héllo wörld"), (7, "héllo wörld!")],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 5), (4, 5), (1, 99), (98, 99), (6, 7), (1, 6)],
        "id_a long, id_b long")
    got = sorted(map(tuple, exact_jaccard_for_pairs(
        docs, pairs, n=5).collect()))
    want = sorted(map(tuple, join_path_reference(docs, pairs, n=5).collect()))
    assert got == want


def test_minhash_bands_rows_pinned(spark):
    """Round-7: minhash_bands moved from a posexplode(transform(...)) plan
    to an int-sequence explode with the key built in the projection (the
    transform lambda was a codegen fallback).  Pin the band table exactly,
    including the null-sig docs: every doc still emits one row per band,
    the key is the '_'-joined band slice, and a null sig yields EMPTY-STRING
    keys, not nulls.  Empty keys do equi-join, so two null-sig docs share
    every ('', band) bucket and pair with each other (never with a doc that
    has a real signature); many null-text docs would make one hot
    bucket."""
    from sbustreamspot_core_spark.operators.dedup import (
        minhash_bands, minhash_lsh_candidates)

    sig_a = list(range(1, 9))           # 8 hashes, 4 bands -> slices of 2
    sig_b = list(range(1, 5)) + [9, 10, 11, 12]   # shares bands 0 and 1
    rows = [(1, sig_a), (2, sig_b), (3, [None] * 8), (4, [None] * 8)]
    sigs = spark.createDataFrame(rows, "id long, sig array<long>")

    got = {(r.id, r.band_idx): r.band_key
           for r in minhash_bands(sigs, bands=4).collect()}
    assert len(got) == 4 * 4
    assert got[(1, 0)] == "1_2" and got[(1, 3)] == "7_8"
    assert got[(2, 0)] == "1_2" and got[(2, 2)] == "9_10"
    # array_join skips nulls entirely -> empty-string keys for a null sig
    # on BOTH the old transform path and the new projection (verified
    # byte-identical in the round-7 A/B); pin that so a future rewrite
    # that turns them into NULLs (or real keys) fails loudly here
    assert all(got[(d, b)] == "" for d in (3, 4) for b in range(4))
    pairs = sorted(map(tuple, minhash_lsh_candidates(
        sigs, bands=4, max_bucket_size=None).collect()))
    # the two null-sig docs pair through their shared empty keys
    assert pairs == [(1, 2), (3, 4)]
