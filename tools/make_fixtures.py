"""Generate the committed deterministic fixtures under fixtures/.

Every fixture is a pure function of (algorithm constants, seed) or of the
driver testdata — regenerating this file must be byte-stable.  The fixtures
give DuckDB-verifiable oracles to operators whose kernels SQL cannot express
directly (the MT19937-seeded StreamHash family, reference hash.cpp:20-26 /
main.cpp:562-582), plus small scan-format samples (reference io.cpp:57-96,
io.cpp:134-164) and locally-computed expected outputs for the distributed
text/href extraction (S5/S6).

CIRCULARITY NOTE: the streamhash-bits / PRNG / text-extraction fixtures are
generated by the SAME kernels the repo ships (hashmulti_batch, MT19937_64,
extract_text_bytes), because the reference binary cannot run in this
environment.  For those queries the DuckDB gate therefore verifies
distributed-vs-local determinism and regression stability, NOT independent
correctness against hash.cpp/io.cpp.  Independent pins live in unit tests:
tests/test_hashing.py checks hashmulti against hand-computed uint64
wraparound cases and hypothesis invariants, and rng.py's MT19937-64 is
pinned against the published reference output stream of the public
Nishimura/Matsumoto mt19937-64.c (first outputs for the standard seed).

Usage: python tools/make_fixtures.py [out_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sbustreamspot_core_spark.functions.hashing import hashmulti_batch
from sbustreamspot_core_spark.functions.text import (
    extract_hrefs_bytes,
    extract_text_bytes,
)
from sbustreamspot_core_spark.rng import MT19937_64, allocate_random_bits
from sbustreamspot_core_spark.sources.pages import page_url, render_html

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
CHUNK = 10      # chunk_length used by the driver-contract queries
L = 200         # sketch bits used by the driver-contract queries
SEED = 23       # StreamSpotParams.seed default (reference param.h SEED)

WINDOW_EDGES = 5000  # q_windowed_sketches' count-based window size (W2)

# The chunk vocabulary of the events-derived shingles, exactly as the
# q_chunk_counts oracle computes it (same SQL text) — plus the vocabulary of
# the *windowed* shingles (last WINDOW_EDGES edges in interleaved replay
# order, W2/A2 semantics), whose truncated shingles produce different chunks.
_CHUNKS_SQL = f"""
  WITH ofs AS (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) - 1 AS ofs
    FROM read_parquet('{{path}}')
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
    FROM read_parquet('{{path}}') GROUP BY user_id
    UNION
    SELECT user_id,
           ' u' || string_agg(substring(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS shingle
    FROM windowed GROUP BY user_id
  )
  SELECT DISTINCT unnest(list_transform(
           range(1, CAST(ceil(length(shingle) / {CHUNK}.0) AS BIGINT) + 1),
           g -> substring(shingle, CAST((g - 1) * {CHUNK} + 1 AS INT), {CHUNK})
         )) AS chunk
  FROM sh
"""


def streamhash_bits_fixture(out_dir: str) -> str:
    con = duckdb.connect()
    vocab: set[str] = set()
    for sf in SF_DIRS:
        path = f"{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        rows = con.execute(_CHUNKS_SQL.format(path=path)).fetchall()
        vocab.update(r[0] for r in rows)
    chunks = sorted(vocab)
    H = allocate_random_bits(L, CHUNK, SEED)
    bits = hashmulti_batch(chunks, H)          # (n, L) int8 of +/-1
    n = len(chunks)
    tbl = pa.table({
        "chunk": pa.array(np.repeat(chunks, L), type=pa.string()),
        "l": pa.array(np.tile(np.arange(L, dtype=np.int32), n)),
        "bit": pa.array(bits.reshape(-1), type=pa.int8()),
    })
    out = os.path.join(out_dir, f"streamhash_bits_L{L}_C{CHUNK}.parquet")
    pq.write_table(tbl, out, compression="zstd")
    print(f"wrote {out}: {n} chunks x {L} bits")
    return out


def sample_edges_tsv(out_dir: str) -> str:
    """2000-row sample in the reference 6-field TSV edge format
    (src_id, src_type, dst_id, dst_type, e_type, gid) — formula-generated so
    the scan oracle can re-derive every field from row_number alone."""
    out = os.path.join(out_dir, "sample_edges.tsv")
    with open(out, "w") as f:
        for i in range(2000):
            f.write(f"{i % 97}\t{chr(97 + i % 3)}\t{(i * 7) % 101}\t"
                    f"{chr(100 + i % 4)}\t{chr(107 + i % 5)}\t{i % 25}\n")
    print(f"wrote {out}")
    return out


def bootstrap_clusters_file(out_dir: str) -> str:
    """Bootstrap-cluster control file in the reference io.cpp:134-164 format:
    line 1 = 'nclusters global_threshold', then 'threshold gid gid ...'.
    5 clusters over gids 0..24: cluster c holds gids {c, c+5, c+10, c+15,
    c+20}, threshold 0.30 + 0.05*c, global threshold 0.42."""
    out = os.path.join(out_dir, "bootstrap_clusters.txt")
    with open(out, "w") as f:
        f.write("5 0.42\n")
        for c in range(5):
            members = " ".join(str(g) for g in range(c, 25, 5))
            f.write(f"{0.30 + 0.05 * c:.2f} {members}\n")
    print(f"wrote {out}")
    return out


def mt19937_stream_fixture(out_dir: str) -> str:
    """First 256 draws of MT19937-64(seed=23) as int64 (two's-complement
    wrap), pinning the PRNG stream the hash family is drawn from."""
    prng = MT19937_64(SEED)
    vals = np.array([prng() for _ in range(256)],
                    dtype=np.uint64).astype(np.int64)
    tbl = pa.table({"idx": pa.array(np.arange(256, dtype=np.int32)),
                    "value": pa.array(vals)})
    out = os.path.join(out_dir, "mt19937_seed23_first256.parquet")
    pq.write_table(tbl, out, compression="zstd")
    print(f"wrote {out}")
    return out


PAGES_HOSTS, PAGES_PER_HOST, PAGES_SEED = 20, 10, 42


def pages_expected_fixtures(out_dir: str) -> tuple[str, str]:
    """Locally-computed expected text and href-edge outputs for the
    deterministic pages table (n_hosts=20, pages_per_host=10, seed=42) —
    the driver gate then checks the *distributed* extraction against these."""
    urls, texts = [], []
    srcs, dsts, poss = [], [], []
    for idx in range(PAGES_HOSTS * PAGES_PER_HOST):
        host, page = divmod(idx, PAGES_PER_HOST)
        url = page_url(host, page)
        html = render_html(idx, PAGES_HOSTS, PAGES_PER_HOST, PAGES_SEED)
        urls.append(url)
        texts.append(extract_text_bytes(html))
        for pos, dst in enumerate(extract_hrefs_bytes(html, url)):
            srcs.append(url)
            dsts.append(dst)
            poss.append(pos)
    t1 = pa.table({"url": urls, "text": texts})
    o1 = os.path.join(out_dir, "pages_expected_text.parquet")
    pq.write_table(t1, o1, compression="zstd")
    t2 = pa.table({"src_url": srcs, "dst_url": dsts,
                   "link_pos": pa.array(poss, type=pa.int32())})
    o2 = os.path.join(out_dir, "pages_expected_edges.parquet")
    pq.write_table(t2, o2, compression="zstd")
    print(f"wrote {o1} ({len(urls)} pages), {o2} ({len(srcs)} edges)")
    return o1, o2


def snaptable_fixture(out_dir: str) -> str:
    """Committed SnapTable for the time-travel/changelog driver row
    (q_snaptable_timetravel): three single-file appends under a fixed
    generation rule (batch k holds ids [10k, 10k+10) with
    val = id * 3 + 7), then a compact — so the changelog walk crosses a
    replace snapshot it must skip.  CONTENT-stable, not byte-stable:
    data/manifest file names carry write-time uuids, so the oracle SQL
    resolves the file list from the table's own metadata at build time
    (the content itself is pinned against this generation rule in
    tests/test_snaptable.py, non-circularly).  Needs a Spark session —
    the only fixture here that does."""
    import shutil

    from sbustreamspot_core_spark.session import get_spark
    from sbustreamspot_core_spark.sources.snaptable import SnapTable

    out = os.path.join(out_dir, "snaptable_demo")
    shutil.rmtree(out, ignore_errors=True)
    spark = get_spark("snaptable-fixture", cpus=2, shuffle_partitions=2)
    t = SnapTable.create(out)
    for lo in (0, 10, 20):
        t.append(spark.range(lo, lo + 10, 1, 1)
                 .selectExpr("id", "id * 3 + 7 AS val"),
                 summary={"lo": lo})
    t.compact(spark, min_files=2)
    print(f"wrote {out} (3 appends + compact, snapshots "
          f"{[s['snapshot_id'] for s in t.snapshots()]})")
    return out


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")
    os.makedirs(out_dir, exist_ok=True)
    streamhash_bits_fixture(out_dir)
    sample_edges_tsv(out_dir)
    bootstrap_clusters_file(out_dir)
    mt19937_stream_fixture(out_dir)
    pages_expected_fixtures(out_dir)
    snaptable_fixture(out_dir)


if __name__ == "__main__":
    main()
