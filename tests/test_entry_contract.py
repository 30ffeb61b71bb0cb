"""In-suite smoke of the driver contract: entry() + a representative subset
of queries() vs their DuckDB oracles at sf0.001 (the full 45-query sweep runs
via tools/validate_entry.py at sf0.01)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
SUBSET = [
    "q_scenario_filter", "q_adjacency_shingle", "q_chunk_counts",
    "q_argmin_event", "q_segment_revenue", "q_exact_dedup",
    "q_pagerank3", "q_connected_components", "q_snaptable_timetravel",
    "q_triangles_per_vertex",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"]:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["id", "rank"]


def test_oracle_keys_subset_of_queries():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 25


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_duckdb(spark, con, name):
    fn = entry_mod.queries()[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = [tuple(r) for r in res.fetchall()]
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert normalize(srows, sdf.columns) == normalize(drows, dcols)
