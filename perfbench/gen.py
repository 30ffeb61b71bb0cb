"""Seeded input generators, one per workload.

Every generator is a pure function of its seed and size arguments (numpy
``default_rng``), runs on the driver, and returns plain Python / pandas data.
Sizes are exact and independent of the seed, so throughput figures from
different seeds divide the same amount of work.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd


# --------------------------------------------------------------- crawl graph

def crawl_linkgraph(seed: int, n_edges: int, n_islands: int,
                    island_len: int) -> pd.DataFrame:
    """(src, dst) int64 digraph with exactly ``n_edges`` rows.

    Two parts, so that the graph suite's costs are not all of one kind:
    - a power-law core: sources uniform, destinations Zipf-like, and about
      1/16 of all edges pointing at one mega-hub (vertex 0) -- in-degree skew;
    - ``n_islands`` chain-like islands of ``island_len`` vertices (a path plus
      a chord every 4 vertices, so triangles exist there too), with ids
      shuffled inside each island. Their diameter sets the superstep count of
      connected components and label propagation.
    Self-loops are re-targeted, duplicates are allowed (every algorithm and
    oracle deduplicates).
    """
    rng = np.random.default_rng(seed)
    n_chain = n_islands * (island_len - 1 + (island_len - 2) // 4)
    n_core = n_edges - n_chain
    if n_core <= 0:
        raise ValueError("islands leave no room for the power-law core")
    n_core_v = max(n_core // 8, 64)
    src = rng.integers(0, n_core_v, n_core, dtype=np.int64)
    zipf = rng.zipf(1.6, n_core).astype(np.int64)
    dst = (zipf * 7919 + rng.integers(0, n_core_v, n_core)) % n_core_v
    dst = np.where(rng.integers(0, 16, n_core) == 0, 0, dst)
    dst = np.where(dst == src, (dst + 1) % n_core_v, dst)

    isl_src, isl_dst = [], []
    base = n_core_v
    for _ in range(n_islands):
        ids = base + rng.permutation(island_len).astype(np.int64)
        isl_src.append(ids[:-1])
        isl_dst.append(ids[1:])
        chord = np.arange(0, island_len - 2, 4)[: (island_len - 2) // 4]
        isl_src.append(ids[chord])
        isl_dst.append(ids[chord + 2])
        base += island_len
    src = np.concatenate([src, *isl_src])
    dst = np.concatenate([dst, *isl_dst])
    order = rng.permutation(len(src))
    return pd.DataFrame({"src": src[order], "dst": dst[order]})


# --------------------------------------------------------------- web pages

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_LANGS = ["en", "fr", "es", "de"]
_WORDS = ["graph", "stream", "sketch", "anomaly", "cluster", "edge", "crawl",
          "link", "page", "host", "rank", "hash", "band", "bucket", "the",
          "and", "of", "le", "la", "der", "und", "el", "que"]
# Host families: each gives every page a different link shape, so their
# host subgraphs shingle differently and LSH separates the families.
FAMILIES = ("blog", "shop", "forum", "news")


def _url(host: str, page: int) -> str:
    return f"http://{host}/p{page}.html"


def _family_links(family: str, host: str, page: int, pph: int,
                  rng: np.random.Generator, hosts: list[str]) -> list[str]:
    if family == "blog":        # prev/next chain + root
        out = [_url(host, (page + 1) % pph), _url(host, 0)]
        if page:
            out.append(_url(host, page - 1))
        return out
    if family == "shop":        # root links every page, pages link root
        if page == 0:
            return [_url(host, p) for p in range(1, pph)]
        return [_url(host, 0), _url(host, 0)]
    if family == "forum":       # dense random intra-host threads
        k = 4 + int(rng.integers(0, 2))
        return [_url(host, int(p)) for p in rng.integers(0, pph, k)]
    # news: mostly cross-host links to other hosts' roots
    others = [hosts[int(i)] for i in rng.integers(0, len(hosts), 3)]
    return [_url(h, 0) for h in others] + [_url(host, 0)]


# Outlier motifs: (edge type, target type) pairs repeated along each page's
# link list -- 'x' cross-host, 'i' intra-host, 'r' a host root, 'p' any other
# page. Every outlier gets its own motif, so outliers share LSH buckets
# neither with the families nor with each other.
_OUTLIER_MOTIFS = ["xpxpxr", "xrxrip", "ipxpxpxp", "xrirxp", "irirxr",
                   "xpipir"]


def _outlier_links(kind: int, host: str, page: int, pph: int,
                   rng: np.random.Generator, hosts: list[str]) -> list[str]:
    """Planted outlier host ``kind``: 24 links per page following its motif."""
    motif = _OUTLIER_MOTIFS[kind % len(_OUTLIER_MOTIFS)]
    out = []
    for j in range(24):
        e, t = motif[(2 * j) % len(motif)], motif[(2 * j + 1) % len(motif)]
        h = hosts[int(rng.integers(0, len(hosts)))] if e == "x" else host
        out.append(_url(h, 0 if t == "r" else 1 + (page + j) % (pph - 1)))
    return out


@dataclass
class Pages:
    df: pd.DataFrame                  # (url, warc_ts, html, text, lang)
    outliers: list[str]               # planted outlier hosts
    n_links: int                      # total href edges in the html


def web_pages(seed: int, n_hosts: int, pages_per_host: int,
              n_outliers: int) -> Pages:
    """Common-Crawl-style pages table with ``n_hosts * pages_per_host`` rows.

    Hosts belong to one of FAMILIES (round robin over a seeded permutation)
    except ``n_outliers`` planted outlier hosts. Each host's pages get a
    seeded, family-shaped set of <a href> links; ``text`` is the visible
    body text the html renders.
    """
    from sbustreamspot_core_spark.functions.text import extract_text_bytes

    rng = np.random.default_rng(seed)
    hosts = [f"h{seed}-{i}.example.org" for i in range(n_hosts)]
    perm = rng.permutation(n_hosts)
    outliers = [hosts[int(i)] for i in perm[:n_outliers]]
    family_of = {hosts[int(i)]: FAMILIES[j % len(FAMILIES)]
                 for j, i in enumerate(perm[n_outliers:])}
    family_of.update({h: "outlier" for h in outliers})
    rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    n_links = 0
    for hi, host in enumerate(hosts):
        fam = family_of[host]
        for page in range(pages_per_host):
            if fam == "outlier":
                links = _outlier_links(outliers.index(host), host, page,
                                       pages_per_host, rng, hosts)
            else:
                links = _family_links(fam, host, page, pages_per_host, rng,
                                      hosts)
            n_links += len(links)
            n_words = 10 + int(rng.integers(0, 20))
            words = [_WORDS[int(i)]
                     for i in rng.integers(0, len(_WORDS), n_words)]
            anchors = " ".join(f'<a href="{u}">{i}</a>'
                               for i, u in enumerate(links))
            html = (f"<html><head><title>{host} {page}</title>"
                    f"<script>var s = {page};</script></head><body>"
                    f"<h1>{fam} &amp; {page}</h1><p>{' '.join(words)}</p>"
                    f"{anchors}</body></html>").encode()
            rows["url"].append(_url(host, page))
            rows["warc_ts"].append(
                _EPOCH + timedelta(seconds=hi * pages_per_host + page))
            rows["html"].append(html)
            rows["text"].append(extract_text_bytes(html))
            rows["lang"].append(_LANGS[int(rng.integers(0, len(_LANGS)))])
    return Pages(pd.DataFrame(rows), outliers, n_links)


# --------------------------------------------------------- provenance stream

# Behaviour templates: (src_type, e_type, dst_type) edge alphabets with
# weights. Node/edge types are one-character codes as in the StreamSpot
# edge format; attacks draw from an alphabet no template uses.
_TEMPLATES = [
    [("a", "b", "c"), ("a", "d", "e"), ("c", "f", "a"), ("e", "g", "c")],
    [("a", "h", "i"), ("i", "j", "a"), ("a", "b", "c"), ("c", "k", "i")],
    [("l", "m", "a"), ("a", "n", "l"), ("l", "o", "c"), ("c", "b", "l")],
]
_ATTACK = [("a", "x", "y"), ("y", "z", "a"), ("y", "w", "c"), ("c", "x", "y")]


@dataclass
class Stream:
    train: pd.DataFrame        # EDGE_SCHEMA columns + seq (per-gid order)
    test: pd.DataFrame         # EDGE_SCHEMA columns + seq (replay order)
    clusters: list[list[int]]  # bootstrap clusters of train gids (by template)
    attacks: list[int]         # planted attack gids among the test gids


def _graph_edges(rng: np.random.Generator, alphabet, n_edges: int,
                 n_nodes: int) -> list[tuple]:
    w = np.array([4.0, 3.0, 2.0, 1.0])
    picks = rng.choice(len(alphabet), n_edges, p=w / w.sum())
    src = rng.integers(0, n_nodes, n_edges)
    dst = rng.integers(0, n_nodes, n_edges)
    return [(int(s), alphabet[p][0], int(d), alphabet[p][2], alphabet[p][1])
            for s, d, p in zip(src, dst, picks)]


def provenance_stream(seed: int, n_train: int, n_test: int, n_attacks: int,
                      edges_per_graph: int) -> Stream:
    """Typed provenance graphs in the StreamSpot edge schema.

    ``n_train`` benign training graphs (round robin over the templates) give
    the bootstrap clusters; ``n_test`` test graphs are benign except
    ``n_attacks`` planted attack graphs. Test edges are interleaved round
    robin across graphs into one global ``seq`` order, the order a replay
    feeds them in.
    """
    rng = np.random.default_rng(seed)
    n_nodes = max(edges_per_graph // 4, 8)
    train_rows, clusters = [], [[] for _ in _TEMPLATES]
    for g in range(n_train):
        t = g % len(_TEMPLATES)
        clusters[t].append(g)
        for s, e in enumerate(_graph_edges(rng, _TEMPLATES[t],
                                           edges_per_graph, n_nodes)):
            train_rows.append((*e, g, s))
    test_gids = list(range(1000, 1000 + n_test))
    attacks = sorted(int(g) for g in
                     rng.choice(test_gids, n_attacks, replace=False))
    per_graph = {}
    for g in test_gids:
        alphabet = (_ATTACK if g in attacks
                    else _TEMPLATES[int(rng.integers(0, len(_TEMPLATES)))])
        per_graph[g] = _graph_edges(rng, alphabet, edges_per_graph, n_nodes)
    test_rows = []
    for off in range(edges_per_graph):          # round robin interleave
        for g in test_gids:
            test_rows.append((*per_graph[g][off], g, len(test_rows)))
    cols = ["src_id", "src_type", "dst_id", "dst_type", "e_type", "gid", "seq"]
    return Stream(pd.DataFrame(train_rows, columns=cols),
                  pd.DataFrame(test_rows, columns=cols), clusters, attacks)
