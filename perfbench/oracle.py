"""Independent vectorized oracles for the benchmark's correctness checks.

Every oracle works from the pages parquet alone (DuckDB regex distill)
or from the oracle's own edge arrays (numpy / networkx), never from an
engine output, so a wrong engine result cannot also be the reference.
The per-edge Python loops of ``tests/oracles.py`` are too slow at
benchmark sizes; these are whole-array equivalents of the same
semantics.
"""

from __future__ import annotations

import duckdb
import networkx as nx
import numpy as np

ALPHA = 0.85
EPS = 1e-8          # the reference stopping rule: sum of squared deltas
MAX_NITER = 100     # the engine's pagerank default descriptor
LP_ITERS = 5

_TEXT_RE = "<p>(.*?)</p>"
_HREF_RE = 'href="([^"]*)"'


def distill(parquet_glob: str, threads: int) -> dict[str, np.ndarray]:
    """DuckDB regex distill of a pages parquet: dense ids in url sort
    order, self-loops and duplicate (src, dst) dropped, outlinks to
    urls outside the corpus dropped, extracted and stored text per url."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        con.execute(
            "CREATE TEMP TABLE p AS SELECT url, decode(html) AS h, text "
            f"FROM read_parquet('{parquet_glob}')"
        )
        pages = con.execute(
            f"SELECT url, regexp_extract(h, '{_TEXT_RE}', 1) AS text, text AS stored_text "
            "FROM p ORDER BY url"
        ).df()
        con.execute(
            "CREATE TEMP TABLE ids AS SELECT url, "
            "CAST(row_number() OVER (ORDER BY url) - 1 AS BIGINT) AS id FROM p"
        )
        edges = con.execute(
            "WITH l AS (SELECT DISTINCT url AS s, d FROM "
            f"(SELECT url, unnest(regexp_extract_all(h, '{_HREF_RE}', 1)) AS d FROM p)) "
            "SELECT a.id AS src, b.id AS dst FROM l "
            "JOIN ids a ON l.s = a.url JOIN ids b ON l.d = b.url "
            "WHERE l.s <> l.d ORDER BY src, dst"
        ).df()
    finally:
        con.close()
    return {
        "urls": pages["url"].to_numpy(dtype=object),
        "text": pages["text"].to_numpy(dtype=object),
        "stored_text": pages["stored_text"].to_numpy(dtype=object),
        "src": edges["src"].to_numpy(np.int64),
        "dst": edges["dst"].to_numpy(np.int64),
    }


def pagerank(
    n: int, src: np.ndarray, dst: np.ndarray, init: np.ndarray | None = None
) -> tuple[np.ndarray, int]:
    """bincount power iteration with the reference semantics: teleport
    (1-a)/n, no dangling redistribution, stop after the first superstep
    whose sum of squared deltas is below EPS. Returns (ranks, supersteps)."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    w = ALPHA / outdeg[src]
    p = np.full(n, 1.0 / n) if init is None else init.astype(np.float64)
    teleport = (1.0 - ALPHA) / n
    for it in range(MAX_NITER):
        new = teleport + np.bincount(dst, weights=w * p[src], minlength=n)
        err = float(np.sum((new - p) ** 2))
        p = new
        if err < EPS:
            return p, it + 1
    return p, MAX_NITER


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Undirected connected components labelled by their min vertex id."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    labels = np.empty(n, dtype=np.int64)
    for comp in nx.connected_components(g):
        ids = np.fromiter(comp, dtype=np.int64, count=len(comp))
        labels[ids] = ids.min()
    return labels


def _symmetric(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    keys = np.unique(np.concatenate([src * n + dst, dst * n + src]))
    return keys // n, keys % n


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, iters: int = LP_ITERS) -> np.ndarray:
    """Synchronous majority vote over the deduplicated undirected edges:
    most frequent neighbour label wins, ties go to the smallest label,
    vertices without neighbours keep theirs."""
    u, v = _symmetric(src, dst, n)
    lab = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        keys, cnt = np.unique(u * n + lab[v], return_counts=True)
        ku, kl = keys // n, keys % n
        order = np.lexsort((kl, -cnt, ku))
        ku, kl = ku[order], kl[order]
        first = np.ones(len(ku), dtype=bool)
        first[1:] = ku[1:] != ku[:-1]
        lab = lab.copy()
        lab[ku[first]] = kl[first]
    return lab


def triangles(n: int, src: np.ndarray, dst: np.ndarray) -> int:
    """Sorted-adjacency intersection over degree-oriented edges: every
    wedge u->v->w is closed iff u->w is an oriented edge."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keys = np.unique(a * n + b)
    a, b = keys // n, keys % n
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    a_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u = np.where(a_first, a, b)
    v = np.where(a_first, b, a)
    okeys = np.sort(u * n + v)
    u, v = okeys // n, okeys % n
    outdeg = np.bincount(u, minlength=n)
    indptr = np.concatenate([[0], np.cumsum(outdeg)])
    counts = outdeg[v]
    total = int(counts.sum())
    if total == 0:
        return 0
    wedge_u = np.repeat(u, counts)
    offsets = np.repeat(indptr[v] - np.concatenate([[0], np.cumsum(counts)[:-1]]), counts)
    wedge_w = v[offsets + np.arange(total)]
    closing = wedge_u * n + wedge_w
    pos = np.searchsorted(okeys, closing)
    pos = np.minimum(pos, len(okeys) - 1)
    return int(np.count_nonzero(okeys[pos] == closing))


def new_ids(old_urls: np.ndarray, new_urls: np.ndarray) -> np.ndarray:
    """Dense id in the refreshed corpus of every base url (both arrays
    are sorted, as the dense ids are)."""
    pos = np.searchsorted(new_urls, old_urls)
    if not np.array_equal(new_urls[pos], old_urls):
        raise ValueError("base urls are not a subset of the refreshed corpus")
    return pos
