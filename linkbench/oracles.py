"""Independent numpy/duckdb oracles for the benchmark's outputs.

Nothing here calls the engine. Links and text come from the pinned
row-wise reference parser (``webtext.reference_parser``, the extraction
spec), the relational steps (dedup, vertex universe, url -> index) run
in duckdb, and the graph algorithms are whole-array numpy iterations
with the reference semantics the engine documents:

- PageRank: unnormalized, r0 = 1, r' = 0.15 + 0.85 * sum(r_u / out_u),
  synchronous, stop after the first superstep with max|delta| <= tol.
- CC: component label = smallest vertex id in the component.
- LP: synchronous, ALL_EDGES multiset (a reciprocal pair counts twice),
  argmax count with ties to the smallest label, stop after the first
  superstep that changes nothing or at max_iter.
- Triangles: undirected simple graph, per-vertex counts and total.

Vertex ids are the engine's documented url hash, XXH64 of the UTF-8
url with seed 42 (Spark's ``xxhash64``), computed here by :func:`xxh64`;
they matter because CC and LP labels are ids.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np


_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                           0x165667B19E3779F9, 0x85EBCA77C2B2AE63,
                           0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


# ----------------------------------------------------------- algorithms
def pagerank(src: np.ndarray, dst: np.ndarray, n: int, tol: float,
             max_iter: int = 200, damping: float = 0.85) -> tuple[np.ndarray, int]:
    """(ranks, supersteps) over index-space edges."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.ones(n)
    it = 0
    for it in range(1, max_iter + 1):
        contrib = rank[src] / out_deg[src]
        new = 0.15 + damping * np.bincount(dst, weights=contrib, minlength=n)
        delta = np.max(np.abs(new - rank)) if n else 0.0
        rank = new
        if delta <= tol:
            break
    return rank, it


def components(src: np.ndarray, dst: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Min-id component label per vertex (union-find over index space)."""
    n = len(ids)
    parent = np.arange(n)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(src.tolist(), dst.tolist()):
        rs, rd = find(s), find(d)
        if rs != rd:
            # keep the root with the smaller id so root id == min id
            if ids[rs] < ids[rd]:
                parent[rd] = rs
            else:
                parent[rs] = rd
    roots = np.array([find(v) for v in range(n)], dtype=np.int64)
    return ids[roots]


def label_propagation(src: np.ndarray, dst: np.ndarray, labels: np.ndarray,
                      max_iter: int = 100) -> tuple[np.ndarray, int]:
    """(labels, supersteps) of synchronous LP over the ALL_EDGES multiset."""
    to = np.concatenate([dst, src])
    frm = np.concatenate([src, dst])
    lab = labels.copy()
    it = 0
    for it in range(1, max_iter + 1):
        nl = lab[frm]
        order = np.lexsort((nl, to))
        v, lv = to[order], nl[order]
        if len(v) == 0:
            break
        start = np.flatnonzero(np.r_[True, (v[1:] != v[:-1]) | (lv[1:] != lv[:-1])])
        cnt = np.diff(np.r_[start, len(v)])
        uv, ul = v[start], lv[start]
        best = np.lexsort((ul, -cnt, uv))
        first = best[np.r_[True, uv[best][1:] != uv[best][:-1]]]
        new = lab.copy()
        new[uv[first]] = ul[first]
        changed = bool((new != lab).any())
        lab = new
        if not changed:
            break
    return lab, it


def triangles(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """(per-vertex triangle counts, total) of the undirected simple graph."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    und = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    deg = np.bincount(und.ravel(), minlength=n)
    # orient each edge towards the endpoint of larger (degree, index),
    # which bounds every out-set by O(sqrt(m))
    lo_first = (deg[und[:, 0]] < deg[und[:, 1]]) | (
        (deg[und[:, 0]] == deg[und[:, 1]]) & (und[:, 0] < und[:, 1]))
    lo = np.where(lo_first, und[:, 0], und[:, 1])
    hi = np.where(lo_first, und[:, 1], und[:, 0])
    out: list[set] = [set() for _ in range(n)]
    for u, v in zip(lo.tolist(), hi.tolist()):
        out[u].add(v)
    per = np.zeros(n, dtype=np.int64)
    total = 0
    for u, v in zip(lo.tolist(), hi.tolist()):
        common = out[u] & out[v]
        if common:
            c = len(common)
            total += c
            per[u] += c
            per[v] += c
            for w in common:
                per[w] += 1
    return per, total


# ---------------------------------------------------------- from pages
@dataclass
class Expected:
    """Oracle answers for one pages table, in url-sorted index space."""

    urls: np.ndarray       # sorted vertex urls
    ids: np.ndarray        # engine vertex id per url (xxhash64)
    src: np.ndarray        # deduped, self-loop-free edges
    dst: np.ndarray
    results: dict          # name -> array or scalar

    def save(self, path: str) -> None:
        np.savez(path, urls=self.urls, ids=self.ids, src=self.src, dst=self.dst,
                 **{f"r_{k}": np.asarray(v) for k, v in self.results.items()})

    @staticmethod
    def load(path: str) -> "Expected":
        z = np.load(path, allow_pickle=False)
        res = {k[2:]: (z[k] if z[k].ndim else z[k].item())
               for k in z.files if k.startswith("r_")}
        return Expected(z["urls"], z["ids"], z["src"], z["dst"], res)


def parse_pages(pages_dir: str):
    """(url, html) rows -> (texts table, link-pair rows) with the
    reference parser; duckdb reads the Parquet table."""
    import duckdb

    from powergraph_spark.webtext.reference_parser import extract_links, extract_text

    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT url, html FROM read_parquet(?)",
            [os.path.join(pages_dir, "*.parquet")],
        ).fetchall()
    finally:
        con.close()
    texts = [(u, extract_text(h)) for u, h in rows]
    pairs = [(u, t) for u, h in rows for t in extract_links(h)]
    page_urls = [u for u, _ in rows]
    return page_urls, texts, pairs


def build(pages_dir: str, algorithms: dict) -> tuple[Expected, list]:
    """Expected answers for ``algorithms`` ({name: kwargs}) over the table.

    Returns (Expected, [(url, text), ...]).
    """
    import duckdb
    import pandas as pd

    page_urls, texts, pairs = parse_pages(pages_dir)
    con = duckdb.connect()
    try:
        con.register("pairs", pd.DataFrame(pairs, columns=["s", "d"]))
        con.register("pages", pd.DataFrame({"u": page_urls}))
        urls = np.array(
            [r[0] for r in con.execute(
                "SELECT u FROM (SELECT u FROM pages UNION SELECT d FROM pairs) "
                "ORDER BY u").fetchall()])
        con.register("verts", pd.DataFrame({"u": urls, "i": np.arange(len(urls))}))
        e = con.execute(
            "SELECT DISTINCT a.i, b.i FROM pairs "
            "JOIN verts a ON pairs.s = a.u JOIN verts b ON pairs.d = b.u "
            "WHERE pairs.s <> pairs.d ORDER BY 1, 2").fetchnumpy()
    finally:
        con.close()
    cols = list(e.values())
    src, dst = cols[0].astype(np.int64), cols[1].astype(np.int64)
    ids = np.array([xxh64(u.encode("utf-8")) for u in urls.tolist()], dtype=np.int64)
    n = len(urls)
    res: dict = {}
    if "pagerank" in algorithms:
        res["pr_rank"], res["pr_steps"] = pagerank(src, dst, n, **algorithms["pagerank"])
    if "resumed" in algorithms:
        res["resumed_rank"] = pagerank(src, dst, n, **algorithms["resumed"])[0]
    if "cc" in algorithms:
        res["cc"] = components(src, dst, ids)
    if "lp" in algorithms:
        res["lp"], res["lp_steps"] = label_propagation(src, dst, ids, **algorithms["lp"])
    if "lp_default_cap" in algorithms:
        res["lp_default_cap_steps"] = label_propagation(
            src, dst, ids, **algorithms["lp_default_cap"])[1]
    if "triangles" in algorithms:
        res["tri"], res["tri_total"] = triangles(src, dst, n)
    return Expected(urls, ids, src, dst, res), texts
