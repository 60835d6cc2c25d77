"""Reference results computed from the input files with numpy and plain
Python, independently of the engine's code. They run outside every
timed region."""

from __future__ import annotations

import re

import numpy as np

_HREF = re.compile(rb'href="([^"]*)"')


def index_vertices(src: np.ndarray, dst: np.ndarray):
    """(vids sorted, src index, dst index) over the endpoint set."""
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return vids, inv[: len(src)], inv[len(src):]


def pagerank(src: np.ndarray, dst: np.ndarray, iters: int, d: float = 0.85):
    """(vids, pr): the damped power iteration with dangling mass spread
    uniformly, started from 1/N, run exactly `iters` times."""
    vids, s, t = index_vertices(src, dst)
    n = len(vids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        dang = pr[outdeg == 0].sum()
        gather = np.bincount(t, weights=pr[s] / outdeg[s], minlength=n)
        pr = ((1.0 - d) + d * dang) / n + d * gather
    return vids, pr


def components(src: np.ndarray, dst: np.ndarray):
    """(vids, comp): union-find; comp is the smallest vid in the component."""
    vids, s, t = index_vertices(src, dst)
    parent = list(range(len(vids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(s.tolist(), t.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # vids are sorted, so the smaller index is the smaller vid
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(len(vids))])
    return vids, vids[roots]


def symmetric_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Distinct (a, b) pairs of the undirected simple graph, both directions."""
    e = np.concatenate([np.stack([src, dst], 1), np.stack([dst, src], 1)])
    e = e[e[:, 0] != e[:, 1]]
    return np.unique(e, axis=0)


def label_propagation(src: np.ndarray, dst: np.ndarray, rounds: int):
    """(vids, label): synchronous rounds, labels start as the vid; each
    vertex takes the most frequent neighbour label, ties to the smallest
    label; a vertex without neighbours keeps its label."""
    vids = np.unique(np.concatenate([src, dst]))
    sym = symmetric_pairs(src, dst)
    a, b = np.searchsorted(vids, sym[:, 0]), np.searchsorted(vids, sym[:, 1])
    label = vids.copy()
    for _ in range(rounds):
        pairs, cnt = np.unique(np.stack([b, label[a]], 1), axis=0, return_counts=True)
        order = np.lexsort((pairs[:, 1], -cnt, pairs[:, 0]))
        pairs = pairs[order]
        first = np.ones(len(pairs), bool)
        first[1:] = pairs[1:, 0] != pairs[:-1, 0]
        new = label.copy()
        new[pairs[first, 0]] = pairs[first, 1]
        label = new
    return vids, label


def edge_cut(src: np.ndarray, dst: np.ndarray, vids: np.ndarray, part: np.ndarray) -> int:
    """Undirected distinct edges whose endpoints lie in different parts."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    und = np.unique(np.stack([lo, hi], 1)[lo != hi], axis=0)
    order = np.argsort(vids)
    sv, sp = vids[order], part[order]
    pa = sp[np.searchsorted(sv, und[:, 0])]
    pb = sp[np.searchsorted(sv, und[:, 1])]
    return int((pa != pb).sum())


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph, each counted once at its
    lowest vertex in (degree, vid) order."""
    sym = symmetric_pairs(src, dst)
    vids, a, b = index_vertices(sym[:, 0], sym[:, 1])
    deg = np.bincount(a, minlength=len(vids))
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    a, b = a[fwd], b[fwd]
    n = len(vids)
    keys = np.sort(np.minimum(a, b).astype(np.int64) * n + np.maximum(a, b))
    order = np.argsort(a, kind="stable")
    a, b = a[order], b[order]
    starts = np.searchsorted(a, np.arange(n + 1))
    vs, ws = [], []
    for u in range(n):
        nb = b[starts[u]: starts[u + 1]]
        if len(nb) > 1:
            i, j = np.triu_indices(len(nb), 1)
            vs.append(nb[i])
            ws.append(nb[j])
    if not vs:
        return 0
    v, w = np.concatenate(vs), np.concatenate(ws)
    wedge = np.minimum(v, w).astype(np.int64) * n + np.maximum(v, w)
    pos = np.minimum(np.searchsorted(keys, wedge), len(keys) - 1)
    return int((keys[pos] == wedge).sum())


def crawl_edges(urls: list[str], htmls: list[bytes]) -> np.ndarray:
    """(E, 2) distinct (src, dst) of the link graph, vids 1-based and dense
    in URL order over page URLs and link endpoints. Every href in the
    synthetic pages is an absolute canonical URL; anything else raises,
    because this oracle does not canonicalize."""
    links = []
    for url, html in zip(urls, htmls):
        for m in _HREF.finditer(html):
            href = m.group(1).decode()
            scheme_host = "/".join(href.split("/", 3)[:3])
            if (
                "://" not in href
                or "#" in href
                or href.endswith("/")
                or href != href.strip()
                or scheme_host != scheme_host.lower()
            ):
                raise ValueError(f"non-canonical href in synthetic page: {href!r}")
            links.append((url, href))
    names = sorted(set(urls) | {t for _, t in links})
    vid = {u: i + 1 for i, u in enumerate(names)}
    e = np.array([(vid[s], vid[t]) for s, t in links], dtype=np.int64).reshape(-1, 2)
    return np.unique(e, axis=0)
