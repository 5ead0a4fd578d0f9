"""Correctness gates: single-process numpy kernels and the text-graph oracle.

The numpy kernels take the same edge table the Spark kernels read (global
int64 vertex ids, self-loops dropped, deduplicated) and implement the same
specs: PageRank with nx semantics (uniform teleport, dangling mass spread
uniformly, stop when the L1 change < n * tol), connected components
labelled by their smallest vertex id, synchronous label propagation
(most frequent neighbour label, smallest label on ties, isolated vertices
keep their own), and per-vertex triangle counts. Their wall time is the
roofline the Spark kernels are reported against.
"""

from __future__ import annotations

import numpy as np


class Graph:
    """Edge table compacted to vertex indices 0..n-1 in ascending id order,
    so the smallest index is also the smallest id."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        self.ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        self.n = len(self.ids)
        self.src = inv[: len(src)]
        self.dst = inv[len(src):]
        a = np.concatenate([self.src, self.dst])
        b = np.concatenate([self.dst, self.src])
        keep = a != b
        pairs = np.unique(a[keep] * self.n + b[keep])
        # undirected adjacency, both directions, sorted by (a, b)
        self.ua, self.ub = pairs // self.n, pairs % self.n


def pagerank(g: Graph, alpha: float = 0.85, tol: float = 1.0e-6, max_iter: int = 100):
    """Returns (rank per vertex index, supersteps)."""
    n = g.n
    outdeg = np.bincount(g.src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    safe = np.where(dangling, 1.0, outdeg)
    p = 1.0 / n
    x = np.full(n, p)
    for step in range(1, max_iter + 1):
        contrib = np.bincount(g.dst, weights=x[g.src] / safe[g.src], minlength=n)
        new = alpha * (contrib + x[dangling].sum() * p) + (1.0 - alpha) * p
        err = np.abs(new - x).sum()
        x = new
        if err < n * tol:
            return x, step
    raise RuntimeError(f"numpy pagerank: no convergence in {max_iter} steps")


def components(g: Graph) -> np.ndarray:
    """Smallest vertex index in each vertex's component (min-label
    propagation with pointer jumping)."""
    label = np.arange(g.n)
    while True:
        m = label.copy()
        np.minimum.at(m, g.ua, label[g.ub])
        m = m[m]
        if np.array_equal(m, label):
            return label
        label = m


def labelprop(g: Graph, max_iter: int) -> tuple[np.ndarray, int]:
    """Synchronous LPA; returns (label index per vertex, rounds run)."""
    labels = np.arange(g.n)
    a, b = g.ua, g.ub
    rounds = 0
    while rounds < max_iter:
        rounds += 1
        nl = labels[b]
        order = np.lexsort((nl, a))
        aa, ll = a[order], nl[order]
        first = np.concatenate([[True], (aa[1:] != aa[:-1]) | (ll[1:] != ll[:-1])])
        gi = np.flatnonzero(first)
        counts = np.diff(np.append(gi, len(aa)))
        ga, gl = aa[gi], ll[gi]
        # per vertex the winner sorts last under (vertex, count asc, label desc)
        sel = np.lexsort((-gl, counts, ga))
        sa, sl = ga[sel], gl[sel]
        last = np.concatenate([sa[1:] != sa[:-1], [True]])
        new = labels.copy()
        new[sa[last]] = sl[last]
        if np.array_equal(new, labels):
            break
        labels = new
    return labels, rounds


def triangles(g: Graph) -> np.ndarray:
    """Triangles through each vertex. Edges are oriented from the (degree,
    index)-smaller end; each triangle is then one closed wedge at its
    lowest vertex."""
    n = g.n
    deg = np.bincount(g.ua, minlength=n)
    fwd = g.ua < g.ub
    u, v = g.ua[fwd], g.ub[fwd]
    up = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    s, d = np.where(up, u, v), np.where(up, v, u)
    order = np.lexsort((d, s))
    s, d = s[order], d[order]
    end = np.searchsorted(s, s, side="right")
    rem = end - np.arange(len(s)) - 1  # later out-neighbours of the same source
    first = np.repeat(np.arange(len(s)), rem)
    offset = np.arange(len(first)) - np.repeat(np.cumsum(rem) - rem, rem)
    second = first + 1 + offset
    w1, w2, ws = d[first], d[second], s[first]
    keys = np.minimum(w1, w2) * n + np.maximum(w1, w2)
    edge_keys = np.minimum(s, d) * n + np.maximum(s, d)
    edge_keys.sort()
    pos = np.searchsorted(edge_keys, keys)
    pos[pos == len(edge_keys)] = 0
    closed = edge_keys[pos] == keys
    tri = np.zeros(n, dtype=np.int64)
    for col in (ws, w1, w2):
        tri += np.bincount(col[closed], minlength=n)
    return tri


def by_id(g: Graph, ids: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Reorder a Spark result (ids, values) into vertex-index order; raises
    if the id sets differ."""
    idx = np.searchsorted(g.ids, ids)
    idx[idx == g.n] = 0
    if len(ids) != g.n or not np.array_equal(g.ids[idx], ids):
        raise ValueError(f"vertex sets differ: spark {len(ids)} vs numpy {g.n}")
    out = np.empty(g.n, dtype=values.dtype)
    out[idx] = values
    return out


def flagship_mismatches(outputs: dict, transcripts_pdf, params) -> list[str]:
    """Compare keywords, summary and relations for the conversations in
    `transcripts_pdf` (conv_id, turn_idx, text) against the row-at-a-time
    oracle. `outputs` holds the collected Spark rows per output, restricted
    to the same conversations. Returns one message per mismatch."""
    from deeprank_spark.oracle import textgraph as otg

    kw, summ, svos = {}, {}, {}
    for r in outputs["keywords"]:
        kw.setdefault(r["conv_id"], []).append((-r["rank"], r["keyword"]))
    kw = {c: [w for _, w in sorted(v)] for c, v in kw.items()}
    for r in outputs["summary"]:
        summ.setdefault(r["conv_id"], []).append(r["turn_idx"])
    for r in outputs["relations"]:
        svos.setdefault(r["conv_id"], set()).add(
            (r["subj"], r["verb"], r["obj"], r["sent_id"])
        )
    bad = []
    for conv, grp in transcripts_pdf.groupby("conv_id"):
        dg = otg.digest(list(grp.sort_values("turn_idx")["text"]), params)
        ranks = otg.pagerank(dg, params)
        if kw.get(conv, []) != otg.best_words(dg, ranks, params.word_count):
            bad.append(f"{conv}: keywords")
        if summ.get(conv, []) != otg.best_sentences(dg, ranks, params.sent_count):
            bad.append(f"{conv}: summary")
        exp = {tuple(e) for e in otg.best_svos(dg, ranks, params.rel_count)}
        if svos.get(conv, set()) != exp:
            bad.append(f"{conv}: relations")
    return bad
