"""Independent single-threaded reference for every checked result.

Uses numpy and networkx only and imports nothing from the engine.  Node ids
are the integer values of the generator's decimal repo names.  Semantics
follow the Raphtory algorithms the engine reproduces:

- PageRank: simple directed graph, damping 0.85, sink mass spread over all
  nodes, stop when the L1 change is at most ``tol * n``;
- WCC: every node labelled with the minimum id of its component;
- LPA exact: asynchronous sweeps in a seeded permutation of the sorted ids,
  most frequent neighbour label, ties to the largest label;
- LPA sync: half the nodes per sweep, chosen by md5 parity, unrolled to
  ``max_sweeps``;
- triangles: undirected simple graph without self-loops; triangle
  ``a < b < c`` is attributed to edge ``(a, b)``.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import networkx as nx
import numpy as np


class View:
    """The simple graph of an edge-event table and a node-event table."""

    def __init__(self, e_src, e_dst, n_name):
        self.ids = np.unique(n_name)  # sorted node ids
        pairs = np.unique(np.stack([e_src, e_dst], axis=1), axis=0)
        self.src = pairs[:, 0]
        self.dst = pairs[:, 1]
        self.n = int(self.ids.size)
        self.m = int(self.src.size)
        self.temporal = int(e_src.size)

    def _dense(self):
        return np.searchsorted(self.ids, self.src), np.searchsorted(self.ids, self.dst)

    def undirected(self):
        """Distinct ``(node, neighbour)`` index pairs both ways, no self-loops."""
        s, d = self._dense()
        keep = s != d
        both = np.unique(
            np.concatenate(
                [np.stack([s[keep], d[keep]], 1), np.stack([d[keep], s[keep]], 1)]
            ),
            axis=0,
        )
        return both[:, 0], both[:, 1]

    # ------------------------------------------------------------ algorithms
    def pagerank(self, tol=1e-9, max_iter=200, damping=0.85):
        """Returns ``(scores aligned with ids, supersteps)``."""
        n = self.n
        s, d = self._dense()
        out_deg = np.bincount(s, minlength=n).astype(np.float64)
        sinks = out_deg == 0
        score = np.full(n, 1.0 / n)
        steps = 0
        for steps in range(1, max_iter + 1):
            contrib = np.where(sinks, 0.0, score / np.where(sinks, 1.0, out_deg))
            msum = np.bincount(d, weights=contrib[s], minlength=n)
            new = damping * msum + (1.0 - damping) / n + damping * score[sinks].sum() / n
            delta = np.abs(new - score).sum()
            score = new
            if delta <= tol * n:
                break
        return score, steps

    def wcc(self):
        """Component label (minimum member id) aligned with ids."""
        g = nx.Graph()
        g.add_nodes_from(range(self.n))
        s, d = self._dense()
        g.add_edges_from(zip(s.tolist(), d.tolist()))
        label = np.empty(self.n, np.int64)
        for comp in nx.connected_components(g):
            members = np.fromiter(comp, np.int64)
            label[members] = self.ids[members].min()
        return label

    def lpa_exact(self, seed=42, max_sweeps=100):
        a, b = self.undirected()
        nbrs: dict[int, list[int]] = {}
        for x, y in zip(a.tolist(), b.tolist()):
            nbrs.setdefault(x, []).append(y)
        active = sorted(nbrs)  # dense indices are in id order
        order = [active[i] for i in np.random.RandomState(seed).permutation(len(active))]
        label = self.ids.tolist()
        for _ in range(max_sweeps):
            moved = False
            for v in order:
                c = Counter(label[u] for u in nbrs[v])
                top = max(c.values())
                best = max(lab for lab, k in c.items() if k == top)
                if best != label[v]:
                    label[v] = best
                    moved = True
            if not moved:
                break
        return np.asarray(label, np.int64)

    def lpa_sync(self, seed=42, sweeps=16):
        a, b = self.undirected()
        parity = np.array(
            [
                int(hashlib.md5(f"lpa:{seed}:{v}".encode()).hexdigest()[:15], 16) % 2
                for v in self.ids.tolist()
            ]
        )
        label = self.ids.copy()
        for sweep in range(sweeps):
            nl = label[b]
            # per (node, label): count; keep the max (count, label) per node
            order = np.lexsort((nl, a))
            a_s, nl_s = a[order], nl[order]
            start = np.r_[True, (a_s[1:] != a_s[:-1]) | (nl_s[1:] != nl_s[:-1])]
            idx = np.flatnonzero(start)
            cnt = np.diff(np.r_[idx, a_s.size])
            node, lab = a_s[idx], nl_s[idx]
            best = np.lexsort((lab, cnt, node))
            last = np.r_[node[best][1:] != node[best][:-1], True]
            win_node, win_lab = node[best][last], lab[best][last]
            upd = parity[win_node] == sweep % 2
            label = label.copy()
            label[win_node[upd]] = win_lab[upd]
        return label

    def triangles(self):
        """Returns ``(global count, {(a, b): count})`` by the id orientation,
        counting the global total a second way through networkx."""
        a, b = self.undirected()
        up = a < b
        lo, hi = self.ids[a[up]], self.ids[b[up]]
        higher: dict[int, set] = {}
        for x, y in zip(lo.tolist(), hi.tolist()):
            higher.setdefault(x, set()).add(y)
        per_edge = {}
        for x, y in zip(lo.tolist(), hi.tolist()):
            k = len(higher[x] & higher.get(y, set()))
            if k:
                per_edge[(x, y)] = k
        g = nx.Graph()
        g.add_edges_from(zip(lo.tolist(), hi.tolist()))
        total = sum(nx.triangles(g).values()) // 3
        if total != sum(per_edge.values()):
            raise AssertionError("reference triangle counts disagree")
        return total, per_edge

