"""Independent output oracles, in numpy/pandas on the driver.

None of them imports linkgraph: each recomputes its answer from the collected
input edges by a different method than the distributed plan, and runs outside
the timed region.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def pagerank(src, dst, weight, nodes, damping=0.85, tol=1e-6, max_iter=100):
    """Power iteration with networkx's rules: out-weights normalized per
    source, dangling mass (nodes without out-edges) spread uniformly, stop
    when the L1 change is at most ``tol``. Returns (ranks Series by id,
    iterations)."""
    ids = np.asarray(nodes)
    n = len(ids)
    index = pd.Series(np.arange(n), index=ids)
    s = index.reindex(src).to_numpy()
    d = index.reindex(dst).to_numpy()
    w = np.asarray(weight, dtype=np.float64)
    out_w = np.bincount(s, weights=w, minlength=n)
    frac = w / out_w[s]
    dangling = np.bincount(s, minlength=n) == 0
    r = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        dm = r[dangling].sum()
        new = (1 - damping) / n + damping * (
            dm / n + np.bincount(d, weights=r[s] * frac, minlength=n)
        )
        delta = np.abs(new - r).sum()
        r = new
        if delta <= tol:
            break
    return pd.Series(r, index=ids), it


def min_label_components(src, dst, nodes) -> pd.Series:
    """Union-find with path halving; each node labelled with the minimum id
    of its component. Returns a Series id -> label."""
    ids = np.unique(np.asarray(nodes))
    index = {v: i for i, v in enumerate(ids.tolist())}
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(np.asarray(src).tolist(), np.asarray(dst).tolist()):
        ru, rv = find(index[u]), find(index[v])
        if ru != rv:
            # ids are sorted, so the smaller index is the smaller id
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return pd.Series(ids[[find(i) for i in range(len(ids))]], index=ids)


def label_propagation(src, dst, nodes, steps: int) -> pd.Series:
    """Synchronous label propagation on the undirected simple view (self-loops
    dropped, parallel edges merged): each step every node takes the label
    carried by most of its neighbours, ties to the smallest label; nodes
    without neighbours keep their label. Returns a Series id -> label."""
    e = pd.DataFrame({"u": np.asarray(src), "v": np.asarray(dst)})
    e = e[e.u != e.v]
    e = pd.concat([e, e.rename(columns={"u": "v", "v": "u"})])
    e = e.drop_duplicates(ignore_index=True)
    labels = pd.Series(np.asarray(nodes), index=np.asarray(nodes))
    for _ in range(steps):
        cand = pd.DataFrame({"v": e.v.to_numpy(), "label": labels.reindex(e.u).to_numpy()})
        counts = cand.groupby(["v", "label"]).size().rename("c").reset_index()
        counts = counts.sort_values(["v", "c", "label"], ascending=[True, False, True])
        best = counts.drop_duplicates("v").set_index("v")["label"]
        labels = best.reindex(labels.index).fillna(labels).astype(labels.dtype)
    return labels


def triangle_count(src, dst) -> int:
    """Exact triangle count of the undirected simple view: orient each edge
    from the lower (degree, id) endpoint, then count, for every oriented edge
    (u, v), the out-neighbours u and v share."""
    a = np.minimum(src, dst)
    b = np.maximum(src, dst)
    und = pd.DataFrame({"a": a, "b": b})
    und = und[und.a != und.b].drop_duplicates(ignore_index=True)
    deg = pd.concat([und.a, und.b]).value_counts()
    da = deg.reindex(und.a).to_numpy()
    db = deg.reindex(und.b).to_numpy()
    a_first = (da < db) | ((da == db) & (und.a.to_numpy() < und.b.to_numpy()))
    u = np.where(a_first, und.a, und.b)
    v = np.where(a_first, und.b, und.a)
    out = pd.DataFrame({"u": u, "v": v})
    wedges = out.merge(out, on="u", suffixes=("1", "2"))
    wedges = wedges[wedges.v1 != wedges.v2]
    closing = out.rename(columns={"u": "v1", "v": "v2"})
    # each triangle is one wedge at its lowest-ordered vertex, closed by one
    # oriented edge between the two others (in exactly one direction)
    return int(len(wedges.merge(closing, on=["v1", "v2"])))


def fingerprint(ids, labels) -> str:
    """Order-independent digest of an (id, label) assignment."""
    df = pd.DataFrame({"id": np.asarray(ids), "label": np.asarray(labels)})
    df = df.sort_values("id", ignore_index=True)
    h = hashlib.sha256()
    h.update(df.id.to_numpy(dtype=np.int64).tobytes())
    h.update(df.label.to_numpy(dtype=np.int64).tobytes())
    return h.hexdigest()
