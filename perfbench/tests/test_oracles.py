"""The benchmark's oracles against karate-club answers and brute force."""

import itertools
from collections import Counter

import networkx as nx
import numpy as np
import pytest

from perfbench import oracles


@pytest.fixture(scope="module")
def karate():
    g = nx.karate_club_graph()
    e = np.array(list(g.edges()), dtype=np.int64)
    # undirected graphs reach the oracles with both directions, as LinkGraph
    # stores them
    src = np.concatenate([e[:, 0], e[:, 1]])
    dst = np.concatenate([e[:, 1], e[:, 0]])
    return g, src, dst, np.array(sorted(g.nodes()), dtype=np.int64)


def _exact_pagerank(src, dst, w, n, d=0.85):
    """Fixpoint by a dense linear solve (node ids are 0..n-1)."""
    m = np.zeros((n, n))
    out = np.bincount(src, weights=w, minlength=n)
    for s, t, x in zip(src, dst, w):
        m[t, s] += x / out[s]
    dangling = (np.bincount(src, minlength=n) == 0).astype(float)
    a = np.eye(n) - d * m - d * np.outer(np.ones(n), dangling) / n
    return np.linalg.solve(a, np.full(n, (1 - d) / n))


def test_pagerank_karate_matches_linear_solve(karate):
    _, src, dst, nodes = karate
    w = np.ones(len(src))
    ranks, iters = oracles.pagerank(src, dst, w, nodes, tol=1e-12, max_iter=500)
    exact = _exact_pagerank(src, dst, w, len(nodes))
    assert np.allclose(ranks.loc[nodes].to_numpy(), exact, rtol=0, atol=1e-10)
    assert ranks.sum() == pytest.approx(1.0, abs=1e-12)
    assert iters < 500
    # published networkx values for the karate club
    assert ranks[33] == pytest.approx(0.100918, abs=1e-5)
    assert ranks[0] == pytest.approx(0.097002, abs=1e-5)


def test_pagerank_dangling_and_weights():
    # 0 -> 1 (w 3), 0 -> 2 (w 1), 1 -> 2; node 2 and 3 dangling
    src = np.array([0, 0, 1])
    dst = np.array([1, 2, 2])
    w = np.array([3.0, 1.0, 1.0])
    nodes = np.array([0, 1, 2, 3])
    ranks, _ = oracles.pagerank(src, dst, w, nodes, tol=1e-14, max_iter=1000)
    exact = _exact_pagerank(src, dst, w, 4)
    assert np.allclose(ranks.to_numpy(), exact, rtol=0, atol=1e-12)


def test_components_min_label():
    src = np.array([5, 7, 2, 9, 9])
    dst = np.array([7, 8, 3, 9, 4])
    nodes = np.array([2, 3, 4, 5, 7, 8, 9, 11])
    labels = oracles.min_label_components(src, dst, nodes)
    assert labels.to_dict() == {2: 2, 3: 2, 4: 4, 5: 5, 7: 5, 8: 5, 9: 4, 11: 11}


def test_components_karate_is_connected(karate):
    _, src, dst, nodes = karate
    labels = oracles.min_label_components(src, dst, nodes)
    assert set(labels) == {0}


def _lpa_brute(g, steps):
    labels = {v: v for v in g.nodes()}
    for _ in range(steps):
        new = {}
        for v in g.nodes():
            nbrs = [u for u in g.neighbors(v) if u != v]
            if not nbrs:
                new[v] = labels[v]
                continue
            c = Counter(labels[u] for u in nbrs)
            top = max(c.values())
            new[v] = min(lab for lab, k in c.items() if k == top)
        labels = new
    return labels


@pytest.mark.parametrize("steps", [1, 2, 5])
def test_label_propagation_matches_brute_force(karate, steps):
    g, src, dst, nodes = karate
    got = oracles.label_propagation(src, dst, nodes, steps)
    assert got.to_dict() == _lpa_brute(g, steps)


def test_label_propagation_isolated_and_self_loop_nodes_keep_label():
    src = np.array([1, 2, 3])
    dst = np.array([2, 1, 3])
    got = oracles.label_propagation(src, dst, np.array([1, 2, 3, 4]), 3)
    assert got[3] == 3 and got[4] == 4


def test_triangles_karate(karate):
    _, src, dst, _ = karate
    assert oracles.triangle_count(src, dst) == 45


def test_triangles_brute_force_on_multigraph_with_loops():
    rng = np.random.default_rng(0)
    src = rng.integers(0, 25, 300)
    dst = rng.integers(0, 25, 300)
    adj = {(min(a, b), max(a, b)) for a, b in zip(src, dst) if a != b}
    brute = sum(
        1
        for a, b, c in itertools.combinations(range(25), 3)
        if (a, b) in adj and (a, c) in adj and (b, c) in adj
    )
    assert oracles.triangle_count(src, dst) == brute


def test_fingerprint_is_order_independent():
    a = oracles.fingerprint([3, 1, 2], [1, 1, 2])
    b = oracles.fingerprint([1, 2, 3], [1, 2, 1])
    assert a == b
    assert a != oracles.fingerprint([1, 2, 3], [1, 2, 2])
