"""Property-based checks (hypothesis) for the round-5 iterative graph
ops: on random small graphs, the distributed DataFrame implementations
must equal independent pure-Python reference implementations — a
different failure surface than the hand-picked fixtures (random shapes
find cascade/tie/bound edge cases humans don't draw).

Example counts are kept small: every example runs real Spark jobs."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ebel_spark import graph as G

NODES = "abcdefgh"

edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=1, max_size=14, unique=True,
)

weighted_edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES),
              st.integers(min_value=1, max_value=3)),
    min_size=1, max_size=12,
    unique_by=lambda t: (t[0], t[1]),
)

# endpoints for kcore_peel / label_propagation: null endpoints, and
# non-ASCII names whose code-point order differs from UTF-16 order
# ("\uff5a" < "\U0001f600" by code point, not in UTF-16); lists keep
# self-loops, duplicate and reversed edges
ENDPOINTS = st.sampled_from(["a", "b", "c", "d", "\u00e9", "\uff5a",
                             "\U0001f600", None])
raw_edges_strategy = st.lists(st.tuples(ENDPOINTS, ENDPOINTS), max_size=16)

# a component chain longer than the 2-4 rounds near-dup graphs need:
# `length` fresh nodes joined in a random order, so the minimum id sits
# anywhere along it
chain_strategy = st.integers(min_value=2, max_value=40).flatmap(
    lambda length: st.permutations([f"c{i:02d}" for i in range(length)]))

_SETTINGS = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_sssp(edges, sources, rounds):
    """Bounded synchronous Bellman-Ford, pure Python."""
    dist = {s: 0 for s in sources}
    for _ in range(rounds):
        new = dict(dist)
        for u, v, c in edges:
            if u in dist and dist[u] + c < new.get(v, float("inf")):
                new[v] = dist[u] + c
        dist = new
    return dist


def _py_ktruss(edges, k):
    """Exact k-truss by iterative peeling, pure Python.  Returns
    {(a, b): support-in-final-subgraph} over canonical a < b edges."""
    und = {tuple(sorted((u, v))) for u, v in edges if u != v}

    def supports(es):
        out = {}
        for a, b in es:
            n = sum(1 for c in NODES
                    if tuple(sorted((a, c))) in es
                    and tuple(sorted((b, c))) in es and c not in (a, b))
            out[(a, b)] = n
        return out

    while True:
        sup = supports(und)
        drop = {e for e, s in sup.items() if s < k - 2}
        if not drop:
            return sup
        und -= drop


def _py_shortest_cycles(edges, max_len):
    """For every non-self-loop edge: shortest cycle length <= max_len
    it lies on (BFS from head back to tail), pure Python."""
    es = {(u, v) for u, v in edges if u != v}
    adj = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
    out = {}
    for u, v in es:
        # shortest hops v -> u, bounded by max_len - 1
        frontier, seen, hops = {v}, {v}, 0
        found = None
        while frontier and hops < max_len - 1 and found is None:
            hops += 1
            nxt = set()
            for x in frontier:
                for y in adj.get(x, ()):
                    if y == u:
                        found = hops
                        break
                    if y not in seen:
                        seen.add(y)
                        nxt.add(y)
                if found is not None:
                    break
            frontier = nxt
        if found is not None:
            out[(u, v)] = found + 1
    return out


def _py_bfs(edges, source, max_depth):
    """Level-synchronous BFS over directed edges, pure Python:
    {node: hops from source} within max_depth."""
    dist, frontier = {source: 0}, [source]
    for depth in range(1, max_depth + 1):
        frontier = sorted({v for u, v in edges if u in frontier} - set(dist))
        dist.update((v, depth) for v in frontier)
    return dist


def _py_components(pairs, nodes):
    """Union-find, pure Python: {node: minimum node id of its component}.
    A pair (a, a) names no edge, so it adds no node."""
    pairs = [(a, b) for a, b in pairs if a != b]
    parent = {n: n for pair in pairs for n in pair}
    parent.update((n, n) for n in nodes)

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = sorted((find(a), find(b)))
        parent[rb] = ra
    return {n: find(n) for n in parent}


def _index(edges):
    """(sorted node list, {node: row}) over every edge endpoint."""
    nodes = sorted({n for e in edges for n in e})
    return nodes, {n: i for i, n in enumerate(nodes)}


def _np_pagerank(edges, seeds, damping, iters):
    """Power iteration with numpy: rank_{k+1} = (1-d)·p + d·(M·rank_k +
    dangling mass·p), rank_0 = p; p uniform when seeds is None, else
    uniform over the seeds that are graph nodes (all zero if none)."""
    nodes, idx = _index(edges)
    n = len(nodes)
    m = np.zeros((n, n))
    outd = np.zeros(n)
    for u, _ in edges:
        outd[idx[u]] += 1
    for u, v in edges:
        m[idx[v], idx[u]] += 1.0 / outd[idx[u]]
    if seeds is None:
        p = np.full(n, 1.0 / n)
    else:
        hit = [idx[s] for s in set(seeds) if s in idx]
        p = np.zeros(n)
        p[hit] = 1.0 / len(hit) if hit else 0.0
    r = p.copy()
    for _ in range(iters):
        r = (1 - damping) * p + damping * (m @ r + r[outd == 0].sum() * p)
    return dict(zip(nodes, r))


def _np_hits(edges, iters):
    """L1-normalized HITS with numpy, hub_0 = 1: {node: (hub, auth)}."""
    nodes, idx = _index(edges)
    adj = np.zeros((len(nodes), len(nodes)))
    for u, v in edges:
        adj[idx[u], idx[v]] += 1
    hub = np.ones(len(nodes))
    auth = np.zeros(len(nodes))
    for _ in range(iters):
        auth = adj.T @ hub
        auth = auth / auth.sum()
        hub = adj @ auth
        hub = hub / hub.sum()
    return {x: (hub[i], auth[i]) for x, i in idx.items()}


def _close(got, want, tol=1e-9):
    """Same keys, every value within tol."""
    return got.keys() == want.keys() and all(
        np.allclose(got[k], want[k], rtol=0, atol=tol) for k in want)


def _py_undirected(edges):
    """undirected_edges in pure Python: no null endpoint, no self-loop,
    (min, max) pairs, distinct."""
    return {(min(u, v), max(u, v)) for u, v in edges
            if u is not None and v is not None and u != v}


def _py_kcore(edges, k, rounds):
    """Synchronous k-core peeling, pure Python: {node: degree}."""
    und = _py_undirected(edges)
    for _ in range(rounds):
        deg = Counter(n for e in und for n in e)
        und = {(a, b) for a, b in und if deg[a] >= k and deg[b] >= k}
    return dict(Counter(n for e in und for n in e))


def _py_lpa(edges, iters):
    """Synchronous label propagation, pure Python: the most frequent
    neighbour label, ties to the smallest label.  {node: label}."""
    nbrs = {}
    for a, b in _py_undirected(edges):
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    labels = {n: n for n in nbrs}
    for _ in range(iters):
        new = {}
        for n, hs in nbrs.items():
            c = Counter(labels[h] for h in hs)
            new[n] = min(c, key=lambda lab: (-c[lab], lab))
        labels = new
    return labels


def _on_both_paths(fn):
    """fn() in one task (these graphs are far below _LOCAL_MAX_EDGES),
    then again on the per-round Spark loop."""
    one_task = fn()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(G, "_LOCAL_MAX_EDGES", 0)
        return one_task, fn()


class TestGraphOpsVsPythonReference:
    @_SETTINGS
    @given(weighted_edges_strategy)
    def test_sssp_matches_bellman_ford(self, spark, wedges):
        df = spark.createDataFrame(wedges, ["u", "v", "cost"])
        sources = sorted({u for u, _, _ in wedges})[:1]
        src = spark.createDataFrame([(s,) for s in sources], ["bel"])
        got = {r["bel"]: r["dist"]
               for r in G.sssp_relax(df, src, rounds=4).collect()}
        want = _py_sssp(wedges, sources, rounds=4)
        assert got == want

    @_SETTINGS
    @given(edges_strategy)
    def test_ktruss_fixpoint_matches_python_peeling(self, spark, edges):
        df = spark.createDataFrame(edges, ["u", "v"])
        rows = G.ktruss_peel(df, k=3, rounds=None, max_rounds=20).collect()
        got = {(r["a"], r["b"]): r["support"] for r in rows}
        assert all(r["converged"] for r in rows)
        assert got == _py_ktruss(edges, k=3)

    @_SETTINGS
    @given(edges_strategy)
    def test_cycle_edges_matches_python_bfs(self, spark, edges):
        df = spark.createDataFrame(edges, ["u", "v"])
        got = {(r["u"], r["v"]): r["cycle_len"]
               for r in G.cycle_edges(df, max_len=4).collect()}
        assert got == _py_shortest_cycles(edges, max_len=4)

    @_SETTINGS
    @given(raw_edges_strategy, st.integers(min_value=1, max_value=3))
    def test_kcore_matches_python_peeling(self, spark, edges, k):
        df = spark.createDataFrame(edges, "u string, v string")
        want = _py_kcore(edges, k, rounds=4)
        for got in _on_both_paths(lambda: {
                r["bel"]: r["deg"]
                for r in G.kcore_peel(df, k=k, rounds=4).collect()}):
            assert got == want

    @_SETTINGS
    @given(raw_edges_strategy)
    def test_lpa_matches_python_propagation(self, spark, edges):
        df = spark.createDataFrame(edges, "u string, v string")
        want = _py_lpa(edges, iters=3)
        for got in _on_both_paths(lambda: {
                r["bel"]: r["label"]
                for r in G.label_propagation(df, iters=3).collect()}):
            assert got == want

    @_SETTINGS
    @given(edges_strategy, st.sampled_from(NODES),
           st.integers(min_value=0, max_value=4))
    def test_bfs_matches_python_bfs(self, spark, edges, source, max_depth):
        df = spark.createDataFrame(edges, ["u", "v"])
        src = spark.createDataFrame([(source,)], ["bel"])
        got = {r["bel"]: r["dist"] for r in
               G.bfs_depths(df, src, max_depth=max_depth).collect()}
        assert got == _py_bfs(edges, source, max_depth)

    @_SETTINGS
    @given(chain_strategy, edges_strategy,
           st.lists(st.sampled_from("xyz"), max_size=3, unique=True))
    def test_components_match_union_find(self, spark, chain, edges,
                                         isolated):
        from ebel_spark.ops.dedup import connected_components
        pairs = list(zip(chain, chain[1:])) + edges
        df = spark.createDataFrame(pairs, "a string, b string")
        nodes = spark.createDataFrame([(n,) for n in isolated], "id string")
        got = {r["id"]: r["cluster_id"]
               for r in connected_components(df, nodes).collect()}
        assert got == _py_components(pairs, isolated)

    @_SETTINGS
    @given(edges_strategy,
           st.lists(st.sampled_from(NODES + "z"), max_size=3, unique=True))
    def test_pagerank_matches_power_iteration(self, spark, edges, seeds):
        """Uniform and personalized; an edge list of 8 nodes with at most
        14 edges leaves dangling nodes in most examples, and a seed list
        of only "z", or none, has an empty intersection with the nodes."""
        df = spark.createDataFrame(edges, ["u", "v"])
        got = {r["bel"]: r["rank"]
               for r in G.pagerank(df, iters=4).collect()}
        assert _close(got, _np_pagerank(edges, None, 0.85, 4))
        sdf = spark.createDataFrame([(s,) for s in seeds], "bel string")
        got = {r["bel"]: r["rank"] for r in
               G.personalized_pagerank(df, sdf, iters=4).collect()}
        assert _close(got, _np_pagerank(edges, seeds, 0.85, 4))

    @_SETTINGS
    @given(edges_strategy)
    def test_hits_matches_numpy(self, spark, edges):
        df = spark.createDataFrame(edges, ["u", "v"])
        got = {r["bel"]: (r["hub"], r["auth"])
               for r in G.hits(df, iters=3).collect()}
        assert _close(got, _np_hits(edges, 3))
