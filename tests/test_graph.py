"""PageRank vs an independent dense power iteration (numpy)."""

from __future__ import annotations

import numpy as np
import pytest

from meds_polars_functions_spark.operators.graph import pagerank


def _numpy_pagerank(edges, n, d=0.85, n_iter=10):
    M = np.zeros((n, n))
    for s, t in edges:
        M[t, s] += 1.0
    col = M.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.zeros(n)
        nz = col > 0
        contrib += M[:, nz] @ (r[nz] / col[nz])
        dangling = r[~nz].sum()
        r = (1 - d) / n + d * (contrib + dangling / n)
    return r


def test_pagerank_matches_dense_power_iteration(spark):
    # graph with a dangling node (3) and a hub (0)
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (4, 0), (4, 3), (1, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}
    want = _numpy_pagerank(edges, 5, n_iter=10)
    assert set(got) == set(range(5))
    for i in range(5):
        assert got[i] == pytest.approx(want[i], abs=1e-9), i
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_triangle_count_known_graphs(spark):
    from meds_polars_functions_spark.operators.graph import triangle_count

    def tri(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return triangle_count(df).first()["n_triangles"]

    # K4 has 4 triangles; duplicate/reversed/self edges must not inflate
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert tri(k4) == 4
    assert tri([(1, 2), (2, 3), (3, 1), (2, 1), (1, 1)]) == 1
    assert tri([(1, 2), (2, 3), (3, 4)]) == 0
    # two disjoint triangles sharing no vertex
    assert tri([(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]) == 2


def test_triangle_count_random_graph_brute_force(spark):
    """Pin the round-16 edge-iterator rewrite (adjacency intersect
    instead of the wedge join) against an exhaustive triple loop on a
    dense random graph — same count, the formulation is execution-only."""
    import itertools
    import random

    from meds_polars_functions_spark.operators.graph import triangle_count

    rng = random.Random(7)
    n = 40
    edges = [(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.3]
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = sum(
        1
        for u, v, w in itertools.combinations(range(n), 3)
        if v in adj[u] and w in adj[u] and w in adj[v]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(df).first()["n_triangles"] == want


def test_triangle_orientation_caps_hub_fanout(spark):
    """A star hub (degree n) plus one rim edge has exactly 1 triangle;
    with orientation the hub (highest degree) contributes ZERO wedges —
    the wedge join input stays linear, not quadratic, in hub degree."""
    from meds_polars_functions_spark.operators.graph import triangle_count

    star = [(0, i) for i in range(1, 50)] + [(1, 2)]
    df = spark.createDataFrame(star, "src long, dst long")
    assert triangle_count(df).first()["n_triangles"] == 1


def test_label_propagation_two_cliques(spark):
    from meds_polars_functions_spark.operators.graph import label_propagation

    # two triangles bridged by one edge: LPA with min-label ties floods
    # each clique with its smallest member id
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["label"] for r in label_propagation(df, n_iter=4).collect()}
    assert set(got) == {0, 1, 2, 10, 11, 12}
    # clique A collapses to label 0
    assert got[0] == got[1] == got[2] == 0
    # clique B: all three agree; the bridge 2-10 leaks label 2 in (hand
    # trace: 10 adopts 2 at iter1 via the bridge, it floods B by iter3)
    assert got[10] == got[11] == got[12] == 2


def test_label_propagation_deterministic(spark):
    from meds_polars_functions_spark.operators.graph import label_propagation

    edges = [(i, (i * 7 + 3) % 20) for i in range(20)] + [(5, 6), (6, 7)]
    df = spark.createDataFrame(
        [(s, d) for s, d in edges if s != d], ["src", "dst"]
    )
    a = sorted(map(tuple, label_propagation(df, n_iter=3).collect()))
    b = sorted(map(tuple, label_propagation(df, n_iter=3).collect()))
    assert a == b


def test_label_propagation_star_adopts_hub_majority(spark):
    from meds_polars_functions_spark.operators.graph import label_propagation

    # star: hub 0 with leaves 1..4. Iter1: leaves -> 0, hub -> 1 (min
    # label among leaf labels, all count 1). Iter2: leaves -> 1, hub -> 0.
    df = spark.createDataFrame([(0, i) for i in range(1, 5)], ["src", "dst"])
    got1 = {r["node"]: r["label"] for r in label_propagation(df, n_iter=1).collect()}
    assert got1 == {0: 1, 1: 0, 2: 0, 3: 0, 4: 0}
    got2 = {r["node"]: r["label"] for r in label_propagation(df, n_iter=2).collect()}
    assert got2 == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1}


def test_label_propagation_string_node_ids(spark):
    # ADVICE r3: the old max(struct(cnt, -label)) tie-break negated the
    # label and so only worked for numeric ids. min_by(label,
    # struct(-cnt, label)) must give the same deterministic min-label
    # tie-break for string ids.
    from meds_polars_functions_spark.operators.graph import label_propagation

    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["label"] for r in label_propagation(df, n_iter=4).collect()}
    # mirrors test_label_propagation_two_cliques with ids mapped to strings
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "c"
    again = {r["node"]: r["label"] for r in label_propagation(df, n_iter=4).collect()}
    assert got == again


def _peel_coreness(edges):
    """Reference coreness by textbook iterative peeling."""
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    core = {}
    live = {v: set(ns) for v, ns in adj.items()}
    k = 0
    while live:
        k += 1
        while True:
            doom = [v for v, ns in live.items() if len(ns) < k]
            if not doom:
                break
            for v in doom:
                core[v] = k - 1
                for u in live[v]:
                    live[u].discard(v)
                del live[v]
    return core


def test_k_core_matches_peeling_known_graph(spark):
    """Triangle (core 2) + tail (core 1) + a 4-clique (core 3), joined
    by bridges — the classic mixed-core shape."""
    from meds_polars_functions_spark.operators.graph import k_core_decomposition

    edges = (
        [(0, 1), (1, 2), (2, 0)]          # triangle
        + [(2, 3), (3, 4)]                # tail
        + [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]  # 4-clique
        + [(4, 5)]                        # bridge
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["coreness"] for r in k_core_decomposition(df).collect()}
    assert got == _peel_coreness(edges)


def test_k_core_matches_peeling_random_graphs(spark):
    """Seeded Erdos-Renyi-ish graphs (including duplicate and reversed
    edges, which the simple-graph normalization must absorb) vs the
    peeling reference."""
    import random

    from meds_polars_functions_spark.operators.graph import k_core_decomposition

    rng = random.Random(23)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(200 + 60 * trial)
        ]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node"]: r["coreness"]
            for r in k_core_decomposition(df).collect()
        }
        assert got == _peel_coreness(edges), f"trial {trial}"


def test_verify_k_core_flags_flip_on_corruption(spark):
    """The invariant-oracle teeth: a correct table verifies all-true;
    bumping ONE node's coreness (or the whole table) flips fixpoint_ok
    somewhere — coreness is the unique degree-initialized H-fixpoint."""
    from pyspark.sql import functions as F

    from meds_polars_functions_spark.operators.graph import (
        k_core_decomposition,
        verify_k_core,
    )

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    cores = k_core_decomposition(df)
    ver = verify_k_core(df, cores)
    assert ver.filter(~F.col("fixpoint_ok") | ~F.col("core_prop_ok")).count() == 0

    bumped = cores.withColumn(
        "coreness",
        F.when(F.col("node") == 0, F.col("coreness") + 1).otherwise(
            F.col("coreness")
        ),
    )
    assert verify_k_core(df, bumped).filter(~F.col("fixpoint_ok")).count() > 0
    all_up = cores.withColumn("coreness", F.col("coreness") + 1)
    bad = verify_k_core(df, all_up)
    assert bad.filter(~F.col("fixpoint_ok") | ~F.col("core_prop_ok")).count() > 0


def test_k_core_raises_when_max_iter_cuts_the_fixpoint(spark):
    """Triangle + tail: node 2 starts at degree 3 and settles at coreness
    2, so the fixpoint needs a round that lowers it and a round that
    confirms nothing changed. One round cannot converge: the operator
    must raise like ``connected_components`` rather than return the
    over-reported partial state, and must release its edge cache first."""
    from meds_polars_functions_spark.operators.graph import k_core_decomposition

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], ["src", "dst"])
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="did not converge in 1 iterations"):
        k_core_decomposition(df, max_iter=1)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _brute_stress(edges, sources):
    """Reference sampled stress: for each source, BFS sigma + explicit
    shortest-path continuation counts; stress(v) = sum over s != v of
    sigma_s(v) * (h_s(v) - 1)."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    stress = defaultdict(int)
    for s in sources:
        dist, sigma = {s: 0}, {s: 1}
        order = [s]
        dq = deque([s])
        while dq:
            v = dq.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    sigma[w] = 0
                    order.append(w)
                    dq.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        h = {v: 1 for v in dist}
        for v in reversed(order):
            for w in adj[v]:
                if dist.get(w) == dist[v] + 1:
                    h[v] += h[w]
        for v in dist:
            if v != s:
                stress[v] += sigma[v] * (h[v] - 1)
    for v in adj:
        stress.setdefault(v, 0)
    return dict(stress)


def _md5_sources(nodes, salt, n):
    import hashlib

    return [
        v for _, v in sorted(
            (hashlib.md5(f"{v}{salt}".encode()).hexdigest(), v) for v in nodes
        )
    ][:n]


def test_stress_centrality_matches_brute_force_known_graph(spark):
    from meds_polars_functions_spark.operators.graph import stress_centrality

    edges = (
        [(0, 1), (1, 2), (2, 0)]
        + [(2, 3), (3, 4)]
        + [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]
        + [(4, 5)]
    )
    nodes = sorted({x for e in edges for x in e})
    for salt, n in (("a", 3), ("b", 5)):
        srcs = _md5_sources(nodes, salt, n)
        got = {
            r["node"]: r["stress"]
            for r in stress_centrality(
                spark.createDataFrame(edges, ["src", "dst"]),
                n_sources=n, salt=salt, max_depth=10,
            ).collect()
        }
        assert got == _brute_stress(edges, srcs), (salt, n)


def test_stress_centrality_matches_brute_force_random(spark):
    import random

    from meds_polars_functions_spark.operators.graph import stress_centrality

    rng = random.Random(31)
    n = 30
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    nodes = sorted({x for e in edges for x in e if e[0] != e[1]})
    srcs = _md5_sources(nodes, "r", 4)
    got = {
        r["node"]: r["stress"]
        for r in stress_centrality(
            spark.createDataFrame(edges, ["src", "dst"]),
            n_sources=4, salt="r", max_depth=12,
        ).collect()
    }
    assert got == _brute_stress(edges, srcs)


def test_stress_centrality_hub_dominates_path(spark):
    """Semantics sanity: on a star-plus-path, the hub carries every
    cross-leaf shortest path — its stress must strictly dominate every
    leaf's from any source sample."""
    from meds_polars_functions_spark.operators.graph import stress_centrality

    edges = [(0, i) for i in range(1, 7)] + [(6, 7), (7, 8)]
    got = {
        r["node"]: r["stress"]
        for r in stress_centrality(
            spark.createDataFrame(edges, ["src", "dst"]),
            n_sources=3, salt="h", max_depth=10,
        ).collect()
    }
    hub = got[0]
    assert hub > 0
    assert all(hub >= v for k, v in got.items() if k != 0)
