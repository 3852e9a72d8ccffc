"""Eigenvector / Katz / harmonic / weighted-PageRank centralities, k-truss,
rich-club, domain mixing, session windows — numpy/hand oracles.

These operators extend the reference's centrality set (SURVEY §2.6); the
correctness bar is an independent dense-math replay (numpy) or a
hand-computed golden on a graph small enough to verify by eye.
"""

import datetime as dt
import importlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.algorithms import (
    eigenvector_centrality,
    harmonic_centrality,
    k_truss_edges,
    katz_centrality,
    pagerank,
    weighted_pagerank,
)
from linkgraph.algorithms.metrics import rich_club


DIAMOND = [
    # 4-cycle with a chord: genuinely non-uniform eigenvector scores
    (0, "1", "2"), (1, "2", "3"), (2, "3", "4"), (3, "4", "1"), (4, "1", "3"),
]


def _und_adj(edges, nodes):
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for _, s, d in edges:
        A[idx[s], idx[d]] = 1.0
        A[idx[d], idx[s]] = 1.0
    return A, idx


def test_eigenvector_matches_numpy_power_iteration(spark):
    g = LinkGraph.from_edge_list(spark, DIAMOND)
    nodes = ["1", "2", "3", "4"]
    A, idx = _und_adj(DIAMOND, nodes)
    x = np.ones(len(nodes))
    for _ in range(20):
        x = A @ x
    x = x / x.max()
    got = {r["name"]: r["score"] for r in eigenvector_centrality(g, max_iter=20).collect()}
    for n in nodes:
        assert got[n] == pytest.approx(x[idx[n]], rel=1e-9)
    # hubs ("1", "3", degree 3) outrank the others; max is scaled to 1
    assert max(got.values()) == pytest.approx(1.0)
    assert got["1"] == pytest.approx(got["3"])
    assert got["1"] > got["2"] == pytest.approx(got["4"])


def test_katz_matches_numpy_series(spark):
    g = LinkGraph.from_edge_list(spark, DIAMOND)
    nodes = ["1", "2", "3", "4"]
    A, idx = _und_adj(DIAMOND, nodes)
    alpha, beta, iters = 0.1, 1.0, 10
    x = np.full(len(nodes), beta)
    for _ in range(iters):
        x = beta + alpha * (A @ x)
    got = {
        r["name"]: r["score"]
        for r in katz_centrality(
            g, alpha=alpha, beta=beta, max_iter=iters, direction="both"
        ).collect()
    }
    for n in nodes:
        assert got[n] == pytest.approx(x[idx[n]], rel=1e-12)


def test_katz_directed_in_chain(spark):
    # 1 -> 2 -> 3: in-direction Katz accumulates along the chain
    g = LinkGraph.from_edge_list(spark, [(0, "1", "2"), (1, "2", "3")])
    got = {
        r["name"]: r["score"]
        for r in katz_centrality(g, alpha=0.5, beta=1.0, max_iter=10).collect()
    }
    assert got["1"] == pytest.approx(1.0)          # no in-edges: stays at beta
    assert got["2"] == pytest.approx(1.5)          # beta + alpha*x1
    assert got["3"] == pytest.approx(1.75)         # beta + alpha*x2


def test_weighted_pagerank_matches_numpy(spark):
    edges = [
        ("1", "2", 0, 3.0), ("1", "3", 1, 1.0), ("2", "3", 2, 2.0),
        ("3", "1", 3, 5.0), ("2", "3", 4, 4.0),  # repeated edge: weights sum
        ("4", "1", 5, 1.0),  # and node 5 below is a pure sink target
        ("3", "5", 6, 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, time long, qty double")
    g = LinkGraph(df)
    nodes = ["1", "2", "3", "4", "5"]
    idx = {n: i for i, n in enumerate(nodes)}
    W = np.zeros((5, 5))
    for s, d, _, q in edges:
        W[idx[s], idx[d]] += q
    strength = W.sum(axis=1)
    n = 5
    x = np.full(n, 1.0 / n)
    for _ in range(20):
        sink_mass = x[strength == 0].sum()
        contrib = np.zeros(n)
        for i in range(n):
            if strength[i] > 0:
                contrib += x[i] * W[i] / strength[i]
        x = 0.15 / n + 0.85 * (contrib + sink_mass / n)
    got = {
        r["name"]: r["score"]
        for r in weighted_pagerank(g, "qty", max_iter=20).collect()
    }
    for m in nodes:
        assert got[m] == pytest.approx(x[idx[m]], rel=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_weighted_pagerank_uniform_weights_equals_pagerank(spark):
    # all weights equal -> identical to the unweighted engine on a simple
    # graph (no repeated edges, so per-edge sums stay equal too)
    edges = [(t, s, d) for t, s, d in DIAMOND]
    df = spark.createDataFrame(
        [(s, d, t, 1.0) for t, s, d in edges],
        "src string, dst string, time long, qty double",
    )
    wg = LinkGraph(df)
    g = LinkGraph.from_edge_list(spark, edges)
    ref = {r["name"]: r["score"] for r in pagerank(g, max_iter=25, tol=0.0).collect()}
    got = {r["name"]: r["score"] for r in weighted_pagerank(wg, "qty", max_iter=25).collect()}
    for m in ref:
        assert got[m] == pytest.approx(ref[m], rel=1e-9)


def test_harmonic_centrality_path(spark):
    # path 1-2-3-4-5, seeds = two smallest ids
    g = LinkGraph.from_edge_list(
        spark, [(0, "1", "2"), (1, "2", "3"), (2, "3", "4"), (3, "4", "5")]
    )
    got = {
        r["name"]: (r["harmonic"], r["n_reached"])
        for r in harmonic_centrality(g, first_k=2).collect()
    }
    assert set(got) == {"1", "2"}
    assert got["1"][0] == pytest.approx(1 + 1 / 2 + 1 / 3 + 1 / 4)
    assert got["1"][1] == 4
    assert got["2"][0] == pytest.approx(1 + 1 + 1 / 2 + 1 / 3)
    assert got["2"][1] == 4


def test_harmonic_explicit_seeds_and_direction(spark):
    g = LinkGraph.from_edge_list(spark, [(0, "1", "2"), (1, "2", "3")])
    got = {
        r["name"]: r["harmonic"]
        for r in harmonic_centrality(g, seeds=["1"], direction="out").collect()
    }
    assert got == {"1": pytest.approx(1 + 1 / 2)}


K4_PLUS_TAIL = [
    (0, "1", "2"), (1, "1", "3"), (2, "1", "4"),
    (3, "2", "3"), (4, "2", "4"), (5, "3", "4"),
    (6, "4", "5"),  # pendant edge: support 0
]


def test_k_truss_k4(spark):
    g = LinkGraph.from_edge_list(spark, K4_PLUS_TAIL)
    t3 = {(r["lo"], r["hi"]) for r in k_truss_edges(g, 3).collect()}
    assert t3 == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    t4 = {(r["lo"], r["hi"]) for r in k_truss_edges(g, 4).collect()}
    assert t4 == t3  # K4 edges all have support 2
    assert k_truss_edges(g, 5).count() == 0


def test_k_truss_cascade(spark):
    # two triangles sharing an edge: 3-truss keeps all 5 edges, 4-truss
    # keeps none (the shared edge has support 2 but its neighbours die,
    # which kills it on the SECOND peel round — exercises the iteration)
    edges = [(0, "1", "2"), (1, "1", "3"), (2, "2", "3"), (3, "2", "4"), (4, "3", "4")]
    g = LinkGraph.from_edge_list(spark, edges)
    assert k_truss_edges(g, 3).count() == 5
    assert k_truss_edges(g, 4).count() == 0


def test_coreness_k4_tail(spark):
    from linkgraph.algorithms.kcore import coreness

    g = LinkGraph.from_edge_list(spark, K4_PLUS_TAIL)
    got = {r["id"]: r["coreness"] for r in coreness(g).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1}


def test_coreness_matches_peel_and_kcore(spark):
    import random

    from linkgraph.algorithms.kcore import coreness, k_core_ids

    rng = random.Random(5)
    edges = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(30), rng.randrange(30)) for _ in range(120)
            )
            if a != b
        }
    )
    g = LinkGraph.from_edge_list(
        spark, [(i, str(a), str(b)) for i, (a, b) in enumerate(edges)]
    )
    got = {r["id"]: r["coreness"] for r in coreness(g).collect()}

    # sequential peel oracle
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {u: len(ns) for u, ns in adj.items()}
    core, removed, cur = {}, set(), 0
    while len(removed) < len(adj):
        u = min((u for u in adj if u not in removed), key=lambda x: (deg[x], x))
        cur = max(cur, deg[u])
        core[u] = cur
        removed.add(u)
        for n in adj[u]:
            if n not in removed:
                deg[n] -= 1
    assert got == core

    # coreness >= k  <=>  k-core membership, for a couple of k
    for k in (2, 3):
        kc = {r["id"] for r in k_core_ids(g, k).collect()}
        assert kc == {u for u, c in got.items() if c >= k}


def test_rich_club(spark):
    # star 1-{2,3,4} plus edge 2-3 making a triangle among {1,2,3}
    g = LinkGraph.from_edge_list(
        spark, [(0, "1", "2"), (1, "1", "3"), (2, "1", "4"), (3, "2", "3")]
    )
    rows = {r["k"]: r for r in rich_club(g, ks=[0, 1, 2]).collect()}
    # k=0: all 4 nodes, 4 edges -> 2*4/(4*3)
    assert rows[0]["n_nodes"] == 4 and rows[0]["n_edges"] == 4
    assert rows[0]["phi"] == pytest.approx(8 / 12)
    # k=1: nodes {1,2,3} (deg 3,2,2), edges among them = 3 -> phi 1.0
    assert rows[1]["n_nodes"] == 3 and rows[1]["n_edges"] == 3
    assert rows[1]["phi"] == pytest.approx(1.0)
    # k=2: only node 1 -> undefined, reported 0
    assert rows[2]["n_nodes"] == 1 and rows[2]["phi"] == 0.0


def test_domain_mix_uniform_target(spark):
    from linkgraph.pipeline.sampling import domain_mix

    docs = spark.createDataFrame(
        [
            (0, "a b c", "en"),
            (1, "d e f", "en"),
            (2, "x y", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = {r["domain"]: r for r in domain_mix(docs).collect()}
    assert rows["en"]["n_docs"] == 2 and rows["en"]["n_tokens"] == 6
    assert rows["fr"]["n_tokens"] == 2
    assert rows["en"]["token_share"] == pytest.approx(0.75)
    # uniform target 0.5 each: weight = target/share
    assert rows["en"]["weight"] == pytest.approx(0.5 / 0.75)
    assert rows["fr"]["weight"] == pytest.approx(0.5 / 0.25)


def test_domain_mix_explicit_target_drops_unlisted(spark):
    from linkgraph.pipeline.sampling import domain_mix

    docs = spark.createDataFrame(
        [(0, "a b", "en"), (1, "c d", "fr")],
        "doc_id long, text string, lang string",
    )
    rows = {r["domain"]: r for r in domain_mix(docs, target={"en": 1.0}).collect()}
    assert rows["en"]["weight"] == pytest.approx(1.0 / 0.5)
    assert rows["fr"]["weight"] == 0.0


def test_user_sessions_gap_boundary(spark):
    from linkgraph.streaming import user_sessions

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(s):
        return base + dt.timedelta(seconds=s)

    events = spark.createDataFrame(
        [
            (0, at(0), 1, "click", 1.0, "{}"),
            (1, at(10), 1, "click", 2.0, "{}"),
            (2, at(40), 1, "click", 4.0, "{}"),   # exactly gap after 10 -> MERGES
            (3, at(71), 1, "click", 8.0, "{}"),   # 31s after 40 -> new session
            (4, at(5), 2, "buy", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    rows = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in user_sessions(events, gap="30 seconds").collect()
    }
    base_ms = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000
    assert rows == {
        (1, base_ms): (3, 7.0),
        (1, base_ms + 71_000): (1, 8.0),
        (2, base_ms + 5_000): (1, 1.0),
    }


def test_user_sessions_streaming_available_now(spark, tmp_path):
    from linkgraph.streaming import read_event_stream, run_available_now, user_sessions

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    p = str(tmp_path / "sess_in")
    spark.createDataFrame(
        [
            (0, base, 1, "click", 1.0, "{}"),
            (1, base + dt.timedelta(seconds=10), 1, "click", 2.0, "{}"),
            (2, base + dt.timedelta(hours=2), 1, "click", 4.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("append").parquet(p)
    stream = read_event_stream(spark, p).withWatermark("ts", "1 hour")
    out = run_available_now(
        user_sessions(stream, gap="30 seconds"),
        str(tmp_path / "ck_sess"),
        output_mode="complete",
    )
    got = {r["session_start"]: r["n_events"] for r in out.collect()}
    base_ms = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000
    assert got == {base_ms: 2, base_ms + 7_200_000: 1}


def test_neighborhood_function_and_effective_diameter(spark):
    from linkgraph.algorithms import effective_diameter, neighborhood_function

    g = LinkGraph.from_edge_list(
        spark, [(0, "1", "2"), (1, "2", "3"), (2, "3", "4"), (3, "4", "5")]
    )
    hist = {r["dist"]: (r["n_pairs"], r["cum_pairs"])
            for r in neighborhood_function(g, first_k=2).collect()}
    # seeds {1,2} on the path 1-2-3-4-5:
    # d1: 1->2, 2->1, 2->3 ; d2: 1->3, 2->4 ; d3: 1->4, 2->5 ; d4: 1->5
    assert hist == {1: (3, 3), 2: (2, 5), 3: (2, 7), 4: (1, 8)}
    # N(max)=8, target 7.2: interpolate inside the d=4 bucket (prev cum 7)
    assert effective_diameter(g, percentile=0.9, first_k=2) == pytest.approx(3.2)


def test_markov_stationary_via_weighted_pagerank(spark):
    # per-event multiplicities ARE the transition weights; damping=1.0 is
    # the teleport-free power iteration with uniform sink redistribution
    events = [
        ("A", "B"), ("A", "B"), ("A", "C"),
        ("B", "A"), ("B", "C"),
        # C is a sink
    ]
    df = spark.createDataFrame(
        [(s, d, i, 1.0) for i, (s, d) in enumerate(events)],
        "src string, dst string, time long, w double",
    )
    g = LinkGraph(df)
    got = {
        r["name"]: r["score"]
        for r in weighted_pagerank(g, "w", max_iter=40, damping=1.0).collect()
    }

    nodes = ["A", "B", "C"]
    idx = {n: i for i, n in enumerate(nodes)}
    W = np.zeros((3, 3))
    for s, d in events:
        W[idx[s], idx[d]] += 1.0
    strength = W.sum(axis=1)
    x = np.full(3, 1 / 3)
    for _ in range(40):
        sink_mass = x[strength == 0].sum()
        contrib = np.zeros(3)
        for i in range(3):
            if strength[i] > 0:
                contrib += x[i] * W[i] / strength[i]
        x = contrib + sink_mass / 3
    for n in nodes:
        assert got[n] == pytest.approx(x[idx[n]], rel=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_decayed_pagerank_matches_numpy(spark):
    from linkgraph.algorithms import decayed_pagerank

    H = 100
    events = [
        ("1", "2", 350), ("1", "2", 50),   # ages 0 and 300 -> 0.5^0 + 0.5^3
        ("1", "3", 250),                    # age 100 -> 0.5^1
        ("2", "3", 340),                    # age 10 -> 0.5^0
        ("3", "1", 150),                    # age 200 -> 0.5^2
    ]
    df = spark.createDataFrame(events, "src string, dst string, time long")
    g = LinkGraph(df)
    got = {
        r["name"]: r["score"]
        for r in decayed_pagerank(g, halflife_ms=H, max_iter=20).collect()
    }

    tmax = 350
    nodes = ["1", "2", "3"]
    idx = {n: i for i, n in enumerate(nodes)}
    W = np.zeros((3, 3))
    for s, d, t in events:
        W[idx[s], idx[d]] += 0.5 ** ((tmax - t) // H)
    strength = W.sum(axis=1)
    x = np.full(3, 1 / 3)
    for _ in range(20):
        sink_mass = x[strength == 0].sum()
        contrib = np.zeros(3)
        for i in range(3):
            if strength[i] > 0:
                contrib += x[i] * W[i] / strength[i]
        x = 0.05 + 0.85 * (contrib + sink_mass / 3)
    for n in nodes:
        assert got[n] == pytest.approx(x[idx[n]], rel=1e-12)


@pytest.mark.parametrize(
    "case",
    [
        test_weighted_pagerank_matches_numpy,
        test_weighted_pagerank_uniform_weights_equals_pagerank,
        test_markov_stationary_via_weighted_pagerank,
        test_decayed_pagerank_matches_numpy,
    ],
    ids=["weighted", "uniform_weights", "markov_stationary", "decayed"],
)
def test_pagerank_variants_superstep_kernel(spark, monkeypatch, case):
    """The numpy-reference tests above run on the driver-local kernel that
    ``auto`` picks at this size; replay each on the superstep kernel, same
    tolerances."""
    monkeypatch.setattr(
        importlib.import_module("linkgraph.algorithms.pagerank"), "DRIVER_KERNEL_MAX", 0
    )
    case(spark)


def test_degree_and_component_histograms(spark):
    from linkgraph.algorithms.metrics import (
        component_size_histogram,
        degree_histogram,
    )

    # star 1-{2,3,4} plus isolated pair 5-6: degrees 3,1,1,1,1,1
    g = LinkGraph.from_edge_list(
        spark, [(0, "1", "2"), (1, "1", "3"), (2, "1", "4"), (3, "5", "6")]
    )
    dh = {r["degree"]: r["n_nodes"] for r in degree_histogram(g).collect()}
    assert dh == {3: 1, 1: 5}
    ch = {r["size"]: r["n_components"] for r in component_size_histogram(g).collect()}
    assert ch == {4: 1, 2: 1}


def test_onion_layers_k4_tail(spark):
    from linkgraph.algorithms.kcore import onion_layers

    g = LinkGraph.from_edge_list(spark, K4_PLUS_TAIL)
    got = {r["id"]: (r["layer"], r["coreness"]) for r in onion_layers(g).collect()}
    # round 1: k=min deg=1, node 5 peels; round 2: 4's degree stays 3
    # (edge to 5 gone), min deg 3 -> k=3, the K4 peels together
    assert got == {5: (1, 1), 1: (2, 3), 2: (2, 3), 3: (2, 3), 4: (2, 3)}


def test_onion_layers_star_and_path(spark):
    from linkgraph.algorithms.kcore import onion_layers

    # star: leaves layer 1, centre survives at degree 0 and peels layer 2
    star = [(i, "0", str(i + 1)) for i in range(5)]
    g = LinkGraph.from_edge_list(spark, star)
    got = {r["id"]: (r["layer"], r["coreness"]) for r in onion_layers(g).collect()}
    assert got[0] == (2, 1)
    assert all(got[i] == (1, 1) for i in range(1, 6))

    # path 1-2-3-4-5-6: endpoints peel outside-in, one layer per shell
    path = [(i, str(i + 1), str(i + 2)) for i in range(5)]
    g = LinkGraph.from_edge_list(spark, path)
    got = {r["id"]: (r["layer"], r["coreness"]) for r in onion_layers(g).collect()}
    assert got == {1: (1, 1), 6: (1, 1), 2: (2, 1), 5: (2, 1),
                   3: (3, 1), 4: (3, 1)}


def test_onion_coreness_matches_hindex_fixpoint(spark):
    import random

    from linkgraph.algorithms.kcore import coreness, onion_layers

    rng = random.Random(7)
    edges = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(40), rng.randrange(40)) for _ in range(160)
            )
            if a != b
        }
    )
    g = LinkGraph.from_edge_list(
        spark, [(i, str(a), str(b)) for i, (a, b) in enumerate(edges)]
    )
    on = {r["id"]: r["coreness"] for r in onion_layers(g).collect()}
    hx = {r["id"]: r["coreness"] for r in coreness(g).collect()}
    assert on == hx


def test_onion_layers_max_rounds_guard(spark):
    import pytest

    from linkgraph.algorithms.kcore import onion_layers

    path = [(i, str(i + 1), str(i + 2)) for i in range(9)]
    g = LinkGraph.from_edge_list(spark, path)
    with pytest.raises(RuntimeError, match="not converged"):
        onion_layers(g, max_rounds=2)


def test_truss_decomposition_k4_with_tail(spark):
    from itertools import combinations

    from linkgraph.algorithms.kcore import k_truss_edges, truss_decomposition
    from linkgraph.graph import LinkGraph

    # K4 on a..d (trussness 4), a triangle x-y-z sharing node a via edge
    # a-x (trussness 2 for the bridge), tail y-t (trussness 2)
    k4 = [(i, u, v) for i, (u, v) in enumerate(combinations("abcd", 2))]
    tri = [(10, "x", "y"), (11, "y", "z"), (12, "z", "x")]
    extra = [(13, "a", "x"), (14, "y", "t")]
    g = LinkGraph.from_edge_list(spark, k4 + tri + extra)
    id_of = {r["name"]: r["id"] for r in g.ids().collect()}
    got = {
        (r["lo"], r["hi"]): r["trussness"]
        for r in truss_decomposition(g).collect()
    }
    canon = lambda u, v: (min(id_of[u], id_of[v]), max(id_of[u], id_of[v]))
    for u, v in combinations("abcd", 2):
        assert got[canon(u, v)] == 4
    for u, v in [("x", "y"), ("y", "z"), ("z", "x")]:
        assert got[canon(u, v)] == 3
    assert got[canon("a", "x")] == 2 and got[canon("y", "t")] == 2
    # consistency with the fixed-k probe: 4-truss = edges with trussness >= 4
    k4_edges = {(r["lo"], r["hi"]) for r in k_truss_edges(g, 4).collect()}
    assert k4_edges == {e for e, t in got.items() if t >= 4}
