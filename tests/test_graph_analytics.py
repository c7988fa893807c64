"""Bulk graph analytics: known-answer graphs + distributed/local parity."""

from __future__ import annotations

import functools

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F

from eve_graph_spark.operators.graph_analytics import (
    connected_components,
    pagerank,
    triangle_count,
)


def _edges(spark, pairs, symmetric=True):
    rows = list(pairs) + ([(b, a) for a, b in pairs] if symmetric else [])
    return spark.createDataFrame(rows, "src_system_id long, dst_system_id long")


def test_connected_components_two_islands(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_distributed_matches_local(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (11, 12), (3, 4)])
    local = {r["node"]: r["component"] for r in connected_components(e).collect()}
    with forced_distributed():
        dist = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert dist == local


def test_triangle_count_known(spark):
    # triangle 1-2-3 plus a dangling edge: exactly one triangle
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert triangle_count(e).collect()[0]["n_triangles"] == 1


def test_pagerank_mass_and_symmetry(spark):
    # 4-cycle: symmetric graph -> uniform ranks, total mass ~1
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    rows = pagerank(e, iterations=5).collect()
    ranks = [r["rank"] for r in rows]
    assert sum(ranks) == pytest.approx(1.0, abs=1e-6)
    assert max(ranks) - min(ranks) < 1e-12  # symmetry => equal ranks


def test_closeness_centrality_known_graph(spark):
    from eve_graph_spark.operators.graph_analytics import closeness_centrality

    # path graph 1-2-3 (symmetric): middle node is closest to everything
    e = _edges(spark, [(1, 2), (2, 3)])
    got = {r["node"]: r["closeness"] for r in closeness_centrality(e).collect()}
    assert got[2] == 2 / 2  # dists 1+1
    assert got[1] == got[3] == 2 / 3  # dists 1+2


def test_closeness_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import closeness_centrality

    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    local = {r["node"]: r["closeness"] for r in closeness_centrality(e).collect()}
    with forced_distributed():
        dist = {
            r["node"]: r["closeness"]
            for r in closeness_centrality(e, exact=True).collect()
        }
    assert dist == local


def test_closeness_exact_above_threshold_is_loud_opt_in(spark, monkeypatch):
    """Exact all-pairs on an above-threshold graph must raise with
    guidance (O(V) pivots, O(V^2) state) unless exact=True — never run
    silently. landmarks=k stays allowed without the flag."""
    import pytest

    from eve_graph_spark.operators import graph_analytics
    from eve_graph_spark.operators.graph_analytics import closeness_centrality

    # the guard probes the real size (force-exempt): a zero cutover puts
    # every graph above it
    monkeypatch.setattr(graph_analytics, "DRIVER_MAX_EDGES", 0)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    with pytest.raises(ValueError, match="landmarks=k"):
        closeness_centrality(e)
    with forced_distributed():
        assert closeness_centrality(e, landmarks=2).count() > 0


def test_pagerank_hub_ranks_highest(spark):
    # star: everything points at 0 -> 0 gets the highest rank
    e = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src_system_id long, dst_system_id long"
    )
    rows = pagerank(e, iterations=3).collect()
    best = max(rows, key=lambda r: r["rank"])
    assert best["node"] == 0


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_scc_tarjan_and_fwbw_agree(spark):
    # 1->2->3->1 cycle, 4->5 chain hanging off it, 6<->7 mutual pair:
    # SCCs {1,2,3}, {4}, {5}, {6,7}. Direction-blind components would
    # merge 1..5 — this pins that direction matters.
    from eve_graph_spark.operators.graph_analytics import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 7), (7, 6)],
        "src_system_id long, dst_system_id long",
    )
    expect = {(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 6), (7, 6)}
    driver = {
        (r["node"], r["scc"])
        for r in strongly_connected_components(edges).collect()
    }
    assert driver == expect
    with forced_distributed():
        dist = {
            (r["node"], r["scc"])
            for r in strongly_connected_components(edges).collect()
        }
    assert dist == expect


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_scc_dag_resolved_by_trim_not_pivots(spark):
    # A 12-node DAG chain has 12 singleton SCCs. The old FW-BW peeled one
    # SCC per driver round-trip; trim-to-fixpoint must resolve the whole
    # DAG with ZERO pivot rounds — pinned by max_pivots=0 succeeding.
    from eve_graph_spark.operators.graph_analytics import (
        strongly_connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src_system_id long, dst_system_id long"
    )
    with forced_distributed():
        got = {
            (r["node"], r["scc"])
            for r in strongly_connected_components(
                chain, max_pivots=0
            ).collect()
        }
    assert got == {(i, i) for i in range(13)}

    # Cycle + tail: one pivot round for the cycle, trim for the tail.
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)],
        "src_system_id long, dst_system_id long",
    )
    with forced_distributed():
        got = {
            (r["node"], r["scc"])
            for r in strongly_connected_components(
                cyc, max_pivots=1
            ).collect()
        }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)}

    # Never a silently-partial mapping: two disjoint cycles but only one
    # pivot round allowed -> loud failure, not missing nodes.
    two = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], "src_system_id long, dst_system_id long"
    )
    with pytest.raises(RuntimeError, match="unassigned"):
        with forced_distributed():
            strongly_connected_components(two, max_pivots=1)


def test_label_propagation_two_cliques_bridge(spark):
    from eve_graph_spark.operators.graph_analytics import label_propagation

    # two K4 cliques {1..4} and {10..13} joined by one bridge 4-10:
    # LPA floods each clique with its min label; the bridge can't flip
    # anyone (clique-internal majority always wins 2-vs-1).
    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    k4b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    e = _edges(spark, k4a + k4b + [(4, 10)])
    got = {r["node"]: r["community"] for r in label_propagation(e, iterations=10).collect()}
    assert {got[n] for n in (1, 2, 3)} == {1}
    assert {got[n] for n in (11, 12, 13)} == {10}
    assert len({got[n] for n in got}) == 2


def test_label_propagation_distributed_matches_local(spark):
    import random

    from eve_graph_spark.operators.graph_analytics import label_propagation

    rng = random.Random(7)
    pairs = {(rng.randrange(30), rng.randrange(30)) for _ in range(60)}
    pairs = [(a, b) for a, b in pairs if a != b]
    e = _edges(spark, pairs)
    local = {r["node"]: r["community"] for r in label_propagation(e, iterations=4).collect()}
    with forced_distributed():
        dist = {
            r["node"]: r["community"]
            for r in label_propagation(e, iterations=4).collect()
        }
    assert dist == local


def test_label_propagation_isolated_direction_keeps_label(spark):
    from eve_graph_spark.operators.graph_analytics import label_propagation

    # directed edge 1->2 only: node 1 has no in-neighbors, keeps label 1
    e = _edges(spark, [(1, 2)], symmetric=False)
    got = {r["node"]: r["community"] for r in label_propagation(e, iterations=3).collect()}
    assert got[1] == 1 and got[2] == 1


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_star_cc_matches_label_cc(spark):
    from eve_graph_spark.operators.graph_analytics import connected_components

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (12, 12)])
    ref = {r["node"]: r["component"]
           for r in connected_components(e).collect()}
    for algo in ("label", "star"):
        st: dict = {}
        with forced_distributed():
            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    e, algorithm=algo, stats_out=st
                ).collect()
            }
        assert got == ref, algo


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_star_cc_chain_converges_in_log_rounds(spark):
    """The reason star exists: a 2,000-node path has diameter 1,999 — the
    min-label loop would need ~2,000 supersteps; star contraction must
    finish in O(log n) rounds."""
    from eve_graph_spark.operators.graph_analytics import connected_components

    n = 2000
    e = _edges(spark, [(i, i + 1) for i in range(n - 1)])
    st: dict = {}
    with forced_distributed():
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                e, algorithm="star", stats_out=st
            ).collect()
        }
    assert got == {i: 0 for i in range(n)}
    assert st["iterations"] <= 15, st


def test_auto_cc_uses_label_on_low_diameter(spark):
    from eve_graph_spark.operators.graph_analytics import connected_components

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    st: dict = {}
    with forced_distributed():
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                e, algorithm="auto", stats_out=st
            ).collect()
        }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert st["algorithm"] == "label"  # converged inside the budget, no switch
    assert "star_rounds" not in st


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_auto_cc_switches_to_star_on_chain(spark):
    """r6 verdict item 4: a chain-shaped topology (diameter >> budget) must
    flip auto to star contraction, bounding the run at
    AUTO_LABEL_BUDGET + O(log n) rounds instead of O(diameter)."""
    from eve_graph_spark.operators.graph_analytics import (
        AUTO_LABEL_BUDGET,
        connected_components,
    )

    n = 2000
    e = _edges(spark, [(i, i + 1) for i in range(n - 1)])
    star_st: dict = {}
    with forced_distributed():
        connected_components(
            e, algorithm="star", stats_out=star_st
        ).collect()
    st: dict = {}
    with forced_distributed():
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                e, algorithm="auto", stats_out=st
            ).collect()
        }
    assert got == {i: 0 for i in range(n)}
    assert st["algorithm"] == "star"
    assert st["label_supersteps"] == AUTO_LABEL_BUDGET
    assert st["iterations"] <= 2 * star_st["iterations"] + AUTO_LABEL_BUDGET, st


def test_cc_rejects_unknown_algorithm(spark):
    import pytest

    from eve_graph_spark.operators.graph_analytics import connected_components

    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(e, algorithm="Star")


def test_diameter_estimate_unit_weight_equals_hop(spark, sf_dir):
    """The weighted double-sweep with a constant weight of 1 must agree
    with the hop-only sweep (the graph_diameter_estimate registered query)
    on the chokepoint subgraph — same peak, same eccentricity, same bound."""
    from pyspark.sql import functions as F

    from eve_graph_spark.operators.graph_analytics import diameter_estimate
    from eve_graph_spark.queries import graph_diameter_estimate
    from eve_graph_spark.sources.graph_fixture import build_choke_edges

    choke = build_choke_edges(spark, sf_dir).withColumn("unit", F.lit(1.0))
    [w] = diameter_estimate(choke, start=0, weight_col="unit").collect()
    [hop] = diameter_estimate(choke, start=0).collect()
    [q] = graph_diameter_estimate(spark, sf_dir).collect()
    assert (w["sweep_peak"], w["ecc_start"], w["diameter_lb"]) == (
        hop["sweep_peak"], hop["ecc_start"], hop["diameter_lb"],
    )
    assert (w["sweep_peak"], int(w["ecc_start"]), int(w["diameter_lb"])) == (
        q["sweep_peak"], q["ecc_start"], q["diameter_lb"],
    )


def test_diameter_estimate_weighted_on_weighted_path(spark):
    """Hand graph where hop and weighted sweeps disagree: 0-1-2 heavy path
    vs 0-3 light spur. Hop diameter peak differs from weighted peak."""
    from eve_graph_spark.operators.graph_analytics import diameter_estimate

    rows = [(0, 1, 10.0), (1, 2, 10.0), (0, 3, 1.0)]
    e = spark.createDataFrame(
        rows + [(b, a, w) for a, b, w in rows], "src long, dst long, w double"
    )
    [got] = diameter_estimate(e, start=3, weight_col="w").collect()
    # farthest from 3 by weight is 2 (cost 21); sweep back gives 21 again
    assert got["sweep_peak"] == 2 and got["ecc_start"] == 21.0
    assert got["diameter_lb"] == 21.0
    [hop] = diameter_estimate(e, start=3).collect()
    assert hop["ecc_start"] == 3.0 and hop["diameter_lb"] == 3.0


def test_node_similarity_hand_graph(spark):
    """Hand graph: out-neighborhoods N(1)={10,11}, N(2)={10,11,12},
    N(3)={12}. J(1,2)=2/3, J(2,3)=1/3, J(1,3)=0 (no shared neighbor —
    the pair must be ABSENT, not 0)."""
    from pyspark.sql import functions as F

    from eve_graph_spark.operators.graph_analytics import node_similarity

    e = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (2, 12), (3, 12)],
        "src long, dst long",
    )
    rows = {(r["node"], r["other"]): r for r in node_similarity(e).collect()}
    assert set(rows) == {(1, 2), (2, 1), (2, 3), (3, 2)}
    assert rows[(1, 2)]["inter"] == 2 and rows[(1, 2)]["union"] == 3
    assert rows[(1, 2)]["jaccard_fp"] == 666666  # floor(1e6 * 2/3)
    assert rows[(2, 3)]["jaccard_fp"] == 333333
    # symmetric pairs carry identical stats
    assert rows[(2, 1)]["jaccard_fp"] == rows[(1, 2)]["jaccard_fp"]
    # top-1: node 2's most similar peer is 1 (2/3 beats 1/3)
    top1 = {
        r["node"]: r["other"]
        for r in node_similarity(e, top_k=1).filter(F.col("rank") == 1).collect()
    }
    assert top1 == {1: 2, 2: 1, 3: 2}


# --- rank family: driver executor vs DataFrame executor ----------------------
# Each spec runs on its own pin graph, on a graph with a dangling node (4),
# a parallel edge (1→2) and a self-loop (2→2), and with iterations=0; the
# default (driver) branch must equal the forced-distributed arm bit-for-bit.

_RANK_ODD = [(1, 2), (1, 2), (2, 2), (2, 3), (3, 1), (3, 4)]
_RANK_CASES = [
    # (spec, pin edges, symmetric, iterations)
    ("pagerank", [(1, 2), (2, 3), (3, 1), (3, 4)], True, 3),
    ("personalized_pagerank", [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], True, 3),
    ("article_rank", [(1, 2), (2, 3), (3, 1), (3, 4)], True, 3),
    ("eigenvector", [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], True, 3),
    ("hits", [(0, 1), (1, 2), (2, 0), (2, 3)], False, 2),
]


@pytest.mark.parametrize("graph", ["pin", "odd", "iterations0"])
@pytest.mark.parametrize("spec, pin, symmetric, iterations", _RANK_CASES,
                         ids=[c[0] for c in _RANK_CASES])
def test_rank_family_branch_parity(spark, spec, pin, symmetric, iterations, graph):
    from eve_graph_spark.operators import graph_analytics as ga

    run = {
        "pagerank": ga.pagerank,
        "personalized_pagerank": functools.partial(ga.pagerank, sources=[1, 4]),
        "article_rank": ga.article_rank,
        "eigenvector": ga.eigenvector_centrality,
        "hits": ga.hits,
    }[spec]
    if graph == "pin":
        e = _edges(spark, pin, symmetric=symmetric)
    else:
        e = _edges(spark, _RANK_ODD, symmetric=False)
        iterations = 0 if graph == "iterations0" else iterations
    local = sorted(tuple(r) for r in run(e, iterations=iterations).collect())
    with forced_distributed():
        dist = sorted(tuple(r) for r in run(e, iterations=iterations).collect())
    assert dist == local  # bit-identical fixed-point supersteps
    if spec == "hits" and iterations == 0:
        assert {r[1:] for r in local} == {(1.0, 0.0)}  # hub0 = 1, authority0 = 0


# --- eigenvector / HITS / LCC / community metrics / personalized PR ----------


def test_eigenvector_hand_graph(spark):
    from eve_graph_spark.operators.graph_analytics import eigenvector_centrality

    # triangle 0-1-2 plus pendant 2-3: the well-connected triangle corner 2
    # scores highest, the pendant lowest; scores are L2-normalized
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    got = {r["node"]: r["score"] for r in eigenvector_centrality(e, iterations=3).collect()}
    assert got[2] > got[0] == got[1] > got[3] > 0
    assert sum(v * v for v in got.values()) == pytest.approx(1.0, abs=1e-6)


def test_hits_asymmetric_semantics(spark):
    from eve_graph_spark.operators.graph_analytics import hits

    # pure directed star 0→{1,2,3}: node 0 is the only hub (authority 0),
    # targets are pure authorities (hub 0)
    e = _edges(spark, [(0, 1), (0, 2), (0, 3)], symmetric=False)
    got = {r["node"]: (r["hub"], r["authority"]) for r in hits(e, iterations=2).collect()}
    assert got[0][0] == pytest.approx(1.0, abs=1e-6) and got[0][1] == 0.0
    for v in (1, 2, 3):
        assert got[v][0] == 0.0 and got[v][1] == pytest.approx(1.0 / 3**0.5, abs=1e-6)


def test_local_clustering_known_values(spark):
    from eve_graph_spark.operators.graph_analytics import local_clustering_coefficient

    # triangle 0-1-2 + pendant 2-3: lcc(0)=lcc(1)=1, lcc(2)=1/3, lcc(3)=0
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    got = {
        r["node"]: (r["degree"], r["triangles"], r["lcc_fp"])
        for r in local_clustering_coefficient(e).collect()
    }
    assert got == {
        0: (2, 1, 1_000_000),
        1: (2, 1, 1_000_000),
        2: (3, 1, 333_333),
        3: (1, 0, 0),
    }


def test_community_metrics_two_cliques_bridge(spark):
    from eve_graph_spark.operators.graph_analytics import community_metrics

    # two triangles {0,1,2} and {3,4,5} joined by one undirected bridge 2-3
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)])
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 3)], "node long, community long"
    )
    got = {
        r["community"]: r
        for r in community_metrics(e, labels).collect()
    }
    # m = 14 directed edges; each community: 6 internal, 1 out, 1 in
    for c in (0, 3):
        r = got[c]
        assert (r["nodes"], r["internal"], r["outgoing"], r["incoming"]) == (3, 6, 1, 1)
        # conductance = 1 / min(7, 14-7) = 1/7
        assert r["conductance_fp"] == 142_857
        # modularity = 6/14 - (7*7)/196 = 0.178571...
        assert r["modularity_fp"] == 178_571


def test_personalized_pagerank_mass_on_sources(spark):
    from eve_graph_spark.operators.graph_analytics import pagerank

    # symmetric path 1..8, teleport pinned to node 1, 3 iterations. On a
    # bipartite path the mass oscillates between parity layers, so
    # monotone-decay assertions are unsound — the robust PPR signatures
    # are REACH (zero teleport means zero rank beyond `iterations` hops)
    # and source-anchoring (the source keeps its base mass every step).
    e = _edges(spark, [(i, i + 1) for i in range(1, 8)])
    got = {r["node"]: r["rank"] for r in pagerank(e, iterations=3, sources=[1]).collect()}
    for far in (5, 6, 7, 8):
        assert got[far] == 0.0  # > 3 hops from the only teleport target
    assert got[1] > 0.15 * 0.9  # base (1-d)/|S| is pinned to the source
    assert got[4] > 0.0
    # uniform pagerank spreads base mass everywhere — no zero-rank nodes
    uni = {r["node"]: r["rank"] for r in pagerank(e, iterations=3).collect()}
    assert min(uni.values()) > 0.0


def test_property_graph_new_gds_veneers(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(0,), (1,), (2,), (3,)], "id long")
    e = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0), (2, 3), (3, 2)],
        "src long, dst long",
    )
    g = PropertyGraph(v, e)
    assert g.eigenvectorCentrality().count() == 4
    hrows = g.hits().collect()
    assert {r["node"] for r in hrows} == {0, 1, 2, 3}
    assert g.localClusteringCoefficient().count() == 4
    labels = spark.createDataFrame([(0, 0), (1, 0), (2, 0), (3, 3)], "node long, community long")
    cm = {r["community"]: r for r in g.communityMetrics(labels).collect()}
    assert cm[0]["internal"] == 6 and cm[0]["outgoing"] == 1
    ppr = {r["node"]: r["rank"] for r in g.personalizedPageRank([3]).collect()}
    # degree-1 source 3 pours its rank into neighbor 2 each step, so 2
    # peaks; the personalization signature is the source beating the
    # symmetric far corners, which hold no teleport mass
    assert ppr[2] == max(ppr.values())
    assert ppr[3] > ppr[0] == ppr[1]


# --- minimum spanning forest (Borůvka) ---------------------------------------


def _wedges(spark, rows):
    sym = rows + [(b, a, w) for a, b, w in rows]
    return spark.createDataFrame(sym, "src_system_id long, dst_system_id long, risk double")


def test_mst_known_answer(spark):
    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    # square 1-2-3-4 with diagonal 1-3: MST = {1-2, 2-3, 3-4}, skips 4-1(5) and 1-3(3)
    e = _wedges(spark, [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 1.0), (4, 1, 5.0), (1, 3, 3.0)])
    got = sorted((r["src"], r["dst"], r["weight_fp"])
                 for r in minimum_spanning_forest(e).collect())
    assert got == [(1, 2, 1_000_000), (2, 3, 2_000_000), (3, 4, 1_000_000)]


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_mst_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    e = _wedges(spark, [(1, 2, 1.0), (2, 3, 2.0), (3, 4, 1.0), (4, 1, 5.0),
                        (1, 3, 3.0), (4, 5, 0.5), (5, 6, 9.0), (6, 1, 0.25)])
    loc = sorted(tuple(r) for r in minimum_spanning_forest(e).collect())
    with forced_distributed():
        dist = sorted(tuple(r) for r in
                      minimum_spanning_forest(e).collect())
    assert loc == dist and len(loc) == 5  # 6 nodes connected -> 5 edges


def test_mst_forest_on_disconnected_graph(spark):
    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    e = _wedges(spark, [(1, 2, 1.0), (3, 4, 2.0)])
    got = sorted((r["src"], r["dst"]) for r in minimum_spanning_forest(e).collect())
    assert got == [(1, 2), (3, 4)]


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_mst_equal_weight_tiebreak_deterministic(spark):
    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    # all weights equal: the (wfp, src, dst) total order still pins a
    # unique forest, identically on both code paths
    e = _wedges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0), (4, 1, 1.0)])
    loc = sorted(tuple(r) for r in minimum_spanning_forest(e).collect())
    with forced_distributed():
        dist = sorted(tuple(r) for r in
                      minimum_spanning_forest(e).collect())
    assert loc == dist and len(loc) == 3


def test_property_graph_spanning_tree(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 2.0), (3, 2, 2.0), (1, 3, 9.0), (3, 1, 9.0)],
        "src long, dst long, weight double",
    )
    got = sorted((r["src"], r["dst"]) for r in PropertyGraph(v, e).spanningTree().collect())
    assert got == [(1, 2), (2, 3)]


# --- DAG analytics -----------------------------------------------------------


def test_dag_longest_path_diamond(spark):
    from eve_graph_spark.operators.graph_analytics import dag_longest_paths

    # diamond 1→{2,3}→4 plus tail 4→5; heavy branch through 3
    e = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 5.0), (2, 4, 1.0), (3, 4, 1.0), (4, 5, 2.0)],
        "src_system_id long, dst_system_id long, risk double",
    )
    got = {
        r["node"]: (r["topo_level"], r["longest_dist_fp"])
        for r in dag_longest_paths(e, weight_col="risk").collect()
    }
    assert got == {
        1: (0, 0), 2: (1, 1_000_000), 3: (1, 5_000_000),
        4: (2, 6_000_000), 5: (3, 8_000_000),
    }


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_dag_longest_path_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import dag_longest_paths

    e = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 5.0), (2, 4, 1.0), (3, 4, 1.0), (4, 5, 2.0), (2, 5, 0.5)],
        "src_system_id long, dst_system_id long, risk double",
    )
    loc = sorted(tuple(r) for r in dag_longest_paths(e, weight_col="risk").collect())
    with forced_distributed():
        dist = sorted(tuple(r) for r in
                      dag_longest_paths(e, weight_col="risk").collect())
    assert loc == dist


def test_dag_unweighted_dist_equals_level(spark):
    from eve_graph_spark.operators.graph_analytics import dag_longest_paths

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src_system_id long, dst_system_id long"
    )
    for r in dag_longest_paths(e).collect():
        assert r["topo_level"] == r["longest_dist_fp"]


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_dag_rejects_cycles_both_paths(spark):
    from eve_graph_spark.operators.graph_analytics import dag_longest_paths

    c = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)],
        "src_system_id long, dst_system_id long, risk double",
    )
    with pytest.raises(ValueError, match="cycle"):
        dag_longest_paths(c, weight_col="risk")
    with pytest.raises(ValueError, match="cycle"):
        with forced_distributed():
            dag_longest_paths(c, weight_col="risk", max_iterations=8)


def test_property_graph_dag_longest_path(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    got = {r["node"]: r["topo_level"]
           for r in PropertyGraph(v, e).dagLongestPath().collect()}
    assert got == {1: 0, 2: 1, 3: 2}


# --- k-truss -----------------------------------------------------------------


def test_ktruss_k4_keeps_only_the_k4(spark):
    from eve_graph_spark.operators.graph_analytics import k_truss

    # K4 on {1..4} + pendant triangle {4,5,6} + chain 6-7: in the 4-truss
    # every edge needs 2 in-subgraph triangles -> only the K4 survives,
    # each edge supported by the other two K4 corners
    pairs = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    pairs += [(4, 5), (5, 6), (4, 6), (6, 7)]
    e = _edges(spark, pairs)
    got = sorted((r["src"], r["dst"], r["support"]) for r in k_truss(e, k=4).collect())
    assert got == [(1, 2, 2), (1, 3, 2), (1, 4, 2), (2, 3, 2), (2, 4, 2), (3, 4, 2)]
    # k=3 keeps every triangle edge (9 of them) and peels the chain
    got3 = sorted((r["src"], r["dst"]) for r in k_truss(e, k=3).collect())
    assert len(got3) == 9 and (6, 7) not in got3 and (4, 5) in got3


def test_ktruss_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import k_truss

    pairs = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    pairs += [(4, 5), (5, 6), (4, 6), (6, 7), (7, 8)]
    e = _edges(spark, pairs)
    loc = sorted(tuple(r) for r in k_truss(e, k=3).collect())
    with forced_distributed():
        dist = sorted(tuple(r) for r in k_truss(e, k=3).collect())
    assert loc == dist


def test_ktruss_cascading_peel(spark):
    from eve_graph_spark.operators.graph_analytics import k_truss

    # two triangles sharing edge 2-3: {1,2,3} and {2,3,4}. In the 4-truss
    # the outer edges have support 1 and peel first; the shared edge 2-3
    # then loses both triangles and peels in a SECOND round -> empty truss.
    # Pins that the peel iterates to fixpoint instead of filtering once.
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    assert k_truss(e, k=4).count() == 0
    with forced_distributed():
        assert k_truss(e, k=4).count() == 0


def test_ktruss_rejects_trivial_k(spark):
    from eve_graph_spark.operators.graph_analytics import k_truss

    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError, match="k >= 3"):
        k_truss(e, k=2)


def test_mesh_fixture_has_triangles(spark, sf_dir):
    # the mesh overlay exists precisely to de-degenerate the triangle
    # operators: the base jump graph is triangle-free (region = id % 5),
    # the mesh closes 3 hub-member-member triangles per region
    from eve_graph_spark.operators.graph_analytics import triangle_count
    from eve_graph_spark.sources.graph_fixture import build_jumps, build_mesh_edges

    base = build_jumps(spark, sf_dir, with_risk=False)
    assert triangle_count(base).collect()[0]["n_triangles"] == 0
    mesh = build_mesh_edges(spark, sf_dir)
    assert triangle_count(mesh, src_col="src_system_id", dst_col="dst_system_id"
                          ).collect()[0]["n_triangles"] > 0


def test_node_similarity_all_metrics_hand_values(spark):
    from eve_graph_spark.operators.graph_analytics import node_similarity

    # out-neighbors: 1 -> {10, 11, 12}; 2 -> {10, 11}: inter=2,
    # jaccard=2/3, overlap=2/min(3,2)=1, cosine=2/sqrt(6)
    e = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11)], "src long, dst long"
    )
    rows = node_similarity(e, src_col="src", dst_col="dst",
                           include_all_metrics=True).collect()
    r = {(x["node"], x["other"]): x for x in rows}[(1, 2)]
    assert (r["inter"], r["union"]) == (2, 3)
    assert r["jaccard_fp"] == 666_666
    assert r["overlap_fp"] == 1_000_000
    assert r["cosine_fp"] == 816_496  # floor(1e6 * 2/sqrt(6))


# --- Louvain -----------------------------------------------------------------


def test_louvain_two_cliques(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    # two K4 cliques joined by a bridge: each clique collapses into one
    # community, and the two communities stay distinct
    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    k4b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    e = _edges(spark, k4a + k4b + [(4, 10)])
    got = {r["node"]: r["community"] for r in louvain(e, rounds=4).collect()}
    ca = {got[n] for n in (1, 2, 3, 4)}
    cb = {got[n] for n in (10, 11, 12, 13)}
    assert len(ca) == 1 and len(cb) == 1 and ca != cb


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_louvain_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = _edges(spark, k4a + [(4, 10), (10, 11), (11, 12), (12, 10)])
    loc = {r["node"]: r["community"] for r in louvain(e, rounds=4).collect()}
    with forced_distributed():
        dist = {
            r["node"]: r["community"]
            for r in louvain(e, rounds=4).collect()
        }
    assert loc == dist


def test_louvain_partition_has_positive_modularity(spark):
    from eve_graph_spark.operators.graph_analytics import community_metrics, louvain

    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    k4b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    e = _edges(spark, k4a + k4b + [(4, 10)])
    labels = louvain(e, rounds=4).withColumnRenamed("community", "community")
    mod = sum(
        r["modularity_fp"]
        for r in community_metrics(e, labels).collect()
    )
    # the clique partition on this graph has modularity ~0.46 -> strongly
    # positive; singleton or one-blob partitions would be <= 0
    assert mod > 300_000


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_property_graph_louvain_and_ktruss(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    e = spark.createDataFrame(k4, "src long, dst long")
    g = PropertyGraph(v, e)
    assert len({r["community"] for r in g.louvain().collect()}) == 1
    assert g.kTruss(k=4).count() == 6


# --- ArticleRank -------------------------------------------------------------


def test_article_rank_damps_hub_endorsements(spark):
    from eve_graph_spark.operators.graph_analytics import article_rank

    # x is endorsed by a degree-1 node, y by a degree-3 hub (plus two
    # throwaway targets). In ArticleRank the hub's endorsement is divided
    # by (3 + avgDeg) vs the loner's (1 + avgDeg) -> x outranks y.
    e = spark.createDataFrame(
        [(1, 100), (2, 200), (2, 201), (2, 202)],
        "src_system_id long, dst_system_id long",
    )
    got = {r["node"]: r["rank"] for r in article_rank(e, iterations=3).collect()}
    assert got[100] > got[200]


def test_article_rank_differs_from_pagerank(spark):
    from eve_graph_spark.operators.graph_analytics import article_rank, pagerank

    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    ar = {r["node"]: r["rank"] for r in article_rank(e, iterations=3).collect()}
    pr = {r["node"]: r["rank"] for r in pagerank(e, iterations=3).collect()}
    assert ar != pr


def test_property_graph_article_rank(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    e = spark.createDataFrame([(i, 1) for i in range(2, 6)], "src long, dst long")
    rows = PropertyGraph(v, e).articleRank().collect()
    assert max(rows, key=lambda r: r["rank"])["node"] == 1


# --- FastRP ------------------------------------------------------------------


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_fastrp_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import fastrp_embeddings

    pairs = [(a, b) for a in range(8) for b in range(8) if a < b and (a + b) % 3 != 0]
    e = _edges(spark, pairs + [(0, 8), (8, 9)])
    loc = {r["node"]: tuple(r)[1:] for r in fastrp_embeddings(e).collect()}
    with forced_distributed():
        dist = {
            r["node"]: tuple(r)[1:]
            for r in fastrp_embeddings(e).collect()
        }
    assert loc == dist  # bit-identical fixed-point + pinned-order float ops


def test_fastrp_unit_norm_and_determinism(spark):
    from eve_graph_spark.operators.graph_analytics import fastrp_embeddings

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)])
    a = {r["node"]: tuple(r)[1:] for r in fastrp_embeddings(e).collect()}
    b = {r["node"]: tuple(r)[1:] for r in fastrp_embeddings(e).collect()}
    assert a == b  # no hidden random state
    for node, vec in a.items():
        s = sum(x * x for x in vec)
        assert abs(s - 1.0) < 1e-9 or s == 0.0
    # nodes 2 and 4 have IDENTICAL neighborhoods {1, 3}: mean aggregation
    # maps them to the same embedding (the iterate sum excludes the init
    # vector, GDS iterationWeights=[0,1,1] semantics) — a structural
    # equivalence, not a collision. Distinct-neighborhood nodes differ.
    assert a[2] == a[4]
    assert len({a[1], a[2], a[3]}) == 3


def test_property_graph_fastrp(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)], "src long, dst long"
    )
    out = PropertyGraph(v, e).fastRP(dim=4)
    assert out.columns == ["node", "e0", "e1", "e2", "e3"]
    assert out.count() == 4


def test_louvain_weighted_overrides_topology(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    # 6-cycle with two heavy chords: unweighted Louvain sees a symmetric
    # ring; with weights the heavy edges (1-2, 4-5) dominate modularity
    # and must land inside communities, never across them.
    rows = [(1, 2, 100.0), (2, 3, 1.0), (3, 4, 1.0),
            (4, 5, 100.0), (5, 6, 1.0), (6, 1, 1.0)]
    sym = rows + [(b, a, w) for a, b, w in rows]
    e = spark.createDataFrame(sym, "src_system_id long, dst_system_id long, risk double")
    got = {r["node"]: r["community"]
           for r in louvain(e, rounds=4, weight_col="risk").collect()}
    assert got[1] == got[2]
    assert got[4] == got[5]
    assert got[1] != got[4]


def test_louvain_unit_weights_match_unweighted(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    pairs = k4a + [(4, 10), (10, 11), (11, 12), (12, 10)]
    sym = pairs + [(b, a) for a, b in pairs]
    e = spark.createDataFrame(
        [(a, b, 1.0) for a, b in sym],
        "src_system_id long, dst_system_id long, risk double",
    )
    unw = {r["node"]: r["community"] for r in louvain(e, rounds=4).collect()}
    w1 = {r["node"]: r["community"]
          for r in louvain(e, rounds=4, weight_col="risk").collect()}
    assert unw == w1  # weight 1.0 == edge counting, bit-exactly


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_louvain_weighted_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    rows = [(1, 2, 100.0), (2, 3, 1.0), (3, 4, 1.0), (4, 5, 100.0), (5, 1, 2.0)]
    sym = rows + [(b, a, w) for a, b, w in rows]
    e = spark.createDataFrame(sym, "src_system_id long, dst_system_id long, risk double")
    loc = {r["node"]: r["community"]
           for r in louvain(e, rounds=3, weight_col="risk").collect()}
    with forced_distributed():
        dist = {r["node"]: r["community"]
                for r in louvain(e, rounds=3, weight_col="risk").collect()}
    assert loc == dist


# --- K-1 coloring ------------------------------------------------------------


def test_k1_coloring_proper_and_tight(spark):
    from eve_graph_spark.operators.graph_analytics import k1_coloring

    # K4 + pendant + separate triangle: no edge may join equal colors;
    # the K4 needs exactly 4 colors, the triangle exactly 3
    pairs = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    pairs += [(4, 5), (6, 7), (7, 8), (6, 8)]
    e = _edges(spark, pairs)
    got = {r["node"]: r["color"] for r in k1_coloring(e).collect()}
    for a, b in pairs:
        assert got[a] != got[b]
    assert len({got[v] for v in (1, 2, 3, 4)}) == 4
    assert len({got[v] for v in (6, 7, 8)}) == 3


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_k1_coloring_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import k1_coloring

    pairs = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    pairs += [(4, 5), (5, 6), (6, 7), (7, 4)]
    e = _edges(spark, pairs)
    loc = {r["node"]: r["color"] for r in k1_coloring(e).collect()}
    with forced_distributed():
        dist = {r["node"]: r["color"]
                for r in k1_coloring(e).collect()}
    assert loc == dist


def test_k1_coloring_round_budget_is_loud(spark):
    from eve_graph_spark.operators.graph_analytics import k1_coloring

    # a path needs >1 Jones-Plassmann round; max_rounds=1 must raise on
    # BOTH code paths, never return a silently-partial coloring
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    with pytest.raises(RuntimeError, match="uncolored"):
        k1_coloring(e, max_rounds=1)
    with pytest.raises(RuntimeError, match="uncolored"):
        with forced_distributed():
            k1_coloring(e, max_rounds=1)


def test_property_graph_k1_coloring(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(1, 4)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)], "src long, dst long"
    )
    got = {r["node"]: r["color"] for r in PropertyGraph(v, e).k1Coloring().collect()}
    assert sorted(got.values()) == [0, 1, 2]


# --- SLLPA overlapping communities ---------------------------------------------


def test_sllpa_bridge_node_holds_both_memberships(spark):
    from eve_graph_spark.operators.graph_analytics import sllpa

    # two K4 cliques; node 20 bridges into BOTH (two edges each): the
    # whole point of SLLPA over LPA/Louvain is that 20 keeps both labels
    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    k4b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    e = _edges(spark, k4a + k4b + [(20, 1), (20, 2), (20, 10), (20, 11)])
    mem: dict = {}
    for r in sllpa(e).collect():
        mem.setdefault(r["node"], {})[r["label"]] = r["cnt"]
    assert set(mem[20]) == {1, 10}  # overlapping membership
    assert set(mem[1]) == {1} and set(mem[10]) == {10}  # cores stay single


def test_sllpa_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import sllpa

    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = _edges(spark, k4a + [(20, 1), (20, 2), (5, 20), (5, 6), (6, 7), (7, 5)])
    loc = sorted(tuple(r) for r in sllpa(e).collect())
    with forced_distributed():
        dist = sorted(tuple(r) for r in sllpa(e).collect())
    assert loc == dist


def test_property_graph_sllpa(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(1, 4)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)], "src long, dst long"
    )
    out = PropertyGraph(v, e).sllpa()
    assert out.columns == ["node", "label", "cnt"]
    assert out.count() >= 3


def test_mst_is_minimal_vs_spanning_tree_enumeration(spark):
    """Stronger than known-answer: enumerate EVERY spanning tree of a
    small weighted graph and assert Boruvka's forest has the minimum
    total weight among them (and is itself one of them)."""
    from itertools import combinations

    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    und = [(1, 2, 4.0), (1, 3, 1.0), (1, 4, 7.0), (2, 3, 2.0),
           (2, 4, 5.0), (3, 4, 3.0)]  # K4, distinct weights
    got = sorted(
        (r["src"], r["dst"], r["weight_fp"])
        for r in minimum_spanning_forest(_wedges(spark, und), "risk").collect()
    )
    got_edges = {(a, b) for a, b, _ in got}
    got_w = sum(w for _, _, w in got)

    def connected(edges):
        seen, stack = {1}, [1]
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        while stack:
            for nb in adj.get(stack.pop(), []):
                if nb not in seen:
                    seen.add(nb)
                    stack.append(nb)
        return len(seen) == 4

    best = None
    trees = 0
    for combo in combinations(und, 3):
        es = {(a, b) for a, b, _ in combo}
        if connected(es):
            trees += 1
            w = sum(int(wt * 1_000_000) for _, _, wt in combo)
            if best is None or w < best[0]:
                best = (w, es)
    assert trees == 16  # Cayley: n^(n-2) spanning trees of K4
    assert got_w == best[0]
    assert got_edges == best[1]


def test_dag_longest_path_vs_all_paths_enumeration(spark):
    """Every (topo_level, longest_dist) must equal the max over ALL paths
    ending at the node — enumerated exhaustively on a small DAG."""
    from eve_graph_spark.operators.graph_analytics import dag_longest_paths

    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 4, 2.0), (3, 4, 9.0),
             (2, 5, 1.0), (4, 5, 1.0), (3, 5, 2.0)]
    e = spark.createDataFrame(
        edges, "src_system_id long, dst_system_id long, risk double"
    )
    got = {r["node"]: (r["topo_level"], r["longest_dist_fp"])
           for r in dag_longest_paths(e, weight_col="risk").collect()}

    adj_in: dict = {}
    for a, b, w in edges:
        adj_in.setdefault(b, []).append((a, int(w * 1_000_000)))

    def all_paths_ending_at(v):
        # (hops, dist) for every path ending at v, including the empty one
        out = [(0, 0)]
        for u, w in adj_in.get(v, []):
            out += [(h + 1, d + w) for h, d in all_paths_ending_at(u)]
        return out

    for v, (lvl, dist) in got.items():
        paths = all_paths_ending_at(v)
        assert lvl == max(h for h, _ in paths)
        assert dist == max(d for _, d in paths)


def test_forced_distributed_arm_keeps_exact_cost_guards(spark, monkeypatch):
    """The forced-distributed switch only picks an execution strategy: an
    exact all-pairs request on a graph over the driver threshold must
    still raise there, for closeness (hop and weighted) and betweenness
    alike, while a graph under it still runs."""
    from eve_graph_spark.operators import graph, graph_analytics
    from eve_graph_spark.operators.graph_analytics import (
        betweenness_centrality,
        closeness_centrality,
    )

    e = _edges(spark, [(1, 2), (2, 3), (3, 4)]).withColumn("w", F.lit(1.0))
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    graph.clear_probe_cache()
    try:
        with monkeypatch.context() as mp:
            mp.setattr(graph_analytics, "DRIVER_MAX_EDGES", 2)
            with pytest.raises(ValueError, match="landmarks=k"):
                closeness_centrality(e)
            with pytest.raises(ValueError, match="landmarks=k"):
                closeness_centrality(e, weight_col="w")
            with pytest.raises(ValueError, match="sample_sources"):
                betweenness_centrality(e)
        assert closeness_centrality(e, weight_col="w").count() == 4
    finally:
        graph.clear_probe_cache()
