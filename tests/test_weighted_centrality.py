"""Weighted betweenness / closeness (r6 verdict item 3 — GDS
relationshipWeightProperty parity): Dijkstra-sigma forward pass, weighted
Brandes, weighted closeness; driver path vs distributed parity, and
weight-sensitivity checks against hand-computed answers."""

from __future__ import annotations

import random

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F

from eve_graph_spark.operators.graph_analytics import (
    betweenness_centrality,
    closeness_centrality,
    dijkstra_sigma,
)
from eve_graph_spark.sources.graph_fixture import build_jumps


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, w double")


def py_pair_betweenness(triples, nodes):
    """Independent oracle: the PAIR FORMULA over Floyd-Warshall dists and
    DP path counts — a different algorithm than the Brandes accumulation
    under test."""
    inf = float("inf")
    d = {(a, b): (0.0 if a == b else inf) for a in nodes for b in nodes}
    for u, v, w in triples:
        d[(u, v)] = min(d[(u, v)], w)
    for k in nodes:
        for i in nodes:
            for j in nodes:
                if d[(i, k)] + d[(k, j)] < d[(i, j)]:
                    d[(i, j)] = d[(i, k)] + d[(k, j)]
    # sigma via DP over nodes ordered by dist from each source
    sigma = {}
    for s in nodes:
        order = sorted([n for n in nodes if d[(s, n)] < inf], key=lambda n: d[(s, n)])
        sg = {n: 0.0 for n in nodes}
        sg[s] = 1.0
        for n in order:
            if n == s:
                continue
            sg[n] = sum(
                sg[u]
                for u, v, w in triples
                if v == n and d[(s, u)] + w == d[(s, n)]
            )
        for n in nodes:
            sigma[(s, n)] = sg[n]
    bet = {v: 0.0 for v in nodes}
    for s in nodes:
        for t in nodes:
            for v in nodes:
                if v in (s, t) or s == t:
                    continue
                if (
                    d[(s, v)] < inf
                    and d[(v, t)] < inf
                    and d[(s, v)] + d[(v, t)] == d[(s, t)]
                    and sigma[(s, t)] > 0
                ):
                    bet[v] += sigma[(s, v)] * sigma[(v, t)] / sigma[(s, t)]
    return bet


def test_dijkstra_sigma_hand_graph(spark):
    # 0->1->2 (1+1) vs direct 0->2 (2): two shortest paths to 2
    e = _wedges(spark, [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 2.0)])
    rows = {
        (r["source"], r["node"]): (r["dist"], r["sigma"], r["depth"])
        for r in dijkstra_sigma(e, [0], weight_col="w",
                                src_col="src", dst_col="dst").collect()
    }
    assert rows[(0, 0)] == (0.0, 1.0, 0)
    assert rows[(0, 1)] == (1.0, 1.0, 1)
    assert rows[(0, 2)] == (2.0, 2.0, 2)  # depth = LONGEST DAG path


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_dijkstra_sigma_distributed_matches_driver(spark):
    random.seed(7)
    nodes = list(range(12))
    triples = []
    for u in nodes:
        for v in random.sample([n for n in nodes if n != u], 3):
            triples.append((u, v, float(random.randint(1, 4))))
    e = _wedges(spark, triples)
    local = {
        (r["source"], r["node"]): (r["dist"], r["sigma"], r["depth"])
        for r in dijkstra_sigma(e, [0, 5], weight_col="w",
                                src_col="src", dst_col="dst").collect()
    }
    with forced_distributed():
        dist = {
            (r["source"], r["node"]): (r["dist"], r["sigma"], r["depth"])
            for r in dijkstra_sigma(e, [0, 5], weight_col="w", src_col="src",
                                    dst_col="dst").collect()
        }
    assert dist == local


def test_weighted_betweenness_weight_sensitivity(spark):
    # direct edge cost 3 > path through 1 (cost 2): node 1 carries the
    # single 0->2 shortest path -> bet(1) = 1
    e = _wedges(spark, [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 3.0)])
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(e, src_col="src", dst_col="dst",
                                        weight_col="w").collect()
    }
    assert got[1] == 1.0 and got[0] == 0.0 and got[2] == 0.0
    # tie: direct cost 2 == path through 1 -> bet(1) = 0.5
    e2 = _wedges(spark, [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 2.0)])
    got2 = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(e2, src_col="src", dst_col="dst",
                                        weight_col="w").collect()
    }
    assert got2[1] == 0.5


def test_weighted_betweenness_matches_pair_formula_fuzz(spark):
    for seed in (3, 11):
        random.seed(seed)
        nodes = list(range(10))
        triples = []
        for u in nodes:
            for v in random.sample([n for n in nodes if n != u], 3):
                triples.append((u, v, float(random.randint(1, 4))))
        expect = py_pair_betweenness(triples, nodes)
        got = {
            r["node"]: r["betweenness"]
            for r in betweenness_centrality(
                _wedges(spark, triples), src_col="src", dst_col="dst",
                weight_col="w",
            ).collect()
        }
        for v in nodes:
            assert got[v] == pytest.approx(expect[v], rel=1e-9), (seed, v)


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_weighted_betweenness_distributed_matches_driver(spark):
    random.seed(19)
    nodes = list(range(10))
    triples = []
    for u in nodes:
        for v in random.sample([n for n in nodes if n != u], 2):
            triples.append((u, v, float(random.randint(1, 3))))
    e = _wedges(spark, triples)
    local = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(e, src_col="src", dst_col="dst",
                                        weight_col="w").collect()
    }
    with forced_distributed():
        dist = {
            r["node"]: r["betweenness"]
            for r in betweenness_centrality(e, src_col="src", dst_col="dst",
                                            weight_col="w",
                                            exact=True).collect()
        }
    assert set(dist) == set(local)
    for v in local:
        assert dist[v] == pytest.approx(local[v], rel=1e-9), v


def test_weighted_closeness_unit_weights_match_hops(spark, sf_dir):
    """With w ≡ 1 the weighted branch must reproduce hop closeness —
    integer hop sums survive the micro-unit fixed-point exactly."""
    jumps = build_jumps(spark, sf_dir, with_risk=False).withColumn(
        "one", F.lit(1.0)
    )
    hop = {
        r["node"]: r["closeness"]
        for r in closeness_centrality(jumps).collect()
    }
    wtd = {
        r["node"]: r["closeness"]
        for r in closeness_centrality(jumps, weight_col="one").collect()
    }
    assert wtd == hop


def test_weighted_closeness_on_risk_graph(spark, sf_dir):
    """Float risk weights: closeness = (reached-1)/(Σfp(dist)/1e6) against
    an independent per-source Dijkstra."""
    import heapq
    import math

    jumps = build_jumps(spark, sf_dir)
    rows = jumps.collect()
    adj: dict[int, list[tuple[int, float]]] = {}
    nodes: set[int] = set()
    for r in rows:
        adj.setdefault(r["src_system_id"], []).append((r["dst_system_id"], r["risk"]))
        nodes.update((r["src_system_id"], r["dst_system_id"]))
    # inbound closeness of each node over all sources (group by NODE)
    sums: dict[int, int] = {}
    cnts: dict[int, int] = {}
    for s in nodes:
        dist = {s: 0.0}
        pq = [(0.0, s)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, float("inf")):
                continue
            for v, w in adj.get(u, ()):
                nd = d + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        for n, d in dist.items():
            sums[n] = sums.get(n, 0) + int(math.floor(d * 1e6 + 0.5))
            cnts[n] = cnts.get(n, 0) + 1
    expect = {n: (cnts[n] - 1) / (sums[n] / 1e6) for n in nodes}
    got = {
        r["node"]: r["closeness"]
        for r in closeness_centrality(jumps, weight_col="risk").collect()
    }
    assert set(got) == set(expect)
    for n in expect:
        assert got[n] == pytest.approx(expect[n], rel=1e-12), n


def test_weighted_closeness_landmarks_distributed(spark, sf_dir):
    """Weighted landmark closeness runs the one-loop multi-source form
    above the driver threshold and agrees with the driver path."""
    jumps = build_jumps(spark, sf_dir)
    local = {
        r["node"]: r["closeness"]
        for r in closeness_centrality(jumps, weight_col="risk", landmarks=3).collect()
    }
    with forced_distributed():
        dist = {
            r["node"]: r["closeness"]
            for r in closeness_centrality(
                jumps, weight_col="risk", landmarks=3
            ).collect()
        }
    assert dist == local


# --- harmonic centrality / eccentricity (r7 stretch 7) ----------------------

def test_harmonic_weighted_hand_graph(spark):
    from eve_graph_spark.operators.graph_analytics import harmonic_centrality

    # 0-(2)->1-(2)->2, plus 0-(5)->2: d(0,1)=2, d(0,2)=4, d(1,2)=2
    e = _wedges(spark, [(0, 1, 2.0), (1, 2, 2.0), (0, 2, 5.0)])
    rows = {
        r["node"]: (r["harmonic"], r["eccentricity"])
        for r in harmonic_centrality(e, src_col="src", dst_col="dst",
                                     weight_col="w").collect()
    }
    assert rows[0] == (pytest.approx(0.75), pytest.approx(4.0))  # 1/2 + 1/4
    assert rows[1] == (pytest.approx(0.5), pytest.approx(2.0))
    assert rows[2] == (0.0, 0.0)  # sink: reaches only itself


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_harmonic_weighted_driver_distributed_parity(spark, sf_dir):
    from eve_graph_spark.operators.graph_analytics import harmonic_centrality

    jumps = build_jumps(spark, sf_dir)
    lm = [0, 5, 13]
    local = {
        r["node"]: (r["harmonic"], r["eccentricity"])
        for r in harmonic_centrality(jumps, weight_col="risk",
                                     landmarks=lm).collect()
    }
    with forced_distributed():
        dist = {
            r["node"]: (r["harmonic"], r["eccentricity"])
            for r in harmonic_centrality(jumps, weight_col="risk", landmarks=lm).collect()
        }
    assert set(local) == set(lm)
    assert dist == local  # bit-identical: same IEEE min-plus fixpoint


def test_harmonic_unit_weights_match_hop_version(spark, sf_dir):
    from eve_graph_spark.operators.graph_analytics import harmonic_centrality

    jumps = build_jumps(spark, sf_dir).withColumn("__one", F.lit(1.0))
    hop = {
        r["node"]: (r["harmonic"], float(r["eccentricity"]))
        for r in harmonic_centrality(jumps).collect()
    }
    unit = {
        r["node"]: (r["harmonic"], float(r["eccentricity"]))
        for r in harmonic_centrality(jumps, weight_col="__one").collect()
    }
    assert unit == hop


def test_property_graph_harmonic(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    e = _wedges(spark, [(0, 1, 2.0), (1, 2, 2.0), (0, 2, 5.0)])
    got = {
        r["id"]: (r["harmonic"], r["eccentricity"])
        for r in PropertyGraph(v, e).harmonicCentrality(weightCol="w").collect()
    }
    assert got[0] == (pytest.approx(0.75), pytest.approx(4.0))
