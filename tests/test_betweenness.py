"""Betweenness centrality (round 6): bfs_sigma forward pass + Brandes
backward accumulation, driver and distributed paths.

Reference parity note: the reference (madmikeross/eve-graph) exposes no
centrality ops — this extends the GDS-style analytics surface the north
star asks for (same family as pagerank/closeness, graph_analytics.py).
"""

from __future__ import annotations

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F

from eve_graph_spark.operators import graph_analytics
from eve_graph_spark.operators.graph_analytics import betweenness_centrality, bfs_sigma


def _edges(spark, pairs):
    sym = list(pairs) + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def _bet(df):
    return {r["node"]: r["betweenness"] for r in df.collect()}


def test_path_graph_known_values(spark):
    # 1-2-3-4: ordered pairs through 2 = (1,3),(3,1),(1,4),(4,1) -> 4
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    got = _bet(betweenness_centrality(e, src_col="src", dst_col="dst"))
    assert got == {1: 0.0, 2: 4.0, 3: 4.0, 4: 0.0}


def test_star_graph_center_takes_all(spark):
    # center 0, leaves 1..4: every ordered leaf pair (4*3) routes via 0
    e = _edges(spark, [(0, 1), (0, 2), (0, 3), (0, 4)])
    got = _bet(betweenness_centrality(e, src_col="src", dst_col="dst"))
    assert got[0] == 12.0
    assert all(got[i] == 0.0 for i in (1, 2, 3, 4))


def test_diamond_splits_dependency(spark):
    # 1-{2,3}-4 (symmetric): middles 2/3 each carry half of (1,4) both
    # ways = 1.0; ends 1/4 each carry half of (2,3) both ways = 1.0
    e = _edges(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    got = _bet(betweenness_centrality(e, src_col="src", dst_col="dst"))
    assert got == {
        1: pytest.approx(1.0),
        2: pytest.approx(1.0),
        3: pytest.approx(1.0),
        4: pytest.approx(1.0),
    }


def _random_sym_edges(spark, n_nodes=12, seed=7):
    # deterministic pseudo-random sparse graph
    pairs = sorted({
        (a, (a * 5 + b * 7 + seed) % n_nodes)
        for a in range(n_nodes)
        for b in range(2)
        if a != (a * 5 + b * 7 + seed) % n_nodes
    })
    return _edges(spark, pairs)


def test_bfs_sigma_driver_vs_distributed_bit_identical(spark):
    e = _random_sym_edges(spark)
    sources = [0, 3, 5]
    key = lambda df: {  # noqa: E731
        (r["source"], r["node"]): (r["dist"], r["sigma"]) for r in df.collect()
    }
    local = key(bfs_sigma(e, sources, src_col="src", dst_col="dst"))
    with forced_distributed():
        dist = key(bfs_sigma(e, sources, src_col="src", dst_col="dst"))
    assert dist == local  # ints throughout: exact, not approx


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_betweenness_driver_vs_distributed(spark):
    # dependency ratios are non-integer -> float-rounding agreement only
    e = _random_sym_edges(spark)
    local = _bet(betweenness_centrality(e, src_col="src", dst_col="dst"))
    with forced_distributed():
        dist = _bet(betweenness_centrality(e, src_col="src", dst_col="dst", exact=True))
    assert set(dist) == set(local)
    for v in local:
        assert dist[v] == pytest.approx(local[v], rel=1e-9, abs=1e-9)


def test_betweenness_matches_pair_formula(spark):
    # independent algorithm: bet(v) = sum over (s,t) of
    # sigma_sv * sigma_vt / sigma_st where d(s,v)+d(v,t)=d(s,t)
    e = _random_sym_edges(spark, seed=11)
    nodes = sorted({r["src"] for r in e.collect()} | {r["dst"] for r in e.collect()})
    vs = {
        (r["source"], r["node"]): (r["dist"], r["sigma"])
        for r in bfs_sigma(e, nodes, src_col="src", dst_col="dst").collect()
    }
    expect = {v: 0.0 for v in nodes}
    for (s, v), (d_sv, sig_sv) in vs.items():
        if s == v:
            continue
        for t in nodes:
            if t == v or (v, t) not in vs or (s, t) not in vs:
                continue
            d_vt, sig_vt = vs[(v, t)]
            d_st, sig_st = vs[(s, t)]
            if d_sv + d_vt == d_st:
                expect[v] += sig_sv * sig_vt / sig_st
    got = _bet(betweenness_centrality(e, src_col="src", dst_col="dst"))
    for v in nodes:
        assert got[v] == pytest.approx(expect[v], rel=1e-9, abs=1e-9)


def test_betweenness_exact_above_threshold_is_loud_opt_in(spark, monkeypatch):
    # the guard probes the real size (force-exempt): a zero cutover puts
    # every graph above it
    monkeypatch.setattr(graph_analytics, "DRIVER_MAX_EDGES", 0)
    e = _edges(spark, [(1, 2), (2, 3)])
    with pytest.raises(ValueError, match="sample_sources"):
        betweenness_centrality(e, src_col="src", dst_col="dst")
    # sampling and the explicit opt-in both proceed
    assert betweenness_centrality(
        e, src_col="src", dst_col="dst", sample_sources=2
    ).count() > 0


def test_sampled_with_all_nodes_equals_exact(spark):
    # k >= n samples every source; scale n/k = 1 -> exact values
    e = _random_sym_edges(spark, seed=3)
    n = len({r["src"] for r in e.collect()} | {r["dst"] for r in e.collect()})
    exact = _bet(betweenness_centrality(e, src_col="src", dst_col="dst"))
    sampled = _bet(
        betweenness_centrality(e, src_col="src", dst_col="dst", sample_sources=n)
    )
    for v in exact:
        assert sampled[v] == pytest.approx(exact[v], rel=1e-9, abs=1e-9)


def test_empty_edge_set_yields_empty_result(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert betweenness_centrality(e, src_col="src", dst_col="dst").collect() == []
    assert betweenness_centrality(
        e, src_col="src", dst_col="dst", sample_sources=3
    ).collect() == []


def test_bfs_sigma_dedups_repeated_sources(spark):
    e = _edges(spark, [(1, 2), (2, 3)])
    once = bfs_sigma(e, [1], src_col="src", dst_col="dst").collect()
    twice = bfs_sigma(e, [1, 1], src_col="src", dst_col="dst").collect()
    assert sorted(map(tuple, twice)) == sorted(map(tuple, once))
