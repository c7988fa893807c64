"""Round-11 additions: GDS resolution parameter (gamma) and convergence
visibility (stats_out) on the louvain family, plus the local/distributed
parity of the new multilevel driver fast paths."""

from __future__ import annotations

import pytest
from conftest import forced_distributed


def _sym(spark, pairs):
    rows = list(pairs) + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src_system_id long, dst_system_id long")


def _tri_ring(spark, k: int, double_bridge: bool = False):
    """Ring of k triangles; double_bridge adds a second inter-triangle
    edge so community mass competes with triangle cohesion (the regime
    where resolution matters)."""
    pairs = []
    for i in range(k):
        a, b, c = 3 * i, 3 * i + 1, 3 * i + 2
        pairs += [(a, b), (b, c), (a, c)]
        nxt = (3 * i + 3) % (3 * k)
        pairs.append((c, nxt))
        if double_bridge:
            pairs.append((b, nxt))
    return _sym(spark, pairs)


def test_gamma_rational_exact():
    from eve_graph_spark.operators.graph_analytics import _gamma_rational

    assert _gamma_rational(1.0) == (1, 1)
    assert _gamma_rational(1.1) == (11, 10)
    assert _gamma_rational(0.5) == (1, 2)
    assert _gamma_rational(2.0) == (2, 1)
    with pytest.raises(ValueError):
        _gamma_rational(0.0)
    with pytest.raises(ValueError):
        _gamma_rational(-1.5)


def test_gamma_default_is_bit_identical(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    e = _tri_ring(spark, 4, double_bridge=True)
    base = sorted(map(tuple, louvain(e, rounds=4).collect()))
    g1 = sorted(map(tuple, louvain(e, rounds=4, gamma=1.0).collect()))
    assert base == g1


def test_gamma_controls_resolution_on_multilevel(spark):
    from eve_graph_spark.operators.graph_analytics import louvain_multilevel

    e = _tri_ring(spark, 4, double_bridge=True)

    def ncomm(gamma):
        rows = louvain_multilevel(e, levels=2, rounds=4, gamma=gamma).collect()
        return len({r["community"] for r in rows})

    low, high = ncomm(1.0), ncomm(2.0)
    # γ=1 merges bridged triangles (3 communities); γ=2 penalizes
    # community mass harder and splits them (5) — pinned values so a
    # gain-formula regression is loud, plus the direction invariant
    assert low == 3 and high == 5
    assert high > low


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_gamma_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    e = _tri_ring(spark, 4, double_bridge=True)
    loc = sorted(map(tuple, louvain(e, rounds=4, gamma=2.0).collect()))
    with forced_distributed():
        dist = sorted(
            map(tuple, louvain(e, rounds=4, gamma=2.0).collect())
        )
    assert loc == dist


def test_gamma_on_leiden_keeps_connectivity_guarantee(spark):
    from eve_graph_spark.operators.graph_analytics import leiden

    e = _tri_ring(spark, 4, double_bridge=True)
    rows = leiden(e, levels=2, rounds=4, gamma=2.0).collect()
    labels = {r["node"]: r["community"] for r in rows}
    # every community induces a connected subgraph (the Leiden guarantee)
    adj: dict[int, set[int]] = {}
    for r in e.collect():
        adj.setdefault(r["src_system_id"], set()).add(r["dst_system_id"])
    for c in set(labels.values()):
        members = {n for n, lc in labels.items() if lc == c}
        seen = {min(members)}
        stack = [min(members)]
        while stack:
            v = stack.pop()
            for u in adj.get(v, ()):
                if u in members and u not in seen:
                    seen.add(u)
                    stack.append(u)
        assert seen == members, f"community {c} not internally connected"


def test_louvain_stats_out_local(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    # two K4 cliques + bridge converge well inside 6 rounds
    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    k4b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    e = _sym(spark, k4a + k4b + [(4, 10)])
    stats: dict = {}
    louvain(e, rounds=6, stats_out=stats).collect()
    assert stats["rounds"] == 6
    assert len(stats["moves_per_round"]) == 6
    assert stats["did_converge"] is True
    assert stats["moves_per_round"][-1] == 0 and stats["moves_per_round"][-2] == 0


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_louvain_stats_out_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import louvain

    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = _sym(spark, k4a + [(4, 10), (10, 11), (11, 12), (12, 10)])
    loc: dict = {}
    dist: dict = {}
    louvain(e, rounds=4, stats_out=loc).collect()
    with forced_distributed():
        louvain(e, rounds=4, stats_out=dist).collect()
    assert loc["moves_per_round"] == dist["moves_per_round"]
    assert loc["did_converge"] == dist["did_converge"]


def test_multilevel_stats_out_per_level(spark):
    from eve_graph_spark.operators.graph_analytics import leiden, louvain_multilevel

    e = _tri_ring(spark, 4, double_bridge=True)
    st: dict = {}
    louvain_multilevel(e, levels=2, rounds=4, stats_out=st).collect()
    assert st["levels"] == 2
    assert len(st["per_level"]) == 2
    assert all("moves_per_round" in lv for lv in st["per_level"])
    st2: dict = {}
    leiden(e, levels=2, rounds=4, stats_out=st2).collect()
    assert st2["levels"] == 2 and len(st2["per_level"]) == 2


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_multilevel_distributed_matches_local_with_gamma(spark):
    from eve_graph_spark.operators.graph_analytics import leiden, louvain_multilevel

    e = _tri_ring(spark, 3, double_bridge=True)
    for fn in (louvain_multilevel, leiden):
        loc = sorted(map(tuple, fn(e, levels=2, rounds=4, gamma=3.0).collect()))
        with forced_distributed():
            dist = sorted(
                map(
                    tuple,
                    fn(e, levels=2, rounds=4, gamma=3.0).collect(),
                )
            )
        assert loc == dist, fn.__name__


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_multilevel_local_fast_path_matches_distributed_default(spark):
    """The r11 driver fast path (one collect, dict phases) must be
    bit-identical to the distributed orchestration it replaced."""
    from eve_graph_spark.operators.graph_analytics import leiden, louvain_multilevel

    e = _tri_ring(spark, 5)
    for fn in (louvain_multilevel, leiden):
        fast = sorted(map(tuple, fn(e, levels=2, rounds=4).collect()))
        with forced_distributed():
            slow = sorted(
                map(tuple, fn(e, levels=2, rounds=4).collect())
            )
        assert fast == slow, fn.__name__


def test_property_graph_exposes_gamma_and_stats(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    e = _tri_ring(spark, 4, double_bridge=True).selectExpr(
        "src_system_id as src", "dst_system_id as dst"
    )
    v = e.selectExpr("src as id").distinct()
    g = PropertyGraph(v, e)
    st: dict = {}
    low = g.louvain(rounds=4, maxLevels=2, gamma=1.0, stats_out=st)
    assert st["levels"] == 2
    n_low = len({r["community"] for r in low.collect()})
    n_high = len(
        {r["community"] for r in g.louvain(rounds=4, maxLevels=2, gamma=2.0).collect()}
    )
    assert n_high > n_low
    st2: dict = {}
    g.leiden(rounds=4, maxLevels=2, gamma=2.0, stats_out=st2).collect()
    assert "did_converge" in st2


def test_dfs_preorder_known_graph(spark):
    from eve_graph_spark.operators.graph import dfs

    # 0-1-2 chain plus 0-3: DFS from 0 descends 1,2 then backtracks to 3
    e = _sym(spark, [(0, 1), (1, 2), (0, 3)])
    got = sorted(map(tuple, dfs(e, 0).collect()), key=lambda t: t[1])
    assert got == [(0, 1), (1, 2), (2, 3), (3, 4)]


def test_dfs_max_depth_bounds_descent(spark):
    from eve_graph_spark.operators.graph import dfs

    e = _sym(spark, [(0, 1), (1, 2), (2, 3), (0, 4)])
    got = sorted(map(tuple, dfs(e, 0, max_depth=1).collect()), key=lambda t: t[1])
    # depth 1: source + direct neighbors only, ascending order
    assert got == [(0, 1), (1, 2), (4, 3)]


def test_dfs_isolated_source_visits_itself(spark):
    from eve_graph_spark.operators.graph import dfs

    e = _sym(spark, [(1, 2)])
    assert [tuple(r) for r in dfs(e, 99).collect()] == [(99, 1)]


def test_dfs_raises_beyond_driver_threshold(spark, monkeypatch):
    from eve_graph_spark.operators import graph
    from eve_graph_spark.operators.graph import dfs

    # dfs has no distributed twin (force-exempt): only the cutover itself
    # puts a graph above it
    monkeypatch.setattr(graph, "DRIVER_SSSP_MAX_EDGES", 1)
    e = _sym(spark, [(0, 1), (1, 2)])
    with pytest.raises(ValueError, match="sequential"):
        dfs(e, 0)


def test_property_graph_dfs(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    e = _sym(spark, [(0, 1), (1, 2), (0, 3)]).selectExpr(
        "src_system_id as src", "dst_system_id as dst"
    )
    v = e.selectExpr("src as id").distinct()
    got = sorted(
        map(tuple, PropertyGraph(v, e).dfs(0).collect()), key=lambda t: t[1]
    )
    assert got == [(0, 1), (1, 2), (2, 3), (3, 4)]


def test_semantic_dedup_drops_planted_near_duplicate(spark):
    """SemDeDup keep-first: a planted exact-duplicate embedding pair must
    drop the larger id and keep the smaller; unrelated vectors survive."""
    import random

    from eve_graph_spark.operators.dedup import semantic_dedup

    rng = random.Random(7)
    rows = []
    for i in range(40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(8)]))
    rows.append((100, list(rows[3][1])))  # exact dup of vec 3 -> cosine 1.0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["id"]: (r["kept"], r["n_close"])
        for r in semantic_dedup(emb, k=2, iterations=2, tau=0.999, dim=8).collect()
    }
    assert got[3] == (True, 1)     # smaller id kept, saw one close neighbor
    assert got[100] == (False, 1)  # larger id dropped
    assert sum(1 for k, (kept, _) in got.items() if not kept) == 1


def test_semantic_dedup_matches_oracle_spec_locally(spark):
    """Cross-check the Spark kernel against the DuckDB oracle SQL on a
    small random corpus (the contract drive does this on the fixtures;
    this pins it for non-fixture shapes too)."""
    import random

    import duckdb
    import pandas as pd

    from eve_graph_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_oracle_sql,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r["id"], r["cluster"], r["n_close"], r["kept"])
        for r in semantic_dedup(emb, k=3, iterations=2, tau=0.5, dim=8).collect()
    )
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]}),
    )
    want = sorted(
        map(tuple,
            con.sql(semantic_dedup_oracle_sql(k=3, iterations=2, tau=0.5, dim=8))
            .fetchall())
    )
    assert got == want
