"""SSSP engine vs a pure-Python Dijkstra oracle, plus route-API semantics."""

from __future__ import annotations

import heapq

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F

from eve_graph_spark.api import GraphEngine, RouteNotFound
from eve_graph_spark.operators.graph import ProjectionRegistry, reconstruct_path, sssp
from eve_graph_spark.sources.graph_fixture import build_jumps, build_systems


def py_dijkstra(edges: list[tuple[int, int, float]], src: int) -> dict[int, float]:
    adj: dict[int, list[tuple[int, float]]] = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


@pytest.fixture(scope="module")
def fixture_edges(spark, sf_dir):
    jumps = build_jumps(spark, sf_dir)
    rows = jumps.collect()
    return jumps, [(r["src_system_id"], r["dst_system_id"], r["risk"]) for r in rows]


def test_sssp_cost_matches_dijkstra(spark, fixture_edges):
    jumps, ewr = fixture_edges
    expected = py_dijkstra([(u, v, 1.0) for u, v, _ in ewr], 0)
    got = {
        r["node"]: r["dist"]
        for r in sssp(jumps, [0], weight_col="cost",
                      src_col="src_system_id", dst_col="dst_system_id").collect()
    }
    assert got == expected


def test_sssp_risk_matches_dijkstra(spark, fixture_edges):
    jumps, ewr = fixture_edges
    expected = py_dijkstra(ewr, 0)
    got = {
        r["node"]: r["dist"]
        for r in sssp(jumps, [0], weight_col="risk",
                      src_col="src_system_id", dst_col="dst_system_id").collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], rel=1e-12)


def test_reconstructed_path_is_valid(spark, fixture_edges):
    jumps, ewr = fixture_edges
    edge_set = {(u, v) for u, v, _ in ewr}
    dist = sssp(jumps, [0], weight_col="risk", src_col="src_system_id", dst_col="dst_system_id")
    path = reconstruct_path(dist, 13)
    assert path[0] == 0 and path[-1] == 13
    for a, b in zip(path, path[1:]):
        assert (a, b) in edge_set
    # path total equals the reported shortest distance
    w = {(u, v): r for u, v, r in ewr}
    total = sum(w[(a, b)] for a, b in zip(path, path[1:]))
    d13 = {r["node"]: r["dist"] for r in dist.collect()}[13]
    assert total == pytest.approx(d13, rel=1e-12)


def test_oracle_sssp_bounds_are_safe(spark, fixture_edges):
    """The DuckDB recursive-CTE oracles bound dist at 30 (cost) / 80
    (weighted). Assert true shortest distances sit well inside the bounds
    so the enumeration provably covers the optimum."""
    _, ewr = fixture_edges
    cost_d = py_dijkstra([(u, v, 1.0) for u, v, _ in ewr], 0)
    assert max(cost_d.values()) < 15
    kills = {r["system_id"]: r["kills"] for r in
             build_systems(spark, "/root/testdata/sf0.001").collect()}
    wd = py_dijkstra([(u, v, float((kills[v] * kills[v]) % 7 + 1)) for u, v, _ in ewr], 3)
    assert max(wd.values()) < 40


def test_distributed_loop_matches_local_fast_path(spark, fixture_edges):
    """The forced-distributed arm runs the iterative DataFrame loop; it
    must produce bit-identical (node, dist) to the driver-local fast path."""
    jumps, _ = fixture_edges
    local = {
        r["node"]: r["dist"]
        for r in sssp(jumps, [0], weight_col="risk",
                      src_col="src_system_id", dst_col="dst_system_id").collect()
    }
    with forced_distributed():
        dist = {
            r["node"]: r["dist"]
            for r in sssp(jumps, [0], weight_col="risk", src_col="src_system_id",
                          dst_col="dst_system_id").collect()
        }
    assert dist == local


def test_graph_engine_routes(spark, sf_dir):
    systems = build_systems(spark, sf_dir)
    jumps = build_jumps(spark, sf_dir)
    eng = GraphEngine(systems, jumps)
    names = {r["system_id"]: r["name"] for r in systems.collect()}
    route = eng.shortest_route(names[0], names[13])
    assert route[0] == names[0] and route[-1] == names[13]
    safe = eng.safest_route(names[0], names[13])
    assert safe[0] == names[0] and safe[-1] == names[13]
    with pytest.raises(RouteNotFound):
        eng.shortest_route(names[0], "NO-SUCH-SYSTEM")


def test_k_shortest_paths_ranked_and_distinct(spark):
    from eve_graph_spark.operators.graph import k_shortest_paths_distributed

    # diamond with a longer detour: 0->1->3 (cost 2), 0->2->3 (cost 3),
    # 0->1->2->3 (cost 4)
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 3, 1.0), (0, 2, 2.0), (2, 3, 1.0), (1, 2, 2.0)],
        "src long, dst long, weight double",
    )
    routes = k_shortest_paths_distributed(e, 0, 3, k=3)  # below the threshold: driver twin
    assert [(c, p) for c, p in routes] == [
        (2.0, [0, 1, 3]),
        (3.0, [0, 2, 3]),
        (4.0, [0, 1, 2, 3]),
    ]


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_k_shortest_distributed_matches_driver(spark, sf_dir):
    """The batched-spur-sweep distributed Yen's returns the same ranked
    (cost, path) list as the driver twin on the fixture graph (top-4
    simple-path costs are distinct there, so output is implementation-
    independent — see route_alternatives_k3). The forced-distributed arm
    runs the distributed machinery; stats pin that spur sweeps are batched
    (one sweep per Yen round, not one per spur)."""
    from eve_graph_spark.operators.graph import k_shortest_paths_distributed
    from eve_graph_spark.sources.graph_fixture import build_jumps

    e = build_jumps(spark, sf_dir).select(
        F.col("src_system_id").alias("src"),
        F.col("dst_system_id").alias("dst"),
        F.floor(F.col("risk") * 1_000_000 + F.lit(0.5)).cast("long").alias("w"),
    )
    local = k_shortest_paths_distributed(e, 1, 13, k=3, weight_col="w")
    stats: dict = {}
    with forced_distributed():
        dist = k_shortest_paths_distributed(e, 1, 13, k=3, weight_col="w", stats_out=stats)
    assert dist == local
    assert [c for c, _ in dist] == [9441717.0, 9697133.0, 14013145.0]
    # 1 first-path sweep + 2 Yen rounds = 3 sweeps TOTAL, regardless of
    # how many spur nodes each round fans out
    assert stats["sweeps"] == 3


def test_k_shortest_distributed_target_early_exit(spark):
    """The banned multi-sweep carries sssp()'s single-pair cut: on a long
    chain with the target near the source, the sweep must stop a few
    supersteps after the target settles instead of walking the whole
    chain (frontier rows at/past the settled target dist are pruned)."""
    from eve_graph_spark.operators.graph import k_shortest_paths_distributed

    n = 30
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
    )
    stats: dict = {}
    with forced_distributed():
        routes = k_shortest_paths_distributed(e, 0, 3, k=1, stats_out=stats)
    assert routes == [(3.0, [0, 1, 2, 3])]
    assert stats["sweeps"] == 1
    # unpruned, the single sweep would run ~n supersteps
    assert stats["sweep_iterations"] <= 6


# Two equal-cost routes 3 -> 4: 3-5-4 (2 hops, over the zero-weight edge
# 5 -> 4) and 3-1-2-4 (3 hops). The distributed rounds reach 4 through 5
# first; a heap ordered by (dist, node) alone would settle 4 through 2.
TIE_EDGES = [(3, 5, 2.0), (5, 4, 0.0), (3, 1, 1.0), (1, 2, 0.5), (2, 4, 0.5)]


def test_driver_kernel_matches_distributed_loop_under_ties(spark):
    from eve_graph_spark.operators.graph import Adjacency, _dijkstra, route_local

    e = spark.createDataFrame(TIE_EDGES, "src long, dst long, weight double")
    adj = Adjacency.from_edges(*zip(*TIE_EDGES))
    for seeds in ([3], [1, 3]):
        with forced_distributed():
            want = {
                r["node"]: (r["dist"], r["pred"]) for r in sssp(e, seeds).collect()
            }
        got = {n: (d, p) for n, d, p in _dijkstra(adj, seeds).entries()}
        assert got == want, seeds
    assert want[4] == (1.0, 2)  # seed 1 reaches 4 at 1.0 through 2
    for s, t in ((3, 4), (1, 4)):
        with forced_distributed():
            dist = sssp(e, [s], target_id=t)
        assert route_local(adj, s, t) == reconstruct_path(dist, t)
    assert route_local(adj, 3, 4) == [3, 5, 4]


# A landmark-bounded route must be node-for-node the unbounded kernel's.
# The graph mixes the features that could tell them apart:
# - 1-2-5 (0.1 + 0.2) and 1-5 (0.3) cost the same in reals, not in floats;
# - 5-7-8 and 5-8 cost 2.0 in floats, with 2 and 1 hops;
# - 6 -> 7 is free, so 5-6-7 ties 5-7 at 1.0;
# - the 2-11-12-13-14-9 chain and 12-6 carry inbound weights (an edge
#   costs what the node it enters costs), so u -> v and v -> u differ;
# - 20-23 is a second component: half the pairs are unreachable, and the
#   landmarks picked in one component cannot reach the other.
INBOUND = {2: 0.1, 6: 0.6, 9: 0.2, 11: 0.3, 12: 0.7, 13: 0.1, 14: 1.3}
EXACT_EDGES = [
    (1, 2, 0.1), (2, 5, 0.2), (1, 5, 0.3),
    (5, 7, 1.0), (7, 8, 1.0), (5, 8, 2.0),
    (5, 6, 1.0), (6, 7, 0.0),
    (8, 9, 0.5), (9, 1, 0.7),
    *((u, v, INBOUND[v]) for a, b in ((2, 11), (11, 12), (12, 13), (13, 14), (14, 9), (12, 6))
      for u, v in ((a, b), (b, a))),
    (20, 21, 0.1), (21, 20, 0.2), (21, 22, 0.3), (22, 23, 0.0), (23, 21, 0.4),
]


def test_landmark_route_is_the_plain_kernel_route_on_every_pair(spark):
    """Every ordered pair, with and without an avoid-list holding the
    first landmark (the smallest id): `route_local` with the table gives
    the unbounded `_dijkstra` route over the edges the avoid-list keeps.
    Without one it also gives the distributed loop's route; that oracle
    is `multi_source_sssp` below the threshold, whose per-source
    (dist, pred) are `sssp`'s (test_multi_source_sssp_per_source_parity),
    and one pair meets `sssp(target_id=)` itself."""
    from eve_graph_spark.operators.graph import (
        Adjacency,
        _dijkstra,
        _walk_preds,
        landmark_table,
        multi_source_sssp,
        route_local,
    )

    adj = Adjacency.from_edges(*zip(*EXACT_EDGES))
    table = landmark_table(adj)
    assert table[0][adj.index[1]] == 0.0  # node 1 is a landmark
    ids = adj.ids
    for avoid in (set(), {1}):
        kept = Adjacency.from_edges(
            *zip(*((u, v, w) for u, v, w in EXACT_EDGES if u not in avoid and v not in avoid))
        )
        for s in ids:
            for t in ids:
                want = _dijkstra(kept, [s], t).route(t)
                assert route_local(adj, s, t, avoid, table) == (want[1] if want else []), \
                    (avoid, s, t)
    e = spark.createDataFrame(EXACT_EDGES, "src long, dst long, weight double")
    preds: dict[int, dict[int, int | None]] = {s: {} for s in ids}
    with forced_distributed():
        rows = multi_source_sssp(e, ids).collect()
    for r in rows:
        preds[r["source"]][r["node"]] = r["pred"]
    for s in ids:
        for t in ids:
            assert route_local(adj, s, t, set(), table) == _walk_preds(preds[s], t), (s, t)
    assert route_local(adj, 1, 5, set(), table) == [1, 5]
    assert route_local(adj, 5, 8, set(), table) == [5, 8]
    assert route_local(adj, 1, 20, set(), table) == []
    assert route_local(adj, 9, 5, {1}, table) == [9, 14, 13, 12, 11, 2, 5]
    with forced_distributed():
        dist = sssp(e, [12], target_id=9)
    assert route_local(adj, 12, 9, set(), table) == reconstruct_path(dist, 9)


def _geometric(seed: int, n: int = 500):
    """n points in the unit square, each linked both ways to its 3
    nearest neighbours."""
    import random

    rng = random.Random(seed)
    pts = [(rng.random(), rng.random()) for _ in range(n)]
    links = set()
    for i, (x, y) in enumerate(pts):
        near = sorted(range(n), key=lambda j: (pts[j][0] - x) ** 2 + (pts[j][1] - y) ** 2)
        links.update((i, j) for j in near[1:4])
    risk = [rng.randrange(40) ** 2 / rng.randrange(1, 400) + 0.0123 for _ in range(n)]
    pairs = [tuple(rng.sample(range(n), 2)) for _ in range(200)]
    return sorted(links | {(j, i) for i, j in links}), risk, pairs


@pytest.mark.parametrize("seed", [1, 7919])
def test_landmark_route_matches_plain_kernel_on_geometric_graph(seed):
    from eve_graph_spark.operators.graph import Adjacency, landmark_table, route_local

    links, risk, pairs = _geometric(seed)
    src, dst = (list(c) for c in zip(*links))
    for weight in ([1.0] * len(dst), [risk[v] for v in dst]):
        adj = Adjacency.from_edges(src, dst, weight)
        table = landmark_table(adj)
        for s, t in pairs:
            assert route_local(adj, s, t, None, table) == route_local(adj, s, t), (s, t)


def test_k_shortest_driver_matches_distributed_under_ties(spark):
    from eve_graph_spark.operators.graph import k_shortest_paths_distributed

    e = spark.createDataFrame(TIE_EDGES, "src long, dst long, weight double")
    want = [(2.0, [3, 5, 4]), (2.0, [3, 1, 2, 4])]
    assert k_shortest_paths_distributed(e, 3, 4, k=2) == want
    with forced_distributed():
        assert k_shortest_paths_distributed(e, 3, 4, k=2) == want


# --- frontier family: driver branch vs _frontier_loop ------------------------
# Each keyed frontier kernel runs on three small graphs; the default
# (driver) branch must equal the forced-distributed arm exactly (nested
# calls such as reconstruct_path are forced too). Each graph is
# (edges, source, target): TIE_EDGES has a zero-weight edge, the chain's
# target sits 3 hops out, and the second graph has two components.

_FRONTIER_GRAPHS = {
    "ties": (TIE_EDGES, 3, 4),
    "chain": ([(i, i + 1, 1.0) for i in range(29)], 0, 3),
    "two_components": (
        [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0), (0, 2, 4.0),
         (10, 11, 1.0), (11, 12, 3.0)],
        0, 12,
    ),
}


def _frontier_kernel(kernel, spark, edges, s, t):
    from eve_graph_spark.operators import graph as G
    from eve_graph_spark.operators import graph_analytics as ga

    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    cols = dict(src_col="src", dst_col="dst")
    if kernel == "sssp":
        return G.sssp(e, [s]).collect()
    if kernel == "sssp_target":
        dist = G.sssp(e, [s], target_id=t)
        path = reconstruct_path(dist, t)
        on_path = {r["node"]: (r["dist"], r["pred"]) for r in dist.collect()
                   if r["node"] in path}
        return path, on_path
    if kernel == "multi_source_sssp":
        other = max(u for u, _, _ in edges)
        rows = G.multi_source_sssp(e, [s, other, s]).collect()
        for src in (s, other):  # each source's rows are sssp's from it alone
            assert sorted((r["node"], r["dist"], r["pred"]) for r in rows
                          if r["source"] == src) == sorted(
                tuple(r) for r in G.sssp(e, [src]).collect())
        return rows
    if kernel == "k_shortest_paths":
        return G.k_shortest_paths_distributed(e, s, t, k=3)
    if kernel == "bfs_sigma":
        return ga.bfs_sigma(e, [s, t], **cols).collect()
    if kernel == "dijkstra_sigma":
        return ga.dijkstra_sigma(e, [s, t], "weight", **cols).collect()
    sym = spark.createDataFrame(
        [(u, v) for u, v, _ in edges] + [(v, u) for u, v, _ in edges],
        "src long, dst long",
    )
    if kernel == "label_cc":
        return ga.connected_components(sym, **cols, algorithm="label").collect()
    if kernel == "articulation_points":
        return ga.articulation_points(sym, **cols).collect()
    if kernel == "bridges":
        return ga.bridges(sym, **cols).collect()
    assert kernel == "set_exclusion_reach"
    # scenario 3's seed is in its own excluded set: it reaches nothing
    seeds = spark.createDataFrame([(0, s), (1, s), (2, t), (3, s)], "k long, node long")
    excl = spark.createDataFrame([(1, t), (2, s), (3, s)], "k long, node long")
    return ga.set_exclusion_reach(sym, seeds, excl, **cols).collect()


_FRONTIER_KERNELS = [
    "sssp", "sssp_target", "multi_source_sssp", "k_shortest_paths", "bfs_sigma",
    "dijkstra_sigma", "label_cc", "articulation_points", "bridges",
    "set_exclusion_reach",
]
# a kernel without a target walks the whole chain: ~30 supersteps of
# ~1 s each on 4 cores, so those cases run in the full tier only
_FRONTIER_CASES = [
    pytest.param(
        kernel, graph, id=f"{kernel}-{graph}",
        marks=pytest.mark.slow
        if graph == "chain" and kernel not in ("sssp_target", "k_shortest_paths") else (),
    )
    for kernel in _FRONTIER_KERNELS
    for graph in sorted(_FRONTIER_GRAPHS)
    # dijkstra_sigma needs strictly positive weights (TIE_EDGES has a 0.0);
    # articulation points and bridges are defined on a connected graph
    if not (kernel == "dijkstra_sigma" and graph == "ties")
    and not (kernel in ("articulation_points", "bridges") and graph == "two_components")
]


@pytest.mark.parametrize("kernel, graph", _FRONTIER_CASES)
def test_frontier_family_branch_parity(spark, kernel, graph):
    edges, s, t = _FRONTIER_GRAPHS[graph]

    def canon(out):
        return sorted(tuple(r) for r in out) if isinstance(out, list) else out

    local = canon(_frontier_kernel(kernel, spark, edges, s, t))
    with forced_distributed():
        dist = canon(_frontier_kernel(kernel, spark, edges, s, t))
    assert dist == local


def test_k_shortest_distributed_no_route(spark):
    from eve_graph_spark.operators.graph import k_shortest_paths_distributed

    e = spark.createDataFrame(
        [(0, 1, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    with forced_distributed():
        assert k_shortest_paths_distributed(e, 0, 3, k=2) == []


def test_route_alternatives_api(spark, sf_dir):
    from eve_graph_spark.sources.graph_fixture import build_jumps, build_systems

    eng = GraphEngine(build_systems(spark, sf_dir), build_jumps(spark, sf_dir))
    names = {r["system_id"]: r["name"] for r in eng.systems.collect()}
    routes = eng.route_alternatives(names[0], names[13], k=3)
    costs = [c for c, _ in routes]
    assert costs == sorted(costs) and len(routes) == 3
    assert all(p[0] == names[0] and p[-1] == names[13] for _, p in routes)
    assert len({tuple(p) for _, p in routes}) == 3  # distinct paths


def test_projection_registry(spark, sf_dir):
    jumps = build_jumps(spark, sf_dir)
    reg = ProjectionRegistry()
    reg.project("system-map", jumps, "cost")
    assert reg.exists("system-map")
    assert not reg.exists("jump-risk")
    reg.refresh("system-map", jumps, "cost")
    reg.drop("system-map")
    assert not reg.exists("system-map")


def test_reconstruct_path_iterative_mode_matches_driver_mode(spark, fixture_edges):
    """Distributed path walk: same path as the collect-the-map walk, and it
    never collects the vertex-sized dist table (scale-killer fix, r5)."""
    jumps, _ = fixture_edges
    dist = sssp(jumps, [0], weight_col="risk",
                src_col="src_system_id", dst_col="dst_system_id")
    stats_drv, stats_it = {}, {}
    p_driver = reconstruct_path(dist, 13, stats_out=stats_drv)
    with forced_distributed():
        p_iter = reconstruct_path(dist, 13, stats_out=stats_it)
    assert stats_drv["mode"] == "driver"
    assert stats_it["mode"] == "iterative"
    assert p_iter == p_driver
    assert p_iter[0] == 0 and p_iter[-1] == 13
    # rows fetched == path length, NOT vertex count
    assert stats_it["rows_collected"] == len(p_iter)
    assert stats_it["rows_collected"] < dist.count()


def test_reconstruct_path_iterative_unreachable_target(spark, fixture_edges):
    jumps, _ = fixture_edges
    dist = sssp(jumps, [0], weight_col="risk",
                src_col="src_system_id", dst_col="dst_system_id")
    stats = {}
    with forced_distributed():
        assert reconstruct_path(dist, 999_999, stats_out=stats) == []
    assert stats["mode"] == "iterative" and stats["rows_collected"] == 0


def test_fits_driver_probe_is_memoized(spark, sf_dir):
    """Six analytics over one snapshot must pay ONE probe job (r5 item 7)."""
    from eve_graph_spark.operators import graph as G

    jumps = build_jumps(spark, sf_dir)
    e = jumps.select(F.col("src_system_id").alias("src"), F.col("dst_system_id").alias("dst"))
    G.clear_probe_cache()
    tracker = spark.sparkContext.statusTracker()
    before_ids = set(tracker.getJobIdsForGroup() or [])
    assert G.fits_driver(e, 2_000_000)
    mid_ids = set(tracker.getJobIdsForGroup() or [])
    assert len(mid_ids - before_ids) >= 1  # first probe ran a job
    # an equivalent-but-distinct plan object hits the memo: zero new jobs
    e2 = jumps.select(F.col("src_system_id").alias("src"), F.col("dst_system_id").alias("dst"))
    assert G.fits_driver(e2, 2_000_000)
    after_ids = set(tracker.getJobIdsForGroup() or [])
    assert after_ids == mid_ids


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_sssp_target_early_exit_distributed_chain(spark):
    """r6 verdict item 1: with a target at layer 10 of a long chain, the
    distributed loop must stop ~when the target settles, not relax the
    whole graph — and the path entries must be the full run's values."""
    n, target = 60, 10
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    st: dict = {}
    with forced_distributed():
        dist = sssp(e, [0], target_id=target, stats_out=st)
    rows = {r["node"]: (r["dist"], r["pred"]) for r in dist.collect()}
    assert st["early_exit"] is True
    assert st["iterations"] <= target + 2  # ~11 supersteps, not 60
    assert reconstruct_path(dist, target) == list(range(target + 1))
    for i in range(target + 1):
        assert rows[i] == (float(i), None if i == 0 else i - 1)


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_sssp_target_early_exit_branchy_parity(spark, fixture_edges):
    """On the branchy risk fixture the target-pruned distributed run must
    agree with the full distributed run on every entry with
    dist <= dist(target) — the contract reconstruct_path depends on."""
    jumps, _ = fixture_edges
    cols = dict(weight_col="risk", src_col="src_system_id", dst_col="dst_system_id")
    st: dict = {}
    with forced_distributed():
        full_df = sssp(jumps, [0], **cols)
        pruned_df = sssp(jumps, [0], target_id=13, stats_out=st, **cols)
    full = {r["node"]: (r["dist"], r["pred"]) for r in full_df.collect()}
    pruned = {r["node"]: (r["dist"], r["pred"]) for r in pruned_df.collect()}
    d13 = full[13][0]
    for node, (d, p) in full.items():
        if d <= d13:
            assert pruned[node] == (d, p), node
    assert reconstruct_path(pruned_df, 13) == reconstruct_path(full_df, 13)


def test_sssp_target_early_exit_driver_path(spark, fixture_edges):
    jumps, _ = fixture_edges
    full = {
        r["node"]: (r["dist"], r["pred"])
        for r in sssp(jumps, [0], weight_col="risk", src_col="src_system_id",
                      dst_col="dst_system_id").collect()
    }
    pruned = {
        r["node"]: (r["dist"], r["pred"])
        for r in sssp(jumps, [0], weight_col="risk", src_col="src_system_id",
                      dst_col="dst_system_id", target_id=13).collect()
    }
    d13 = full[13][0]
    for node, (d, p) in full.items():
        if d <= d13:
            assert pruned[node] == (d, p), node


def test_sssp_target_edge_cases(spark):
    # target == source: exits after one round, path is the single node
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    st: dict = {}
    with forced_distributed():
        dist = sssp(e, [0], target_id=0, stats_out=st)
    assert st["early_exit"] and st["iterations"] == 1
    assert reconstruct_path(dist, 0) == [0]
    # unreachable target: no early exit, loop drains normally, empty path
    e2 = spark.createDataFrame(
        [(0, 1, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    st2: dict = {}
    with forced_distributed():
        dist2 = sssp(e2, [0], target_id=3, stats_out=st2)
    assert st2["early_exit"] is False
    assert reconstruct_path(dist2, 3) == []


def test_multi_source_sssp_dedups_repeated_sources(spark, fixture_edges):
    from eve_graph_spark.operators.graph import multi_source_sssp

    jumps, _ = fixture_edges
    once = multi_source_sssp(jumps, [0], weight_col="risk",
                             src_col="src_system_id", dst_col="dst_system_id").collect()
    twice = multi_source_sssp(jumps, [0, 0], weight_col="risk",
                              src_col="src_system_id", dst_col="dst_system_id").collect()
    assert sorted(map(tuple, twice)) == sorted(map(tuple, once))


def test_graph_engine_chokepoints(spark, sf_dir):
    from eve_graph_spark.sources.graph_fixture import build_choke_edges

    # full fixture graph: the ring keeps it 2-connected -> no chokepoints
    eng = GraphEngine(build_systems(spark, sf_dir), build_jumps(spark, sf_dir))
    rows = eng.chokepoints().collect()
    assert len(rows) == 25 and all(r["is_articulation"] == 0 for r in rows)
    assert all(r["name"] for r in rows)  # systems dim joined on

    # hub-tree subgraph as the live jump table: the 5 hubs articulate
    choke = build_choke_edges(spark, sf_dir).select(
        F.col("src").alias("src_system_id"), F.col("dst").alias("dst_system_id"),
    )
    eng2 = GraphEngine(build_systems(spark, sf_dir), choke)
    arts = {r["system_id"] for r in eng2.chokepoints().collect() if r["is_articulation"]}
    assert arts == {0, 1, 2, 3, 4}


def test_graph_engine_route_avoid_list(spark, sf_dir):
    systems = build_systems(spark, sf_dir)
    eng = GraphEngine(systems, build_jumps(spark, sf_dir))
    names = {r["system_id"]: r["name"] for r in systems.collect()}
    base = eng.shortest_route(names[0], names[13])
    # avoiding a system ON the base route forces a different path
    mid = base[len(base) // 2]
    detour = eng.shortest_route(names[0], names[13], avoid=[mid])
    assert mid not in detour
    assert detour[0] == names[0] and detour[-1] == names[13]
    assert len(detour) >= len(base)  # a detour is never shorter
    # avoiding the destination itself -> 404 semantics
    with pytest.raises(RouteNotFound):
        eng.shortest_route(names[0], names[13], avoid=[names[13]])
    # avoid list also applies to the risk projection
    safe = eng.safest_route(names[0], names[13], avoid=[mid])
    assert mid not in safe and safe[-1] == names[13]


def test_no_public_function_takes_a_branch_knob(spark):
    """Each operator picks its driver or distributed branch from its
    module's cutover constant, and SPARK_GRAFT_FORCE_DISTRIBUTED forces the
    distributed one everywhere: no public function or method of the
    operators or of graph_api takes a per-call cutover."""
    import importlib
    import inspect
    import pkgutil

    import eve_graph_spark.operators as ops

    mods = [importlib.import_module(f"{ops.__name__}.{m.name}")
            for m in pkgutil.iter_modules(ops.__path__)]
    mods.append(importlib.import_module("eve_graph_spark.graph_api"))
    knobs = {"driver_threshold", "driver_local_threshold", "encode_driver_local"}
    found = []
    for mod in mods:
        for name, obj in vars(mod).items():
            if name.startswith("_"):
                continue
            if inspect.isclass(obj):
                fns = [(f"{name}.{n}", f) for n, f in vars(obj).items()
                       if inspect.isfunction(f) and not n.startswith("_")]
            elif inspect.isfunction(obj):
                fns = [(name, obj)]
            else:
                continue
            found += [(mod.__name__, n) for n, f in fns
                      if knobs & set(inspect.signature(f).parameters)]
    assert len(mods) > 10
    assert not found, found
