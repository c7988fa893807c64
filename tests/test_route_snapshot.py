"""Driver-resident route snapshot: `GraphEngine` routes from the
projection's collected adjacency and a name↔id map of `systems`, so a
route request launches no Spark job; both snapshots follow the tables
they were collected from."""

from __future__ import annotations

import gc
import weakref

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F

from eve_graph_spark import api
from eve_graph_spark.api import JUMP_RISK, SYSTEM_MAP, GraphEngine, RouteNotFound
from eve_graph_spark.operators.graph import path_as_names, reconstruct_path, sssp
from eve_graph_spark.sources.graph_fixture import build_jumps, build_systems


def _jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup() or [])


@pytest.fixture()
def engine(spark, sf_dir):
    return GraphEngine(build_systems(spark, sf_dir), build_jumps(spark, sf_dir))


@pytest.fixture(scope="module")
def names(spark, sf_dir) -> dict[int, str]:
    return {r["system_id"]: r["name"] for r in build_systems(spark, sf_dir).collect()}


def _dataframe_route(eng: GraphEngine, projection: str, src: int, dst: int) -> list[str]:
    """The distributed DataFrame route: sssp(target_id=) -> reconstruct_path
    -> names."""
    with forced_distributed():
        dist = sssp(eng.registry.get(projection), [src], target_id=dst)
    return path_as_names(eng.systems, reconstruct_path(dist, dst))


def _snapshot_route(eng: GraphEngine, projection: str, a: str, b: str) -> list[str]:
    try:
        return eng._route(projection, a, b)
    except RouteNotFound:
        return []


def test_routes_launch_no_spark_jobs(spark, engine, names):
    a, b, mid = names[0], names[13], names[5]
    engine.shortest_route(a, b)  # builds projections and snapshots
    engine.safest_route(a, b)
    before = _jobs(spark)
    assert engine.shortest_route(b, a)[0] == b
    assert engine.safest_route(b, a)[-1] == a
    route = engine.shortest_route(a, b, avoid=[mid])
    assert route[0] == a and mid not in route
    assert mid not in engine.safest_route(a, b, avoid=[mid])
    with pytest.raises(RouteNotFound):
        engine.shortest_route(a, "NO-SUCH-SYSTEM")
    assert _jobs(spark) == before


def test_snapshot_route_matches_dataframe_route_on_every_pair(spark, engine, names):
    """Every ordered pair, both projections. The all-sources oracle is
    multi_source_sssp, whose per-source (dist, pred) are sssp()'s
    (test_multi_source_sssp_per_source_parity) and, below dist(target),
    the target-pruned run's (sssp docstring). The fixture fits the driver,
    so that oracle runs the same driver kernel; far pairs are also checked
    against the distributed target-pruned loop."""
    from eve_graph_spark.operators.graph import multi_source_sssp

    engine.build_cost_projection()
    engine.build_risk_projection()
    ids = sorted(names)
    for projection in (SYSTEM_MAP, JUMP_RISK):
        preds: dict[int, dict[int, int | None]] = {s: {} for s in ids}
        for r in multi_source_sssp(engine.registry.get(projection), ids).collect():
            preds[r["source"]][r["node"]] = r["pred"]
        for s in ids:
            for t in ids:
                want = []
                if t in preds[s]:
                    want = [t]
                    while preds[s][want[-1]] is not None:
                        want.append(preds[s][want[-1]])
                    want = [names[n] for n in reversed(want)]
                got = _snapshot_route(engine, projection, names[s], names[t])
                assert got == want, (projection, s, t)
        for s, t in ((0, 13), (13, 0), (3, 21), (24, 7)):
            assert _snapshot_route(engine, projection, names[s], names[t]) == \
                _dataframe_route(engine, projection, s, t)


def test_alternatives_and_heuristic_routes_launch_no_spark_jobs(spark, sf_dir, names):
    from eve_graph_spark.operators.graph import a_star
    from eve_graph_spark.sources.graph_fixture import build_coords

    eng = GraphEngine(build_systems(spark, sf_dir), build_jumps(spark, sf_dir),
                      coords=build_coords(spark, sf_dir))
    a, b = names[0], names[13]
    eng.route_alternatives(a, b)  # builds the projections and snapshots
    cost, path = a_star(eng.registry.get(SYSTEM_MAP), eng.coords, 13, 0)
    eng.safest_route(a, b, heuristic=True)
    before = _jobs(spark)
    routes = eng.route_alternatives(b, a)
    assert len(routes) == 3 and all(p[0] == b and p[-1] == a for _, p in routes)
    assert eng.shortest_route(b, a, heuristic=True) == [names[n] for n in path]
    assert routes[0][0] == cost
    assert eng.safest_route(b, a, heuristic=True)[-1] == a
    assert _jobs(spark) == before


def test_landmark_table_is_built_once_per_projection_build(spark, engine, names, monkeypatch):
    """Each projection build takes its table, so routes build none; a
    refresh rebuilds the table of the projection it rebuilt, and only
    that one, and leaves no snapshot for the next route to collect."""
    from eve_graph_spark import schemas
    from eve_graph_spark.frames import local_frame
    from eve_graph_spark.operators import graph as G

    built = []
    landmark_table = G.landmark_table

    def counted(adj):
        built.append(adj)
        return landmark_table(adj)

    monkeypatch.setattr(G, "landmark_table", counted)
    a, b = names[0], names[13]
    engine.build_cost_projection()
    engine.build_risk_projection()
    assert len(built) == 2 and built[0] is engine.registry.adjacency(SYSTEM_MAP)
    assert built[1] is engine.registry.adjacency(JUMP_RISK)
    for s in sorted(names)[:6]:
        engine.shortest_route(names[s], b)
        engine.safest_route(names[s], b, avoid=[names[20]])
    assert len(built) == 2

    ids = sorted(names)
    engine.refresh_risk(local_frame(spark, [(i, i % 3) for i in ids], schemas.SYSTEM_KILLS),
                        local_frame(spark, [(i, i % 5 + 1) for i in ids], schemas.SYSTEM_JUMPS))
    assert len(built) == 3 and built[2] is engine.registry.adjacency(JUMP_RISK)
    before = _jobs(spark)
    engine.shortest_route(a, b)
    engine.safest_route(a, b)
    assert len(built) == 3 and _jobs(spark) == before

    engine.refresh_wormholes(_signature(spark, 0, 13))
    assert len(built) == 4 and built[3] is engine.registry.adjacency(SYSTEM_MAP)
    before = _jobs(spark)
    assert engine.shortest_route(a, b) == [a, b]
    engine.safest_route(a, b)
    assert len(built) == 4 and _jobs(spark) == before

    # the forced-distributed arm builds no table and routes through
    # DataFrames, to the same path
    want = engine.shortest_route(b, names[7]), engine.safest_route(b, names[7])
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    engine.build_risk_projection()
    assert (engine.shortest_route(b, names[7]), engine.safest_route(b, names[7])) == want
    assert len(built) == 4


def test_forced_distributed_arm_skips_the_snapshot(spark, engine, names, monkeypatch):
    engine.build_cost_projection()
    engine.build_risk_projection()
    expect = {p: _snapshot_route(engine, p, names[0], names[13]) for p in (SYSTEM_MAP, JUMP_RISK)}

    def no_snapshot(*_a, **_k):
        raise AssertionError("snapshot route ran in the forced-distributed arm")

    monkeypatch.setattr(api, "route_local", no_snapshot)
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    for projection, want in expect.items():
        assert engine._route(projection, names[0], names[13]) == want


def test_refresh_systems_removal_404s(spark, engine, names):
    gone = names[7]
    assert engine.shortest_route(gone, names[0])[0] == gone
    engine.refresh_systems(engine.systems.filter(F.col("system_id") != 7))
    with pytest.raises(RouteNotFound):
        engine.shortest_route(gone, names[0])
    assert engine.shortest_route(names[13], names[0])[0] == names[13]


def test_direct_systems_assignment_refreshes_names(spark, engine, names):
    assert engine.shortest_route(names[0], names[13])[0] == names[0]
    engine.systems = engine.systems.withColumn(
        "name", F.when(F.col("system_id") == 0, F.lit("Renamed")).otherwise(F.col("name"))
    )
    assert engine.shortest_route("Renamed", names[13])[0] == "Renamed"
    with pytest.raises(RouteNotFound):
        engine.shortest_route(names[0], names[13])


def _far_pair(engine: GraphEngine, names: dict[int, str]) -> tuple[str, str]:
    for s in sorted(names):
        for t in sorted(names):
            if len(engine.shortest_route(names[s], names[t])) > 2:
                return names[s], names[t]
    raise AssertionError("fixture has no pair more than one jump apart")


def _signature(spark, src: int, dst: int):
    return spark.createDataFrame(
        [("w9", "wormhole", src, dst)],
        "id string, signature_type string, in_system_id long, out_system_id long",
    )


def test_wormhole_refresh_reroutes_shortest(spark, engine, names):
    a, b = _far_pair(engine, names)
    ids = {n: i for i, n in names.items()}
    engine.refresh_wormholes(_signature(spark, ids[a], ids[b]))
    assert engine.shortest_route(a, b) == [a, b]
    assert engine.shortest_route(b, a) == [b, a]


def test_adjacency_collected_across_a_refresh_is_not_kept(spark, sf_dir, monkeypatch):
    """A refresh landing while a route collects the map (the stream
    handlers run on their own thread) must not leave the old map behind."""
    from eve_graph_spark.operators import graph as G

    reg = G.ProjectionRegistry()
    jumps = build_jumps(spark, sf_dir).select("src_system_id", "dst_system_id", "cost")
    reg.project(SYSTEM_MAP, jumps, "cost")
    added = spark.createDataFrame(
        [(1000, 2000, 1)], "src_system_id long, dst_system_id long, cost long"
    )
    collect = G._collect_adj

    def collect_then_refresh(e):
        adj = collect(e)
        reg.refresh(SYSTEM_MAP, jumps.unionByName(added), "cost")
        return adj

    monkeypatch.setattr(G, "_collect_adj", collect_then_refresh)
    assert 1000 not in reg.adjacency(SYSTEM_MAP).index
    monkeypatch.setattr(G, "_collect_adj", collect)
    adj = reg.adjacency(SYSTEM_MAP)
    assert adj.out[adj.index[1000]] == [(adj.index[2000], 1.0)]
    # the landmark table is held with the map, and a rebuild or a drop
    # releases both
    for release in (lambda: reg.refresh(SYSTEM_MAP, jumps, "cost"),
                    lambda: reg.drop(SYSTEM_MAP)):
        snap = reg.landmarks(SYSTEM_MAP)
        assert snap[0] is reg.adjacency(SYSTEM_MAP)
        table = weakref.ref(snap[1])
        del snap
        release()
        gc.collect()
        assert table() is None
