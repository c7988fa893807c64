"""Driver-resident route snapshot: `GraphEngine` routes from the
projection's collected adjacency and a name↔id map of `systems`, so a
route request launches no Spark job; both snapshots follow the tables
they were collected from."""

from __future__ import annotations

import pytest
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
    """The DataFrame route: sssp(target_id=) -> reconstruct_path -> names."""
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
    the target-pruned run's (sssp docstring); far pairs are also checked
    against the target-pruned DataFrame route itself."""
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


@pytest.mark.parametrize("incremental", [False, True])
def test_wormhole_refresh_reroutes_shortest(spark, engine, names, incremental):
    a, b = _far_pair(engine, names)
    ids = {n: i for i, n in names.items()}
    refresh = (engine.refresh_wormholes_incremental if incremental
               else engine.refresh_wormholes)
    refresh(_signature(spark, ids[a], ids[b]))
    assert engine.shortest_route(a, b) == [a, b]
    assert engine.shortest_route(b, a) == [b, a]


def test_adjacency_collected_across_a_refresh_is_not_kept(spark, sf_dir, monkeypatch):
    """A refresh landing while a route collects the map (the stream
    handlers run on their own thread) must not leave the old map behind."""
    from eve_graph_spark.operators import graph as G

    reg = G.ProjectionRegistry()
    reg.project(SYSTEM_MAP, build_jumps(spark, sf_dir), "cost")
    added = spark.createDataFrame(
        [(1000, 2000, 1)], "src_system_id long, dst_system_id long, cost long"
    )
    collect = G._collect_adj

    def collect_then_refresh(e):
        adj = collect(e)
        reg.apply_delta(SYSTEM_MAP, added, None, "cost")
        return adj

    monkeypatch.setattr(G, "_collect_adj", collect_then_refresh)
    assert 1000 not in reg.adjacency(SYSTEM_MAP)
    monkeypatch.setattr(G, "_collect_adj", collect)
    assert reg.adjacency(SYSTEM_MAP)[1000] == [(2000, 1.0)]
    reg.drop(SYSTEM_MAP)
