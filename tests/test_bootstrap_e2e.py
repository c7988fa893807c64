"""End-to-end bootstrap: the full reference lifecycle (D9, main.rs:84-107)
on a synthetic 6-system universe — systems sync → stargate edges → risk
scoring → wormhole shortcut → both route queries."""

from __future__ import annotations

import pytest

from eve_graph_spark import schemas
from eve_graph_spark.api import GraphEngine, RouteNotFound


def _sys(sid, name, kills=0, jumps=10, gates=()):
    return (sid, name, -1, 0.5, "B", -1, 0.0, 0.0, 0.0, [], list(gates), kills, jumps)


def _gate(gid, sid, dest_gid, dest_sid):
    return (gid, sid, dest_gid, dest_sid, f"gate-{gid}", 0.0, 0.0, 0.0, 29624)


@pytest.fixture()
def universe(spark):
    # line topology 1-2-3-4-5-6, each link = one gate per direction
    systems = [
        _sys(i, f"Sys{i}", kills=(5 if i == 4 else 0), gates=[i * 10, i * 10 + 1])
        for i in range(1, 7)
    ]
    gates = []
    for a in range(1, 6):
        b = a + 1
        gates.append(_gate(a * 10, a, b * 10 + 1, b))
        gates.append(_gate(b * 10 + 1, b, a * 10, a))
    esi_systems = spark.createDataFrame(systems, schemas.SYSTEM)
    stargates = spark.createDataFrame(gates, schemas.STARGATE)
    kills = spark.createDataFrame(
        [(i, 5 if i == 4 else 0) for i in range(1, 7)], schemas.SYSTEM_KILLS
    )
    jumps_act = spark.createDataFrame([(i, 10) for i in range(1, 7)], schemas.SYSTEM_JUMPS)
    sigs = spark.createDataFrame(
        [("w1", "wormhole", 2, 6), ("d1", "data", 1, 5)],
        "id string, signature_type string, in_system_id long, out_system_id long",
    )
    return esi_systems, stargates, kills, jumps_act, sigs


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_bootstrap_and_routes(spark, universe):
    esi_systems, stargates, kills, jumps_act, sigs = universe
    empty_sys = spark.createDataFrame([], schemas.SYSTEM)
    empty_jumps = spark.createDataFrame([], schemas.JUMP)
    eng = GraphEngine(empty_sys, empty_jumps)
    eng.bootstrap(esi_systems, stargates, kills, jumps_act, sigs)

    assert eng.systems.count() == 6
    # the wormhole shortcut makes 1→6 three hops instead of six
    assert eng.shortest_route("Sys1", "Sys6") == ["Sys1", "Sys2", "Sys6"]
    # STALENESS CONTRACT (reference bootstrap order, main.rs:84-107): the
    # risk projection was built before wormholes were inserted, so the
    # safest route still walks the line — through hot Sys4
    assert eng.safest_route("Sys1", "Sys6") == [f"Sys{i}" for i in range(1, 7)]
    # the next risk refresh rebuilds the projection with wormhole edges;
    # now the safe path takes the wormhole around Sys4 (kills=5)
    eng.refresh_risk(kills, jumps_act)
    safe = eng.safest_route("Sys1", "Sys6")
    assert safe == ["Sys1", "Sys2", "Sys6"]
    with pytest.raises(RouteNotFound):
        eng.shortest_route("Sys1", "Nowhere")


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_incremental_resync_removes_systems(spark, universe):
    esi_systems, stargates, kills, jumps_act, sigs = universe
    eng = GraphEngine(
        spark.createDataFrame([], schemas.SYSTEM), spark.createDataFrame([], schemas.JUMP)
    )
    eng.bootstrap(esi_systems, stargates, kills, jumps_act, sigs)
    # ESI now reports system 6 gone -> diff-sync removes it
    eng.refresh_systems(esi_systems.filter("system_id != 6"))
    assert eng.systems.count() == 5
    assert {r["system_id"] for r in eng.systems.collect()} == {1, 2, 3, 4, 5}


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_engine_over_persisted_bucketed_tables(spark, universe, tmp_path):
    # Durable-table lifecycle: bootstrap -> persist through the sinks'
    # layout contract (systems partitioned, jumps BUCKETED by
    # src_system_id) -> rebuild the engine from storage -> identical
    # routes. This is the "engine over bucketed persisted tables" run the
    # in-memory tests don't cover.
    from pyspark.sql import functions as F

    from eve_graph_spark.sinks import read_back, write_bucketed, write_partitioned

    esi_systems, stargates, kills, jumps_act, sigs = universe
    eng = GraphEngine(
        spark.createDataFrame([], schemas.SYSTEM), spark.createDataFrame([], schemas.JUMP)
    )
    eng.bootstrap(esi_systems, stargates, kills, jumps_act, sigs)
    eng.refresh_risk(kills, jumps_act)

    sys_path = str(tmp_path / "systems")
    write_partitioned(eng.systems, sys_path, ["constellation_id"])
    spark.sql("DROP TABLE IF EXISTS jumps_engine_e2e")
    write_bucketed(eng.jumps, "jumps_engine_e2e", "src_system_id", 4)
    try:
        eng2 = GraphEngine(read_back(spark, sys_path), spark.table("jumps_engine_e2e"))
        eng2.build_cost_projection()
        eng2.build_risk_projection()
        assert eng2.shortest_route("Sys1", "Sys6") == ["Sys1", "Sys2", "Sys6"]
        assert eng2.safest_route("Sys1", "Sys6") == ["Sys1", "Sys2", "Sys6"]

        # Layout contract: an edge-keyed self-join on the bucketed table
        # (the co-located upsert/frontier shape) plans with NO exchange on
        # src_system_id when broadcast is off.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark.table("jumps_engine_e2e")
            b = spark.table("jumps_engine_e2e").select(
                "src_system_id", F.col("dst_system_id").alias("d2")
            )
            from tests.test_plans_and_sinks import plan_of

            plan = plan_of(a.join(b, "src_system_id"))
            physical = plan.split("== Physical Plan ==")[-1]
            assert "Exchange hashpartitioning(src_system_id" not in physical
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    finally:
        spark.sql("DROP TABLE IF EXISTS jumps_engine_e2e")
