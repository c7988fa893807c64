"""Refresh anchoring: every `GraphEngine.refresh_*` materializes each table
it reassigns once, so a refresh reads checkpointed leaves and costs the
same however many refreshes came before it."""

from __future__ import annotations

from eve_graph_spark import api, schemas
from eve_graph_spark.api import (
    JUMP_RISK,
    SYSTEM_MAP,
    GraphEngine,
    risk_stream_handler,
    wormhole_stream_handler,
)
from eve_graph_spark.frames import local_frame
from eve_graph_spark.sources.custom_datasource import STREAM_DDL
from eve_graph_spark.sources.graph_fixture import build_jumps, build_systems
from tests.test_route_snapshot import _dataframe_route, _snapshot_route


def _engine(spark, sf_dir) -> GraphEngine:
    return GraphEngine(build_systems(spark, sf_dir), build_jumps(spark, sf_dir))


def _ids(eng: GraphEngine) -> list[int]:
    return sorted(r["system_id"] for r in eng.systems.select("system_id").collect())


def _activity(spark, ids: list[int], poll: int):
    kills = local_frame(spark, [(i, (i * 5 + poll) % 7) for i in ids], schemas.SYSTEM_KILLS)
    jumps = local_frame(spark, [(i, (i * 3 + poll) % 5 + 1) for i in ids], schemas.SYSTEM_JUMPS)
    return kills, jumps


def _stargates(spark, poll: int):
    """Two new gates per poll (both directions of one link), so every
    `refresh_stargates` really upserts edges."""
    a, b = poll, poll + 12
    return local_frame(
        spark,
        [(1000 + 2 * poll, a, 1001 + 2 * poll, b, f"g{a}-{b}", 0.0, 0.0, 0.0, 29624),
         (1001 + 2 * poll, b, 1000 + 2 * poll, a, f"g{b}-{a}", 0.0, 0.0, 0.0, 29624)],
        schemas.STARGATE,
    )


def _wormhole_poll(spark, poll: int):
    """One stream poll: a wormhole that moves every poll, its duplicate id
    and the poll's sentinel row."""
    a, b = poll % 25, (poll + 9) % 25
    sig = (f"wh{poll}", "wormhole", b, "XYZ-1", a, "ABC-2", "large", None, 12, poll)
    return local_frame(spark, [sig, sig, (None,) * 9 + (poll,)], STREAM_DDL)


def _jobs_of(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)  # clear the group
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan_nodes(df) -> int:
    stack, n = [df._jdf.queryExecution().analyzed()], 0
    while stack:
        plan = stack.pop()
        n += 1
        children = plan.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def test_third_risk_refresh_runs_no_more_jobs_than_the_first(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    ids = _ids(eng)
    jobs = [
        _jobs_of(spark, f"refresh-anchoring-risk-{poll}",
                 lambda poll=poll: eng.refresh_risk(*_activity(spark, ids, poll)))
        for poll in range(3)
    ]
    assert jobs[2] <= jobs[0], jobs


def test_table_plans_do_not_grow_across_refreshes(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    ids = _ids(eng)
    handle = wormhole_stream_handler(eng, {})
    sizes = []
    for poll in range(3):
        eng.refresh_stargates(_stargates(spark, poll))
        eng.refresh_risk(*_activity(spark, ids, poll))
        handle(_wormhole_poll(spark, poll), poll)
        sizes.append((_plan_nodes(eng.systems), _plan_nodes(eng.jumps)))
    assert sizes[2][0] <= sizes[0][0] and sizes[2][1] <= sizes[0][1], sizes


def test_routes_after_refreshes_equal_the_dataframe_route(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    ids = _ids(eng)
    for poll in range(3):
        eng.refresh_stargates(_stargates(spark, poll))
        eng.refresh_risk(*_activity(spark, ids, poll))
    names = {r["system_id"]: r["name"] for r in eng.systems.collect()}
    eng.build_cost_projection()
    for projection in (SYSTEM_MAP, JUMP_RISK):
        for s, t in ((0, 13), (13, 0), (2, 14), (24, 7), (1, 12)):
            assert _snapshot_route(eng, projection, names[s], names[t]) == \
                _dataframe_route(eng, projection, s, t), (projection, s, t)


def test_risk_stream_poll_anchors_each_table_once(spark, sf_dir, monkeypatch):
    """The handler's poll goes through `refresh_risk`'s own anchoring only:
    one `truncate_lineage` per table, and the engine keeps exactly those
    anchored frames."""
    eng = _engine(spark, sf_dir)
    ids = _ids(eng)
    anchored = []
    real = api.truncate_lineage

    def counting(df):
        out = real(df)
        anchored.append(out)
        return out

    monkeypatch.setattr(api, "truncate_lineage", counting)
    handle = risk_stream_handler(eng, {})
    handle(
        local_frame(
            spark, [(i, i % 3, i % 4 + 1, 0) for i in ids],
            "system_id long, ship_kills long, ship_jumps long, poll_id long",
        ),
        0,
    )
    assert len(anchored) == 2
    assert anchored[0] is eng.systems and anchored[1] is eng.jumps


def test_wormhole_stream_poll_anchors_jumps_once(spark, sf_dir, monkeypatch):
    """A wormhole poll runs `refresh_wormholes`, the POST path: one
    `truncate_lineage` over the new `jumps`, which the engine keeps as is,
    even when a cost projection already exists."""
    eng = _engine(spark, sf_dir)
    eng.build_cost_projection()
    anchored = []
    real = api.truncate_lineage

    def counting(df):
        out = real(df)
        anchored.append(out)
        return out

    monkeypatch.setattr(api, "truncate_lineage", counting)
    stats: dict = {}
    wormhole_stream_handler(eng, stats)(_wormhole_poll(spark, 0), 0)
    assert len(anchored) == 1
    assert anchored[0] is eng.jumps
    assert stats["polls"] == [0]
