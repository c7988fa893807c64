"""Public API — SURVEY.md §2.7 (A1-A7) as Python functions.

The reference exposes six warp HTTP routes (src/main.rs:37-69); here each is
a function over DataFrames. Error mapping (main.rs:125-151): route not found
→ RouteNotFound (the 404 + {"error":"route not found"} analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eve_graph_spark.checkpointing import truncate_lineage

from eve_graph_spark.functions.risk import galaxy_baseline, risk_expr
from eve_graph_spark.operators import relational as R
from eve_graph_spark.operators.graph import (
    DRIVER_PATH_MAX_NODES,
    ProjectionRegistry,
    force_distributed,
    path_as_names,
    reconstruct_path,
    route_local,
    sssp,
)

SYSTEM_MAP = "system-map"  # cost projection   (database.rs:422-438)
JUMP_RISK = "jump-risk"    # risk projection   (database.rs:440-456)


class RouteNotFound(Exception):
    """A1/A2 404 semantics (main.rs:162-168)."""


class GraphEngine:
    """Holds the vertex/edge tables + named projections, mirrors the
    reference service's lifecycle (bootstrap → refresh → query)."""

    def __init__(self, systems: DataFrame, jumps: DataFrame,
                 coords: DataFrame | None = None):
        self.systems = systems
        self.jumps = jumps
        # (system_id, x, y, z) — the reference stores coordinates on every
        # System (database.rs:86-88); they enable the heuristic=True route
        # arm. Optional: without them every route runs target-pruned sssp.
        self.coords = coords
        self.registry = ProjectionRegistry()
        # (systems frame it was collected from, name snapshot)
        self._names: tuple[DataFrame, tuple | None] | None = None

    def _name_snapshot(self) -> tuple[dict[str, int], dict[int, str]] | None:
        """(name → id, id → name) of `systems`, collected in one job on
        first use; None above DRIVER_PATH_MAX_NODES rows and in the
        forced-distributed arm. Keyed by the identity of the `systems`
        frame, so any reassignment (a refresh, stream anchoring, a caller)
        re-collects it, and a route racing a refresh on another thread
        cannot keep a snapshot of the old table. A duplicated name
        resolves to its first row, like the point lookup."""
        if force_distributed():
            return None
        systems = self.systems
        if self._names is None or self._names[0] is not systems:
            rows = (
                systems.select("system_id", "name")
                .limit(DRIVER_PATH_MAX_NODES + 1)
                .collect()
            )
            snap = None
            if len(rows) <= DRIVER_PATH_MAX_NODES:
                ids: dict[str, int] = {}
                for r in rows:
                    ids.setdefault(r["name"], r["system_id"])
                snap = (ids, {r["system_id"]: r["name"] for r in rows})
            self._names = (systems, snap)
        return self._names[1]

    # --- projections (G1-G6) ------------------------------------------------
    def build_cost_projection(self) -> None:
        self.registry.refresh(SYSTEM_MAP, self.jumps, "cost")

    def build_risk_projection(self) -> None:
        self.registry.refresh(JUMP_RISK, self.jumps, "risk")

    def _resolve(self, name: str) -> int:
        names = self._name_snapshot()
        if names is not None:
            sid = names[0].get(name)
        else:
            row = R.point_lookup(self.systems, "name", name).select("system_id").collect()
            sid = row[0]["system_id"] if row else None
        if sid is None:
            raise RouteNotFound(f"system {name!r} not found")
        return sid

    def _route(self, projection: str, from_name: str, to_name: str,
               heuristic: bool = False,
               avoid: list[str] | None = None) -> list[str]:
        src, dst = self._resolve(from_name), self._resolve(to_name)
        # Avoiding an endpoint of the trip itself makes the route
        # unreachable -> the normal 404 path.
        ids = [self._resolve(n) for n in avoid or ()]
        adj = None if heuristic else self.registry.adjacency(projection)
        names = self._name_snapshot()
        if adj is not None and names is not None:
            # both snapshots on the driver: no Spark job per request, the
            # GDS-over-CSR shape (database.rs:484-513). An id missing from
            # `systems` drops out, as path_as_names' inner join does.
            path = route_local(adj, src, dst, set(ids))
            if not path:
                raise RouteNotFound("route not found")
            return [names[1][n] for n in path if n in names[1]]
        edges = self.registry.get(projection)
        if ids:
            # avoid-list routing: drop edges touching the avoided systems
            # BEFORE the search — a scan-stage predicate over the cached
            # projection, so the SSSP/A* kernels run unchanged on the
            # subgraph.
            edges = edges.filter(
                ~F.col("src").isin(ids) & ~F.col("dst").isin(ids)
            )
        if heuristic:
            # coordinate-pruned A* (driver-sized graphs): h = euclidean
            # distance scaled by the graph's best distance-per-cost ratio,
            # admissible for ANY positive weight column — cost and risk
            # alike — because r is derived from the same weights.
            if self.coords is None:
                raise ValueError(
                    "heuristic route requires the engine to be built with "
                    "a coords table (system_id, x, y, z)"
                )
            from eve_graph_spark.operators.graph import a_star

            res = a_star(edges, self.coords, src, dst)
            if res is None:
                raise RouteNotFound("route not found")
            return path_as_names(self.systems, res[1])
        # target-pruned: GDS Dijkstra stops at targetNode
        # (database.rs:484-513); the early exit keeps a route request from
        # relaxing the whole graph above the driver threshold
        dist = sssp(edges, [src], target_id=dst)
        path = reconstruct_path(dist, dst)
        if not path:
            raise RouteNotFound("route not found")
        return path_as_names(self.systems, path)

    # --- A1: GET /shortest-route/{from}/to/{to} (main.rs:153-171) ----------
    def shortest_route(self, from_name: str, to_name: str,
                       heuristic: bool = False,
                       avoid: list[str] | None = None) -> list[str]:
        if not self.registry.exists(SYSTEM_MAP):
            self.build_cost_projection()
        return self._route(SYSTEM_MAP, from_name, to_name, heuristic, avoid)

    # --- A2: GET /safest-route/{from}/to/{to} (main.rs:173-199) ------------
    # Lazily (re)builds the risk projection if missing (main.rs:178-185).
    def safest_route(self, from_name: str, to_name: str,
                     heuristic: bool = False,
                     avoid: list[str] | None = None) -> list[str]:
        if not self.registry.exists(JUMP_RISK):
            self.build_risk_projection()
        return self._route(JUMP_RISK, from_name, to_name, heuristic, avoid)

    def chokepoints(self) -> DataFrame:
        """(system_id, name, reached, is_articulation) on the CURRENT jump
        graph — the systems whose loss disconnects the route network (the
        wormhole-ops question behind the reference's live graph: today's
        map is 2-connected only until the right signature expires). Rides
        graph_analytics.articulation_points' exclusion-BFS; the systems
        dim is broadcast onto the verdicts."""
        from eve_graph_spark.operators.graph_analytics import articulation_points

        ap = articulation_points(self.jumps)
        return ap.join(
            F.broadcast(self.systems.select(F.col("system_id").alias("node"), "name")),
            "node",
        ).select(F.col("node").alias("system_id"), "name", "reached", "is_articulation")

    def route_alternatives(self, from_name: str, to_name: str, k: int = 3) -> list[tuple[float, list[str]]]:
        """k best loop-free routes ranked by total cost (SURVEY §2.8 route
        ranking) — beyond the reference's single-route API."""
        from eve_graph_spark.operators.graph import k_shortest_paths_distributed

        src, dst = self._resolve(from_name), self._resolve(to_name)
        if not self.registry.exists(SYSTEM_MAP):
            self.build_cost_projection()
        edges = self.registry.get(SYSTEM_MAP)
        # the shipping router: driver twin below the SSSP threshold, batched
        # spur sweeps above it (graph.k_shortest_paths_distributed)
        routes = k_shortest_paths_distributed(edges, src, dst, k)
        if not routes:
            raise RouteNotFound("route not found")
        snapshot = self._name_snapshot()
        if snapshot is not None:
            names = snapshot[1]
        else:
            # path-sized name fetch (pushed-down isin), never the full dim
            node_ids = sorted({n for _, p in routes for n in p})
            names = {
                r["system_id"]: r["name"]
                for r in self.systems.filter(F.col("system_id").isin(node_ids))
                .select("system_id", "name")
                .collect()
            }
        return [(cost, [names[n] for n in path]) for cost, path in routes]

    # --- A3: POST /systems/refresh (sync.rs:121-170) ------------------------
    def refresh_systems(self, esi_systems: DataFrame) -> DataFrame:
        """Diff-sync: remove DB∖ESI, add ESI∖DB, dedup, return new table."""
        to_add, to_remove = R.diff_sync(
            esi_systems.select("system_id"), self.systems.select("system_id"), "system_id"
        )
        kept = R.remove_by_ids(self.systems, to_remove, "system_id")
        added = esi_systems.join(to_add, "system_id", "left_semi")
        self.systems = R.dedup_keep_first(kept.unionByName(added), ["system_id"])
        return self.systems

    # --- A4: POST /systems/risk (sync.rs:296-321) ---------------------------
    def refresh_risk(self, kills: DataFrame, jumps_activity: DataFrame) -> DataFrame:
        """Risk pipeline: update activity columns (W6/W7), baseline (F2),
        per-system risk (F1), write onto inbound edges (W8), rebuild the
        risk projection (G6). Three small joins, one pass over edges."""
        sys = R.keyed_update(self.systems, kills, "system_id", "kills", "ship_kills", default=0)
        sys = R.keyed_update(sys, jumps_activity, "system_id", "jumps", "ship_jumps", default=0)
        self.systems = sys
        base = galaxy_baseline(kills, jumps_activity)
        sys_risk = sys.crossJoin(F.broadcast(base)).select(
            "system_id", risk_expr(F.col("kills"), F.col("jumps"), F.col("baseline")).alias("risk")
        )
        self.jumps = R.update_inbound_edge_risk(self.jumps, sys_risk)
        self._gate_base = None  # full-table rewrite invalidates the poll split
        self.build_risk_projection()
        return self.jumps

    # --- A5: POST /stargates/refresh (sync.rs:172-221) ----------------------
    def refresh_stargates(self, stargates: DataFrame) -> DataFrame:
        """Derive gate edges (W4) and upsert the missing ones (W5), then
        rebuild the cost projection."""
        gate_edges = R.derive_gate_edges(stargates, self.systems).withColumn(
            "risk", F.lit(None).cast("double")
        ).select("src_system_id", "dst_system_id", "cost", "risk", "kind")
        self.jumps = R.upsert_edges_if_missing(self.jumps, gate_edges)
        self._gate_base = None  # gate set changed — rebuild the poll split
        self.build_cost_projection()
        return self.jumps

    # --- A6: POST /wormholes/refresh (main.rs:201-212, sync.rs:66-94) -------
    def refresh_wormholes(self, signatures: DataFrame, reset_names: tuple[str, ...] = ("Thera", "Turnur")) -> DataFrame:
        """Thera/Turnur connection reset (W13) + wormhole filter (D3) +
        bidirectional insert (W3) + cost projection rebuild."""
        reset_ids = self.systems.filter(F.col("name").isin(list(reset_names))).select("system_id")
        self.jumps = R.drop_node_connections(self.jumps, reset_ids)
        wh = R.filter_wormhole_signatures(signatures).select(
            F.col("in_system_id").alias("src_system_id"),
            F.col("out_system_id").alias("dst_system_id"),
            F.lit(1).cast("long").alias("cost"),
            F.lit(None).cast("double").alias("risk"),
            F.lit("wormhole").alias("kind"),
        )
        self.jumps = R.upsert_edges_if_missing(self.jumps, R.bidirectional_edges(wh))
        self._gate_base = None  # full rewrite — the poll split re-derives lazily
        self.build_cost_projection()
        return self.jumps

    # --- A6, incremental form (r6 verdict item 6) ---------------------------
    def refresh_wormholes_incremental(
        self,
        signatures: DataFrame,
        reset_names: tuple[str, ...] = ("Thera", "Turnur"),
        stats_out: dict | None = None,
    ) -> DataFrame:
        """Delta form of `refresh_wormholes`: wormholes churn every poll
        (A6, sync.rs:66-94), but the edge DELTA per poll is a handful of
        signatures — re-deriving the whole cost projection per poll is
        the scale leak. This applies exactly the same edge-table update
        as the full path, then patches the persisted projection with
        (removed reset-system edges, newly-missing wormhole edges) via
        `ProjectionRegistry.apply_delta` — one left_anti + union over
        the CACHED projection, never the full derivation. Routes after
        this are identical to a full rebuild (test-pinned e2e).

        `stats_out` gets apply_delta's removed_rows/added_rows — both
        delta-sized.
        """
        if not self.registry.exists(SYSTEM_MAP):
            # nothing to patch — take the full path (also builds the
            # projection the next delta will patch)
            return self.refresh_wormholes(signatures, reset_names)
        reset_ids = [
            r["system_id"]
            for r in self.systems.filter(F.col("name").isin(list(reset_names)))
            .select("system_id")
            .collect()
        ]
        # Base/overlay split, built once and ANCHORED: gates are static
        # across wormhole polls, wormholes churn. Every poll rebuilds
        # only the delta-sized wormhole overlay (materialized eagerly —
        # it is signature-batch-sized) and re-unions it onto the frozen
        # gate base, so self.jumps stays at CONSTANT lineage depth. The
        # first wiring (r7) layered left_anti+union directly on
        # self.jumps per poll; scripts/measure_incremental_refresh.py
        # measured the per-poll input rows growing QUADRATICALLY as each
        # poll replayed every prior poll's chain — the classic immutable-
        # table delta mistake. This is the in-memory analogue of a
        # kind-partitioned stored table where the poll overwrites only
        # the wormhole partition (SCALE.md "Incremental refresh").
        if getattr(self, "_gate_base", None) is None:
            self._gate_base = self.jumps.filter(
                F.col("kind") != "wormhole"
            ).transform(truncate_lineage)
            self._wh_overlay = self.jumps.filter(
                F.col("kind") == "wormhole"
            ).transform(truncate_lineage)
        # Removed pairs come from the CACHED projection, not the edge
        # table (the cost projection covers every jump edge, so the two
        # filters select the same pairs) — one cached scan, no upstream
        # re-derivation.
        old_proj = self.registry.get(SYSTEM_MAP)
        removed_keys = old_proj.filter(
            F.col("src").isin(reset_ids) | F.col("dst").isin(reset_ids)
        ).select(
            F.col("src").alias("src_system_id"), F.col("dst").alias("dst_system_id")
        )
        # Gate edges touching a reset system are none in practice (resets
        # are wormhole-only systems) — probe the anchored base and, in
        # the rare hit, patch and RE-ANCHOR it so the base never grows a
        # lineage chain.
        gate_hit = self._gate_base.filter(
            F.col("src_system_id").isin(reset_ids)
            | F.col("dst_system_id").isin(reset_ids)
        )
        if gate_hit.limit(1).count():
            self._gate_base = self._gate_base.join(
                removed_keys, ["src_system_id", "dst_system_id"], "left_anti"
            ).transform(truncate_lineage)
        wh_kept = self._wh_overlay.filter(
            ~(F.col("src_system_id").isin(reset_ids)
              | F.col("dst_system_id").isin(reset_ids))
        )
        wh = R.filter_wormhole_signatures(signatures).select(
            F.col("in_system_id").alias("src_system_id"),
            F.col("out_system_id").alias("dst_system_id"),
            F.lit(1).cast("long").alias("cost"),
            F.lit(None).cast("double").alias("risk"),
            F.lit("wormhole").alias("kind"),
        )
        bi = R.bidirectional_edges(wh).dropDuplicates(
            ["src_system_id", "dst_system_id"]
        )
        # "Newly missing" check against a PRUNED slice of the base (the
        # signature batch's src-id set pushes down) plus the tiny overlay
        # — candidate rows only, never the full table.
        bi_srcs = [r["src_system_id"] for r in bi.select("src_system_id").collect()]
        cand = (
            self._gate_base.filter(F.col("src_system_id").isin(bi_srcs))
            .select("src_system_id", "dst_system_id")
            .unionByName(wh_kept.select("src_system_id", "dst_system_id"))
        )
        added = bi.join(cand, ["src_system_id", "dst_system_id"], "left_anti")
        self._wh_overlay = wh_kept.unionByName(added).transform(truncate_lineage)
        self.jumps = self._gate_base.unionByName(self._wh_overlay)
        self.registry.apply_delta(
            SYSTEM_MAP, added, removed_keys, "cost", stats_out=stats_out
        )
        return self.jumps

    # --- bootstrap (D9, main.rs:84-107) --------------------------------------
    def bootstrap(self, esi_systems: DataFrame, stargates: DataFrame,
                  kills: DataFrame, jumps_activity: DataFrame, signatures: DataFrame) -> None:
        """Ordered: systems → stargates → risks → risk projection →
        wormholes → cost projection (wormhole edges must exist before the
        cost projection is built)."""
        self.refresh_systems(esi_systems)
        self.refresh_stargates(stargates)
        self.refresh_risk(kills, jumps_activity)
        self.refresh_wormholes(signatures)


def wormhole_stream_handler(engine: GraphEngine, stats_out: dict | None = None):
    """foreachBatch handler wiring the eve_scout STREAMING source
    (sources/custom_datasource.STREAM_DDL) to
    `GraphEngine.refresh_wormholes_incremental` — the end-to-end streaming
    analogue of POST /wormholes/refresh (A6): each micro-batch patches the
    persisted cost projection with a delta, never a full rebuild.

    The feed is FULL-STATE per poll, so a catch-up micro-batch spanning
    several polls applies only the LATEST poll in the batch (older polls
    are superseded state, and applying them would transiently resurrect
    expired wormholes). The source emits one all-NULL SENTINEL row per
    poll, so an EMPTY poll (every wormhole expired) is still visible here
    and gets applied — sentinels are dropped before the refresh, leaving
    an empty signature set, which runs the reference reset semantics
    instead of silently preserving stale state. `stats_out["polls"]`
    accumulates the poll_ids actually applied — tests use it to pin
    offset-resume behavior.

    Same hardening as `risk_stream_handler` (r10 advice, symmetric): poll
    application is monotonic across batches (a backfilled stale poll
    would otherwise RESURRECT expired wormholes), duplicate signature ids
    inside one poll are collapsed before the refresh, and
    `stats_out["polls"]` records a poll only after the refresh succeeds.
    """
    applied: dict[str, int | None] = {"last": None}

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        last = None
        if "poll_id" in batch_df.columns:
            last = batch_df.agg(F.max("poll_id")).collect()[0][0]
            if last is None:
                return  # no polls in this batch
            last = int(last)
            if applied["last"] is not None and last <= applied["last"]:
                return  # stale or replayed poll — never regress fresher state
            batch_df = (
                batch_df.filter(F.col("poll_id") == last)
                .drop("poll_id")
                .filter(F.col("id").isNotNull())  # drop the poll sentinel
            )
        elif batch_df.isEmpty():
            return
        # Deterministic duplicate collapse (ADVICE r11): dropDuplicates
        # keeps an ARBITRARY row when duplicate ids disagree on other
        # columns, making the resulting wormhole state run-dependent. Keep
        # the first row of the full-column total order instead — ties are
        # identical rows, so any batch always reduces to the same state
        # (the risk handler's max-reduction is the counters analogue).
        from pyspark.sql import Window

        others = [c for c in batch_df.columns if c != "id"]
        if others:
            one_per_id = Window.partitionBy("id").orderBy(
                *[F.col(c).asc_nulls_last() for c in others]
            )
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(one_per_id))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:  # id-only frame: duplicates are identical rows
            batch_df = batch_df.dropDuplicates(["id"])
        engine.refresh_wormholes_incremental(batch_df)
        if last is not None:
            applied["last"] = last
            if stats_out is not None:
                stats_out.setdefault("polls", []).append(last)

    return handle


def risk_stream_handler(engine: GraphEngine, stats_out: dict | None = None):
    """foreachBatch handler for the reference's OTHER refresh cadence — the
    ~30-minute kills/jumps risk loop (README.md:32-33, sync.rs:296-321) —
    completing the streaming story next to `wormhole_stream_handler`: each
    micro-batch of the system-activity feed
    (`system_id, ship_kills, ship_jumps[, poll_id]`) drives
    `GraphEngine.refresh_risk`, i.e. activity update (W6/W7) → galaxy
    baseline (F2) → per-system risk (F1) → inbound-edge write (W8) → risk
    projection rebuild (G6).

    Unlike the wormhole loop there is NO smaller correct delta: the galaxy
    baseline is a global Σkills/Σjumps, so every system's risk — and every
    edge of the risk projection — legitimately moves with each poll. The
    full recompute IS the reference semantics (sync.rs:296-321 re-derives
    every system's risk each cycle); what the streaming wiring must add is
    bounded lineage, so after each applied poll the engine's systems and
    jumps tables are re-anchored with an eager localCheckpoint — N polls
    cost N × one-refresh work, never a growing join chain (the r7
    wormhole-overlay lesson, measured in
    scripts/measure_incremental_refresh.py).

    Full-state-per-poll semantics match `wormhole_stream_handler`: the ESI
    activity endpoints return the whole galaxy's counters per fetch, so a
    catch-up micro-batch spanning several polls applies only its LATEST
    poll (older polls are superseded state; systems absent from the feed
    zero out via keyed_update's default — exactly the batch path).
    `stats_out["polls"]` accumulates applied poll_ids for offset-resume
    tests.

    Hardening (r10 advice): (a) poll application is MONOTONIC across
    batches — the file source orders batches by modification time, so a
    backfilled file with a skewed mtime could otherwise land a stale poll
    AFTER a fresher one and overwrite newer full-state risk; the handler
    tracks the last applied poll_id and skips batches at or below it.
    (b) The applied poll is reduced to ONE row per system_id (max
    counters — deterministic) before keyed_update, so a poll split across
    files cannot fan out the systems table through the update join.
    (c) `stats_out["polls"]` records a poll only AFTER refresh_risk and
    the checkpoint anchoring succeed — a mid-batch failure must not log
    the poll as applied.
    """
    applied: dict[str, int | None] = {"last": None}

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        last = None
        if "poll_id" in batch_df.columns:
            last = batch_df.agg(F.max("poll_id")).collect()[0][0]
            if last is None:
                return  # no polls in this batch
            last = int(last)
            if applied["last"] is not None and last <= applied["last"]:
                return  # stale or replayed poll — never regress fresher state
            batch_df = batch_df.filter(F.col("poll_id") == last).drop("poll_id")
        elif batch_df.isEmpty():
            return
        # one row per system_id: a duplicate inside the batch would fan
        # out the systems table via the update join
        batch_df = batch_df.groupBy("system_id").agg(
            F.max("ship_kills").alias("ship_kills"),
            F.max("ship_jumps").alias("ship_jumps"),
        )
        engine.refresh_risk(
            batch_df.select("system_id", "ship_kills"),
            batch_df.select("system_id", "ship_jumps"),
        )
        # anchor: constant lineage depth across polls
        engine.systems = engine.systems.transform(truncate_lineage)
        engine.jumps = engine.jumps.transform(truncate_lineage)
        if last is not None:
            applied["last"] = last
            if stats_out is not None:
                stats_out.setdefault("polls", []).append(last)

    return handle
