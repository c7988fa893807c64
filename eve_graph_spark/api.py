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
    a_star,
    force_distributed,
    k_shortest_paths_distributed,
    k_shortest_paths_local,
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
        # System (database.rs:86-88); a heuristic=True route requires them
        # and runs coordinate-pruned `a_star` when the projection is not
        # on the driver. Optional: without them every route runs
        # target-pruned sssp.
        self.coords = coords
        self.registry = ProjectionRegistry()
        # (systems frame it was collected from, name snapshot)
        self._names: tuple[DataFrame, tuple | None] | None = None

    def _name_snapshot(self) -> tuple[dict[str, int], dict[int, str]] | None:
        """(name → id, id → name) of `systems`, collected as Arrow in one
        job by the refresh that reassigns it, or on first use; None above
        DRIVER_PATH_MAX_NODES rows and in the forced-distributed arm. Keyed
        by the identity of the `systems` frame, so any reassignment (a
        refresh, a caller) re-collects it, and a route racing a refresh on
        another thread cannot keep a snapshot of the old table. A
        duplicated name resolves to its first row, like the point lookup."""
        if force_distributed():
            return None
        systems = self.systems
        if self._names is None or self._names[0] is not systems:
            t = (
                systems.select("system_id", "name")
                .limit(DRIVER_PATH_MAX_NODES + 1)
                .toArrow()
            )
            snap = None
            if t.num_rows <= DRIVER_PATH_MAX_NODES:
                sids = t.column("system_id").to_pylist()
                names = t.column("name").to_pylist()
                ids: dict[str, int] = {}
                for name, sid in zip(names, sids):
                    ids.setdefault(name, sid)
                snap = (ids, dict(zip(sids, names)))
            self._names = (systems, snap)
        return self._names[1]

    # --- projections (G1-G6) ------------------------------------------------
    # Each build also takes the projection's driver snapshot, its adjacency
    # and landmark table, so the refresh that rebuilt a projection (a POST
    # or a stream poll) pays for them and no route request does.
    def build_cost_projection(self) -> None:
        self.registry.refresh(SYSTEM_MAP, self.jumps, "cost")
        self.registry.landmarks(SYSTEM_MAP)

    def build_risk_projection(self) -> None:
        self.registry.refresh(JUMP_RISK, self.jumps, "risk")
        self.registry.landmarks(JUMP_RISK)

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
        if heuristic and self.coords is None:
            raise ValueError(
                "heuristic route requires the engine to be built with "
                "a coords table (system_id, x, y, z)"
            )
        snap = self.registry.landmarks(projection)
        names = self._name_snapshot()
        if snap is not None and names is not None:
            # both snapshots on the driver: no Spark job per request, the
            # GDS-over-CSR shape (database.rs:484-513). An id missing from
            # `systems` drops out, as path_as_names' inner join does.
            # heuristic=True takes this route too: the landmark bounds
            # prune harder than coordinates, and the path is the same.
            adj, table = snap
            path = route_local(adj, src, dst, set(ids), table)
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
            res = a_star(edges, self.coords, src, dst)
            path = res[1] if res else []
        else:
            # target-pruned: GDS Dijkstra stops at targetNode
            # (database.rs:484-513); the early exit keeps a route request
            # from relaxing the whole graph above the driver threshold
            path = reconstruct_path(sssp(edges, [src], target_id=dst), dst)
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
        src, dst = self._resolve(from_name), self._resolve(to_name)
        if not self.registry.exists(SYSTEM_MAP):
            self.build_cost_projection()
        adj = self.registry.adjacency(SYSTEM_MAP)
        if adj is not None:
            routes = k_shortest_paths_local(adj, src, dst, k)
        else:
            # batched spur sweeps above the driver threshold
            routes = k_shortest_paths_distributed(
                self.registry.get(SYSTEM_MAP), src, dst, k
            )
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

    # Every refresh materializes each table it reassigns ONCE, right after
    # deriving it (`truncate_lineage`), the way the reference reads and
    # writes stored Neo4j rows. The projection rebuild, the caller's row
    # count, the name snapshot and the next refresh then all read that
    # checkpointed leaf: a refresh costs the same however many came before
    # it, and a dropDuplicates-based dedup is decided once per refresh.
    # A refresh that reassigns `systems` also re-takes the name snapshot,
    # as a projection build takes its driver snapshot: the refresh pays
    # for it, not the first route after it.
    # The replaced anchor is NOT unpersisted here: frames derived from it
    # (a projection's recovery lineage, a route in flight on a stream
    # thread, the frame an earlier refresh returned) may still read it.
    # Spark's ContextCleaner frees its blocks once nothing references it.

    # --- A3: POST /systems/refresh (sync.rs:121-170) ------------------------
    def refresh_systems(self, esi_systems: DataFrame) -> DataFrame:
        """Diff-sync: remove DB∖ESI, add ESI∖DB, dedup; the new table is
        materialized once and returned."""
        to_add, to_remove = R.diff_sync(
            esi_systems.select("system_id"), self.systems.select("system_id"), "system_id"
        )
        kept = R.remove_by_ids(self.systems, to_remove, "system_id")
        added = esi_systems.join(to_add, "system_id", "left_semi")
        self.systems = R.dedup_keep_first(
            kept.unionByName(added), ["system_id"]
        ).transform(truncate_lineage)
        self._name_snapshot()
        return self.systems

    # --- A4: POST /systems/risk (sync.rs:296-321) ---------------------------
    def refresh_risk(self, kills: DataFrame, jumps_activity: DataFrame) -> DataFrame:
        """Risk pipeline: update activity columns (W6/W7), baseline (F2),
        per-system risk (F1), write onto inbound edges (W8), rebuild the
        risk projection (G6). Three small joins, one pass over edges.
        `systems` and `jumps` are each materialized once, before the
        projection reads them; the new `jumps` is returned."""
        sys = R.keyed_update(self.systems, kills, "system_id", "kills", "ship_kills", default=0)
        sys = R.keyed_update(sys, jumps_activity, "system_id", "jumps", "ship_jumps", default=0)
        self.systems = sys = sys.transform(truncate_lineage)
        base = galaxy_baseline(kills, jumps_activity)
        sys_risk = sys.crossJoin(F.broadcast(base)).select(
            "system_id", risk_expr(F.col("kills"), F.col("jumps"), F.col("baseline")).alias("risk")
        )
        self.jumps = R.update_inbound_edge_risk(self.jumps, sys_risk).transform(
            truncate_lineage
        )
        self.build_risk_projection()
        self._name_snapshot()
        return self.jumps

    # --- A5: POST /stargates/refresh (sync.rs:172-221) ----------------------
    def refresh_stargates(self, stargates: DataFrame) -> DataFrame:
        """Derive gate edges (W4) and upsert the missing ones (W5),
        materialize the new `jumps` once, then rebuild the cost
        projection from it."""
        gate_edges = R.derive_gate_edges(stargates, self.systems).withColumn(
            "risk", F.lit(None).cast("double")
        ).select("src_system_id", "dst_system_id", "cost", "risk", "kind")
        self.jumps = R.upsert_edges_if_missing(self.jumps, gate_edges).transform(
            truncate_lineage
        )
        self.build_cost_projection()
        return self.jumps

    # --- A6: POST /wormholes/refresh (main.rs:201-212, sync.rs:66-94) -------
    def refresh_wormholes(self, signatures: DataFrame, reset_names: tuple[str, ...] = ("Thera", "Turnur")) -> DataFrame:
        """Thera/Turnur connection reset (W13) + wormhole filter (D3) +
        bidirectional insert (W3), the new `jumps` materialized once, then
        the cost projection rebuilt from it."""
        reset_ids = self.systems.filter(F.col("name").isin(list(reset_names))).select("system_id")
        kept = R.drop_node_connections(self.jumps, reset_ids)
        wh = R.filter_wormhole_signatures(signatures).select(
            F.col("in_system_id").alias("src_system_id"),
            F.col("out_system_id").alias("dst_system_id"),
            F.lit(1).cast("long").alias("cost"),
            F.lit(None).cast("double").alias("risk"),
            F.lit("wormhole").alias("kind"),
        )
        self.jumps = R.upsert_edges_if_missing(
            kept, R.bidirectional_edges(wh)
        ).transform(truncate_lineage)
        self.build_cost_projection()
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
    (sources/custom_datasource.STREAM_DDL) to `GraphEngine.refresh_wormholes`
    — the end-to-end streaming analogue of POST /wormholes/refresh (A6),
    on the same code path: each applied poll resets Thera/Turnur, upserts
    the poll's wormhole edges, anchors the new `jumps` once and rebuilds
    the cost projection from it, as the reference does (sync.rs:66-94).

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
        engine.refresh_wormholes(batch_df)
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
    every system's risk each cycle). Lineage stays bounded because
    `refresh_risk` itself materializes the new systems and jumps tables
    once each — the same code path as POST /systems/risk — so N polls
    cost N × one-refresh work, never a growing join chain. The replaced
    tables are freed by Spark's ContextCleaner once nothing references
    them.

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
    (c) `stats_out["polls"]` records a poll only AFTER refresh_risk
    succeeds — a mid-batch failure must not log the poll as applied.
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
        if last is not None:
            applied["last"] = last
            if stats_out is not None:
                stats_out.setdefault("polls", []).append(last)

    return handle
