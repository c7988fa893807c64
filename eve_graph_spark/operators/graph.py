"""Graph analytics — SURVEY.md §2.6 (G1-G8): projections + weighted SSSP.

The reference delegates Dijkstra to Neo4j GDS over an in-memory CSR
projection (src/database.rs:422-456, :484-544). Shortest paths here run
at two scales, with the same (dist, pred) at both:

- **driver**: a graph within `DRIVER_SSSP_MAX_EDGES` edges is collected
  once as an adjacency map (per request, or resident per projection in
  `ProjectionRegistry.adjacency`) and solved by `_dijkstra`, one heap
  kernel behind every route, SSSP, Yen and A* driver path. A resident
  route projection also holds a `landmark_table`
  (`ProjectionRegistry.landmarks`), built once per projection build: its
  triangle-inequality lower bounds confine `route_local`'s search to the
  target's corridor, and the path stays the unbounded kernel's;
- **distributed**: a Pregel-style DataFrame Bellman-Ford loop,

    dist'(v) = min(dist(v), min over in-edges (u,v) of dist(u) + w(u,v))

  iterated until the frontier (vertices whose dist improved) is empty —
  one join (frontier × edges, broadcast while the frontier is small)
  and one (dist, pred) min-aggregation per round, and a target prunes
  the frontier to the rows that can still improve its path.

`_frontier_loop` is that superstep, written once for every keyed
frontier kernel: `sssp`, `multi_source_sssp` and Yen's spur sweeps here,
and in `graph_analytics` min-label connected components, `bfs_sigma`,
`dijkstra_sigma`'s depth pass and the exclusion-reach kernels. The
caller supplies the relaxation (join plus one combine); the loop keeps
the candidates that beat the state, probes for an empty frontier in one
job, merges, and truncates the state's lineage every
FRONTIER_TRUNCATE_EVERY rounds, holding each merged state persisted
until then.
"""

from __future__ import annotations

import functools
import math
import operator
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field
from heapq import heapify, heappop, heappush
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eve_graph_spark.checkpointing import truncate_lineage
from eve_graph_spark.frames import local_frame

BROADCAST_FRONTIER_MAX = 2_000_000  # rows; beyond this, shuffle-join the frontier

# Driver-threshold probe memo: every driver-local fast path costs a
# limit(N+1).count() job to decide, and a bootstrap running 6 analytics
# over the SAME edge snapshot paid 6 identical probe jobs. Keyed by the
# analyzed-plan semanticHash + threshold: equivalent plans built twice
# (e.g. _edge_frame over the memoized fixture) hit the same entry.
# The verdict only picks an execution strategy — both strategies return
# bit-identical results — so a stale hit (data changed under an identical
# plan, e.g. an overwritten parquet path) can cost performance, never
# correctness of values; call `clear_probe_cache()` after rewriting
# inputs in place.
_PROBE_CACHE: dict[tuple[int, int], bool] = {}
_PROBE_CACHE_MAX = 256


def clear_probe_cache() -> None:
    _PROBE_CACHE.clear()


def force_distributed() -> bool:
    """True when SPARK_GRAFT_FORCE_DISTRIBUTED=1: every driver-local
    fast-path cutover answers "doesn't fit" so the DISTRIBUTED twin runs
    regardless of input size. Both branches return bit-identical values
    (parity-pinned), so this only selects the execution strategy — it
    exists so the bench can time and shuffle-row-pin the distributed
    plans that a fixture-sized input would otherwise never exercise
    (38/179 bench plans were fully driver-local, leaving the scale-path
    perf unmeasured)."""
    import os

    return os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED", "") == "1"


def fits_driver(df: DataFrame, threshold: int,
                force_exempt: bool = False) -> bool:
    """True when df has ≤ threshold rows — memoized limit(N+1).count probe.

    `force_exempt=True` opts a call site OUT of the forced-distributed
    arm: operators whose driver branch has NO distributed twin (a_star,
    dfs, all-pairs sigma with source_ids=None) must keep probing honestly
    — forcing them "distributed" can only turn a fixture-sized input into
    the scale-guard ValueError, which is the guard doing its job, not a
    measurable twin."""
    if not threshold or (force_distributed() and not force_exempt):
        return False
    try:
        key = (df.semanticHash(), threshold)
    except Exception:  # pragma: no cover — plan not analyzable
        key = None
    if key is not None and key in _PROBE_CACHE:
        return _PROBE_CACHE[key]
    verdict = df.limit(threshold + 1).count() <= threshold
    if key is not None:
        if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
            _PROBE_CACHE.clear()  # probes are cheap; a rare full reset beats LRU bookkeeping
        _PROBE_CACHE[key] = verdict
    return verdict


@dataclass
class _Snapshot:
    """A projection's driver copies: the persisted frame they were taken
    from, its `Adjacency` (None when it does not fit the driver) and that
    adjacency's landmark table (None until a route projection asks)."""

    proj: DataFrame
    adj: Adjacency | None
    table: np.ndarray | None = None


@dataclass
class ProjectionRegistry:
    """G1-G6 (database.rs:387-482): named, cached edge projections.

    The reference's GDS named graphs are columnar snapshots that go stale
    until explicitly dropped + rebuilt; the Spark analogue is a persisted
    DataFrame in a name → DF dict with the same explicit-refresh semantics.
    """

    _graphs: dict[str, DataFrame] = field(default_factory=dict)
    # name → the driver snapshot of that projection; see adjacency()
    _snapshots: dict[str, _Snapshot] = field(default_factory=dict)

    def project(self, name: str, edges: DataFrame, weight_col: str) -> DataFrame:
        """G1/G2: materialize (src, dst, weight), partitioned by src for the
        SSSP join, persisted — the 'CSR snapshot'."""
        proj = (
            edges.select(
                F.col("src_system_id").alias("src"),
                F.col("dst_system_id").alias("dst"),
                F.col(weight_col).cast("double").alias("weight"),
            )
            .repartition("src")
            .persist()
        )
        proj.count()  # force materialization, like gds.graph.project
        self._graphs[name] = proj
        return proj

    def exists(self, name: str) -> bool:
        """G3 (database.rs:387-400)."""
        return name in self._graphs

    def get(self, name: str) -> DataFrame:
        return self._graphs[name]

    def adjacency(self, name: str) -> Adjacency | None:
        """The persisted projection as a driver-side `Adjacency` — the CSR
        the reference's GDS Dijkstra reads — so a route request runs no
        Spark job. Collected in one job on first use, only
        when the projection has ≤ DRIVER_SSSP_MAX_EDGES rows (None above
        it, and in the forced-distributed arm). It lives and dies with the
        projection: keyed by the identity of the persisted frame, so a
        rebuild re-collects it on next use, and a route racing a refresh
        on another thread cannot keep the old map."""
        snap = self._snapshot(name)
        return snap.adj if snap is not None else None

    def landmarks(self, name: str) -> tuple[Adjacency, np.ndarray] | None:
        """`adjacency(name)` with its `landmark_table`, built on first use
        and held in the same snapshot, so it lives and dies with the
        projection like the map, and a route reads a table of the map it
        searches. None when `adjacency(name)` is."""
        snap = self._snapshot(name)
        if snap is None or snap.adj is None:
            return None
        if snap.table is None:
            snap.table = landmark_table(snap.adj)
        return snap.adj, snap.table

    def _snapshot(self, name: str) -> _Snapshot | None:
        if force_distributed():
            return None
        proj = self._graphs[name]
        snap = self._snapshots.get(name)
        if snap is None or snap.proj is not proj:
            adj = _collect_adj(proj) if fits_driver(proj, DRIVER_SSSP_MAX_EDGES) else None
            snap = self._snapshots[name] = _Snapshot(proj, adj)
        return snap

    def drop(self, name: str) -> None:
        """G4/G5 (database.rs:402-420)."""
        g = self._graphs.pop(name, None)
        self._snapshots.pop(name, None)
        if g is not None:
            g.unpersist()

    def refresh(self, name: str, edges: DataFrame, weight_col: str) -> DataFrame:
        """G6 (database.rs:468-482): drop-if-exists + rebuild."""
        self.drop(name)
        return self.project(name, edges, weight_col)


DRIVER_SSSP_MAX_EDGES = 2_000_000  # below this, solve on the driver


class Adjacency(NamedTuple):
    """A graph on the driver, CSR-style: `ids` lists the node ids in
    ascending order, `index` maps an id to its position there, and
    `out[i]` holds node i's out-edges as (position of dst, weight). Dense
    positions keep the kernel's state in flat lists, and ascending ids
    make comparing positions compare ids (the smallest-pred tie-break)."""

    ids: list[int]
    index: dict[int, int]
    out: list[list[tuple[int, float]]]

    @classmethod
    def from_edges(cls, src: list[int], dst: list[int],
                   weight: list[float]) -> Adjacency:
        ids = sorted(set(src).union(dst))
        index = {n: i for i, n in enumerate(ids)}
        out: list[list[tuple[int, float]]] = [[] for _ in ids]
        # edges into one node mostly carry one weight (cost ≡ 1, risk is
        # the inbound system's), so equal (dst, weight) pairs share one
        # tuple — the map stays resident for a projection's lifetime
        pairs: dict[tuple[int, float], tuple[int, float]] = {}
        for u, pair in zip(src, zip(map(index.__getitem__, dst), weight)):
            out[index[u]].append(pairs.setdefault(pair, pair))
        return cls(ids, index, out)


def _weighted_edges(edges: DataFrame, src_col: str, dst_col: str,
                    weight_col: str) -> DataFrame:
    """(src long, dst long, weight double): the shape every kernel reads."""
    return edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        F.col(weight_col).cast("double").alias("weight"),
    )


def _collect_adj(e: DataFrame) -> Adjacency:
    # collected as Arrow columns: a JVM-side batch collect, and building
    # plain ints/floats from three columns skips per-edge Row objects
    t = e.select("src", "dst", "weight").toArrow()
    return Adjacency.from_edges(*(t.column(c).to_pylist() for c in ("src", "dst", "weight")))


class _Tree(NamedTuple):
    """`_dijkstra`'s result over its graph's positions: `dist` (inf when
    unreached) and `pred` (-1 for a source)."""

    ids: list[int]
    index: dict[int, int]
    dist: list[float]
    pred: list[int]

    def entries(self) -> list[tuple[int, float, int | None]]:
        """(node, dist, pred) of every reached node."""
        ids, pred = self.ids, self.pred
        return [
            (ids[i], d, ids[pred[i]] if pred[i] >= 0 else None)
            for i, d in enumerate(self.dist) if d < math.inf
        ]

    def route(self, target_id: int) -> tuple[float, list[int]] | None:
        """(dist, [source, ..., target]), or None when unreached."""
        i = self.index.get(target_id)
        if i is None or self.dist[i] == math.inf:
            return None
        path, pred = [i], self.pred
        while (p := pred[path[-1]]) >= 0:
            path.append(p)
        return self.dist[i], [self.ids[j] for j in reversed(path)]


def _dijkstra(
    adj: Adjacency,
    source_ids: Iterable[int],
    target_id: int | None = None,
    h: Sequence[float] | None = None,
    banned_nodes: Iterable[int] = (),
    banned_edges: Iterable[tuple[int, int]] = (),
    prune: tuple[Sequence[float], float] | None = None,
    stats_out: dict | None = None,
) -> _Tree:
    """The driver's shortest-path kernel: Dijkstra over an `Adjacency`,
    its heap keyed `(dist, hops, pred)`.

    That key reproduces the distributed loops' Bellman-Ford rounds
    exactly: a node first reaches its final dist in the round equal to
    its fewest hops over shortest paths, and that round keeps the
    smallest pred — so (dist, pred) are bit-identical to `sssp`'s, each
    dist the same IEEE-754 sum along the same path.

    - `target_id`: stop once the least key exceeds the target's. Every
      entry with dist <= dist(target) is then final, the target's path
      included; farther entries may be tentative or absent.
    - `h`: A*, with h[i] a lower bound on node i's remaining cost (one
      entry per position of `adj`). It is added to the key, so a
      consistent h settles the target first; `dist` stays the path cost.
    - `banned_nodes` are never entered and `banned_edges` (u, v) never
      ridden: Yen's spur searches.
    - `prune=(lb, bound)`: a push of node i at dist d is skipped when
      d + lb[i] > bound. With lb a lower bound on the cost to the target
      and bound at least the target's dist, no node of a shortest route
      is skipped, and such a node's (dist, hops, pred) depend only on
      other such nodes: the target's path is the unpruned one. The
      result is then a route tree, not an all-nodes table — skipped
      nodes read as unreached or keep a tentative dist.
    - `stats_out["expansions"]` counts the nodes expanded.
    A source outside the graph reaches only itself.
    """
    ids, index, out = adj
    source_ids = [int(s) for s in source_ids]
    extra = [s for s in dict.fromkeys(source_ids) if s not in index]
    if extra:
        ids, out = ids + extra, out + [[] for _ in extra]
        index = {**index, **{s: i for i, s in enumerate(extra, len(adj.ids))}}
        if h is not None:
            h = [*h, *[0.0] * len(extra)]
    n = len(ids)
    dist, hops, pred, done = [math.inf] * n, [0] * n, [-1] * n, bytearray(n)
    banned = [index[b] for b in banned_nodes if b in index]
    for b in banned:
        dist[b] = -math.inf  # no candidate beats it
    cut: dict[int, set[int]] = {}
    for u, v in banned_edges:
        if u in index and v in index:
            cut.setdefault(index[u], set()).add(index[v])
    lb, bound = prune if prune is not None else (None, math.inf)
    heap = []
    for s in map(index.__getitem__, source_ids):
        dist[s], hops[s], pred[s] = 0.0, 0, -1
        heap.append((h[s] if h else 0.0, 0, -1, s))
    heapify(heap)
    push, pop = heappush, heappop
    t = index.get(target_id, -1)
    limit = math.inf
    expansions = 0
    while heap:
        key, k, _, u = pop(heap)
        if done[u]:
            continue  # a superseded entry
        if key > limit:
            break
        done[u] = 1
        if u == t:
            limit = key
        expansions += 1
        d, nbrs = dist[u], out[u]
        if u in cut:
            nbrs = [(v, w) for v, w in nbrs if v not in cut[u]]
        k += 1
        for v, w in nbrs:
            nd = d + w
            dv = dist[v]
            # keep v's entry unless (nd, k, u) < its (dist, hops, pred)
            if nd > dv or nd == dv and (k > hops[v] or k == hops[v] and u >= pred[v]):
                continue
            if lb is not None and nd + lb[v] > bound:
                continue  # off every shortest route to the target
            dist[v], hops[v], pred[v] = nd, k, u
            push(heap, (nd + h[v] if h else nd, k, u, v))
    for b in banned:
        if dist[b] == -math.inf:
            dist[b] = math.inf
    if stats_out is not None:
        stats_out["expansions"] = expansions
    return _Tree(ids, index, dist, pred)


LANDMARKS = 8  # reference points in a route projection's landmark table
# relative slack on a route's prune bound: it absorbs the rounding in the
# table's float sums, ~1e-16 per hop, so a tie route is never cut
_BOUND_SLACK = 1e-9


def landmark_table(adj: Adjacency) -> np.ndarray:
    """(2L, n) float64 distances for L = `LANDMARKS` reference points:
    row i holds d(L_i, v) and row L + i holds d(v, L_i) for every
    position v of `adj` (inf when unreached), each from a `_dijkstra`
    run over `adj` or over its reverse. L_0 is the smallest id; each
    next landmark is the node farthest from those picked (a node none
    of them reaches first), the farthest-point rule. A graph with fewer
    nodes than `LANDMARKS` repeats landmarks, which only repeats rows.

    `route_local` derives its lower bounds from it. It costs 16 full
    kernel runs, so `ProjectionRegistry.landmarks` builds it once per
    projection build, and each row becomes numpy as soon as it is built."""
    n = len(adj.ids)
    table = np.empty((2 * LANDMARKS, n))
    if not n:
        return table
    back: list[list[tuple[int, float]]] = [[] for _ in adj.ids]
    for u, nbrs in enumerate(adj.out):
        for v, w in nbrs:
            back[v].append((u, w))
    reverse = Adjacency(adj.ids, adj.index, back)
    nearest = np.full(n, np.inf)  # distance from the closest landmark
    mark = 0
    for i in range(LANDMARKS):
        table[i] = _dijkstra(adj, [adj.ids[mark]]).dist
        table[LANDMARKS + i] = _dijkstra(reverse, [adj.ids[mark]]).dist
        np.minimum(nearest, table[i], out=nearest)
        mark = int(np.argmax(nearest))
    return table


def _lower_bounds(table: np.ndarray, t: int) -> tuple[Sequence[float], float]:
    """(h, scale) toward position t. h[v] = max over landmarks L of
    d(L,t) − d(L,v) and d(v,L) − d(t,L), clamped at 0: a lower bound on
    d(v,t) by the triangle inequality. An inf − inf pair bounds nothing
    (its nan is skipped); finite − inf gives +inf, and v cannot reach t.
    `scale` is the largest finite entry of t's column, the magnitude the
    rounding of h scales with. h is a memoryview over the numpy result:
    it indexes to Python floats without a per-route list."""
    col = table[:, t]
    k = LANDMARKS
    with np.errstate(invalid="ignore"):
        h = np.fmax(np.fmax.reduce(col[:k, None] - table[:k], axis=0, initial=0.0),
                    np.fmax.reduce(table[k:] - col[k:, None], axis=0, initial=0.0))
    return memoryview(h), float(np.max(col, initial=0.0, where=np.isfinite(col)))


def double_sweep_local(adj: Adjacency, start: int) -> tuple[int, float, float]:
    """Both diameter sweeps from ONE collected adjacency, on the driver:
    the job-composed form pays 2 edge collects + 2 scalar jobs for a graph
    already there. Returns (peak_node, peak_dist, lb) with that form's
    exact values: `_dijkstra` gives `sssp`'s dists, the peak rule is its
    `orderBy(desc(dist), asc(node)).limit(1)` tie-break (float negation
    is exact, so the sort keys agree), and lb is the plain MAX over
    sweep-2 distances (no NaN: weights are non-negative finite)."""
    neg_peak, peak_node = min((-d, n) for n, d, _ in _dijkstra(adj, [start]).entries())
    lb = max(d for _, d, _ in _dijkstra(adj, [peak_node]).entries())
    return int(peak_node), -neg_peak, float(lb)


FRONTIER_TRUNCATE_EVERY = 5  # frontier-loop rounds between truncations of the state


class Frontier(NamedTuple):
    """A `_frontier_loop` run. `converged`: the frontier drained (emptied,
    or cut by the target prune) within the round budget."""

    state: DataFrame
    rounds: int
    truncations: int
    converged: bool
    target_cut: bool


def _frontier_loop(
    seeds: DataFrame,
    keys: Sequence[str],
    relax: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    better: Callable[[Column, Column], Column] | None = operator.lt,
    value: str = "dist",
    seed_rows: int | None = None,
    target: int | None = None,
    settled: dict[tuple, float] | None = None,
) -> Frontier:
    """The distributed superstep behind every keyed frontier kernel: one
    dataflow join plus one group-by a round, as in Pregelix.

    The state is keyed by `keys` (group columns..., "node"), starts as
    `seeds` and `seeds` is the first frontier. Each round:

    1. `relax(frontier)` returns at most one candidate per key: the
       frontier joined to the edges plus the caller's one combine (a min
       over a struct, a sum, a max, or distinct). The frontier arrives
       broadcast-hinted while it holds at most BROADCAST_FRONTIER_MAX
       rows; `seed_rows` sizes the first round (None: no hint).
    2. A candidate is kept when its key is new or when
       `better(candidate value, state value)`; with `better=None` only
       new keys are kept, and the merge is a plain union.
    3. The kept rows are checkpointed and probed in one job; none left
       ends the loop.
    4. They replace their keys in the state (anti-join plus union). Each
       merged state is persisted, so no round re-runs the anti-joins
       before it; every FRONTIER_TRUNCATE_EVERY rounds (`truncations`),
       and once at the end if a copy is still held, the state is
       truncated and the copies released.
    5. With a `target` node, each group's settled target value is
       tracked (`settled` holds those the seeds settle, e.g. a source
       that is the target), and frontier rows at or past it are pruned:
       with non-negative weights they cannot lie on a better path to
       it, so the target's entry and every entry on its path stay
       exact. A round whose rows are all pruned ends the loop.

    The kept rows are the next frontier: in min/max propagation a key
    can only change when an in-neighbour changed the round before, so
    relaxing only those reaches the fixpoint of relaxing the whole state,
    in the same rounds.
    """
    keys = list(keys)
    groups = keys[:-1]
    cols = seeds.columns
    settled = dict(settled or {})
    state = frontier = seeds
    held: list[DataFrame] = []  # merged states persisted since the last truncation
    rows = seed_rows
    rounds = truncations = 0
    converged = cut = False
    for rounds in range(1, max_rounds + 1):
        fr = frontier
        if rows is not None and rows <= BROADCAST_FRONTIER_MAX:
            fr = F.broadcast(frontier)
        cand = relax(fr)
        if better is None:
            kept = cand.join(state.select(*keys), keys, "left_anti")
        else:
            old = state.select(*keys, F.col(value).alias("__old"))
            kept = cand.join(old, keys, "left").filter(
                F.col("__old").isNull() | better(F.col(value), F.col("__old"))
            )
        kept = kept.select(*cols).transform(truncate_lineage)
        if target is None:
            rows = kept.count()
        else:
            # one job: per group its row count, least value and target hit
            probe = kept.groupBy(*groups).agg(
                F.count(F.lit(1)).alias("__rows"),
                F.min(value).alias("__least"),
                F.min(F.when(F.col("node") == target, F.col(value))).alias("__hit"),
            ).collect()
            rows = sum(r["__rows"] for r in probe)
        if rows == 0:
            converged = True
            break
        if better is None:
            state = state.unionByName(kept)
        else:
            state = state.join(kept.select(*keys), keys, "left_anti").unionByName(kept)
            held.append(state.persist())
        if rounds % FRONTIER_TRUNCATE_EVERY == 0:
            state = state.transform(truncate_lineage)
            truncations += 1
            while held:
                held.pop().unpersist()
        frontier = kept
        if target is not None:
            live = False
            for r in probe:
                g = tuple(r[c] for c in groups)
                if r["__hit"] is not None:
                    settled[g] = r["__hit"]  # strictly improving: latest wins
                live = live or g not in settled or r["__least"] < settled[g]
            if not live:
                converged = cut = True
                break
            if settled:
                pruned = (
                    functools.reduce(operator.and_, (F.col(c) == v for c, v in zip(groups, g)),
                                     F.col(value) >= td)
                    for g, td in settled.items()
                )
                frontier = kept.filter(~functools.reduce(operator.or_, pruned))
    if held:
        state = state.transform(truncate_lineage)
        while held:
            held.pop().unpersist()
    return Frontier(state, rounds, truncations, converged, cut)


_SSSP_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType(), False),
        T.StructField("dist", T.DoubleType(), False),
        T.StructField("pred", T.LongType(), True),
    ]
)


def _min_plus_loop(
    e: DataFrame,
    groups: list[str],
    seeds: list[tuple[int, ...]],
    max_iterations: int,
    target: int | None = None,
    ban: Callable[[DataFrame], DataFrame] | None = None,
) -> Frontier:
    """`_frontier_loop` over the shortest-path relaxation that `sssp`,
    `multi_source_sssp` and Yen's spur sweeps share: `seeds` are
    (group..., node) rows at dist 0; a round sends dist + weight along
    every frontier out-edge, drops what `ban` drops (before the
    aggregation, so banned candidates never reach the shuffle), and
    keeps the min (dist, pred) struct per key: of the shortest paths
    with the fewest hops, the one entering through the smallest pred."""
    schema = T.StructType(
        [T.StructField(g, T.LongType(), False) for g in groups] + _SSSP_SCHEMA.fields
    )
    start = local_frame(e.sparkSession, [(*s, 0.0, None) for s in seeds], schema)

    def relax(fr: DataFrame) -> DataFrame:
        cand = fr.join(e, fr.node == e.src).select(
            *groups,
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("weight")).alias("dist"),
            F.col("src").alias("pred"),
        )
        if ban is not None:
            cand = ban(cand)
        return cand.groupBy(*groups, "node").agg(
            F.min(F.struct("dist", "pred")).alias("best")
        ).select(*groups, "node", F.col("best.dist").alias("dist"),
                 F.col("best.pred").alias("pred"))

    settled = {s[:-1]: 0.0 for s in seeds if s[-1] == target}
    return _frontier_loop(start, [*groups, "node"], relax, max_iterations,
                          seed_rows=len(seeds), target=target, settled=settled)


def sssp(
    edges: DataFrame,
    source_ids: list[int],
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 200,
    target_id: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Weighted single/multi-source shortest paths (G7/G8 kernel).

    Returns (node long, dist double, pred long) — pred is the upstream node
    on a shortest path: of the shortest paths with the fewest hops, the
    one entering through the smallest pred, so the result is
    deterministic. Unreachable nodes are absent.

    Weights must be non-negative (true for cost ≡ 1 and risk ≥ baseline > 0,
    database.rs:375, :324-332).

    `target_id` is the single-pair early exit for route queries (the
    reference's flagship A1/A2 shape, database.rs:484-513: GDS Dijkstra
    stops at targetNode): every returned entry on the target's path, and
    every entry with dist < dist(target), is bit-identical (dist AND
    pred) to the full run, so `reconstruct_path(dist, target_id)` walks
    only such entries. Entries for farther nodes may be tentative or
    absent — when a target is supplied the result is a ROUTE table, not
    an all-nodes distance table.

    Graphs with ≤ DRIVER_SSSP_MAX_EDGES edges are solved on the driver
    by `_dijkstra`, whose (dist, hops, pred) heap key reproduces the
    distributed loop's choices (`_frontier_loop`). That loop relaxes the
    frontier per round, a join plus a (dist, pred) min-aggregation,
    until no dist improves; with a target it prunes frontier rows whose
    dist is ≥ the target's settled dist and stops when none is left. On a 1000-layer graph with the target
    at layer 10 that is ~11 supersteps instead of ~1000.

    If `stats_out` is a dict, the distributed loop records
    `iterations` (relaxation rounds run), `dist_checkpoints` (lineage
    truncations of the accumulated dist table, one every
    FRONTIER_TRUNCATE_EVERY rounds), and `early_exit` (whether the
    target prune ended the loop).
    """
    spark = edges.sparkSession
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    if fits_driver(e, DRIVER_SSSP_MAX_EDGES):
        rows = _dijkstra(_collect_adj(e), source_ids, target_id).entries()
        return local_frame(spark, rows, _SSSP_SCHEMA)
    run = _min_plus_loop(e, [], [(int(s),) for s in source_ids], max_iterations,
                         target=target_id)
    if stats_out is not None:
        stats_out["iterations"] = run.rounds
        stats_out["dist_checkpoints"] = run.truncations
        stats_out["early_exit"] = run.target_cut
    return run.state


def sssp_route(
    edges: DataFrame,
    source_id: int,
    target_id: int,
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
) -> tuple[DataFrame, list[int]]:
    """(full dist table, source→target node path) — the shared tail of the
    route queries (A1/A2): SSSP dist, dist-table-derived preds
    (pred(v) := MIN(src) over edges with dist(src) + w == dist(v) EXACTLY —
    the SQL-replayable tie-break, see safest_route_path), pred-chain walk.

    Below DRIVER_SSSP_MAX_EDGES edges one Arrow edge collect feeds
    `_dijkstra`, the preds rule AND the walk: no job per step on a
    reference-sized graph. Bit-identical by construction: Python float
    add/compare on the collected doubles are the same IEEE-754 ops the
    distributed filter runs, and MIN over longs is engine-independent.
    """
    spark = edges.sparkSession
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    source_id, target_id = int(source_id), int(target_id)
    if fits_driver(e, DRIVER_SSSP_MAX_EDGES):
        adj = _collect_adj(e)
        tree = _dijkstra(adj, [source_id])
        dist, s = tree.dist, tree.index[source_id]
        pred: dict[int, int] = {}  # positions ascend with ids
        for u, nbrs in enumerate(adj.out):
            du = dist[u]
            if du == math.inf:
                continue
            for v, w in nbrs:
                if v != s and du + w == dist[v] and (v not in pred or u < pred[v]):
                    pred[v] = u
        path: list[int] = []
        t = tree.index.get(target_id)
        if t is not None and dist[t] < math.inf:
            path = [t]
            while path[-1] in pred and len(path) <= 10_000:
                path.append(pred[path[-1]])
            path = [tree.ids[i] for i in reversed(path)]
        rows = [(n, d) for n, d, _ in tree.entries()]
        return local_frame(spark, rows, "node long, dist double"), path

    dist = sssp(e, [source_id], weight_col="weight").select("node", "dist")
    u = dist.select(F.col("node").alias("u_node"), F.col("dist").alias("u_dist"))
    preds = (
        dist.join(e, e.dst == dist.node)
        .join(u, u.u_node == e.src)
        .filter((F.col("u_dist") + F.col("weight")) == F.col("dist"))
        .filter(F.col("node") != source_id)
        .groupBy("node")
        .agg(F.min("src").alias("pred"))
    )
    path = reconstruct_path(dist.join(preds, "node", "left"), target_id)
    return dist, path


_MSSSP_SCHEMA = T.StructType(
    [T.StructField("source", T.LongType(), False), *_SSSP_SCHEMA.fields]
)


def multi_source_sssp(
    edges: DataFrame,
    source_ids: list[int],
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 200,
    stats_out: dict | None = None,
) -> DataFrame:
    """Per-source weighted shortest paths: (source, node, dist, pred),
    one row per (source, reachable node).

    `sssp(edges, [s1, s2])` keeps ONE dist table — the min over sources
    (the "distance to the nearest source" semantic). This keeps state
    keyed `(source, node)` instead, which is what landmark algorithms
    (closeness centrality, landmark distance oracles) need — and it runs
    all k sweeps as ONE frontier loop: every iteration unions the live
    frontiers of all sources into a single frontier×edges join + one
    (source, node) min-aggregation, so the whole run is O(max diameter)
    supersteps instead of k sequential O(diameter) job chains (closeness
    centrality's landmark sweeps would otherwise scale with k).

    Same relaxation rule, tie-break ((dist, pred) struct min), broadcast
    threshold, lineage-checkpoint cadence, and driver-threshold fast path
    as `sssp` — per-source results are bit-identical to running `sssp`
    k times. State growth: the dist table is Σ per-source reachable sets
    (k×V worst case) hash-partitioned on the composite key; the frontier
    is the union of per-source wavefronts and leaves broadcast range once
    it exceeds BROADCAST_FRONTIER_MAX rows.

    `stats_out`: records `iterations` and `dist_checkpoints` like `sssp`
    — the loop count is max-diameter-bound, NOT k-proportional, which the
    scale smoke pins.
    """
    spark = edges.sparkSession
    # order-preserving dedup: a repeated source id would seed duplicate
    # (source, source) state rows and emit every result row twice
    source_ids = list(dict.fromkeys(source_ids))
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    if fits_driver(e, DRIVER_SSSP_MAX_EDGES):
        adj = _collect_adj(e)
        rows = [(int(s), *entry) for s in source_ids for entry in _dijkstra(adj, [s]).entries()]
        return local_frame(spark, rows, _MSSSP_SCHEMA)

    return _multi_source_sssp_distributed(e, source_ids, max_iterations, stats_out)


def _multi_source_sssp_distributed(e: DataFrame, source_ids: list[int], max_iterations: int,
                                   stats_out: dict | None) -> DataFrame:
    """multi_source_sssp's distributed branch over the `_weighted_edges`
    frame `e` and a deduplicated source list."""
    run = _min_plus_loop(e, ["source"], [(int(s), int(s)) for s in source_ids],
                         max_iterations)
    if stats_out is not None:
        stats_out["iterations"] = run.rounds
        stats_out["dist_checkpoints"] = run.truncations
    return run.state


def k_shortest_paths_local(adj: Adjacency, source: int, target: int,
                           k: int = 3) -> list[tuple[float, list[int]]]:
    """Yen's algorithm: the k best loop-free routes, ranked by total cost
    (SURVEY §2.8 route ranking), over a collected adjacency
    (`ProjectionRegistry.adjacency`). Every spur search is `_dijkstra`
    with the root's nodes and the found paths' next edges banned, so each
    search picks the path `k_shortest_paths_distributed`'s banned sweeps
    pick.

    Returns [(total_cost, [node, ...])], best first; ties by path nodes.
    """

    def search(spur: int, banned_nodes: set, banned_edges: set):
        return _dijkstra(adj, [spur], target, banned_nodes=banned_nodes,
                         banned_edges=banned_edges).route(target)

    if k < 1 or (first := search(source, set(), set())) is None:
        return []
    found = [first]
    candidates: list[tuple[float, list[int]]] = []
    while len(found) < k:
        _, prev_path = found[-1]
        for i in range(len(prev_path) - 1):
            spur, root = prev_path[i], prev_path[: i + 1]
            banned_e = {
                (p[len(root) - 1], p[len(root)])
                for _, p in found
                if len(p) > len(root) and p[: len(root)] == root
            }
            spur_res = search(spur, set(root[:-1]), banned_e)
            if spur_res is None:
                continue
            spur_cost, spur_path = spur_res
            # min over parallel edges — the weight the relaxation itself
            # would ride (matches the distributed twin's min-aggregated
            # weight cache)
            ix = adj.index
            root_cost = sum(
                min(w for v, w in adj.out[ix[a]] if v == ix[b])
                for a, b in zip(root, root[1:])
            )
            cand = (root_cost + spur_cost, root[:-1] + spur_path)
            if cand not in candidates and cand not in found:
                candidates.append(cand)
        if not candidates:
            break
        candidates.sort(key=lambda c: (c[0], c[1]))
        found.append(candidates.pop(0))
    return found


def _banned_multi_sweep(
    e: DataFrame,
    jobs: list[tuple[int, int, set[int], set[tuple[int, int]]]],
    target: int,
    max_iterations: int,
    stats_out: dict | None = None,
) -> dict[int, tuple[float, list[int]]]:
    """One (jid, node)-keyed frontier loop answering MANY banned-graph
    single-pair queries at once: `jobs` is [(jid, start, banned_nodes,
    banned_edges)], the per-jid ban sets are path-sized (Yen's roots /
    shared prefixes), and every iteration relaxes ALL jobs' frontiers in a
    single frontier×edges join. Bans are broadcast anti-joins on the
    candidate stream — (jid, node) kills re-entry into a root, (jid, src,
    dst) kills the one prefix edge a found path already used — so the
    superstep count is max-diameter-bound, not Σ per-job diameters, and
    the data never moves per job. Every sweep is a single-target query,
    so the loop carries `sssp`'s per-group target prune.

    Returns {jid: (dist, [start..target])} for jobs that reach `target`.
    Path extraction walks pred pointers for ALL jids together: one
    path-sized pushed-down fetch per hop, ≤ path-length hops, never a
    vertex-sized collect (same discipline as reconstruct_path's iterative
    mode). Tie-break is min (dist, pred) struct — bit-identical float
    accumulation to `sssp`/`multi_source_sssp`.
    """
    spark = e.sparkSession
    bn = [(int(j), int(n)) for j, _, bns, _ in jobs for n in sorted(bns)]
    be = [(int(j), int(u), int(v)) for j, _, _, bes in jobs for u, v in sorted(bes)]
    bn_df = local_frame(spark, bn, "jid long, node long") if bn else None
    be_df = local_frame(spark, be, "jid long, pred long, node long") if be else None

    def ban(cand: DataFrame) -> DataFrame:
        for banned in (be_df, bn_df):
            if banned is not None:
                cand = cand.join(F.broadcast(banned), banned.columns, "left_anti")
        return cand

    run = _min_plus_loop(e, ["jid"], [(int(j), int(s)) for j, s, _, _ in jobs],
                         max_iterations, target=int(target), ban=ban)
    if stats_out is not None:
        stats_out["sweep_iterations"] = stats_out.get("sweep_iterations", 0) + run.rounds
        stats_out["sweeps"] = stats_out.get("sweeps", 0) + 1
    dist = run.state  # checkpointed by the loop: the per-hop fetches scan it
    tgt = {
        r["jid"]: (r["dist"], r["pred"])
        for r in dist.filter(F.col("node") == F.lit(int(target))).collect()
    }
    paths: dict[int, list[int]] = {j: [int(target)] for j in tgt}
    cur = {j: p for j, (_, p) in tgt.items() if p is not None}
    while cur:
        conds = functools.reduce(operator.or_, (
            (F.col("jid") == int(j)) & (F.col("node") == int(n)) for j, n in cur.items()
        ))
        got = {r["jid"]: r["pred"] for r in dist.filter(conds).select("jid", "pred").collect()}
        for j, n in cur.items():
            paths[j].append(int(n))
        cur = {j: got[j] for j in cur if got.get(j) is not None}
    return {j: (tgt[j][0], list(reversed(paths[j]))) for j in tgt}


def k_shortest_paths_distributed(
    edges: DataFrame,
    source: int,
    target: int,
    k: int = 3,
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 200,
    stats_out: dict | None = None,
) -> list[tuple[float, list[int]]]:
    """Yen's k best loop-free routes with BATCHED spur sweeps — the
    distributed twin of `k_shortest_paths_local` (GDS
    `gds.shortestPath.yens` parity, the step past database.rs:484-544's
    single Dijkstra).

    Below DRIVER_SSSP_MAX_EDGES edges it collects them and runs the driver
    twin (identical results; a reference-scale graph must not launch
    Spark jobs per route query). Above it, each Yen round runs ONE
    `_banned_multi_sweep` over all |prev_path| spur jobs instead of
    |spurs| serial SSSPs, so a round costs O(max diameter) supersteps
    regardless of path length.
    Candidate bookkeeping (path-sized) stays on the driver; edge weights
    for root costs are prefetched per found path via pushed-down filters
    (path-sized rows, never the edge table).

    Output equals the driver twin's, cost ties included: every sweep here
    keeps the (dist, pred) of whole min-(dist, pred) rounds, and the
    driver's `_dijkstra` reproduces exactly those choices.

    Returns [(total_cost, [node, ...])], best first; ties by path nodes.
    """
    if k < 1:
        return []
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    if fits_driver(e, DRIVER_SSSP_MAX_EDGES):
        return k_shortest_paths_local(_collect_adj(e), int(source), int(target), k)
    e = e.persist()
    wcache: dict[tuple[int, int], float] = {}

    def prefetch(path: list[int]) -> None:
        missing = [p for p in zip(path, path[1:]) if p not in wcache]
        if not missing:
            return
        conds = None
        for u, v in missing:
            c = (F.col("src") == int(u)) & (F.col("dst") == int(v))
            conds = c if conds is None else (conds | c)
        for r in e.filter(conds).select("src", "dst", "weight").collect():
            # MIN over parallel edges — the weight the relaxation rode
            # (an arbitrary duplicate's weight would inflate root costs)
            key = (r["src"], r["dst"])
            if key not in wcache or r["weight"] < wcache[key]:
                wcache[key] = r["weight"]

    try:
        first = _banned_multi_sweep(
            e, [(0, source, set(), set())], target, max_iterations, stats_out
        )
        if 0 not in first:
            return []
        found = [first[0]]
        prefetch(found[0][1])
        candidates: list[tuple[float, list[int]]] = []
        while len(found) < k:
            _, prev_path = found[-1]
            jobs: list[tuple[int, int, set[int], set[tuple[int, int]]]] = []
            roots: dict[int, list[int]] = {}
            for i in range(len(prev_path) - 1):
                spur, root = prev_path[i], prev_path[: i + 1]
                banned_e = {
                    (p[len(root) - 1], p[len(root)])
                    for _, p in found
                    if len(p) > len(root) and p[: len(root)] == root
                }
                banned_n = set(root[:-1])
                jobs.append((i, spur, banned_n, banned_e))
                roots[i] = root
            res = _banned_multi_sweep(e, jobs, target, max_iterations, stats_out)
            for i, root in roots.items():
                if i not in res:
                    continue
                spur_cost, spur_path = res[i]
                root_cost = sum(wcache[(a, b)] for a, b in zip(root, root[1:]))
                cand = (root_cost + spur_cost, root[:-1] + spur_path)
                if cand not in candidates and cand not in found:
                    candidates.append(cand)
            if not candidates:
                break
            candidates.sort(key=lambda c: (c[0], c[1]))
            nxt = candidates.pop(0)
            found.append(nxt)
            prefetch(nxt[1])
        return found
    finally:
        e.unpersist()


def a_star(
    edges: DataFrame,
    coords: DataFrame,
    source: int,
    target: int,
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "system_id",
    stats_out: dict | None = None,
) -> tuple[float, list[int]] | None:
    """A* single-pair route over the stored x,y,z coordinates — the
    reference keeps them on every System (database.rs:86-88) but never
    queries them; here they prune the search (an optional arm on top of
    the sssp(target_id=) early exit).

    Heuristic: h(v) = euclid(v, target) / r with r = max over edges of
    (euclid(u, v) / w(u, v)) — the best distance-per-cost any single
    edge achieves. Admissible (any path to the target must cover the
    straight-line distance at cost >= euclid/r) and consistent
    (euclid(u,t) <= euclid(u,v) + euclid(v,t) <= r*w + euclid(v,t)),
    so the first settle of the target is optimal and no node is
    re-expanded.

    Two degradations keep h admissible on dirty inputs, both collapsing
    it to 0 (= plain Dijkstra, always correct):
    - an edge with w <= 0 but positive euclidean length achieves
      infinite distance-per-cost, so no finite r bounds the graph —
      r is forced to inf;
    - a node with MISSING or ALL-ZERO (placeholder) coordinates anywhere
      in the edge set: a cheap wormhole through such a node covers real
      distance that r never saw (its incident euclids read as 0), so any
      nonzero h could overestimate the remaining cost.
    Both arms are pinned by tests/test_a_star.py.

    Driver-side over the collected edge list: a single-pair interactive
    route on a graph that fits the driver must not launch a job per
    expansion (the distributed answer to the same question is
    sssp(target_id=...)). Raises above DRIVER_SSSP_MAX_EDGES edges.

    Returns (total_cost, [node, ...]) or None when unreachable.
    `stats_out["expansions"]` counts expanded nodes — the quantity the
    heuristic exists to shrink (tests/test_a_star.py pins it strictly
    below Dijkstra's on a coordinate-true grid).
    """
    e = _weighted_edges(edges, src_col, dst_col, weight_col)
    if not fits_driver(e, DRIVER_SSSP_MAX_EDGES, force_exempt=True):
        raise ValueError(
            "a_star: graph exceeds the driver threshold; single-pair routes "
            "at that scale run sssp(target_id=...) with its distributed "
            "early-exit loop"
        )
    adj = _collect_adj(e)
    xyz = collect_coords(coords, id_col)
    pts, pt = [xyz.get(n) for n in adj.ids], xyz.get(target)
    r = math.inf  # h ≡ 0 unless every node has real coordinates
    if pt is not None and all(p and any(p) for p in pts):
        r = 0.0
        for pu, nbrs in zip(pts, adj.out):
            for v, w in nbrs:
                length = math.dist(pu, pts[v])
                if w > 0:
                    r = max(r, length / w)
                elif length > 0:
                    r = math.inf  # free edge with real length: unbounded ratio
    h = [math.dist(p, pt) / r for p in pts] if 0.0 < r < math.inf else None
    return _dijkstra(adj, [source], target, h, stats_out=stats_out).route(target)


def collect_coords(coords: DataFrame,
                   id_col: str = "system_id") -> dict[int, tuple[float, float, float]]:
    """{id: (x, y, z)} of a coords table, collected as Arrow columns."""
    t = coords.select(
        id_col, *(F.col(c).cast("double") for c in ("x", "y", "z"))
    ).toArrow()
    xyz = zip(*(t.column(i).to_pylist() for i in (1, 2, 3)))
    return dict(zip(t.column(0).to_pylist(), xyz))


def dfs(edges: DataFrame, source: int,
        src_col: str = "src_system_id", dst_col: str = "dst_system_id",
        max_depth: int | None = None) -> DataFrame:
    """GDS `gds.dfs` counterpart: depth-first preorder from `source`,
    returned as (node, visit_order) with visit_order starting at 1.

    Deterministic spec (GDS's traversal order depends on its internal
    adjacency layout; ours is pinned so the SQL oracle can replay it):
    from the current node descend into the SMALLEST unvisited neighbor;
    when none remains, backtrack — i.e. textbook recursive DFS with
    ascending-id neighbor order. `max_depth` bounds descent depth from
    the source (GDS maxDepth): nodes deeper than it are neither visited
    nor traversed through.

    Scale posture: DFS order is inherently SEQUENTIAL — each step depends
    on the entire visited set, so no superstep decomposition exists (GDS
    also computes it single-threaded on the in-memory projection). The
    kernel therefore runs on the driver for graphs within
    DRIVER_SSSP_MAX_EDGES edges and raises loudly beyond it, the same
    budget-exhaustion convention as MST/k-truss — a silent distributed
    "DFS" would really be a BFS-ish frontier walk with different
    semantics. For reachability at scale use `connected_components`; for
    ordered exploration use `sssp`/`bfs_from`.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    if not fits_driver(e, DRIVER_SSSP_MAX_EDGES, force_exempt=True):
        raise ValueError(
            f"dfs: graph exceeds DRIVER_SSSP_MAX_EDGES={DRIVER_SSSP_MAX_EDGES} edges; "
            "depth-first order is sequential and cannot be computed "
            "distributed — use connected_components / sssp for scale paths"
        )
    adj: dict[int, list[int]] = {}
    for r in e.collect():
        if r["src"] != r["dst"]:
            adj.setdefault(r["src"], []).append(r["dst"])
    for k in adj:
        adj[k] = sorted(set(adj[k]))
    spark = edges.sparkSession
    if source not in adj:
        # GDS semantics: an absent / isolated source visits just itself
        return local_frame(spark, [(source, 1)], "node long, visit_order long")
    visited = [source]
    vis = {source}
    stack = [source]
    while stack:
        cur = stack[-1]
        nxt = None
        if max_depth is None or len(stack) <= max_depth:
            for u in adj.get(cur, ()):
                if u not in vis:
                    nxt = u
                    break
        if nxt is None:
            stack.pop()
        else:
            vis.add(nxt)
            visited.append(nxt)
            stack.append(nxt)
    return local_frame(
        spark, [(n, i + 1) for i, n in enumerate(visited)], "node long, visit_order long"
    )


DRIVER_PATH_MAX_NODES = 2_000_000  # below this, collect the whole pred map


def reconstruct_path(
    dist: DataFrame,
    target_id: int,
    max_hops: int = 10_000,
    stats_out: dict | None = None,
) -> list[int]:
    """Walk pred pointers target → source (GDS returning nodeIds,
    database.rs:496-498).

    The dist table covers ALL reachable vertices, not just the path — on a
    100× graph a full `.collect()` here is a driver OOM even though the
    answer is a handful of hops. Two modes, threshold-guarded like `sssp`:

    - **driver mode** (≤ DRIVER_PATH_MAX_NODES rows): collect the {node: pred}
      map once and walk it locally — right for the reference-scale graph;
    - **distributed mode**: persist dist once, then walk backward hop by
      hop; each step is ONE row fetched via a pushed-down `node = cur`
      filter on the persisted table. Total driver traffic is O(path length)
      rows, never O(vertices), and the number of jobs is bounded by the
      path length (≤ max_hops) — the per-hop lookup is a cached-scan probe,
      the same cost class as a 1-row broadcast semi-join but without
      building a join plan per hop.

    `stats_out` (tests/observability): records `mode` ('driver' |
    'iterative') and `rows_collected` — pinning that the distributed walk
    never collects the vertex-sized table.
    """
    if fits_driver(dist, DRIVER_PATH_MAX_NODES):
        rows = dist.select("node", "pred").collect()
        if stats_out is not None:
            stats_out["mode"] = "driver"
            stats_out["rows_collected"] = len(rows)
        return _walk_preds({r["node"]: r["pred"] for r in rows}, target_id, max_hops)

    d = dist.select("node", "pred").persist()
    n_collected = 0
    try:
        path = [target_id]
        row = d.filter(F.col("node") == target_id).head()
        if row is None:
            if stats_out is not None:
                stats_out["mode"] = "iterative"
                stats_out["rows_collected"] = 0
            return []
        n_collected += 1
        cur_pred = row["pred"]
        while cur_pred is not None and len(path) <= max_hops:
            path.append(cur_pred)
            row = d.filter(F.col("node") == cur_pred).head()
            n_collected += 1
            cur_pred = row["pred"] if row is not None else None
        if stats_out is not None:
            stats_out["mode"] = "iterative"
            stats_out["rows_collected"] = n_collected
        return list(reversed(path))
    finally:
        d.unpersist()


def _walk_preds(pred: dict[int, int | None], target_id: int,
               max_hops: int = 10_000) -> list[int]:
    """source → target node path from a driver-side {node: pred} map; []
    when the target was not reached."""
    if target_id not in pred:
        return []
    path = [target_id]
    while pred[path[-1]] is not None and len(path) <= max_hops:
        path.append(pred[path[-1]])
    return list(reversed(path))


def route_local(adj: Adjacency, source_id: int, target_id: int,
                avoid: set[int] | None = None,
                landmarks: np.ndarray | None = None) -> list[int]:
    """Driver-resident twin of `sssp(target_id=)` → `reconstruct_path` over
    a collected adjacency (`ProjectionRegistry.adjacency`): `_dijkstra`
    reproduces the distributed loop's (dist, pred), so the path is
    node-for-node the one the DataFrame route returns. `avoid` drops
    every edge touching those nodes, like the route API's pre-search edge
    filter.

    With `landmarks` (`landmark_table(adj)`) the search stays in the
    target's corridor, in two passes over the table's lower bounds h
    (ALT: A*, landmarks and the triangle inequality):
    1. A* keyed dist + h finds the route cost D, or no route;
    2. the plain `(dist, hops, pred)` kernel runs again, skipping every
       push with dist + h above D plus a slack for float rounding.
    The heap of pass 2 is keyed on dist alone, so rounding in h cannot
    reorder equal-cost routes: the path is the unbounded kernel's.
    Avoiding nodes only raises distances, so h stays a lower bound."""
    avoid = avoid or set()
    if source_id in avoid:
        adj, landmarks = Adjacency([], {}, []), None
    t = adj.index.get(target_id)
    if landmarks is not None and t is not None and source_id in adj.index:
        h, scale = _lower_bounds(landmarks, t)
        if h[adj.index[source_id]] == math.inf:
            return []  # no landmark path from the source reaches the target
        first = _dijkstra(adj, [source_id], target_id, h, banned_nodes=avoid).route(target_id)
        if first is None:
            return []
        bound = first[0] + _BOUND_SLACK * (first[0] + scale)
        found = _dijkstra(adj, [source_id], target_id, banned_nodes=avoid,
                          prune=(h, bound)).route(target_id)
    else:
        found = _dijkstra(adj, [source_id], target_id, banned_nodes=avoid).route(target_id)
    return found[1] if found else []


def path_as_names(systems: DataFrame, path: list[int]) -> list[str]:
    """F6 (database.rs:498): node-id path → name path, one broadcast lookup."""
    if not path:
        return []
    spark = systems.sparkSession
    order = local_frame(spark, list(enumerate(path)), "pos int, system_id long")
    rows = (
        order.join(F.broadcast(systems.select("system_id", "name")), "system_id")
        .orderBy("pos")
        .select("name")
        .collect()
    )
    return [r["name"] for r in rows]
