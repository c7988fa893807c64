"""Bulk graph analytics beyond SSSP — the GraphX/GraphFrames-style set.

The reference's only graph algorithm is GDS Dijkstra (reference:
src/database.rs:484-544); the north star asks for bulk graph analytics in
Spark. Same execution design as `graph.py:sssp`:

- iterative algorithms are Pregel-style DataFrame loops (join + min/sum
  aggregation per superstep) with localCheckpoint lineage truncation and
  early stop — the shape that scales to edge sets that don't fit anywhere.
  The keyed frontier kernels (min-label connected components, `bfs_sigma`,
  `dijkstra_sigma`'s depth pass, the exclusion-reach kernels) each pass
  their relaxation to `graph._frontier_loop`, which runs the superstep;
- below a driver threshold they solve locally (union-find / dict loops),
  bit-identical to the distributed result, because launching 30 Spark jobs
  on a 9k-node graph is the wrong tool;
- the rank family (PageRank and personalized PageRank, ArticleRank,
  eigenvector, HITS) is written once: each kernel is a `RankSpec`
  (fixed-point scale, contribution, direction, node update and its init)
  run by one driver executor and one DataFrame executor. Each superstep fixed-points
  its contributions (exact integer sums, one double division per step),
  so the two executors and the SQL oracles agree bit-for-bit — float sums
  are otherwise order-dependent and un-oracle-able.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eve_graph_spark.checkpointing import truncate_lineage
from eve_graph_spark.frames import local_frame

from eve_graph_spark.operators.graph import (
    FRONTIER_TRUNCATE_EVERY,
    _frontier_loop,
    _multi_source_sssp_distributed,
    _weighted_edges,
    fits_driver,
    multi_source_sssp,
)

DRIVER_MAX_EDGES = 2_000_000


def _edge_frame(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return edges.select(
        F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")
    )


# --- connected components ---------------------------------------------------

def _star_symmetrize(cur: DataFrame) -> DataFrame:
    return cur.union(
        cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _star_phase(sym: DataFrame, large: bool) -> DataFrame:
    """One star phase over a SYMMETRIC edge set. m(u) = min(Γ(u) ∪ {u}).
    large-star: emit (v, m) for neighbors v > u — strictly-larger
    neighbors re-hang under u's minimum. small-star: emit (v, m) for
    neighbors v <= u (v != m) plus (u, m) — u and its small neighbors
    hang under the minimum. Alternating the two converges to min-rooted
    stars in O(log n) rounds."""
    mins = (
        sym.groupBy("src").agg(F.min("dst").alias("__mv"))
        .select(F.col("src").alias("__u"), F.least("__mv", F.col("src")).alias("__m"))
    )
    j = sym.join(mins, sym["src"] == F.col("__u"))
    if large:
        out = j.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("__m").alias("dst")
        )
    else:
        out = j.filter(
            (F.col("dst") <= F.col("src")) & (F.col("dst") != F.col("__m"))
        ).select(F.col("dst").alias("src"), F.col("__m").alias("dst")).union(
            mins.filter(F.col("__u") != F.col("__m")).select(
                F.col("__u").alias("src"), F.col("__m").alias("dst")
            )
        )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _star_components(e: DataFrame, max_iterations: int,
                     stats_out: dict | None) -> DataFrame:
    """Alternating star contraction. Output identical to the min-label
    loop: (node, component = min node id), every input node present
    (self-loop-only nodes re-attached as their own component).

    No checkpoint cadence knob:
    every round localCheckpoints unconditionally — a round is ~4 shuffles
    deep and its convergence probe (count + anti-join) must materialize
    the round's output anyway, so deferring truncation would re-execute
    those shuffles, not save them; and rounds number O(log n), so the
    per-round checkpoint cost never compounds the way the label loop's
    O(diameter) supersteps can."""
    spark = e.sparkSession
    nodes = (
        e.select(F.col("src").alias("node")).union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    cur = e.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    cur = cur.transform(truncate_lineage)
    cur_count = cur.count()
    n_rounds = 0
    for it in range(max_iterations):
        a = _star_phase(_star_symmetrize(cur), large=True)
        b = _star_phase(_star_symmetrize(a), large=False)
        b = b.transform(truncate_lineage)
        b_count = b.count()
        n_rounds = it + 1
        same = b_count == cur_count and (
            b.join(cur, ["src", "dst"], "left_anti").limit(1).count() == 0
        )
        cur = b
        cur_count = b_count
        if same:
            break
    if stats_out is not None:
        stats_out["iterations"] = stats_out.get("iterations", 0) + n_rounds
        stats_out["star_rounds"] = n_rounds
        stats_out["algorithm"] = "star"
    # fixpoint edges are (leaf -> root) stars: each node's component is
    # its min neighbor, roots and isolated nodes are their own
    comp = (
        _star_symmetrize(cur).groupBy("src").agg(F.min("dst").alias("__mv"))
        .select(F.col("src").alias("node"), F.least("__mv", F.col("src")).alias("component"))
    )
    return nodes.join(comp, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


AUTO_LABEL_BUDGET = 12  # label supersteps before "auto" concedes to star


def _label_components(e: DataFrame, max_iterations: int,
                      stats_out: dict | None) -> tuple[DataFrame, bool]:
    """Min-label propagation on `_frontier_loop`: every node starts as its
    own label, and a round sends the labels that changed along their
    out-edges, keeping the min per node. Returns (labels, converged)."""
    labels = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    run = _frontier_loop(
        labels, ["node"],
        lambda fr: fr.join(e, fr.node == e.src)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min("component").alias("component")),
        max_iterations, value="component",
    )
    if stats_out is not None:
        stats_out["iterations"] = stats_out.get("iterations", 0) + run.rounds
        stats_out["label_supersteps"] = run.rounds
        stats_out["algorithm"] = "label"
    return run.state, run.converged


def connected_components(edges: DataFrame, src_col: str = "src_system_id",
                         dst_col: str = "dst_system_id",
                         max_iterations: int = 100,
                         algorithm: str = "auto",
                         stats_out: dict | None = None) -> DataFrame:
    """(node, component) where component = min node id in the component.

    Assumes a symmetric edge set (the JUMP table is: every gate pair and
    wormhole is inserted in both directions, database.rs:241-254). For a
    directed input, union the flipped edges first.

    Three distributed forms, identical output:
    - `algorithm="label"`: min-label propagation — label'(v) =
      min(label(v), min over in-edges label(u)) until fixpoint. ONE
      join+agg shuffle per superstep, but O(diameter) supersteps — the
      right trade on low-diameter graphs (social/web cores, the jump
      graph).
    - `algorithm="star"`: alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond") —
      O(log n) rounds regardless of diameter, ~4 shuffles per round. The
      right trade on high- or unknown-diameter graphs (chains, road
      networks, long filament crawl graphs): on a 2k-node path the label
      loop needs ~2k supersteps, star ~a dozen rounds. Superstep COUNT
      is the wall-clock driver at scale (SCALE.md long-diameter stress),
      so pick star whenever the diameter is not known to be small.
    - `algorithm="auto"` (default): min-label for up to AUTO_LABEL_BUDGET
      supersteps — the cheap-per-step loop wins outright on the common
      low-diameter case — then, if not converged, restart as star
      contraction on the original edges, bounding the whole run at
      budget + O(log n) rounds on ANY diameter (a
      chain-shaped near-dup topology must not drag the dedup pipeline's
      CC stage into the O(diameter) regime). The budget supersteps are
      the only waste on the switch; star recomputes from scratch.

    `stats_out`: records total `iterations` (label supersteps + star
    rounds), `algorithm` actually used last, and the per-form counters
    `label_supersteps` / `star_rounds`.
    """
    if algorithm not in ("label", "star", "auto"):
        raise ValueError(
            f"connected_components: unknown algorithm {algorithm!r} "
            "(expected 'label', 'star', or 'auto')"
        )
    # Accumulated counters are scoped to ONE call: auto mode's two phases
    # (label budget + star restart) add into the same keys on purpose, but
    # a caller reusing stats_out across calls must not inherit the totals.
    if stats_out is not None:
        for k in ("iterations", "label_supersteps", "star_rounds"):
            stats_out.pop(k, None)
    e = _edge_frame(edges, src_col, dst_col)
    spark = edges.sparkSession
    if fits_driver(e, DRIVER_MAX_EDGES):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in e.collect():
            a, b = r["src"], r["dst"]
            for k in (a, b):
                if k not in parent:
                    parent[k] = k
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(n, find(n)) for n in parent]
        return local_frame(spark, rows, "node long, component long")

    if algorithm == "star":
        return _star_components(e, max_iterations, stats_out)
    label_budget = (
        min(AUTO_LABEL_BUDGET, max_iterations) if algorithm == "auto" else max_iterations
    )
    labels, converged = _label_components(e, label_budget, stats_out)
    if converged or algorithm == "label":
        return labels
    return _star_components(e, max_iterations, stats_out)


# --- rank family: one spec, two executors -----------------------------------
# PageRank, personalized PageRank, ArticleRank, eigenvector and HITS run the
# same superstep: fixed-point each source's contribution, sum the
# contributions per target as exact integers (order-free), then apply one
# node update. A `RankSpec` names the parts that differ; `_rank_driver`
# and `_rank_frame` run any spec. The contribution and the teleport update
# are each ONE Python expression, evaluated on floats by the driver loop
# and on Columns by the DataFrame loop, so both replay the same IEEE-754
# op sequence (and the DuckDB oracles replay it in SQL) bit-for-bit.

PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point for PageRank contributions
EV_SCALE = 1_000_000  # 1e6 fixed-point keeps Σs² inside BIGINT for crawl-scale graphs
RANK_TRUNCATE_EVERY = 2  # DataFrame executor: truncate lineage every 2 iterations


@dataclass(frozen=True)
class RankSpec:
    """One rank kernel.

    - `scale`: the fixed-point scale of a contribution.
    - `contribution(x, deg, n, m)`: what a node with score x and
      out-degree deg sends along each edge, before fixed-pointing; n and m
      are the node and edge counts. None sends x itself (no degree needed).
    - `update`: "teleport" → x'(v) = base(v) + d·s(v)/scale, starting from
      x0 = 1/|S| on the teleport set S (every node unless `sources` is
      given) and base = (1-d)/|S| on S; "l2" → x'(v) = s(v)/sqrt(Σ s²),
      starting from all-ones.
    - `halfsteps`: (read, write, forward) score columns, run in order each
      iteration; forward sums over u→v, backward over v→u.
    - `columns`: the output score columns. The first starts at x0, any
      other at 0.
    """

    columns: tuple[str, ...]
    scale: int
    contribution: Callable | None
    update: str
    halfsteps: tuple[tuple[str, str, bool], ...]


_PAGERANK = RankSpec(("rank",), PR_SCALE, lambda x, deg, n, m: x / deg,
                     "teleport", (("rank", "rank", True),))
# deg + avgDeg with avgDeg = m/n kept exact: x/(deg + m/n) = x·n/(deg·n + m)
_ARTICLE_RANK = RankSpec(("rank",), PR_SCALE,
                         lambda x, deg, n, m: x * n / (deg * n + m),
                         "teleport", (("rank", "rank", True),))
_EIGENVECTOR = RankSpec(("score",), EV_SCALE, None, "l2", (("score", "score", True),))
_HITS = RankSpec(("hub", "authority"), EV_SCALE, None, "l2",
                 (("hub", "authority", True), ("authority", "hub", False)))


def _fixed(x, scale: int):
    """The value whose floor is a contribution's fixed-point integer."""
    return x * float(scale) + 0.5


def _teleport(base, s, damping: float, scale: int):
    return base + damping * (s / float(scale))


def _rank_driver(spec: RankSpec, e: DataFrame, iterations: int, damping: float,
                 sources: list[int] | None) -> DataFrame:
    """Driver executor: one collect, then the superstep as dict loops."""
    pairs = [(r[0], r[1]) for r in e.collect()]
    nodes = sorted({v for p in pairs for v in p})
    n, m = len(nodes), len(pairs)
    adj: dict[bool, dict[int, list[int]]] = {True: {}, False: {}}
    for u, v in pairs:
        adj[True].setdefault(u, []).append(v)
        adj[False].setdefault(v, []).append(u)
    if spec.update == "teleport" and n:
        in_s = set(nodes) if sources is None else set(sources).intersection(nodes)
        if not in_s:
            raise ValueError("no source nodes present in graph")
        k = len(in_s)
        x0 = {v: 1.0 / k if v in in_s else 0.0 for v in nodes}
        base = {v: (1.0 - damping) / k if v in in_s else 0.0 for v in nodes}
    else:
        x0 = dict.fromkeys(nodes, 1.0)
    scores = {c: dict.fromkeys(nodes, 0.0) for c in spec.columns}
    scores[spec.columns[0]] = x0
    for _ in range(iterations):
        for read, write, forward in spec.halfsteps:
            x, s = scores[read], {}
            for u, outs in adj[forward].items():
                c = x[u] if spec.contribution is None else spec.contribution(
                    x[u], len(outs), n, m)
                c = math.floor(_fixed(c, spec.scale))
                for v in outs:
                    s[v] = s.get(v, 0) + c
            if spec.update == "teleport":
                scores[write] = {v: _teleport(base[v], s.get(v, 0), damping, spec.scale)
                                 for v in nodes}
            else:
                q = sum(t * t for t in s.values())
                norm = math.sqrt(float(q)) if q > 0 else 1.0
                scores[write] = {v: s.get(v, 0) / norm for v in nodes}
    return local_frame(
        e.sparkSession,
        [(v, *(scores[c][v] for c in spec.columns)) for v in nodes],
        ", ".join(["node long"] + [f"{c} double" for c in spec.columns]),
    )


def _rank_frame(spec: RankSpec, e: DataFrame, iterations: int, damping: float,
                sources: list[int] | None) -> DataFrame:
    """DataFrame executor: per half-step one contribution join, one keyed
    `groupBy` sum (map-side partial sums) and one node update; an L2
    update's norm is a 1-row broadcast, so the loop stays lazy between
    lineage truncations. n, m and |S ∩ V| come from one aggregate job,
    run only by teleport specs."""
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    n = m = 0
    if spec.update == "teleport":
        in_s = F.lit(True) if sources is None else F.col("node").isin(sources)
        ends = (e.select(F.explode(F.array("src", "dst")).alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("ends")))
        n, two_m, k = ends.agg(F.count(F.lit(1)), F.sum("ends"),
                               F.count(F.when(in_s, 1))).first()
        if n == 0:
            return nodes.select("node", *(F.lit(0.0).alias(c) for c in spec.columns))
        if k == 0:
            raise ValueError("no source nodes present in graph")
        m = two_m // 2

        def weight(total: float):
            w = F.lit(total / k)
            return w if sources is None else F.when(in_s, w).otherwise(F.lit(0.0))

        x0, base = weight(1.0), weight(1.0 - damping)
    else:
        x0 = F.lit(1.0)

    def step(x: DataFrame, forward: bool) -> DataFrame:
        key, out = ("src", "dst") if forward else ("dst", "src")
        c = F.col("score")
        if spec.contribution is not None:
            x = x.join(e.groupBy(F.col(key).alias("node"))
                       .agg(F.count(F.lit(1)).alias("deg")), "node")
            c = spec.contribution(c, F.col("deg"), n, m)
        sums = (
            x.select("node", F.floor(_fixed(c, spec.scale)).cast("long").alias("c"))
            .join(e, F.col("node") == F.col(key))
            .groupBy(F.col(out).alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        s = nodes.join(sums, "node", "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0)).alias("s")
        )
        if spec.update == "teleport":
            return s.select("node", _teleport(base, F.col("s"), damping, spec.scale)
                            .alias("score"))
        q = s.agg(F.sum(F.col("s") * F.col("s")).alias("q"))
        return s.crossJoin(F.broadcast(q)).select(
            "node",
            F.when(F.col("q") > 0,
                   F.col("s").cast("double") / F.sqrt(F.col("q").cast("double")))
            .otherwise(F.lit(0.0)).alias("score"),
        )

    scores = {c: nodes.withColumn("score", x0 if i == 0 else F.lit(0.0))
              for i, c in enumerate(spec.columns)}
    for it in range(iterations):
        cut = (it + 1) % RANK_TRUNCATE_EVERY == 0
        for read, write, forward in spec.halfsteps:
            scores[write] = step(scores[read], forward)
            if cut:
                # truncate as written, so the next half-step (HITS's hub
                # from authority) reads the checkpoint, not its lineage
                scores[write] = scores[write].transform(truncate_lineage)
    first, *rest = spec.columns
    out = scores[first].select("node", F.col("score").alias(first))
    for c in rest:
        out = out.join(scores[c].select("node", F.col("score").alias(c)), "node")
    return out


def _rank(spec: RankSpec, edges: DataFrame, src_col: str, dst_col: str,
          iterations: int, damping: float = 0.0,
          sources: list[int] | None = None) -> DataFrame:
    e = _edge_frame(edges, src_col, dst_col)
    run = _rank_driver if fits_driver(e, DRIVER_MAX_EDGES) else _rank_frame
    return run(spec, e, iterations, damping, sources)


def pagerank(edges: DataFrame, iterations: int = 3, damping: float = 0.85,
             src_col: str = "src_system_id", dst_col: str = "dst_system_id",
             sources: list[int] | None = None) -> DataFrame:
    """Fixed-iteration PageRank, bit-reproducible: the `_PAGERANK` spec.

    rank0 = 1/n; rank'(v) = (1-d)/n + d * (Σ_u→v fp(rank(u)/deg(u)))/1e12
    with fp(x) = floor(x*1e12 + 0.5) summed as exact integers. Dangling
    mass is dropped (simplified PageRank), matching the SQL oracle.

    `sources=[...]` switches to PERSONALIZED PageRank (GDS's sourceNodes):
    teleport mass (1-d) is split over the source set instead of all nodes —
    base(v) = (1-d)/|S|·[v∈S], rank0 likewise — giving proximity-to-S
    scores. Same spec, same fixed-point contract; the source set is a
    query parameter (model-sized), embedded as literals, never a shuffle.
    Raises ValueError when no source is a node of the graph.

    No early stop: a fixed superstep count keeps the whole loop lazy; only
    the periodic lineage truncations materialize. At scale each superstep
    is one shuffle keyed by dst.
    """
    return _rank(_PAGERANK, edges, src_col, dst_col, iterations, damping, sources)


def article_rank(edges: DataFrame, iterations: int = 3, damping: float = 0.85,
                 src_col: str = "src_system_id", dst_col: str = "dst_system_id") -> DataFrame:
    """GDS `gds.articleRank` parity: the `_ARTICLE_RANK` spec, PageRank
    with each contribution divided by (deg(u) + avgDeg) instead of deg(u),
    so low-degree endorsements count more.

    avgDeg = m/n is kept as the exact rational m/n by multiplying the
    quotient through: rank/(deg + m/n) = rank·n/(deg·n + m), whose
    denominator is an exact integer — the fp'd contribution is the same
    one-division IEEE sequence in every engine, then summed exactly.
    """
    return _rank(_ARTICLE_RANK, edges, src_col, dst_col, iterations, damping)


def eigenvector_centrality(edges: DataFrame, iterations: int = 3,
                           src_col: str = "src_system_id",
                           dst_col: str = "dst_system_id") -> DataFrame:
    """GDS `gds.eigenvector` parity: the `_EIGENVECTOR` spec, a
    fixed-iteration power method.

    x0 = 1; step: s(v) = Σ_{u→v} floor(x(u)·1e6 + 0.5) (exact integer,
    order-free), then x'(v) = s(v) / sqrt(Σ_w s(w)²) — the L2 normalization
    GDS applies each iteration, with the norm's sum-of-squares an exact
    BIGINT so the sqrt+divide replay identically in any engine. Parallel
    edges contribute with multiplicity, like GDS on a multi-graph
    projection.
    """
    return _rank(_EIGENVECTOR, edges, src_col, dst_col, iterations)


def hits(edges: DataFrame, iterations: int = 2,
         src_col: str = "src_system_id", dst_col: str = "dst_system_id") -> DataFrame:
    """GDS `gds.hits` parity (Kleinberg HITS): the `_HITS` spec, two
    eigenvector half-steps per iteration with the edge direction flipped.
    auth'(v) = L2-normalized Σ_{u→v} fp(hub(u)); then
    hub'(u) = L2-normalized Σ_{u→v} fp(auth'(v)). hub0 = 1, auth0 = 0, so
    `iterations=0` returns hub 1.0 and authority 0.0 on both branches.
    """
    return _rank(_HITS, edges, src_col, dst_col, iterations)


# --- closeness centrality ---------------------------------------------------

def closeness_centrality(edges: DataFrame, src_col: str = "src_system_id",
                         dst_col: str = "dst_system_id",
                         landmarks: int | None = None,
                         exact: bool = False,
                         weight_col: str | None = None) -> DataFrame:
    """(node, closeness) with closeness = (reached-1) / Σ hop-dist — exact
    all-pairs BFS on the driver below the edge threshold (the graph that
    fits on the driver is the only one where exact all-pairs is sane).

    `weight_col` switches the distance to WEIGHTED shortest paths (GDS
    closeness relationshipWeightProperty parity) —
    every mode (exact driver, landmarks, exact=True) goes through the
    same `graph.multi_source_sssp` loop with that weight. Because the
    per-pair dists are then floats, Σ dist is made order-independent by
    fixed-pointing each dist to integer micro-units before the sum
    (floor(d*1e6 + 0.5), the _dsum device): the dist values themselves
    are engine-exact min-plus fixpoints, so the quantized sum — and
    hence the closeness — is reproducible bit-for-bit across engines
    and run orders. closeness = (reached-1) / (Σfp / 1e6) with two IEEE
    double ops over identical operands.

    At scale, exact all-pairs is O(V) SSSP runs — pass `landmarks=k` to
    approximate with k hash-chosen pivot sources instead (the standard
    large-graph practice). All pivots run as ONE (source, node)-keyed
    frontier loop (`graph.multi_source_sssp`): O(max diameter) supersteps
    total, not k sequential O(diameter) sweeps — at 1000-executor scale
    with k=16 landmarks and diameter ~50 that is ~50 job barriers instead
    of ~800.

    Exact all-pairs on a graph ABOVE the driver threshold is a loud
    opt-in (`exact=True`), never a silent default: it collects O(V)
    pivot ids to the driver and carries O(V^2) (source, node) state
    through the loop — the caller must decide that cost knowingly, or
    pass `landmarks=k` for the standard approximation.
    """
    e = _edge_frame(edges, src_col, dst_col)
    spark = e.sparkSession
    if weight_col is not None:
        ew = _weighted_edge_frame(edges, src_col, dst_col, weight_col)
        # SPARK_GRAFT_FORCE_DISTRIBUTED makes fits_driver answer False as
        # a measurement device; the O(V^2)-state guard must keep judging
        # the REAL input size (force_exempt), not the forced verdict, or
        # the bench's distributed arm turns fixture-sized queries into
        # errors — and over-threshold ones into silent all-pairs runs.
        if (landmarks is None and not exact
                and not fits_driver(ew, DRIVER_MAX_EDGES, force_exempt=True)):
            raise ValueError(
                "closeness_centrality: graph exceeds the driver threshold and no "
                "landmarks were given — exact all-pairs closeness is O(V) pivots "
                "with O(V^2) frontier state. Pass landmarks=k for the standard "
                "approximation, or exact=True to opt into the full computation."
            )
        sources = (
            ew.select(F.col("src").alias("node"))
            .union(ew.select(F.col("dst").alias("node")))
            .distinct()
        )
        if landmarks:
            sources = sources.orderBy(F.xxhash64("node")).limit(landmarks)
        pivot_ids = [r["node"] for r in sources.collect()]
        d = multi_source_sssp(
            ew, pivot_ids, weight_col="w", src_col="src", dst_col="dst",
        ).select("node", "dist")
        fp = F.floor(F.col("dist") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        sum_fp = F.sum(fp)
        return d.groupBy("node").agg(
            F.when(
                sum_fp > 0,
                (F.count(F.lit(1)) - 1).cast("double")
                / (sum_fp.cast("double") / F.lit(1000000.0)),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness")
        )
    if landmarks is None and fits_driver(e, DRIVER_MAX_EDGES):
        adj: dict[int, list[int]] = {}
        nodes: set[int] = set()
        for r in e.collect():
            adj.setdefault(r["src"], []).append(r["dst"])
            nodes.update((r["src"], r["dst"]))
        rows = []
        for s in nodes:
            dist = {s: 0}
            frontier = [s]
            while frontier:
                nxt = []
                for u in frontier:
                    for v in adj.get(u, ()):
                        if v not in dist:
                            dist[v] = dist[u] + 1
                            nxt.append(v)
                frontier = nxt
            total = sum(dist.values())
            rows.append((s, float(len(dist) - 1) / total if total else 0.0))
        return local_frame(spark, rows, "node long, closeness double")

    # the forced-distributed arm must not trip the exact-cost guard on a
    # fixture-sized graph: the guard probes the real size (force_exempt),
    # so such a graph falls through to the exact distributed path (the
    # measurable twin; branch parity pinned by
    # test_closeness_distributed_matches_local)
    if (landmarks is None and not exact
            and not fits_driver(e, DRIVER_MAX_EDGES, force_exempt=True)):
        raise ValueError(
            "closeness_centrality: graph exceeds the driver threshold and no "
            "landmarks were given — exact all-pairs closeness is O(V) pivots "
            "with O(V^2) frontier state. Pass landmarks=k for the standard "
            "approximation, or exact=True to opt into the full computation."
        )
    sources = (
        e.select(F.col("src").alias("node")).union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if landmarks:
        sources = sources.orderBy(F.xxhash64("node")).limit(landmarks)
    pivot_ids = [r["node"] for r in sources.collect()]
    ew = e.withColumn("w", F.lit(1.0))
    # one (source, node)-keyed frontier loop for ALL pivots; per-source
    # dists are bit-identical to k sequential sssp() sweeps (pinned by
    # test_scale_smoke), and the hop-count sums below are exact integers
    # in doubles, so the aggregate is order-independent.
    d = multi_source_sssp(
        ew, pivot_ids, weight_col="w", src_col="src", dst_col="dst",
    ).select("node", "dist")
    return d.groupBy("node").agg(
        ((F.count(F.lit(1)) - 1).cast("double") / F.sum("dist")).alias("closeness")
    )


# --- harmonic centrality / eccentricity -------------------------------------

def harmonic_centrality(edges: DataFrame, src_col: str = "src_system_id",
                        dst_col: str = "dst_system_id",
                        weight_col: str | None = None,
                        landmarks: list[int] | None = None,
                        stats_out: dict | None = None) -> DataFrame:
    """(node, harmonic, eccentricity) per SOURCE node: harmonic =
    Σ 1/d(node→v) over reachable v ≠ node (the disconnected-robust
    closeness variant), eccentricity = max d(node→v). With `weight_col`,
    d is the weighted shortest-path distance (GDS exposes
    relationshipWeightProperty across the closeness/harmonic family).

    Exactness: each 1/d term is fixed-pointed to integer micro-units
    (floor(1e6/d + 0.5)) BEFORE the sum, so the aggregate is
    order-independent; weighted d values are engine-exact min-plus
    fixpoints (dijkstra_sigma → multi_source_sssp), so the quotient
    bits — and MAX for eccentricity — replay identically in any engine.

    Scale contract mirrors closeness_centrality: all-sources is the
    driver-sized fast path; above the threshold pass `landmarks` (the
    sampled-source estimator) — the forward pass is ONE (source,
    node)-keyed frontier loop regardless of landmark count. Output is
    per-landmark rows in that mode, full semantics per row.
    """
    if weight_col is None:
        vs = bfs_sigma(edges, landmarks, src_col, dst_col, stats_out=stats_out)
        ecc = F.max("dist").cast("long")
    else:
        vs = dijkstra_sigma(edges, landmarks, weight_col, src_col, dst_col,
                            stats_out=stats_out)
        ecc = F.max("dist")
    term = F.when(
        F.col("dist") > 0,
        F.floor(F.lit(1000000.0) / F.col("dist") + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0))
    return vs.groupBy(F.col("source").alias("node")).agg(
        (F.sum(term).cast("double") / F.lit(1000000.0)).alias("harmonic"),
        ecc.alias("eccentricity"),
    )


# --- triangle counting ------------------------------------------------------

def triangle_count(edges: DataFrame, src_col: str = "src_system_id",
                   dst_col: str = "dst_system_id") -> DataFrame:
    """Global triangle count over a symmetric edge set — pure joins, no
    iteration: canonicalize to a<b, then count (a,b),(b,c),(a,c) chains.
    Two shuffle joins; at scale the canonical edge table is broadcast if
    small or bucket-joined on its keys."""
    canon = (
        _edge_frame(edges, src_col, dst_col)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )
    e1 = canon
    e2 = canon.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = canon.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    return (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# --- strongly connected components ------------------------------------------

def strongly_connected_components(edges: DataFrame,
                                  src_col: str = "src_system_id",
                                  dst_col: str = "dst_system_id",
                                  max_pivots: int = 10_000) -> DataFrame:
    """(node, scc) over a DIRECTED edge set, scc = min node id in the
    component (unlike connected_components, direction matters here).

    Driver path: Tarjan (iterative, no recursion limit) when the edge set
    fits. Distributed path: FW-BW decomposition — pick the min remaining
    node as pivot, compute its forward and backward reachable sets with
    the iterative frontier joins SSSP uses (both directions in ONE
    direction-tagged frontier loop, so a pivot round costs
    max(fwd, bwd) BFS depth, not their sum), intersect them into one
    SCC, remove it, repeat. Each round is O(diameter) supersteps; worst case
    (all singleton SCCs) degenerates to V rounds, which is why real
    deployments run it after condensing trivial SCCs — `max_pivots` guards
    the loop.
    """
    e = _edge_frame(edges, src_col, dst_col).distinct()
    spark = e.sparkSession
    if fits_driver(e, DRIVER_MAX_EDGES):
        adj: dict[int, list[int]] = {}
        nodes: set[int] = set()
        for r in e.collect():
            adj.setdefault(r["src"], []).append(r["dst"])
            nodes.update((r["src"], r["dst"]))
        # iterative Tarjan
        index_of: dict[int, int] = {}
        low: dict[int, int] = {}
        on_stack: set[int] = set()
        stack: list[int] = []
        scc_of: dict[int, int] = {}
        counter = 0
        for root in sorted(nodes):
            if root in index_of:
                continue
            work = [(root, iter(adj.get(root, ())))]
            index_of[root] = low[root] = counter
            counter += 1
            stack.append(root)
            on_stack.add(root)
            while work:
                v, it = work[-1]
                advanced = False
                for w in it:
                    if w not in index_of:
                        index_of[w] = low[w] = counter
                        counter += 1
                        stack.append(w)
                        on_stack.add(w)
                        work.append((w, iter(adj.get(w, ()))))
                        advanced = True
                        break
                    if w in on_stack:
                        low[v] = min(low[v], index_of[w])
                if advanced:
                    continue
                work.pop()
                if work:
                    u = work[-1][0]
                    low[u] = min(low[u], low[v])
                if low[v] == index_of[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    rep = min(comp)
                    for w in comp:
                        scc_of[w] = rep
        return local_frame(
            spark, sorted(scc_of.items()), "node long, scc long"
        )

    # distributed FW-BW-Trim: bulk-peel trivial SCCs, then one pivot/round.
    remaining = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    out: DataFrame | None = None

    def _trim(rem: DataFrame, acc: DataFrame | None):
        # A node with no in-neighbor or no out-neighbor inside `rem` is a
        # singleton SCC. Peel to fixpoint — on a DAG this resolves the
        # whole graph in O(longest path) distributed rounds with ZERO
        # pivot rounds (the per-SCC driver round-trip was the old
        # degenerate case: 1 collect() per singleton).
        while True:
            live = (
                e.join(rem.withColumnRenamed("node", "src"), "src", "left_semi")
                .join(rem.withColumnRenamed("node", "dst"), "dst", "left_semi")
            )
            core = (
                rem.join(live.select(F.col("src").alias("node")).distinct(),
                         "node", "left_semi")
                .join(live.select(F.col("dst").alias("node")).distinct(),
                      "node", "left_semi")
                .transform(truncate_lineage)
            )
            trivial = rem.join(core, "node", "left_anti")
            if trivial.limit(1).count() == 0:
                return core, acc
            tagged = trivial.select("node", F.col("node").cast("long").alias("scc"))
            acc = tagged if acc is None else acc.union(tagged)
            acc = acc.transform(truncate_lineage)
            rem = core

    remaining, out = _trim(remaining, out)
    exhausted = True
    for _ in range(max_pivots):
        head = remaining.orderBy("node").limit(1).collect()
        if not head:
            exhausted = False
            break
        pivot = head[0]["node"]

        # forward and backward reach share ONE frontier loop, keyed by a
        # direction tag over the union of the live edge set and its
        # reverse (the multi-source-SSSP trick): iterations =
        # max(fwd, bwd) BFS depth instead of fwd + bwd sequential rounds,
        # and each superstep is one join instead of two loop bodies.
        live = e.join(remaining.withColumnRenamed("node", "src"), "src", "left_semi")
        live_rev = rev.join(remaining.withColumnRenamed("node", "src"), "src", "left_semi")
        tagged_edges = (
            live.select(F.lit(0).alias("dir"), "src", "dst")
            .unionByName(live_rev.select(F.lit(1).alias("dir"), "src", "dst"))
        )
        seen = local_frame(spark, [(0, pivot), (1, pivot)], "dir int, node long")
        frontier = seen
        while True:
            nxt = (
                tagged_edges.join(
                    frontier.withColumnRenamed("node", "src"), ["dir", "src"]
                )
                .select("dir", F.col("dst").alias("node"))
                .join(remaining, "node", "left_semi")
                .join(seen, ["dir", "node"], "left_anti")
                .distinct()
                .transform(truncate_lineage)
            )
            if nxt.limit(1).count() == 0:
                break
            seen = seen.union(nxt).transform(truncate_lineage)
            frontier = nxt
        fwd = seen.filter(F.col("dir") == 0).select("node")
        bwd = seen.filter(F.col("dir") == 1).select("node")
        comp = fwd.join(bwd, "node", "left_semi").transform(truncate_lineage)
        rep = comp.agg(F.min("node").alias("m")).collect()[0]["m"]
        tagged = comp.select("node", F.lit(rep).cast("long").alias("scc"))
        out = tagged if out is None else out.union(tagged)
        nxt_remaining = remaining.join(comp, "node", "left_anti").transform(truncate_lineage)
        remaining.unpersist()
        # Re-trim after each peel: removing an SCC can expose new trivial
        # SCCs (its DAG neighbors), keeping pivot rounds ≈ #non-trivial SCCs.
        nxt_remaining, out = _trim(nxt_remaining, out)
        remaining = nxt_remaining.persist()
    if exhausted and remaining.limit(1).count() > 0:
        # Never return a silently-partial mapping (nodes missing from the
        # output would read as "not in any SCC").
        raise RuntimeError(
            f"scc_membership: {max_pivots} pivot rounds exhausted with nodes "
            "still unassigned; raise max_pivots (non-trivial SCC count "
            "exceeds the cap)"
        )
    return out if out is not None else local_frame(spark, [], "node long, scc long")


# --- link prediction (neighborhood Jaccard) ----------------------------------

def jaccard_link_prediction(edges: DataFrame, src_col: str = "src_system_id",
                            dst_col: str = "dst_system_id") -> DataFrame:
    """Score non-adjacent node pairs by neighborhood Jaccard similarity.

    For a symmetric edge set: common(a,b) = |N(a) ∩ N(b)| via a self-join
    on the shared neighbor (the standard wedge enumeration — same shuffle
    shape as triangle counting: edges partitioned by the wedge center, so
    at 100 TB the join co-locates by neighbor id and never materializes
    the O(V²) pair space, only pairs that share >=1 neighbor).

    Returns (node_a, node_b, common_cnt, jaccard) for non-adjacent a<b,
    jaccard = common / (deg(a) + deg(b) - common) as ONE double division
    of exact integer operands (bit-identical across engines).
    """
    e = _edge_frame(edges, src_col, dst_col).distinct()
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    wedges = (
        e.select(F.col("src").alias("node_a"), F.col("dst").alias("c"))
        .join(e.select(F.col("src").alias("node_b"), F.col("dst").alias("c")), "c")
        .filter(F.col("node_a") < F.col("node_b"))
    )
    common = wedges.groupBy("node_a", "node_b").agg(F.count("*").alias("common_cnt"))
    adjacent = e.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("node_a"), F.col("dst").alias("node_b")
    )
    return (
        common.join(adjacent, ["node_a", "node_b"], "left_anti")
        # deg is node-cardinality — no forced broadcast (would OOM on the
        # graphs this targets); AQE picks broadcast when deg is small.
        .join(deg.withColumnRenamed("node", "node_a")
                 .withColumnRenamed("deg", "deg_a"), "node_a")
        .join(deg.withColumnRenamed("node", "node_b")
                 .withColumnRenamed("deg", "deg_b"), "node_b")
        .select(
            "node_a",
            "node_b",
            "common_cnt",
            (
                F.col("common_cnt").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common_cnt")).cast("double")
            ).alias("jaccard"),
        )
    )


# --- k-core decomposition ----------------------------------------------------

def k_core(edges: DataFrame, k: int, src_col: str = "src_system_id",
           dst_col: str = "dst_system_id",
           max_iterations: int = 100) -> DataFrame:
    """Nodes of the k-core: iteratively peel nodes with degree < k.

    Assumes a symmetric edge set (degree = out-degree). Non-monotone
    (deletion-based), so no SQL/recursive-CTE oracle exists — membership
    is pinned by unit tests on known graphs instead.

    Distributed form: each round is one degree aggregation + one semi-join
    edge filter; rounds are O(peel depth), each a single shuffle keyed by
    src — the same budget as one superstep of the CC loop. Driver path
    below DRIVER_MAX_EDGES edges is an exact bucket-queue peel.
    """
    e = _edge_frame(edges, src_col, dst_col).distinct()
    spark = edges.sparkSession
    if fits_driver(e, DRIVER_MAX_EDGES):
        adj: dict[int, set[int]] = {}
        for r in e.collect():
            adj.setdefault(r["src"], set()).add(r["dst"])
        changed = True
        while changed:
            weak = [v for v, ns in adj.items() if len(ns) < k]
            changed = bool(weak)
            for v in weak:
                for u in adj.pop(v):
                    if u in adj:
                        adj[u].discard(v)
        rows = [(v,) for v in sorted(adj)]
        return local_frame(spark, rows, "node long")

    cur = e
    for _ in range(max_iterations):
        deg = cur.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .transform(truncate_lineage)
        )
        if nxt.limit(1).count() == 0:
            return local_frame(spark, [], "node long")
        removed = cur.select("src").distinct().join(
            nxt.select("src").distinct(), "src", "left_anti")
        cur = nxt
        if removed.limit(1).count() == 0:
            break
    return cur.select(F.col("src").alias("node")).distinct()


# --- Label propagation (community detection) --------------------------------

def label_propagation(edges: DataFrame, iterations: int = 5,
                      src_col: str = "src_system_id",
                      dst_col: str = "dst_system_id") -> DataFrame:
    """(node, community) via synchronous label propagation (LPA).

    Deterministic spec (so driver-local and distributed paths agree
    bit-for-bit, and reruns are stable — unlike textbook LPA's random
    tie-breaks): start with community = node id; each superstep every
    node adopts the most frequent label among its in-neighbors, ties
    broken by the SMALLEST label; nodes with no in-edges keep their
    label. Synchronous updates for a fixed number of supersteps with
    early stop at fixpoint (fixed cap because synchronous LPA can
    oscillate on bipartite structures — it never converges there, so
    "run to convergence" is not a well-defined contract).

    Assumes a symmetric edge set like the JUMP table (reference:
    src/database.rs:241-254). Integer-only state — no float order
    dependence anywhere.

    Distributed superstep = one join (labels onto edge sources) + one
    (node, label) count aggregation + one argmax per node: two shuffles
    keyed by dst/node, the same budget as a CC superstep. At 100 TB the
    edge table is the static side — pre-partitioned by src once and
    reused every superstep; only the label frame moves.
    """
    e = _edge_frame(edges, src_col, dst_col)
    spark = edges.sparkSession

    if fits_driver(e, DRIVER_MAX_EDGES):
        inbound: dict[int, list[int]] = {}
        nodes: set[int] = set()
        for r in e.collect():
            inbound.setdefault(r["dst"], []).append(r["src"])
            nodes.add(r["src"])
            nodes.add(r["dst"])
        labels = {v: v for v in nodes}
        for _ in range(iterations):
            nxt = {}
            for v in nodes:
                srcs = inbound.get(v)
                if not srcs:
                    nxt[v] = labels[v]
                    continue
                counts: dict[int, int] = {}
                for u in srcs:
                    lbl = labels[u]
                    counts[lbl] = counts.get(lbl, 0) + 1
                nxt[v] = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            if nxt == labels:
                break
            labels = nxt
        return local_frame(
            spark, sorted(labels.items()), "node long, community long"
        )

    labels = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("community", F.col("node"))
    )
    for _ in range(iterations):
        counts = (
            labels.join(e, labels.node == e.src)
            .groupBy(F.col("dst").alias("node"), "community")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # lexicographic struct max = (highest count, then smallest label)
        pick = counts.groupBy("node").agg(
            F.max(
                F.struct(
                    F.col("cnt"),
                    (-F.col("community")).alias("__neg"),
                    F.col("community"),
                )
            )["community"].alias("__new")
        )
        merged = (
            labels.join(pick, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("__new"), F.col("community")).alias("community"),
                (F.coalesce(F.col("__new"), F.col("community")) != F.col("community")).alias(
                    "__changed"
                ),
            )
            .transform(truncate_lineage)
        )
        changed = merged.filter(F.col("__changed")).limit(1).count()
        labels = merged.drop("__changed")
        if changed == 0:
            break
    return labels


# --- betweenness centrality -------------------------------------------------

def bfs_sigma(edges: DataFrame, source_ids: list[int] | None,
              src_col: str = "src_system_id", dst_col: str = "dst_system_id",
              max_iterations: int = 200,
              stats_out: dict | None = None) -> DataFrame:
    """(source, node, dist, sigma): hop distance and shortest-path COUNT
    from each source — the forward pass of Brandes betweenness and the
    building block of path-diversity metrics.

    Level-synchronous BFS keyed (source, node), run for ALL sources in
    ONE `_frontier_loop` that keeps new keys only (the multi-source shape
    of graph.multi_source_sssp): at superstep L every (source, frontier
    node) pair at dist L sends sigma along its out-edges; a node first
    reached at L+1 gets sigma = the SUM of messages — complete in that
    superstep because level-synchronous BFS delivers every dist-L
    contribution together (no Dijkstra-style re-relaxation, so no
    re-summing). O(max diameter) supersteps, NOT k-proportional.

    sigma is a double holding an exact integer: path counts explode
    combinatorially (a w-wide layered graph has w^L paths), and integer
    summation in doubles stays exact to 2^53 then degrades to +inf
    gracefully instead of wrapping negative like a long.

    Driver fast path below the edge threshold: per-source Python BFS,
    identical level/sum schedule, bit-identical output.
    """
    spark = edges.sparkSession
    if source_ids is not None:
        # order-preserving dedup: a repeated source would seed duplicate
        # (source, source) state rows and double every result row
        source_ids = list(dict.fromkeys(source_ids))
    e = _edge_frame(edges, src_col, dst_col)
    # source_ids=None has NO distributed twin (the loop needs explicit
    # seed rows) — its probe is exempt from the forced-distributed arm
    if fits_driver(e, DRIVER_MAX_EDGES, force_exempt=source_ids is None):
        adj: dict[int, list[int]] = {}
        nodes: set[int] = set()
        for r in e.collect():
            adj.setdefault(r["src"], []).append(r["dst"])
            nodes.update((r["src"], r["dst"]))
        if source_ids is None:
            # all-pairs forward pass from ONE edge collect — callers that
            # need every source (exact betweenness on a fixture-sized
            # graph) avoid a separate node-list job
            source_ids = sorted(nodes)
        rows = []
        for s in source_ids:
            dist = {s: 0}
            sigma = {s: 1.0}
            frontier = [s]
            level = 0
            while frontier:
                nxt: dict[int, float] = {}
                for u in frontier:
                    for v in adj.get(u, ()):
                        if v in dist:
                            if dist[v] == level + 1:
                                nxt[v] += sigma[u]
                        else:
                            dist[v] = level + 1
                            nxt[v] = sigma[u]
                for v, sg in nxt.items():
                    sigma[v] = sg
                frontier = list(nxt)
                level += 1
            rows.extend((int(s), int(n), int(d), float(sigma[n])) for n, d in dist.items())
        return local_frame(spark, rows, "source long, node long, dist int, sigma double")

    if source_ids is None:
        raise ValueError(
            "bfs_sigma: source_ids=None (all nodes) above the driver "
            "threshold is O(V) sources with O(V^2) state — pass an explicit "
            "sampled source list (betweenness_centrality(sample_sources=k) "
            "does) or raise the DRIVER_MAX_EDGES cutover knowingly."
        )
    return _bfs_sigma_distributed(e, source_ids, max_iterations, stats_out)


def _bfs_sigma_distributed(e: DataFrame, source_ids: list[int], max_iterations: int = 200,
                           stats_out: dict | None = None) -> DataFrame:
    """bfs_sigma's distributed branch over the (src, dst) edge frame `e`
    and a deduplicated source list."""
    visited = local_frame(
        e.sparkSession, [(int(s), int(s), 0, 1.0) for s in source_ids],
        "source long, node long, dist int, sigma double",
    )
    # a level-L frontier row sends sigma to each out-neighbour; only
    # first reaches (new keys) are kept, at dist L + 1
    run = _frontier_loop(
        visited, ["source", "node"],
        lambda fr: fr.join(e, fr.node == e.src)
        .groupBy("source", F.col("dst").alias("node"))
        .agg(F.min(F.col("dist") + 1).alias("dist"), F.sum("sigma").alias("sigma")),
        max_iterations, better=None, seed_rows=len(source_ids),
    )
    if stats_out is not None:
        stats_out["iterations"] = run.rounds
        stats_out["visited_checkpoints"] = run.truncations
    return run.state


def _weighted_edge_frame(edges: DataFrame, src_col: str, dst_col: str,
                         weight_col: str) -> DataFrame:
    return edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )


def _dijkstra_sigma_local_one(adj: dict[int, list[tuple[int, float]]], s: int):
    """Per-source Dijkstra with path counting, DAG preds, and longest-path
    depth — the driver kernel shared by dijkstra_sigma and weighted
    Brandes. Returns (dist, sigma, preds, depth) dicts."""
    import heapq

    dist = {s: 0.0}
    sigma = {s: 1.0}
    preds: dict[int, list[int]] = {}
    pq = [(0.0, s)]
    settled: set[int] = set()
    while pq:
        d, u = heapq.heappop(pq)
        if u in settled or d > dist[u]:
            continue
        settled.add(u)
        for v, w in adj.get(u, ()):
            nd = d + w
            if v not in dist or nd < dist[v]:
                dist[v], sigma[v], preds[v] = nd, sigma[u], [u]
                heapq.heappush(pq, (nd, v))
            elif nd == dist[v]:
                # u settles before v (w > 0), so v's sigma is still open
                sigma[v] += sigma[u]
                preds[v].append(u)
    depth = {}
    for v in sorted(dist, key=lambda n: (dist[n], n)):
        depth[v] = 0 if v == s else 1 + max(depth[u] for u in preds[v])
    return dist, sigma, preds, depth


def dijkstra_sigma(edges: DataFrame, source_ids: list[int] | None,
                   weight_col: str,
                   src_col: str = "src_system_id", dst_col: str = "dst_system_id",
                   max_iterations: int = 200,
                   stats_out: dict | None = None) -> DataFrame:
    """(source, node, dist, sigma, depth): WEIGHTED shortest-path distance,
    shortest-path COUNT, and shortest-path-DAG longest-path depth per
    source — the forward pass of weighted (Dijkstra-)Brandes betweenness,
    the weighted analogue of `bfs_sigma` (GDS
    betweenness accepts relationshipWeightProperty).

    Weights must be STRICTLY positive (true for cost ≡ 1 and risk >
    baseline > 0): w > 0 makes the shortest-path DAG edges strictly
    dist-increasing, so DAG preds always settle first (sigma sums close)
    and the longest-path `depth` layering is well-defined — it is the
    superstep schedule the backward dependency pass processes in
    descending order (with real-valued dists there are no integer BFS
    levels to iterate over; longest-path depth is the standard
    replacement and is bounded by the unweighted diameter).

    Distributed shape: ONE weighted multi-source frontier loop for dists
    (graph.multi_source_sssp), then the per-source shortest-path DAG as a
    single dist-join (dist(u) + w == dist(v), exact float equality —
    both sides are the same IEEE min-plus sums by construction), then
    depth and sigma each as an O(max depth)-superstep propagation loop.
    All state is (source, node)-keyed; supersteps are bounded by the max
    DAG depth, independent of the source count.

    sigma is a double holding an exact integer (same rationale as
    bfs_sigma). Driver fast path below the edge threshold: per-source
    heap Dijkstra, identical sums, bit-identical output.
    """
    spark = edges.sparkSession
    if source_ids is not None:
        source_ids = list(dict.fromkeys(source_ids))
    ew = _weighted_edge_frame(edges, src_col, dst_col, weight_col)
    out_schema = "source long, node long, dist double, sigma double, depth int"
    # see bfs_sigma: source_ids=None is driver-only, exempt from the arm
    if fits_driver(ew, DRIVER_MAX_EDGES, force_exempt=source_ids is None):
        adj: dict[int, list[tuple[int, float]]] = {}
        nodes: set[int] = set()
        for r in ew.collect():
            adj.setdefault(r["src"], []).append((r["dst"], r["w"]))
            nodes.update((r["src"], r["dst"]))
        if source_ids is None:
            source_ids = sorted(nodes)
        rows = []
        for s in source_ids:
            dist, sigma, _, depth = _dijkstra_sigma_local_one(adj, int(s))
            rows.extend(
                (int(s), int(n), float(d), float(sigma[n]), int(depth[n]))
                for n, d in dist.items()
            )
        return local_frame(spark, rows, out_schema)

    if source_ids is None:
        raise ValueError(
            "dijkstra_sigma: source_ids=None (all nodes) above the driver "
            "threshold is O(V) sources with O(V^2) state — pass an explicit "
            "sampled source list (betweenness_centrality(sample_sources=k, "
            "weight_col=...) does) or raise the DRIVER_MAX_EDGES cutover knowingly."
        )
    return _dijkstra_sigma_distributed(ew, source_ids, max_iterations, stats_out)


def _dijkstra_sigma_distributed(ew: DataFrame, source_ids: list[int],
                                max_iterations: int = 200,
                                stats_out: dict | None = None) -> DataFrame:
    """dijkstra_sigma's distributed branch over the (src, dst, w) edge
    frame `ew` and a deduplicated source list."""
    d = _multi_source_sssp_distributed(
        _weighted_edges(ew, "src", "dst", "w"), source_ids, max_iterations, stats_out,
    ).select("source", "node", "dist")

    # per-source shortest-path DAG: edge (u, v) is on a shortest path from
    # `source` iff dist(u) + w == dist(v) — exact equality, see docstring
    du = d.select("source", F.col("node").alias("src"), F.col("dist").alias("__du"))
    dv = d.select("source", F.col("node").alias("dst"), F.col("dist").alias("__dv"))
    # dag columns carry reserved names (__gs/__gu/__gv) so joins against
    # frames derived from the same dist lineage never collapse into
    # trivially-true self-comparisons
    dag = (
        ew.join(du, "src")
        .join(dv, ["source", "dst"])
        .filter(F.col("__du") + F.col("w") == F.col("__dv"))
        .select(
            F.col("source").alias("__gs"),
            F.col("src").alias("__gu"),
            F.col("dst").alias("__gv"),
        )
    )
    dag = dag.transform(truncate_lineage)

    # longest-path depth: max-propagation to fixpoint, O(max depth) rounds
    run = _frontier_loop(
        d.filter(F.col("dist") == 0.0).select("source", "node", F.lit(0).alias("depth")),
        ["source", "node"],
        lambda fr: fr.join(dag, (F.col("source") == F.col("__gs"))
                           & (F.col("node") == F.col("__gu")))
        .groupBy(F.col("__gs").alias("source"), F.col("__gv").alias("node"))
        .agg(F.max(F.col("depth") + 1).alias("depth")),
        max_iterations, better=operator.gt, value="depth",
    )
    if stats_out is not None:
        stats_out["depth_iterations"] = run.rounds
    depth = run.state  # checkpointed by the loop: read once per sigma level
    max_depth = depth.agg(F.max("depth").alias("m")).collect()[0]["m"] or 0

    # sigma: process depth levels ascending — every DAG pred of a level-L
    # node sits at a strictly smaller depth, so its sigma is final
    sigma = depth.filter(F.col("depth") == 0).select(
        "source", "node", F.lit(1.0).alias("sigma")
    )
    for level in range(1, max_depth + 1):
        lvl_nodes = depth.filter(F.col("depth") == level).select("source", "node")
        contrib = (
            sigma.join(dag, (F.col("source") == F.col("__gs")) & (F.col("node") == F.col("__gu")))
            .select(F.col("__gs").alias("source"), F.col("__gv").alias("node"), "sigma")
            .join(lvl_nodes, ["source", "node"], "left_semi")
            .groupBy("source", "node")
            .agg(F.sum("sigma").alias("sigma"))
        )
        sigma = sigma.unionByName(contrib)
        if level % FRONTIER_TRUNCATE_EVERY == 0:
            sigma = sigma.transform(truncate_lineage)
    out = (
        d.join(depth, ["source", "node"])
        .join(sigma, ["source", "node"])
        .select("source", "node", "dist", "sigma", F.col("depth").cast("int").alias("depth"))
    )
    if stats_out is not None:
        stats_out["max_depth"] = int(max_depth)
    return out


def _weighted_brandes_local(ew: DataFrame, source_ids: list[int],
                            scale: float) -> DataFrame:
    """Driver fast path for weighted betweenness — textbook
    Dijkstra-Brandes over the collected edge list; per-node delta sums in
    a CANONICAL order ((dist, node) descending), same float caveat as
    `_brandes_local`."""
    spark = ew.sparkSession
    adj: dict[int, list[tuple[int, float]]] = {}
    nodes: set[int] = set()
    for r in ew.collect():
        adj.setdefault(r["src"], []).append((r["dst"], r["w"]))
        nodes.update((r["src"], r["dst"]))
    bet = {v: 0.0 for v in nodes}
    for s in source_ids:
        dist, sigma, preds, _ = _dijkstra_sigma_local_one(adj, int(s))
        delta = {v: 0.0 for v in dist}
        for w in sorted(dist, key=lambda n: (-dist[n], -n)):
            for u in preds.get(w, ()):
                delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
        for v, dl in delta.items():
            if v != s:
                bet[v] += dl * scale
    return local_frame(
        spark, sorted(bet.items()), "node long, betweenness double"
    )


def _brandes_local(e: DataFrame, source_ids: list[int], scale: float) -> DataFrame:
    """Driver fast path — textbook Brandes over the collected edge list
    (forward BFS with sigma, backward dependency accumulation in
    descending-distance order). Per-node delta sums run in a CANONICAL
    order (sorted node, then sorted contribution keys) so reruns are
    stable; cross-path float identity with the distributed loop is NOT
    guaranteed (dependency ratios are non-integer rationals — see
    betweenness_centrality docstring), only agreement to float rounding.
    """
    spark = e.sparkSession
    adj: dict[int, list[int]] = {}
    nodes: set[int] = set()
    for r in e.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
        nodes.update((r["src"], r["dst"]))
    bet = {v: 0.0 for v in nodes}
    for s in source_ids:
        dist = {s: 0}
        sigma = {s: 1.0}
        preds: dict[int, list[int]] = {}
        levels: list[list[int]] = [[s]]
        while levels[-1]:
            nxt: dict[int, float] = {}
            level = len(levels) - 1
            for u in sorted(levels[-1]):
                for v in adj.get(u, ()):
                    if v in dist:
                        if dist[v] == level + 1:
                            nxt[v] += sigma[u]
                            preds[v].append(u)
                    else:
                        dist[v] = level + 1
                        nxt[v] = sigma[u]
                        preds[v] = [u]
            for v, sg in nxt.items():
                sigma[v] = sg
            levels.append(sorted(nxt))
        delta = {v: 0.0 for v in dist}
        for level_nodes in reversed(levels[:-1]):
            for w in level_nodes:
                for u in preds.get(w, ()):
                    delta[u] += sigma[u] / sigma[w] * (1.0 + delta[w])
        for v, d in delta.items():
            if v != s:
                bet[v] += d * scale
    return local_frame(
        spark, sorted(bet.items()), "node long, betweenness double"
    )


def _weighted_betweenness_distributed(ew: DataFrame, source_ids: list[int],
                                      scale: float, all_nodes: DataFrame) -> DataFrame:
    """Distributed weighted Brandes backward pass: dependency accumulation
    over the shortest-path DAG by longest-path depth descending. A
    depth-L node's dependents sit at depths > L (DAG edges strictly
    increase depth), all processed in earlier rounds — so its delta is
    the aggregate of every partial contribution accumulated so far
    (unlike the unweighted pass, one level does NOT mean one row)."""
    vs = _dijkstra_sigma_distributed(ew, source_ids)
    vs = vs.transform(truncate_lineage)
    du = vs.select("source", F.col("node").alias("src"), F.col("dist").alias("__du"))
    dv = vs.select("source", F.col("node").alias("dst"), F.col("dist").alias("__dv"))
    # reserved dag names — see dijkstra_sigma: joins against same-lineage
    # frames must not collapse into trivially-true self-comparisons
    dag = (
        ew.join(du, "src")
        .join(dv, ["source", "dst"])
        .filter(F.col("__du") + F.col("w") == F.col("__dv"))
        .select(
            F.col("source").alias("__gs"),
            F.col("src").alias("__gu"),
            F.col("dst").alias("__gv"),
        )
    )
    dag = dag.transform(truncate_lineage)
    max_depth = vs.agg(F.max("depth").alias("m")).collect()[0]["m"] or 0
    u_sigma = vs.select("source", F.col("node").alias("node"), F.col("sigma").alias("sigma_u"))
    acc: DataFrame | None = None
    for level in range(max_depth, 0, -1):
        w_rows = vs.filter(F.col("depth") == level).select(
            "source", F.col("node").alias("wn"), F.col("sigma").alias("sigma_w")
        )
        if acc is not None:
            delta_agg = acc.groupBy("source", "node").agg(F.sum("delta").alias("__dw")).select(
                F.col("source").alias("__ds"), F.col("node").alias("__dn"), "__dw"
            )
            w_rows = w_rows.join(
                delta_agg,
                (w_rows["source"] == F.col("__ds")) & (w_rows["wn"] == F.col("__dn")),
                "left",
            ).select("source", "wn", "sigma_w", F.coalesce("__dw", F.lit(0.0)).alias("delta_w"))
        else:
            w_rows = w_rows.withColumn("delta_w", F.lit(0.0))
        contribs = (
            w_rows.join(dag, (F.col("source") == F.col("__gs")) & (F.col("wn") == F.col("__gv")))
            .select("source", F.col("__gu").alias("node"), "sigma_w", "delta_w")
            .join(u_sigma, ["source", "node"])
            .groupBy("source", "node")
            .agg(
                F.sum(
                    F.col("sigma_u") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta_w"))
                ).alias("delta")
            )
        )
        contribs = contribs.transform(truncate_lineage)
        acc = contribs if acc is None else acc.unionByName(contribs)
        if (max_depth - level + 1) % FRONTIER_TRUNCATE_EVERY == 0:
            acc = acc.transform(truncate_lineage)
    if acc is None:
        return all_nodes.select("node", F.lit(0.0).alias("betweenness"))
    per_source = acc.groupBy("source", "node").agg(F.sum("delta").alias("delta"))
    return (
        per_source.filter(F.col("source") != F.col("node"))
        .groupBy("node")
        .agg((F.sum("delta") * F.lit(float(scale))).alias("betweenness"))
        .join(all_nodes, "node", "right")
        .select("node", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"))
    )


def betweenness_centrality(edges: DataFrame, src_col: str = "src_system_id",
                           dst_col: str = "dst_system_id",
                           sample_sources: int | None = None,
                           exact: bool = False,
                           weight_col: str | None = None) -> DataFrame:
    """(node, betweenness) over ordered (s, t) pairs — Brandes: forward
    multi-source BFS-with-sigma, then backward dependency accumulation
    level by level. On a symmetric edge set this is 2x the undirected
    textbook value (each unordered pair counted both ways); documented
    rather than halved so directed inputs need no special case.

    `weight_col` switches to WEIGHTED betweenness (GDS
    relationshipWeightProperty parity): shortest paths
    by summed edge weight (strictly positive — see dijkstra_sigma),
    Dijkstra-Brandes on the driver path, and the distributed form runs
    `dijkstra_sigma` forward then the dependency pass over the
    shortest-path DAG by longest-path depth descending — dependents span
    multiple depth levels in a weighted DAG, so each level aggregates its
    accumulated partial deltas before emitting (unlike the unweighted
    pass, where a BFS level's dependents all sit exactly one level up).

    Scale shape: `sample_sources=k` runs the standard source-sampled
    estimator (Brandes-Pich): k hash-chosen sources, result scaled by
    n/k — both passes are ONE (source, node)-keyed loop each, so the
    whole run is O(diameter) supersteps forward + O(diameter) backward,
    independent of k. Exact betweenness needs ALL nodes as sources —
    O(V) pivots, O(V^2) state — so above the driver threshold it is a
    loud `exact=True` opt-in, same contract as closeness_centrality.

    Float caveat: dependency ratios sigma_u/sigma_w are non-integer, so
    unlike pagerank/closeness the accumulated sums cannot be
    fixed-pointed without changing the result; driver and distributed
    paths agree to float rounding, not bit-for-bit. The oracle-checked
    registered queries (queries.py betweenness_centrality /
    betweenness_weighted) instead use the pair formula with fixed-point
    TERMS, which IS order-independent and engine-exact.
    """
    spark = edges.sparkSession
    e = _edge_frame(edges, src_col, dst_col)
    all_nodes = (
        e.select(F.col("src").alias("node")).union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if sample_sources:
        n_nodes = all_nodes.count()
        srcs = all_nodes.orderBy(F.xxhash64("node")).limit(sample_sources)
        source_ids = [r["node"] for r in srcs.collect()]
        # empty edge set -> no nodes, no sources: the result is empty
        # regardless of path, and the n/k scale is undefined
        scale = n_nodes / len(source_ids) if source_ids else 1.0
    else:
        # see closeness_centrality: the guard judges the real size under
        # the forced-distributed bench arm too
        if not exact and not fits_driver(e, DRIVER_MAX_EDGES, force_exempt=True):
            raise ValueError(
                "betweenness_centrality: graph exceeds the driver threshold "
                "and no sample_sources were given — exact betweenness is O(V) "
                "sources with O(V^2) state. Pass sample_sources=k for the "
                "Brandes-Pich estimator, or exact=True to opt in."
            )
        source_ids = [r["node"] for r in all_nodes.collect()]
        scale = 1.0
    if weight_col is not None:
        ew = _weighted_edge_frame(edges, src_col, dst_col, weight_col)
        if fits_driver(ew, DRIVER_MAX_EDGES):
            return _weighted_brandes_local(ew, source_ids, scale)
        return _weighted_betweenness_distributed(ew, source_ids, scale, all_nodes)
    if fits_driver(e, DRIVER_MAX_EDGES):
        return _brandes_local(e, source_ids, scale)

    vs = _bfs_sigma_distributed(e, source_ids)
    vs = vs.transform(truncate_lineage)
    max_dist = vs.agg(F.max("dist").alias("m")).collect()[0]["m"] or 0

    # Backward pass: process distance levels descending. delta rows are
    # created once per (source, node) at its own level — a node's delta
    # is complete when its level is processed because every dependent w
    # (dist = level+1) was finalized the previous round. Each round is
    # one reversed-edge join + one (source, node) sum.
    delta = vs.filter(F.col("dist") == max_dist).select(
        "source", "node", F.lit(0.0).alias("delta")
    )
    acc = delta
    for level in range(max_dist, 0, -1):
        w_rows = (
            vs.filter(F.col("dist") == level)
            .join(acc.filter(F.col("delta").isNotNull()), ["source", "node"], "left")
            .select(
                "source", F.col("node").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.coalesce("delta", F.lit(0.0)).alias("delta_w"),
            )
        )
        u_side = vs.filter(F.col("dist") == level - 1).select(
            "source", F.col("node").alias("u"), F.col("sigma").alias("sigma_u")
        )
        contribs = (
            w_rows.join(e, w_rows.w == e.dst)
            .select("source", F.col("src").alias("u"), "sigma_w", "delta_w")
            .join(u_side, ["source", "u"])
            .groupBy("source", F.col("u").alias("node"))
            .agg(
                F.sum(
                    F.col("sigma_u") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta_w"))
                ).alias("delta")
            )
        )
        contribs = contribs.transform(truncate_lineage)
        acc = acc.unionByName(contribs)
        if (max_dist - level + 1) % FRONTIER_TRUNCATE_EVERY == 0:
            acc = acc.transform(truncate_lineage)
    per_source = acc.groupBy("source", "node").agg(F.sum("delta").alias("delta"))
    return (
        per_source.filter(F.col("source") != F.col("node"))
        .groupBy("node")
        .agg((F.sum("delta") * F.lit(float(scale))).alias("betweenness"))
        .join(all_nodes, "node", "right")
        .select("node", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"))
    )


# --- deterministic random walks (node2vec-style sampling) --------------------

RW_MOD = 1_000_000_007
RW_KNUTH = 2_654_435_761
RW_WALK_MIX = 1_000_003
RW_STEP_MIX = 10_007


def _rw_score_expr(walk_id, step: int, dst):
    """Portable walk-choice score: pure BIGINT arithmetic both Spark and
    DuckDB execute identically. The inner mix is reduced mod RW_MOD before
    the Knuth multiply so the product stays < 2^62 (DuckDB raises on BIGINT
    overflow; Spark would silently wrap) for any node/walk id < RW_MOD."""
    inner = (walk_id * F.lit(RW_WALK_MIX) + F.lit(step * RW_STEP_MIX) + dst + F.lit(1)) % F.lit(RW_MOD)
    return (inner * F.lit(RW_KNUTH)) % F.lit(RW_MOD)


def rw_score_sql(walk_id: str, step: int, dst: str) -> str:
    """The DuckDB twin of _rw_score_expr (kept adjacent so they move in
    lockstep; tests compare the two on the fixture graph)."""
    return (
        f"((({walk_id}) * {RW_WALK_MIX} + {step * RW_STEP_MIX} + ({dst}) + 1) "
        f"% {RW_MOD}) * {RW_KNUTH} % {RW_MOD}"
    )


def random_walks(edges: DataFrame, walks_per_node: int = 2, steps: int = 4,
                 nodes: DataFrame | None = None,
                 src_col: str = "src_system_id", dst_col: str = "dst_system_id",
                 checkpoint_every: int = 4) -> DataFrame:
    """Deterministic random-walk corpus: (walk_id, step, node), one row per
    visited position — the sampling kernel under node2vec/DeepWalk-style
    graph-embedding training data (the reference has no walk API; this is
    north-star graph-ML surface).

    "Random" is a seeded portable hash, not an RNG: at step i the walker at
    u moves to the out-neighbor v minimizing (score(walk_id, i, v), v).
    That makes the corpus (a) reproducible across runs/engines — the DuckDB
    oracle replays it bit-for-bit — and (b) diverse across walks and steps,
    since walk_id and step both mix into the score. Walks stop early at
    sink nodes (no out-edges): the inner frontier join simply drops them.

    Scale: the frontier is (walk_id, node) — constant width, one row per
    LIVE walk; each step is one join keyed on node (co-located when the
    edge table is bucketed by src, SCALE.md) plus one per-walk min-agg with
    map-side partial min. Nothing walk-length-quadratic, no text/payload
    moves. Total cost = steps × (frontier ⋈ edges). Driver path below the
    threshold replays the identical arithmetic in Python.
    """
    e = _edge_frame(edges, src_col, dst_col).distinct()
    spark = e.sparkSession
    if nodes is None:
        nodes = e.select("src").union(e.select(F.col("dst").alias("src"))).distinct().select(
            F.col("src").alias("node")
        )
    else:
        # defensive distinct: duplicate seed ids would collide walk_ids and
        # emit every row of those walks twice
        nodes = nodes.select(
            F.col(nodes.columns[0]).cast("long").alias("node")
        ).distinct()

    if fits_driver(e, DRIVER_MAX_EDGES):
        adj: dict[int, list[int]] = {}
        for r in e.collect():
            adj.setdefault(r["src"], []).append(r["dst"])
        out_rows: list[tuple[int, int, int]] = []
        for n in sorted(r["node"] for r in nodes.collect()):
            for rep in range(walks_per_node):
                wid = n * walks_per_node + rep
                cur = n
                out_rows.append((wid, 0, cur))
                for i in range(1, steps + 1):
                    nbrs = adj.get(cur)
                    if not nbrs:
                        break
                    cur = min(
                        nbrs,
                        key=lambda v: (
                            ((wid * RW_WALK_MIX + i * RW_STEP_MIX + v + 1) % RW_MOD)
                            * RW_KNUTH % RW_MOD,
                            v,
                        ),
                    )
                    out_rows.append((wid, i, cur))
        return local_frame(
            spark, out_rows, "walk_id long, step int, node long"
        )

    reps = spark.range(walks_per_node).select(F.col("id").alias("rep"))
    cur = nodes.crossJoin(F.broadcast(reps)).select(
        (F.col("node") * walks_per_node + F.col("rep")).alias("walk_id"), "node"
    )
    outs = [cur.select("walk_id", F.lit(0).cast("int").alias("step"), "node")]
    for i in range(1, steps + 1):
        cand = cur.join(e, cur.node == e.src).select(
            "walk_id",
            F.col("dst"),
            _rw_score_expr(F.col("walk_id"), i, F.col("dst")).alias("score"),
        )
        cur = (
            cand.groupBy("walk_id")
            .agg(F.min(F.struct("score", "dst")).alias("best"))
            .select("walk_id", F.col("best.dst").alias("node"))
        )
        if i % checkpoint_every == 0:
            cur = cur.transform(truncate_lineage)
        outs.append(cur.select("walk_id", F.lit(i).cast("int").alias("step"), "node"))
    result = outs[0]
    for df in outs[1:]:
        result = result.unionByName(df)
    return result


# --- articulation points / bridges (chokepoint analysis) ---------------------

def _exclusion_reach(e: DataFrame, seeds: DataFrame, key_cols: list[str],
                     keep: Callable[[DataFrame], DataFrame],
                     max_iterations: int) -> DataFrame:
    """Shared kernel: per exclusion key, the set of nodes reachable from the
    seed when `keep` drops the forbidden (key_cols..., src, dst) edge
    rows. One `_frontier_loop` keyed (key_cols..., node) runs ALL
    exclusion scenarios as one superstep loop (the multi_source_sssp
    trick) instead of |keys| serial BFS jobs; a round relaxes only the
    nodes reached the round before. Returns (key_cols..., node) distinct
    rows."""
    # both checkpointed once, or every round re-runs their distincts
    e = e.transform(truncate_lineage)
    return _frontier_loop(
        seeds.distinct().transform(truncate_lineage), [*key_cols, "node"],
        lambda fr: keep(fr.join(e, fr.node == e.src).select(*key_cols, "src", "dst"))
        .select(*key_cols, F.col("dst").alias("node")).distinct(),
        max_iterations, better=None,
    ).state


def articulation_points(edges: DataFrame, src_col: str = "src_system_id",
                        dst_col: str = "dst_system_id",
                        candidates: DataFrame | None = None,
                        max_iterations: int = 60) -> DataFrame:
    """(node, reached, is_articulation) over a CONNECTED undirected graph
    (directed-symmetric edge list; symmetrized defensively here): node v is
    an articulation point (chokepoint system) iff removing it disconnects
    the graph — the single-point-of-failure set of a route network.

    Semantics via exclusion-BFS: for each candidate v, BFS from the minimum
    surviving node over G−v; v articulates iff it reaches < |V|−1 nodes.
    That definition is brute-force but embarrassingly parallel: ALL |V|
    scenarios run as ONE (ex, node)-keyed frontier loop of O(diameter)
    supersteps — total work O(V·E), the honest cost of the definition,
    fine for dimension-sized route graphs (EVE: ~8k systems; here: 25).
    At 100 TB-edge graphs pass `candidates` (e.g. high-betweenness nodes
    only) — Tarjan's O(V+E) DFS is inherently sequential and only wins
    when the graph fits one machine, which is exactly the driver path.
    """
    e = _star_symmetrize(_edge_frame(edges, src_col, dst_col))
    spark = e.sparkSession

    if fits_driver(e, DRIVER_MAX_EDGES) and candidates is None:
        adj: dict[int, set[int]] = {}
        for r in e.collect():
            adj.setdefault(r["src"], set()).add(r["dst"])
            adj.setdefault(r["dst"], set()).add(r["src"])
        all_nodes = sorted(adj)
        n = len(all_nodes)
        rows = []
        for ex in all_nodes:
            start = next(x for x in all_nodes if x != ex)
            seen = {start}
            stack = [start]
            while stack:
                u = stack.pop()
                for v in adj[u]:
                    if v != ex and v not in seen:
                        seen.add(v)
                        stack.append(v)
            rows.append((ex, len(seen), int(len(seen) < n - 1)))
        return local_frame(spark, rows, "node long, reached long, is_articulation int")

    nodes = e.select("src").union(e.select(F.col("dst").alias("src"))).distinct().select(
        F.col("src").alias("node")
    ).persist()
    n = nodes.count()
    two_min = [r["node"] for r in nodes.orderBy("node").limit(2).collect()]
    m0, m1 = two_min[0], two_min[1]
    cand = nodes if candidates is None else candidates.select(
        F.col(candidates.columns[0]).cast("long").alias("node")
    )
    seeds = cand.select(
        F.col("node").alias("ex"),
        F.when(F.col("node") == m0, F.lit(m1)).otherwise(F.lit(m0)).alias("node"),
    )
    reached = _exclusion_reach(
        e, seeds, ["ex"], lambda c: c.filter(F.col("dst") != F.col("ex")), max_iterations
    )
    out = (
        reached.groupBy("ex")
        .agg(F.count(F.lit(1)).alias("reached"))
        .select(
            F.col("ex").alias("node"),
            F.col("reached"),
            (F.col("reached") < F.lit(n - 1)).cast("int").alias("is_articulation"),
        )
    )
    nodes.unpersist()
    return out


def bridges(edges: DataFrame, src_col: str = "src_system_id",
            dst_col: str = "dst_system_id", max_iterations: int = 60) -> DataFrame:
    """(src, dst, reached, is_bridge) per undirected edge (src < dst) of a
    CONNECTED graph: the edge is a bridge (chokepoint gate) iff removing it
    disconnects the graph. Same exclusion-BFS design as articulation_points
    — all |E| scenarios ride one (a, b, node)-keyed frontier loop; total
    work O(E²) worst case, the candidate set to pass at scale is the
    spanning-tree edges (non-tree edges are never bridges)."""
    e = _star_symmetrize(_edge_frame(edges, src_col, dst_col))
    spark = e.sparkSession
    if fits_driver(e, DRIVER_MAX_EDGES):
        adj: dict[int, set[int]] = {}
        for r in e.collect():
            adj.setdefault(r["src"], set()).add(r["dst"])
            adj.setdefault(r["dst"], set()).add(r["src"])
        all_nodes = sorted(adj)
        n = len(all_nodes)
        start = all_nodes[0]
        pairs = sorted({(min(a, b), max(a, b)) for a in adj for b in adj[a]})
        rows = []
        for a, b in pairs:
            seen = {start}
            stack = [start]
            while stack:
                u = stack.pop()
                for v in adj[u]:
                    if (u, v) in ((a, b), (b, a)) or v in seen:
                        continue
                    seen.add(v)
                    stack.append(v)
            rows.append((a, b, len(seen), int(len(seen) < n)))
        return local_frame(
            spark, rows, "src long, dst long, reached long, is_bridge int"
        )

    nodes = e.select("src").union(e.select(F.col("dst").alias("src"))).distinct()
    n = nodes.count()
    m0 = nodes.agg(F.min("src").alias("m")).collect()[0]["m"]
    pairs = (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    seeds = pairs.select("a", "b", F.lit(m0).cast("long").alias("node"))
    not_excluded = ~(
        ((F.col("src") == F.col("a")) & (F.col("dst") == F.col("b")))
        | ((F.col("src") == F.col("b")) & (F.col("dst") == F.col("a")))
    )
    reached = _exclusion_reach(
        e, seeds, ["a", "b"], lambda c: c.filter(not_excluded), max_iterations
    )
    return (
        reached.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("reached"))
        .select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "reached",
            (F.col("reached") < F.lit(n)).cast("int").alias("is_bridge"),
        )
    )


def node2vec_walks(edges: DataFrame, walks_per_node: int = 2, steps: int = 4,
                   return_mult: int = 4, inout_mult: int = 2,
                   nodes: DataFrame | None = None,
                   src_col: str = "src_system_id", dst_col: str = "dst_system_id",
                   checkpoint_every: int = 4) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec 2016):
    the next hop depends on the PREVIOUS node — candidates are penalized
    by an integer multiplier m: return_mult when v == prev (the 1/p
    return bias), 1 when v is adjacent to prev (distance 1), inout_mult
    otherwise (the 1/q in-out bias); the walker picks argmin(score·m, v).
    Larger multiplier = proportionally less likely under the uniform
    portable score — the deterministic analogue of the α-weighted draw,
    replayable by the SQL oracle. Step 1 has no prev and is unbiased
    (identical to random_walks).

    Scale: the frontier is (walk_id, prev, node); each step is TWO keyed
    joins against the edge table — candidate fan-out on node==src, then a
    left probe on (prev, dst) for the distance-1 test (co-located under
    the same src bucketing). Still nothing walk-length-quadratic.
    """
    e = _edge_frame(edges, src_col, dst_col).distinct()
    spark = e.sparkSession
    if nodes is None:
        nodes = e.select("src").union(e.select(F.col("dst").alias("src"))).distinct().select(
            F.col("src").alias("node")
        )
    else:
        # defensive distinct: duplicate seed ids would collide walk_ids and
        # emit every row of those walks twice
        nodes = nodes.select(
            F.col(nodes.columns[0]).cast("long").alias("node")
        ).distinct()

    if fits_driver(e, DRIVER_MAX_EDGES):
        adj: dict[int, list[int]] = {}
        eset: set[tuple[int, int]] = set()
        for r in e.collect():
            adj.setdefault(r["src"], []).append(r["dst"])
            eset.add((r["src"], r["dst"]))
        rows: list[tuple[int, int, int]] = []
        for n in sorted(r["node"] for r in nodes.collect()):
            for rep in range(walks_per_node):
                wid = n * walks_per_node + rep
                prev, cur = None, n
                rows.append((wid, 0, cur))
                for i in range(1, steps + 1):
                    nbrs = adj.get(cur)
                    if not nbrs:
                        break

                    def biased(v):
                        s = ((wid * RW_WALK_MIX + i * RW_STEP_MIX + v + 1) % RW_MOD) * RW_KNUTH % RW_MOD
                        if prev is None:
                            m = 1
                        elif v == prev:
                            m = return_mult
                        elif (prev, v) in eset:
                            m = 1
                        else:
                            m = inout_mult
                        return (s * m, v)

                    nxt = min(nbrs, key=biased)
                    prev, cur = cur, nxt
                    rows.append((wid, i, cur))
        return local_frame(spark, rows, "walk_id long, step int, node long")

    reps = spark.range(walks_per_node).select(F.col("id").alias("rep"))
    cur = nodes.crossJoin(F.broadcast(reps)).select(
        (F.col("node") * walks_per_node + F.col("rep")).alias("walk_id"),
        F.lit(None).cast("long").alias("prev"),
        "node",
    )
    outs = [cur.select("walk_id", F.lit(0).cast("int").alias("step"), "node")]
    e2 = e.select(F.col("src").alias("p_src"), F.col("dst").alias("p_dst"))
    for i in range(1, steps + 1):
        cand = cur.join(e, cur.node == e.src).select(
            "walk_id", "prev", F.col("node").alias("cur"), F.col("dst"),
            _rw_score_expr(F.col("walk_id"), i, F.col("dst")).alias("score"),
        )
        cand = cand.join(
            e2,
            (cand.prev == e2.p_src) & (cand.dst == e2.p_dst),
            "left",
        ).select(
            "walk_id", "prev", "cur", "dst", "score",
            F.when(F.col("prev").isNull(), F.lit(1))
            .when(F.col("dst") == F.col("prev"), F.lit(return_mult))
            .when(F.col("p_src").isNotNull(), F.lit(1))
            .otherwise(F.lit(inout_mult))
            .cast("long")
            .alias("m"),
        )
        cur = (
            cand.groupBy("walk_id")
            .agg(F.min(F.struct((F.col("score") * F.col("m")).alias("b"), "dst", "cur")).alias("best"))
            .select("walk_id", F.col("best.cur").alias("prev"), F.col("best.dst").alias("node"))
        )
        if i % checkpoint_every == 0:
            cur = cur.transform(truncate_lineage)
        outs.append(cur.select("walk_id", F.lit(i).cast("int").alias("step"), "node"))
    result = outs[0]
    for df in outs[1:]:
        result = result.unionByName(df)
    return result


def set_exclusion_reach(edges: DataFrame, seeds: DataFrame, excluded: DataFrame,
                        src_col: str = "src_system_id",
                        dst_col: str = "dst_system_id",
                        max_iterations: int = 60) -> DataFrame:
    """(k, reachable): per scenario k, the size of the component containing
    seed(k) after removing the node SET excluded(k) — the percolation /
    robustness-curve kernel (articulation_points generalizes to "what if
    the j worst systems all fall at once"). `seeds` is (k, node), `excluded`
    is (k, node); scenarios share ONE keyed frontier loop like
    _exclusion_reach, with the removal test an anti-join against the
    per-scenario exclusion set instead of a column predicate."""
    e = _star_symmetrize(_edge_frame(edges, src_col, dst_col))
    spark = e.sparkSession
    seeds = seeds.select(F.col(seeds.columns[0]).cast("long").alias("k"),
                         F.col(seeds.columns[1]).cast("long").alias("node"))
    excluded = excluded.select(F.col(excluded.columns[0]).cast("long").alias("k"),
                               F.col(excluded.columns[1]).cast("long").alias("node"))

    if fits_driver(e, DRIVER_MAX_EDGES):
        adj: dict[int, set[int]] = {}
        for r in e.collect():
            adj.setdefault(r["src"], set()).add(r["dst"])
            adj.setdefault(r["dst"], set()).add(r["src"])
        excl: dict[int, set[int]] = {}
        for r in excluded.collect():
            excl.setdefault(r["k"], set()).add(r["node"])
        rows = []
        for r in seeds.collect():
            k, seed = r["k"], r["node"]
            banned = excl.get(k, set())
            if seed in banned:
                rows.append((k, 0))
                continue
            seen = {seed}
            stack = [seed]
            while stack:
                u = stack.pop()
                for v in adj.get(u, ()):
                    if v not in banned and v not in seen:
                        seen.add(v)
                        stack.append(v)
            rows.append((k, len(seen)))
        return local_frame(spark, rows, "k long, reachable long")

    # a seed inside its own scenario's excluded set reaches nothing
    reached = _exclusion_reach(
        e, seeds.join(excluded, ["k", "node"], "left_anti"), ["k"],
        lambda c: c.join(excluded.withColumnRenamed("node", "dst"), ["k", "dst"], "left_anti"),
        max_iterations,
    )
    dead = seeds.join(excluded, ["k", "node"], "left_semi").select(
        "k", F.lit(0).cast("long").alias("reachable"))
    return reached.groupBy("k").agg(F.count(F.lit(1)).alias("reachable")).unionByName(dead)


def diameter_estimate(
    edges: DataFrame,
    start: int = 0,
    weight_col: str | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien et al.), hop-distance by
    default, WEIGHTED when `weight_col` is given — GDS parity with weighted
    eccentricity (relationshipWeightProperty semantics). One row:
    (sweep_start, sweep_peak, ecc_start, diameter_lb).

    Two O(diameter) SSSP sweeps instead of |V|: sweep 1 from `start` finds
    the farthest node (ties to min id), sweep 2 from that peak; its
    eccentricity lower-bounds the diameter (exact on trees, near-exact in
    practice). The scalars collected are O(1) driver values; everything
    else is the engine's `sssp` (driver fast path below threshold,
    frontier loop above). With `weight_col`, distances are min-plus
    fixpoints over float weights — deterministic per path (left-to-right
    accumulation), so an unrolled Bellman-Ford oracle replays them
    bit-for-bit (same property safest_route_path relies on).

    Below DRIVER_SSSP_MAX_EDGES edges BOTH sweeps run
    from ONE edge collect (`double_sweep_local`) — the prior composition
    collected the edge set twice (once per `sssp` call) and ran two more
    driver jobs for the peak/max scalars. Same relaxation kernel, same
    tie-break, bit-identical outputs (pinned by branch-parity test).
    """
    from eve_graph_spark.operators.graph import (
        DRIVER_SSSP_MAX_EDGES, _collect_adj, double_sweep_local, sssp,
    )

    spark = edges.sparkSession
    e = edges if weight_col else edges.withColumn("__hop", F.lit(1.0))
    w = weight_col or "__hop"
    en = e.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        F.col(w).cast("double").alias("weight"),
    )
    if fits_driver(en, DRIVER_SSSP_MAX_EDGES):
        peak_node, peak_dist, lb = double_sweep_local(_collect_adj(en), int(start))
        return local_frame(
            spark, [(int(start), peak_node, peak_dist, lb)],
            "sweep_start long, sweep_peak long, ecc_start double, diameter_lb double",
        )
    d1 = sssp(e, [int(start)], weight_col=w, src_col=src_col, dst_col=dst_col)
    peak = d1.orderBy(F.desc("dist"), F.asc("node")).limit(1).collect()[0]
    d2 = sssp(e, [int(peak["node"])], weight_col=w, src_col=src_col, dst_col=dst_col)
    lb = d2.agg(F.max("dist").alias("m")).collect()[0]["m"]
    return local_frame(
        spark, [(int(start), int(peak["node"]), float(peak["dist"]), float(lb))],
        "sweep_start long, sweep_peak long, ecc_start double, diameter_lb double",
    )


def node_similarity(
    edges: DataFrame,
    top_k: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    sim_fp: int = 1_000_000,
    include_all_metrics: bool = False,
    metric: str = "jaccard",
) -> DataFrame:
    """GDS `gds.nodeSimilarity` parity: Jaccard similarity of OUT-neighbor
    sets for every node pair that shares at least one neighbor, optionally
    top-k per node. Returns (node, other, inter, union, jaccard_fp) with
    jaccard_fp = floor(sim_fp * |∩| / |∪|) — integer fixed point, so the
    one double division is identical IEEE-754 in any engine and a SQL
    oracle replays it bit-for-bit.

    Scale shape (the nodeSimilarity candidate trick, same as triangle
    counting): pairs are generated by a self-join keyed on the SHARED
    NEIGHBOR — never the |V|² cross product — so work is Σ_v d_in(v)²
    over shared-neighbor wedges, and the only shuffles are (neighbor)-keyed
    wedge generation plus one (pair)-keyed count. Hub neighbors dominate
    the wedge count exactly like GDS's degree cutoff; pre-cap with k-core
    or degree filters upstream for skewed graphs (SCALE.md). `top_k`
    ranks per node by (metric desc, other asc) — a bounded per-node
    window over pair rows, not a global sort. `metric` mirrors GDS's
    similarityMetric parameter ('jaccard' | 'overlap' | 'cosine') and
    drives ONLY the top-k window ordering; 'overlap'/'cosine' require
    include_all_metrics=True (those columns must exist to rank by).
    """
    if metric not in ("jaccard", "overlap", "cosine"):
        raise ValueError(f"metric must be jaccard|overlap|cosine, got {metric!r}")
    if metric != "jaccard" and not include_all_metrics:
        raise ValueError(f"metric={metric!r} requires include_all_metrics=True")
    nbrs = edges.select(
        F.col(src_col).cast("long").alias("s"), F.col(dst_col).cast("long").alias("d")
    ).distinct()
    deg = nbrs.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    a = nbrs.select(F.col("s").alias("na"), F.col("d").alias("shared"))
    b = nbrs.select(F.col("s").alias("nb"), F.col("d").alias("shared"))
    inter = (
        a.join(b, "shared")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    da = deg.select(F.col("s").alias("na"), F.col("deg").alias("da"))
    db = deg.select(F.col("s").alias("nb"), F.col("deg").alias("db"))
    # no broadcast hints: degrees are vertex-sized at crawl scale —
    # keyed joins, AQE may still broadcast when genuinely small
    # dmin / dprod are degree-symmetric, so they survive the direction
    # swap below unchanged — they feed the overlap / cosine metrics
    half = (
        inter.join(da, "na").join(db, "nb")
        .select(
            "na", "nb", "inter",
            (F.col("da") + F.col("db") - F.col("inter")).alias("union"),
            F.least("da", "db").alias("dmin"),
            (F.col("da") * F.col("db")).alias("dprod"),
        )
    )
    # GDS emits both directions; symmetrize the deduped half-pairs
    sym = half.unionByName(
        half.select(
            F.col("nb").alias("na"), F.col("na").alias("nb"),
            "inter", "union", "dmin", "dprod",
        )
    )
    metric_cols = [
        F.floor(F.lit(sim_fp) * F.col("inter") / F.col("union"))
        .cast("long")
        .alias("jaccard_fp"),
    ]
    if include_all_metrics:
        # GDS similarityMetric OVERLAP / COSINE on neighbor sets:
        # overlap = |∩| / min(d_a, d_b); cosine = |∩| / sqrt(d_a·d_b).
        # Numerators stay exact integers; one division (plus one sqrt for
        # cosine) per pair — oracle-replayable like the Jaccard arm.
        metric_cols += [
            F.floor(F.lit(sim_fp) * F.col("inter") / F.col("dmin"))
            .cast("long")
            .alias("overlap_fp"),
            F.floor(
                F.lit(sim_fp) * F.col("inter")
                / F.sqrt(F.col("dprod").cast("double"))
            )
            .cast("long")
            .alias("cosine_fp"),
        ]
    out = sym.select(
        F.col("na").alias("node"),
        F.col("nb").alias("other"),
        "inter",
        "union",
        *metric_cols,
    )
    if top_k is None:
        return out
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(
        F.desc(f"{metric}_fp"), F.asc("other")
    )
    keep = ["node", "other", "inter", "union", "jaccard_fp"]
    if include_all_metrics:
        keep += ["overlap_fp", "cosine_fp"]
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(*keep, "rank")
    )


# --- local clustering coefficient (GDS gds.localClusteringCoefficient) -------

def local_clustering_coefficient(edges: DataFrame,
                                 src_col: str = "src_system_id",
                                 dst_col: str = "dst_system_id",
                                 scale: int = 1_000_000) -> DataFrame:
    """GDS `gds.localClusteringCoefficient` parity on the undirected
    projection: lcc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)), emitted as
    1e-6 fixed point (one double division — oracle-replayable).

    Triangles are enumerated once via the canonical a<b<c wedge join (the
    same candidate discipline as triangle_count / node_similarity: work is
    Σ wedges, never |V|³) and credited to all three corners with one
    explode; degree is one key count over the deduped undirected pairs.
    Returns (node, degree, triangles, lcc_fp).
    """
    e = _edge_frame(edges, src_col, dst_col)
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node")).union(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = und.select(F.col("a"), F.col("b"))
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("ta") == F.col("a")) & (F.col("tc") == F.col("c")))
        .select("a", "b", "c")
    )
    tri_per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(tri_per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.floor(
                F.lit(scale) * 2 * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1))
            ).cast("long"),
        ).otherwise(F.lit(0)).alias("lcc_fp"),
    )


# --- community metrics: conductance + modularity (GDS gds.conductance /
# gds.modularity parity) ------------------------------------------------------

def community_metrics(edges: DataFrame, labels: DataFrame,
                      src_col: str = "src_system_id",
                      dst_col: str = "dst_system_id",
                      node_col: str = "node", label_col: str = "community",
                      scale: int = 1_000_000) -> DataFrame:
    """GDS `gds.conductance` + `gds.modularity` parity: per-community cut
    quality for a given node→community assignment (e.g. label_propagation
    output), on the directed edge set.

    Per community S (m = |E| total):
      internal  = |{u→v : u,v ∈ S}|      outgoing = |{u→v : u ∈ S, v ∉ S}|
      incoming  = |{u→v : u ∉ S, v ∈ S}|
      conductance = outgoing / min(vol, m − vol),  vol = internal+outgoing
      modularity  = internal/m − (vol_out·vol_in)/m²   (directed modularity;
                    Σ over communities = partition modularity)
    Both are emitted 1e-6 fixed point with integer numerators, so the one
    double division each replays bit-for-bit in a SQL oracle. floor() on a
    negative modularity contribution rounds toward −∞ in both engines.

    Scale shape: labels are vertex-sized — two label-keyed joins onto the
    edge set (src then dst), then ONE community-keyed count shuffle (not
    two exchanges, per-src and per-dst, over the same tagged join: each
    tagged edge emits its 1–2 community contributions map-side and a
    single groupBy sums them); no node-pair blowup anywhere. Below
    DRIVER_MAX_EDGES edges the whole kernel runs
    driver-local from one edge + one label collect — the same integer
    counters and the identical single double division per metric, so the
    branches agree bit-for-bit (pinned by test). Assumes `labels` is an
    assignment (one row per node), like every producer in this package.
    """
    e = _edge_frame(edges, src_col, dst_col)
    lab = labels.select(
        F.col(node_col).cast("long").alias("node"),
        F.col(label_col).cast("long").alias("community"),
    )
    spark = edges.sparkSession

    if fits_driver(e, DRIVER_MAX_EDGES):
        import math
        from collections import defaultdict

        comm: dict[int, int] = {}
        nodes_ct: dict[int, int] = defaultdict(int)
        for r in lab.collect():
            comm[r["node"]] = r["community"]
            nodes_ct[r["community"]] += 1
        internal: dict[int, int] = defaultdict(int)
        outgoing: dict[int, int] = defaultdict(int)
        incoming: dict[int, int] = defaultdict(int)
        m = 0
        for r in e.collect():
            m += 1  # m = |E| total, like the distributed e.count()
            cs, cd = comm.get(r["src"]), comm.get(r["dst"])
            if cs is None or cd is None:
                continue  # inner-join semantics: unlabeled endpoint drops the edge
            if cs == cd:
                internal[cs] += 1
            else:
                outgoing[cs] += 1
                incoming[cd] += 1
        out_rows = []
        for c in sorted(nodes_ct):
            i, o, inc = internal[c], outgoing[c], incoming[c]
            vol_out, vol_in = i + o, i + inc
            denom = min(vol_out, m - vol_out)
            # ints stay < 2^53 at this threshold (scale·m ≤ 1e6·2e6), so
            # Python's int/int true division IS the double division the
            # distributed expressions perform
            cond = math.floor(scale * o / denom) if denom > 0 else 0
            mod = 0 if m == 0 else math.floor(
                float(scale * (i * m - vol_out * vol_in)) / (float(m) * float(m))
            )
            out_rows.append((c, nodes_ct[c], i, o, inc, cond, mod))
        return local_frame(
            spark, out_rows,
            "community long, nodes long, internal long, outgoing long, "
            "incoming long, conductance_fp long, modularity_fp long",
        )

    m = e.count()
    tagged = (
        e.join(lab.withColumnRenamed("node", "src").withColumnRenamed("community", "cs"), "src")
        .join(lab.withColumnRenamed("node", "dst").withColumnRenamed("community", "cd"), "dst")
    )
    # one-exchange two-sided aggregate: an internal edge contributes
    # (cs, 1, 0, 0); a cut edge contributes (cs, 0, 1, 0) AND (cd, 0, 0, 1)
    contrib = tagged.select(
        F.explode(
            F.when(
                F.col("cs") == F.col("cd"),
                F.array(
                    F.struct(
                        F.col("cs").alias("community"),
                        F.lit(1).alias("i"), F.lit(0).alias("o"), F.lit(0).alias("n"),
                    )
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("cs").alias("community"),
                        F.lit(0).alias("i"), F.lit(1).alias("o"), F.lit(0).alias("n"),
                    ),
                    F.struct(
                        F.col("cd").alias("community"),
                        F.lit(0).alias("i"), F.lit(0).alias("o"), F.lit(1).alias("n"),
                    ),
                )
            )
        ).alias("c")
    ).groupBy(F.col("c.community").alias("community")).agg(
        F.sum("c.i").alias("internal"),
        F.sum("c.o").alias("outgoing"),
        F.sum("c.n").alias("incoming"),
    )
    nodes = lab.groupBy("community").agg(F.count(F.lit(1)).alias("nodes"))
    joined = nodes.join(contrib, "community", "left").select(
        "community", "nodes",
        F.coalesce(F.col("internal"), F.lit(0)).alias("internal"),
        F.coalesce(F.col("outgoing"), F.lit(0)).alias("outgoing"),
        F.coalesce(F.col("incoming"), F.lit(0)).alias("incoming"),
    )
    vol_out = F.col("internal") + F.col("outgoing")
    vol_in = F.col("internal") + F.col("incoming")
    denom = F.least(vol_out, F.lit(m) - vol_out)
    # The modularity numerator scale·(internal·m − vol_out·vol_in) exceeds
    # Long.MAX once m ≈ 3M edges (scale·m² > 2^63) and would wrap silently
    # in non-ANSI Spark — keep it exact in decimal(38,0) (good to m ≈ 3e12,
    # the degree_assortativity discipline), then perform the SAME single
    # double division the oracle does. m == 0 (edgeless input with labels)
    # is guarded: modularity is 0 by convention, not a null from 0/0.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    if m == 0:
        mod_expr = F.lit(0).cast("long")
    else:
        mod_expr = F.floor(
            (dec(F.lit(scale)) * (dec(F.col("internal")) * dec(F.lit(m))
                                  - dec(vol_out) * dec(vol_in))).cast("double")
            / F.lit(float(m) * float(m))
        ).cast("long")
    return joined.select(
        "community", "nodes", "internal", "outgoing", "incoming",
        F.when(
            denom > 0,
            F.floor(F.lit(scale) * F.col("outgoing") / denom).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("conductance_fp"),
        mod_expr.alias("modularity_fp"),
    )


# --- minimum spanning forest via Borůvka (GDS gds.spanningTree parity) -------

MST_SCALE = 1_000_000  # 1e6 fixed-point edge weights — all-integer algorithm


def _mst_canon(e: DataFrame) -> DataFrame:
    """Canonical undirected weighted edges: (a<b, wfp) with the min
    fixed-point weight per pair (parallel/reverse edges collapse)."""
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.floor(F.col("w") * MST_SCALE + F.lit(0.5)).cast("long").alias("wfp"),
        )
        .groupBy("a", "b")
        .agg(F.min("wfp").alias("wfp"))
    )


def _mst_local(und_rows: list, spark) -> DataFrame:
    """Driver fast path: the SAME Borůvka rounds over Python dicts —
    integer comparisons only, so the edge set is identical to the loop's."""
    und = [(r["a"], r["b"], r["wfp"]) for r in und_rows]
    comp = {}
    for a, b, _ in und:
        comp[a] = a
        comp[b] = b
    chosen: set[tuple[int, int, int]] = set()
    while True:
        live = [(a, b, w) for a, b, w in und if comp[a] != comp[b]]
        if not live:
            break
        pick: dict[int, tuple[int, int, int]] = {}
        for a, b, w in live:
            key = (w, a, b)
            for c in (comp[a], comp[b]):
                if c not in pick or key < pick[c]:
                    pick[c] = key
        new_edges = {(a, b, w) for (w, a, b) in pick.values()}
        chosen |= new_edges
        # merge: min-label propagation over the component graph
        adj: dict[int, set[int]] = {}
        for a, b, _ in new_edges:
            ca, cb = comp[a], comp[b]
            adj.setdefault(ca, set()).add(cb)
            adj.setdefault(cb, set()).add(ca)
        relabel = {}
        for start in adj:
            if start in relabel:
                continue
            seen = {start}
            stack = [start]
            while stack:
                x = stack.pop()
                for y in adj.get(x, ()):
                    if y not in seen:
                        seen.add(y)
                        stack.append(y)
            lbl = min(seen)
            for x in seen:
                relabel[x] = lbl
        comp = {v: relabel.get(c, c) for v, c in comp.items()}
    rows = sorted(chosen)
    return local_frame(
        spark, [(a, b, w) for a, b, w in rows], "src long, dst long, weight_fp long"
    )


def minimum_spanning_forest(edges: DataFrame, weight_col: str = "risk",
                            src_col: str = "src_system_id",
                            dst_col: str = "dst_system_id",
                            max_rounds: int = 16) -> DataFrame:
    """GDS `gds.spanningTree` parity, distributed: Borůvka's algorithm on
    the undirected projection. Returns the forest's canonical edges
    (src<dst, weight_fp) — on a connected graph, the unique MST under the
    total edge order (weight_fp, src, dst) (deterministic tie-break makes
    weights effectively distinct, so engines and the SQL oracle agree on
    the exact edge set).

    All-integer algorithm: weights are 1e-6 fixed point, picks are integer
    struct-min — no float anywhere after the initial rounding.

    Scale shape (why Borůvka and not Prim/Kruskal): each round is
    (1) one component-keyed MIN shuffle over live cross-component edges
    (map-side partial min), and (2) a contraction of the CHOSEN edge set —
    component-count-sized, vanishingly small next to |E| — via
    connected_components. Components at least halve per round → O(log V)
    rounds; no global sort (Kruskal) and no sequential frontier (Prim).
    Labels ride localCheckpoint between rounds like every other loop here.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    und = _mst_canon(e)
    if fits_driver(und, DRIVER_MAX_EDGES):
        return _mst_local(und.collect(), edges.sparkSession)

    labels = (
        und.select(F.col("a").alias("node")).union(und.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    chosen = None
    converged = False
    for _ in range(max_rounds):
        la = labels.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
        lb = labels.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
        live = (
            und.join(la, "a").join(lb, "b").filter(F.col("ca") != F.col("cb"))
        ).transform(truncate_lineage)
        if live.limit(1).count() == 0:
            converged = True
            break
        sides = live.select(F.col("ca").alias("comp"), "wfp", "a", "b").union(
            live.select(F.col("cb").alias("comp"), "wfp", "a", "b")
        )
        pick = (
            sides.groupBy("comp")
            .agg(F.min(F.struct("wfp", "a", "b")).alias("m"))
            .select(F.col("m.a").alias("a"), F.col("m.b").alias("b"),
                    F.col("m.wfp").alias("wfp"))
            .distinct()
        )
        chosen = pick if chosen is None else chosen.union(pick).distinct()
        chosen = chosen.transform(truncate_lineage)
        # contract: connected components over the chosen component edges.
        # connected_components assumes a SYMMETRIC edge set (its min-label /
        # star paths propagate along edge direction) — the driver union-find
        # happens to be direction-blind, which would mask a one-directional
        # cedges here until the component graph outgrew the driver
        # threshold. Symmetrize explicitly.
        chalf = (
            live.join(pick.select("a", "b"), ["a", "b"])
            .select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
        )
        cedges = chalf.unionByName(
            chalf.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        merged = connected_components(cedges, src_col="src", dst_col="dst")
        relabel = merged.select(F.col("node").alias("comp"), F.col("component").alias("newcomp"))
        labels = (
            labels.join(relabel, "comp", "left")
            .select("node", F.coalesce(F.col("newcomp"), F.col("comp")).alias("comp"))
            .transform(truncate_lineage)
        )
    if not converged:
        # Components at least halve per Borůvka round, so max_rounds=16
        # covers 2^16 initial components — but an adversarial graph (or a
        # caller-shrunk budget) can exhaust it with live cross-component
        # edges left. A silently incomplete forest is worse than an error
        # (dag_longest_paths discipline): probe and raise loudly.
        la = labels.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
        lb = labels.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
        remaining = (
            und.join(la, "a").join(lb, "b")
            .filter(F.col("ca") != F.col("cb")).limit(1).count()
        )
        if remaining > 0:
            raise RuntimeError(
                f"minimum_spanning_forest did not converge within "
                f"max_rounds={max_rounds}: cross-component edges remain "
                f"(forest would be incomplete) — raise max_rounds"
            )
    if chosen is None:
        return local_frame(edges.sparkSession, [], "src long, dst long, weight_fp long")
    return chosen.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.col("wfp").alias("weight_fp")
    )


# --- DAG analytics: topological levels + longest path (GDS gds.dag.* parity) -

def _dag_local(e_rows: list, max_iterations: int, spark) -> DataFrame:
    """Driver fast path: Kahn layering + max-plus DP. All-integer, so any
    correct longest-path algorithm produces the identical result; cycles
    are detected by the topological order not covering every node."""
    edges = [(r["a"], r["b"], r["wfp"]) for r in e_rows]
    nodes = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
    indeg = {v: 0 for v in nodes}
    adj: dict[int, list[tuple[int, int]]] = {}
    for a, b, w in edges:
        indeg[b] += 1
        adj.setdefault(a, []).append((b, w))
    from collections import deque

    q = deque(v for v in nodes if indeg[v] == 0)
    level = {v: 0 for v in nodes}
    dist = {v: 0 for v in nodes}
    seen = 0
    while q:
        u = q.popleft()
        seen += 1
        for v, w in adj.get(u, ()):
            level[v] = max(level[v], level[u] + 1)
            dist[v] = max(dist[v], dist[u] + w)
            indeg[v] -= 1
            if indeg[v] == 0:
                q.append(v)
    if seen != len(nodes):
        raise ValueError("dag_longest_paths: graph has a cycle")
    return local_frame(
        spark, [(v, level[v], dist[v]) for v in nodes],
        "node long, topo_level long, longest_dist_fp long",
    )


def dag_longest_paths(edges: DataFrame, weight_col: str | None = None,
                      src_col: str = "src_system_id",
                      dst_col: str = "dst_system_id",
                      max_iterations: int = 64) -> DataFrame:
    """GDS `gds.dag.topologicalSort(computeMaxDistanceFromSource)` +
    `gds.dag.longestPath` parity: per node, the longest incoming path in
    hops (`topo_level` — a valid topological ordering key and the node's
    layer in Kahn layering) and in accumulated weight
    (`longest_dist_fp`, 1e-6 fixed point; equals topo_level when
    weight_col is None). Raises ValueError on a cyclic input, like GDS.

    All-INTEGER max-plus recurrence — no IEEE concerns at all:
    d(v) = max(0, max_{u→v} d(u) + w(u,v)), level likewise with w ≡ 1.

    Scale shape: Bellman-style supersteps (one dst-keyed MAX shuffle per
    step, map-side partial max), converging in DAG-depth steps with a
    two-scalar monotone fixpoint probe (Σlevel, Σdist) per step — the
    same early-exit discipline as the SSSP loops. Depth-bounded DAGs
    (ETL lineages, version chains) finish in a handful of steps; a
    25-deep chain costs 25 tiny shuffles, not |V| jobs.
    """
    wexpr = (
        F.lit(1).cast("long") if weight_col is None
        else F.floor(F.col(weight_col).cast("double") * MST_SCALE + F.lit(0.5)).cast("long")
    )
    e = edges.select(
        F.col(src_col).cast("long").alias("a"),
        F.col(dst_col).cast("long").alias("b"),
        wexpr.alias("wfp"),
    )
    if fits_driver(e, DRIVER_MAX_EDGES):
        return _dag_local(e.collect(), max_iterations, edges.sparkSession)

    nodes = e.select(F.col("a").alias("node")).union(
        e.select(F.col("b").alias("node"))
    ).distinct()
    cur = nodes.select(
        "node", F.lit(0).cast("long").alias("lvl"), F.lit(0).cast("long").alias("dist")
    ).transform(truncate_lineage)
    prev_sig = None
    for it in range(max_iterations):
        inc = (
            cur.join(e, cur.node == e.a)
            .groupBy(F.col("b").alias("node"))
            .agg(
                F.max(F.col("lvl") + 1).alias("ilvl"),
                F.max(F.col("dist") + F.col("wfp")).alias("idist"),
            )
        )
        cur = nodes.join(inc, "node", "left").select(
            "node",
            F.greatest(F.coalesce(F.col("ilvl"), F.lit(0)), F.lit(0)).alias("lvl"),
            F.greatest(F.coalesce(F.col("idist"), F.lit(0)), F.lit(0)).alias("dist"),
        )
        # the fixpoint probe below is an action every step, so checkpoint
        # every step too — lineage stays O(1) and the probe reads the
        # materialized blocks instead of recomputing the chain
        cur = cur.transform(truncate_lineage)
        sig = cur.agg(F.sum("lvl"), F.sum("dist")).collect()[0]
        sig = (sig[0], sig[1])
        if sig == prev_sig:
            return cur.select(
                "node", F.col("lvl").alias("topo_level"),
                F.col("dist").alias("longest_dist_fp"),
            )
        prev_sig = sig
    raise ValueError(
        "dag_longest_paths: no fixpoint after "
        f"{max_iterations} supersteps — graph has a cycle or exceeds the "
        "max_iterations depth budget"
    )


# --- k-truss (GDS gds.ktruss / cohesive-subgraph parity) ---------------------

def _truss_canon(e: DataFrame) -> DataFrame:
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def _truss_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support over the CURRENT surviving edge set —
    canonical a<b<c wedge join, each triangle credited to its 3 edges."""
    e1 = und
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("ta") == F.col("a")) & (F.col("tc") == F.col("c")))
        .select("a", "b", "c")
    )
    sides = (
        tri.select("a", "b")
        .unionByName(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
        .unionByName(tri.select("a", F.col("c").alias("b")))
    )
    return sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))


def _k_truss_local(und_rows: list, k: int, spark) -> DataFrame:
    edges = {(r["a"], r["b"]) for r in und_rows}
    while True:
        nbrs: dict[int, set[int]] = {}
        for a, b in edges:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        sup = {
            (a, b): len(nbrs[a] & nbrs[b]) for a, b in edges
        }
        dead = {e for e in edges if sup[e] < k - 2}
        if not dead:
            return local_frame(
                spark, sorted((a, b, sup[(a, b)]) for a, b in edges),
                "src long, dst long, support long",
            )
        edges -= dead


def k_truss(edges: DataFrame, k: int = 3,
            src_col: str = "src_system_id", dst_col: str = "dst_system_id",
            max_rounds: int = 16) -> DataFrame:
    """GDS `gds.ktruss` parity: the maximal subgraph where every edge sits
    in ≥ k−2 triangles OF THAT SUBGRAPH. Returns the surviving canonical
    edges (src<dst) with their final in-truss support. k must be ≥ 3
    (k=2 is the trivial all-edges truss).

    Distributed shape = the k-core peel lifted from nodes to edges: each
    round is one wedge-join support count (Σ wedges work, the
    triangle-count discipline) + a support filter, repeated to fixpoint —
    peel depth rounds, not |E|. Integer counts only; the SQL oracle
    unrolls the same rounds (over-unrolling past the fixpoint is a no-op).
    """
    if k < 3:
        raise ValueError("k_truss requires k >= 3 (k=2 keeps every edge)")
    e = _edge_frame(edges, src_col, dst_col)
    und = _truss_canon(e)
    if fits_driver(und, DRIVER_MAX_EDGES):
        return _k_truss_local(und.collect(), k, edges.sparkSession)
    cur = und.transform(truncate_lineage)
    n_prev = cur.count()
    converged = False
    for _ in range(max_rounds):
        sup = _truss_support(cur)
        cur = (
            cur.join(sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b")
            .transform(truncate_lineage)
        )
        n = cur.count()
        if n == n_prev:
            converged = True
            break
        n_prev = n
    final_sup = _truss_support(cur)
    if not converged:
        # Budget exhausted mid-peel: the surviving edge set may not be a
        # k-truss yet (some edges below k-2 in-subgraph support). The
        # driver-local twin always peels to fixpoint, so silently returning
        # here would let the two paths diverge on deep-peel graphs — verify
        # the fixpoint and raise loudly if it wasn't reached.
        violations = (
            cur.join(final_sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) < k - 2)
            .limit(1)
            .count()
        )
        if violations > 0:
            raise RuntimeError(
                f"k_truss did not reach the support fixpoint within "
                f"max_rounds={max_rounds} (edges below k-2 support remain) "
                f"— raise max_rounds"
            )
    return (
        cur.join(final_sup, ["a", "b"])
        .select(F.col("a").alias("src"), F.col("b").alias("dst"), "support")
    )


# --- Louvain phase-1 (GDS gds.louvain maxLevels=1 parity) --------------------

def _collapse_local(rows) -> tuple[dict, dict]:
    """Pure-Python mirror of the louvain-family undirected collapse:
    (src, dst, wfp) tuples → ({(a<b): min wfp}, {node: min self wfp}) —
    bit-identical to the und/sl groupBy-MIN frames every kernel builds."""
    und: dict[tuple[int, int], int] = {}
    sl: dict[int, int] = {}
    for s, d, w in rows:
        if s == d:
            if s not in sl or w < sl[s]:
                sl[s] = w
        else:
            k = (s, d) if s < d else (d, s)
            if k not in und or w < und[k]:
                und[k] = w
    return und, sl


def _adj_from_und(und: dict) -> dict:
    adj: dict[int, list[tuple[int, int]]] = {}
    for (a, b), w in und.items():
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    return adj


def _gamma_rational(gamma: float) -> tuple[int, int]:
    """GDS resolution parameter γ as an exact small rational (num, den).

    The integer gain stays exact for rational γ by multiplying the whole
    comparison through the denominator: g = den·2m·kin − num·k·(Σtot −
    k·[own]). limit_denominator(10^6) recovers the intended decimal
    (1.1 → 11/10) instead of the float's huge dyadic expansion, keeping
    the distributed longs far from overflow; γ=1 → (1, 1), which leaves
    every existing gain bit-identical."""
    if gamma == 1.0 or gamma == 1:
        return 1, 1
    if not (gamma > 0):
        raise ValueError(f"louvain family: gamma must be > 0, got {gamma!r}")
    from fractions import Fraction

    fr = Fraction(gamma).limit_denominator(1_000_000)
    return fr.numerator, fr.denominator


def _louvain_core(adj: dict, wself: dict, rounds: int,
                  gnum: int = 1, gden: int = 1,
                  stats: dict | None = None) -> dict:
    """The synchronous alternating-parity local-move rounds over Python
    dicts — the single source of truth for the louvain / multilevel /
    leiden driver fast paths. All-integer gains, so bit-identical to the
    distributed loop. Self-loop weights contribute to a node's degree
    (×2) and to m, never to any kin — a self-loop moves with its node,
    so its internal mass cancels out of the argmax (the standard
    aggregated-graph convention). (gnum, gden) is the resolution γ as an
    exact rational (`_gamma_rational`); `stats` (optional) receives
    rounds / moves_per_round / did_converge (see `louvain`)."""
    nodes = sorted(set(adj) | set(wself))
    deg = {v: sum(w for _, w in adj.get(v, ())) + 2 * wself.get(v, 0)
           for v in nodes}
    m = sum(deg.values()) // 2
    comm = {v: v for v in nodes}
    moves_per_round: list[int] = []
    for it in range(rounds):
        stot: dict[int, int] = {}
        for v in nodes:
            stot[comm[v]] = stot.get(comm[v], 0) + deg[v]
        new_comm = {}
        for v in nodes:
            kin: dict[int, int] = {}
            for u, w in adj.get(v, ()):
                kin[comm[u]] = kin.get(comm[u], 0) + w
            kin.setdefault(comm[v], 0)
            best_c, best_g = None, None
            own_g = None
            for c, k in kin.items():
                g = (gden * 2 * m * k
                     - gnum * deg[v]
                     * (stot[c] - (deg[v] if c == comm[v] else 0)))
                if c == comm[v]:
                    own_g = g
                if best_g is None or g > best_g or (g == best_g and c < best_c):
                    best_c, best_g = c, g
            if (v + it) % 2 == 0 and best_g > own_g:
                new_comm[v] = best_c
            else:
                new_comm[v] = comm[v]
        moves_per_round.append(sum(1 for v in nodes if new_comm[v] != comm[v]))
        comm = new_comm
    if stats is not None:
        stats["rounds"] = rounds
        stats["moves_per_round"] = moves_per_round
        # both parities must sit still: a single quiet round can be the
        # alternating-parity mask, not a fixpoint
        stats["did_converge"] = sum(moves_per_round[-2:]) == 0
    return comm


def _aggregate_core(und: dict, sl: dict, labels: dict) -> dict:
    """Pure-Python mirror of `community_aggregate`: collapsed undirected
    edges + self-loops + (node → community) → {(csrc<=cdst): Σ wfp}
    super-edges with intra mass on the diagonal. Endpoints missing from
    `labels` are dropped, matching the distributed inner joins."""
    out: dict[tuple[int, int], int] = {}
    for (a, b), w in und.items():
        if a in labels and b in labels:
            ca, cb = labels[a], labels[b]
            k = (ca, cb) if ca <= cb else (cb, ca)
            out[k] = out.get(k, 0) + w
    for n, w in sl.items():
        if n in labels:
            c = labels[n]
            out[(c, c)] = out.get((c, c), 0) + w
    return out


def _refine_core(pairs, labels: dict) -> dict:
    """Pure-Python mirror of `refine_communities`: keep intra-community
    undirected pairs, min-label connected components over them, members
    with no intra edge become singletons. Component ids are min node ids,
    exactly the distributed CC contract."""
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        if a in labels and labels[a] == labels.get(b):
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
    comp: dict[int, int] = {}
    for start in adj:
        if start in comp:
            continue
        stack = [start]
        seen = {start}
        while stack:
            v = stack.pop()
            for u in adj[v]:
                if u not in seen:
                    seen.add(u)
                    stack.append(u)
        mn = min(seen)
        for v in seen:
            comp[v] = mn
    return {n: comp.get(n, n) for n in labels}


def louvain(edges: DataFrame, rounds: int = 4,
            src_col: str = "src_system_id", dst_col: str = "dst_system_id",
            weight_col: str | None = None,
            pre_scaled_weights: bool = False,
            gamma: float = 1.0,
            stats_out: dict | None = None) -> DataFrame:
    """GDS `gds.louvain` (maxLevels=1) parity: modularity-optimizing local
    moves on the undirected projection, made deterministic and
    oracle-replayable:

    - synchronous rounds — every node evaluates its best neighbor
      community against the ROUND-START assignment;
    - all-INTEGER gain on the common 2m² denominator:
      g(v→c) = 2m·k_v,in(c) − k_v·(Σtot(c) − k_v·[c = own]); move iff the
      argmax community (ties → min id) strictly beats staying;
    - alternating parity — only nodes with (node + round) % 2 == 0 may
      move in a round, the standard synchronous-Louvain device that kills
      the two-coloring oscillation (same role as LPA's tie-break).

    `weight_col=` switches to weighted modularity (GDS
    relationshipWeightProperty): weights are 1e-6 fixed point, undirected
    weight = MIN across collapsed directed edges (the MST convention), and
    k / Σtot / k_in / m become weight sums — still all-integer, so the
    oracle contract is unchanged. weight_col=None reduces to edge counts
    bit-exactly.

    One level of local moves (the GDS maxLevels=1 behaviour);
    `louvain_multilevel` stacks levels with community aggregation between
    them (GDS maxLevels>1). Self-loops — which aggregated graphs carry as
    intra-community mass — contribute to a node's degree (×2) and to m,
    never to any kin: a self-loop moves with its node, so its internal
    mass is identical in every candidate community and cancels out of the
    argmax (the standard aggregated-graph convention).
    `pre_scaled_weights=True` reads weight_col as ALREADY-fixed-point
    longs (aggregated super-edge weights), skipping the 1e-6 rounding.

    At 100 TB each round is: one community-keyed degree sum
    (community-count cells), one (node, neighbor-community) count shuffle
    (Σ degrees rows — the LPA shape), one per-node argmax window. Labels
    localCheckpoint per round.

    `gamma=` is the GDS resolution parameter (`gds.louvain` gamma,
    default 1): g(v→c) = 2m·k_in − γ·k·(Σtot − k·[own]). γ>1 penalizes
    community mass harder → more, smaller communities; γ<1 → fewer,
    larger. Kept exact by rationalizing γ (`_gamma_rational`) and
    multiplying the comparison through the denominator — γ=1 reduces to
    the original integer gain bit-for-bit; γ≠1 runs the gain in
    decimal(38,0) so the extra ≤10^6 factor cannot overflow longs.

    `stats_out=` (GDS ranIterations/didConverge yield): records `rounds`
    executed, `moves_per_round`, and `did_converge` — true iff the last
    TWO rounds moved no node (both parities of the alternating mask must
    sit still; one quiet round can be the mask, not a fixpoint). On the
    distributed path the per-round move count costs one diff-count job
    per round, only when requested.
    """
    gnum, gden = _gamma_rational(gamma)
    if pre_scaled_weights:
        wexpr = F.col(weight_col).cast("long")
    elif weight_col is None:
        wexpr = F.lit(1).cast("long")
    else:
        wexpr = F.floor(
            F.col(weight_col).cast("double") * MST_SCALE + F.lit(0.5)
        ).cast("long")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        wexpr.alias("wfp"),
    )
    # Driver fast path probes the RAW projected frame (not the collapsed
    # adjacency) so a fixture-scale graph pays ONE collect instead of the
    # collapse groupBys — the collapse itself runs in _collapse_local,
    # which is bit-identical to the und/sl frames below (the
    # leiden/multilevel fixture wall was Spark job count).
    if fits_driver(e, DRIVER_MAX_EDGES):
        und_l, sl_l = _collapse_local(
            (r["src"], r["dst"], r["wfp"]) for r in e.collect()
        )
        comm = _louvain_core(_adj_from_und(und_l), sl_l, rounds,
                             gnum, gden, stats_out)
        return local_frame(
            edges.sparkSession, sorted(comm.items()), "node long, community long"
        )
    # undirected weight = MIN across the collapsed directed/parallel edges
    # (the MST convention); with weight_col=None this reduces to the
    # unweighted distinct, so existing results are bit-unchanged
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"),
                "wfp")
        .groupBy("a", "b").agg(F.min("wfp").alias("wfp"))
    )
    sl = (
        e.filter(F.col("src") == F.col("dst"))
        .groupBy(F.col("src").alias("node")).agg(F.min("wfp").alias("wself"))
    )
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v"), "wfp").unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"), "wfp")
    )

    deg = (
        adj.groupBy("u").agg(F.sum("wfp").alias("k_adj"))
        .join(sl.select(F.col("node").alias("u"), "wself"), "u", "full_outer")
        .select(
            "u",
            (F.coalesce(F.col("k_adj"), F.lit(0))
             + 2 * F.coalesce(F.col("wself"), F.lit(0))).alias("k"),
        )
    )
    m_und = und.agg(F.sum("wfp")).collect()[0][0] or 0
    m_self = sl.agg(F.sum("wself")).collect()[0][0] or 0
    m = m_und + m_self
    comm = deg.select(F.col("u").alias("node"), F.col("u").alias("comm"))
    if m == 0:
        if stats_out is not None:
            stats_out["rounds"] = 0
            stats_out["moves_per_round"] = []
            stats_out["did_converge"] = True
        return comm.select("node", F.col("comm").alias("community"))
    from pyspark.sql import Window

    moves_per_round: list[int] = []
    for it in range(rounds):
        # Three structural cuts per round, all value-identical:
        #   1. the own-community candidate rides the SAME aggregate as the
        #      neighbor-community sums — union a (node, own-comm, 0) row
        #      BEFORE the groupBy instead of anti-joining afterwards
        #      (kin_own + 0 == kin_own; absent rows sum to 0 — exactly the
        #      old own_zero semantics, minus one anti-join exchange and a
        #      second plan of the nc subtree);
        #   2. (node, comm, k) is joined once (node_info) and feeds both
        #      the gain join and stot, instead of two separate comm/deg
        #      joins per consumer;
        #   3. own_g comes out of the SAME window pass that ranks the
        #      argmax (a partition-wide MAX over the single c == comm row
        #      — every node has exactly one), instead of a third join that
        #      re-planned the whole gain subtree.
        node_info = comm.join(
            deg.select(F.col("u").alias("node"), "k"), "node"
        )  # (node, comm, k)
        stot = node_info.groupBy(F.col("comm").alias("c")).agg(
            F.sum("k").alias("stot")
        )
        cand = (
            adj.join(
                comm.select(F.col("node").alias("v"), F.col("comm").alias("c")), "v"
            )
            .select(F.col("u").alias("node"), "c", F.col("wfp"))
            .unionByName(
                comm.select(
                    "node", F.col("comm").alias("c"),
                    F.lit(0).cast("long").alias("wfp"),
                )
            )
            .groupBy("node", "c")
            .agg(F.sum("wfp").alias("kin"))
        )
        if (gnum, gden) == (1, 1):
            g_expr = (
                F.lit(2 * m) * F.col("kin")
                - F.col("k")
                * (F.col("stot")
                   - F.when(F.col("c") == F.col("comm"), F.col("k")).otherwise(F.lit(0)))
            )
        else:
            # non-unit γ: rationalized gain in decimal(38,0) — the ≤1e6
            # denominator/numerator factors would push longs toward
            # overflow on heavy weighted graphs
            dec = "decimal(38,0)"
            g_expr = (
                F.lit(gden).cast(dec) * F.lit(2 * m).cast(dec)
                * F.col("kin").cast(dec)
                - F.lit(gnum).cast(dec) * F.col("k").cast(dec)
                * (F.col("stot")
                   - F.when(F.col("c") == F.col("comm"), F.col("k"))
                   .otherwise(F.lit(0))).cast(dec)
            )
        gain = (
            cand.join(node_info, "node")
            .join(stot, "c")
            .select("node", "c", "comm", g_expr.alias("g"))
        )
        w_node = Window.partitionBy("node")
        w = w_node.orderBy(F.desc("g"), F.asc("c"))
        ranked = gain.select(
            "node", "c", "comm", "g",
            F.row_number().over(w).alias("rn"),
            # exactly one c == comm row per node (cand carries the own-
            # community candidate unconditionally), so the partition MAX
            # of the masked column IS that row's gain
            F.max(F.when(F.col("c") == F.col("comm"), F.col("g")))
            .over(w_node).alias("own_g"),
        )
        prev_comm = comm
        comm = (
            ranked.filter(F.col("rn") == 1)
            .select(
                "node",
                F.when(
                    ((F.col("node") + F.lit(it)) % 2 == 0)
                    & (F.col("g") > F.col("own_g")),
                    F.col("c"),
                ).otherwise(F.col("comm")).alias("comm"),
            )
            .transform(truncate_lineage)
        )
        if stats_out is not None:
            moves_per_round.append(
                comm.join(
                    prev_comm.select("node", F.col("comm").alias("__prev")), "node"
                ).filter(F.col("comm") != F.col("__prev")).count()
            )
    if stats_out is not None:
        stats_out["rounds"] = rounds
        stats_out["moves_per_round"] = moves_per_round
        stats_out["did_converge"] = sum(moves_per_round[-2:]) == 0
    return comm.select("node", F.col("comm").alias("community"))


def community_aggregate(edges: DataFrame, labels: DataFrame,
                        weight_col: str | None = None,
                        src_col: str = "src_system_id",
                        dst_col: str = "dst_system_id",
                        pre_scaled_weights: bool = False) -> DataFrame:
    """Louvain phase-2 graph aggregation: one super-node per community,
    super-edge weight = Σ of the collapsed undirected edge weights between
    the two communities; intra-community mass lands on the diagonal as a
    SELF-LOOP row (src == dst) — exactly what the self-loop-aware louvain
    kernel consumes (degree ×2 / m contributions). `labels` is
    (node, community). Returns (src, dst, wfp) with wfp already in fixed
    point (feed back via pre_scaled_weights=True).

    Scale shape: collapse (one groupBy over |E|), two broadcast-or-shuffle
    label joins, one (community, community) sum — the output is
    community²-bounded but in practice ~|communities|·avg-degree rows,
    shrinking geometrically per level like MST's contraction graphs.
    """
    if pre_scaled_weights:
        wexpr = F.col(weight_col).cast("long")
    elif weight_col is None:
        wexpr = F.lit(1).cast("long")
    else:
        wexpr = F.floor(
            F.col(weight_col).cast("double") * MST_SCALE + F.lit(0.5)
        ).cast("long")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        wexpr.alias("wfp"),
    )
    if fits_driver(e, DRIVER_MAX_EDGES):
        und_l, sl_l = _collapse_local(
            (r["src"], r["dst"], r["wfp"]) for r in e.collect()
        )
        lab = {r["node"]: r["community"] for r in labels.collect()}
        sup = _aggregate_core(und_l, sl_l, lab)
        return local_frame(
            edges.sparkSession, sorted((a, b, w) for (a, b), w in sup.items()),
            "src long, dst long, wfp long",
        )
    # same undirected collapse as louvain (MIN across directed/parallel
    # edges; self-loop weight = MIN across its duplicates) so aggregating
    # the ORIGINAL graph by a cumulative mapping at any level equals
    # aggregating the previous level's super-graph
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"),
                "wfp")
        .groupBy("a", "b").agg(F.min("wfp").alias("wfp"))
    )
    sl = (
        e.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("a"), F.col("src").alias("b"), "wfp")
        .groupBy("a", "b").agg(F.min("wfp").alias("wfp"))
    )
    la = labels.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    return (
        und.unionByName(sl)
        .join(la, "a").join(lb, "b")
        .select(F.least("ca", "cb").alias("src"),
                F.greatest("ca", "cb").alias("dst"), "wfp")
        .groupBy("src", "dst").agg(F.sum("wfp").alias("wfp"))
    )


def _multilevel_local(rows, levels: int, rounds: int, refine: bool, spark,
                      gnum: int = 1, gden: int = 1,
                      stats_out: dict | None = None) -> DataFrame:
    """Driver fast path for `louvain_multilevel` / `leiden`: the whole
    level stack — local moves, (optional) refinement, aggregation, label
    composition — over Python dicts, ONE collect and ONE local_frame
    total. Each phase mirrors its distributed twin bit-for-bit
    (`_louvain_core` / `_refine_core` / `_aggregate_core`), so results
    are identical; only the Spark job count changes (the fixture wall
    was ~10 s of pure orchestration overhead)."""
    per_level: list[dict] = []

    def _lv_stats() -> dict | None:
        if stats_out is None:
            return None
        per_level.append({})
        return per_level[-1]

    und, sl = _collapse_local(rows)
    comm = _louvain_core(_adj_from_und(und), sl, rounds, gnum, gden, _lv_stats())
    mapping = _refine_core(und.keys(), comm) if refine else comm
    for _ in range(1, levels):
        sup = _aggregate_core(und, sl, mapping)
        s_und = {k: w for k, w in sup.items() if k[0] != k[1]}
        s_sl = {a: w for (a, b), w in sup.items() if a == b}
        up = _louvain_core(_adj_from_und(s_und), s_sl, rounds, gnum, gden,
                           _lv_stats())
        if refine:
            up = _refine_core(s_und.keys(), up)
        mapping = {n: up[c] for n, c in mapping.items()}
    if stats_out is not None:
        stats_out["levels"] = levels
        stats_out["per_level"] = per_level
        stats_out["did_converge"] = per_level[-1]["did_converge"]
    return local_frame(
        spark, sorted(mapping.items()), "node long, community long"
    )


def _louvain_wfp_frame(edges: DataFrame, src_col: str, dst_col: str,
                       weight_col: str | None) -> DataFrame:
    wexpr = (
        F.lit(1).cast("long") if weight_col is None
        else F.floor(
            F.col(weight_col).cast("double") * MST_SCALE + F.lit(0.5)
        ).cast("long")
    )
    return edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        wexpr.alias("wfp"),
    )


def louvain_multilevel(edges: DataFrame, levels: int = 2, rounds: int = 4,
                       src_col: str = "src_system_id",
                       dst_col: str = "dst_system_id",
                       weight_col: str | None = None,
                       gamma: float = 1.0,
                       stats_out: dict | None = None) -> DataFrame:
    """GDS `gds.louvain` with maxLevels > 1: alternate local-move phases
    (the deterministic synchronous `louvain`) with graph AGGREGATION
    (`community_aggregate`) — after each level every community becomes one
    super-node, intra-community mass becomes self-loops, and the next
    level's local moves run on the shrunken super-graph, merging
    communities the flat pass cannot (a level-1 fixpoint where no single
    node gains by moving can still admit whole-community merges).
    Returns (node, community) where community is the FINAL level's label,
    mapped back through every level — deterministic, so the unrolled SQL
    oracle replays levels exactly.

    Each aggregation shrinks the graph like MST's contraction: level L+1
    runs on ~|communities_L| super-nodes, so levels beyond the first cost
    a vanishing fraction of level 1. Runs a FIXED level count (no early
    break) — deterministic plan shape, and a converged level is a cheap
    no-op pass over an already-tiny graph."""
    gnum, gden = _gamma_rational(gamma)
    e = _louvain_wfp_frame(edges, src_col, dst_col, weight_col)
    if fits_driver(e, DRIVER_MAX_EDGES):
        return _multilevel_local(
            [(r["src"], r["dst"], r["wfp"]) for r in e.collect()],
            levels, rounds, refine=False, spark=edges.sparkSession,
            gnum=gnum, gden=gden, stats_out=stats_out,
        )
    per_level: list[dict] = [] if stats_out is not None else None
    lv = {} if stats_out is not None else None
    mapping = louvain(edges, rounds=rounds, src_col=src_col, dst_col=dst_col,
                      weight_col=weight_col, gamma=gamma, stats_out=lv)
    if stats_out is not None:
        per_level.append(lv)
    for _ in range(1, levels):
        mapping = mapping.transform(truncate_lineage)
        # materialize the super-graph once per level: the distributed
        # louvain below walks its input in every round, and an
        # unmaterialized aggregate plan would re-execute the collapse +
        # label joins each time (measured: minutes on a 25-node fixture)
        agg = community_aggregate(edges, mapping, weight_col=weight_col,
                                  src_col=src_col, dst_col=dst_col
                                  ).transform(truncate_lineage)
        lv = {} if stats_out is not None else None
        up = louvain(agg, rounds=rounds, src_col="src", dst_col="dst",
                     weight_col="wfp", pre_scaled_weights=True,
                     gamma=gamma, stats_out=lv)
        if stats_out is not None:
            per_level.append(lv)
        mapping = mapping.join(
            up.select(F.col("node").alias("community"),
                      F.col("community").alias("next_c")),
            "community",
        ).select("node", F.col("next_c").alias("community"))
    if stats_out is not None:
        stats_out["levels"] = levels
        stats_out["per_level"] = per_level
        stats_out["did_converge"] = per_level[-1]["did_converge"]
    return mapping


def refine_communities(edges: DataFrame, labels: DataFrame,
                       src_col: str = "src_system_id",
                       dst_col: str = "dst_system_id") -> DataFrame:
    """Leiden refinement phase (Traag, Waltman & van Eck 2019, the step
    that fixes Louvain's documented flaw): split every community that is
    not INTERNALLY CONNECTED into its connected pieces. Local moves can
    evacuate a community's articulation nodes, leaving members whose only
    connection ran through the departed node — Louvain keeps them under
    one label, Leiden guarantees each returned community induces a
    connected subgraph.

    Mechanics: keep only intra-community undirected edges (one broadcast-
    or-shuffle label join per side), run min-label connected components
    over them, and re-label every member by its piece (members with no
    intra-community edge become singletons). Component ids are global min
    node ids, so refined labels stay in the node-id domain — aggregation
    and further levels consume them unchanged. One |E| label-join plus a
    CC over the (strictly smaller) intra subgraph.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    if fits_driver(e, DRIVER_MAX_EDGES):
        pairs = {
            (r["src"], r["dst"]) if r["src"] < r["dst"] else (r["dst"], r["src"])
            for r in e.collect() if r["src"] != r["dst"]
        }
        lab = {r["node"]: r["community"] for r in labels.collect()}
        refined = _refine_core(pairs, lab)
        return local_frame(
            edges.sparkSession, sorted(refined.items()), "node long, community long"
        )
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    la = labels.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    intra = (
        und.join(la, "a").join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .select("a", "b")
    )
    intra_sym = intra.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        intra.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    cc = connected_components(intra_sym, src_col="src", dst_col="dst")
    singles = labels.join(
        cc.select(F.col("node").alias("n2")), labels.node == F.col("n2"), "left_anti"
    ).select("node", F.col("node").alias("community"))
    return cc.select("node", F.col("component").alias("community")).unionByName(
        singles
    )


def leiden(edges: DataFrame, levels: int = 2, rounds: int = 4,
           src_col: str = "src_system_id", dst_col: str = "dst_system_id",
           weight_col: str | None = None,
           gamma: float = 1.0,
           stats_out: dict | None = None) -> DataFrame:
    """GDS `gds.leiden` counterpart, deterministic: per level, synchronous
    modularity local moves (`louvain`) → REFINEMENT (`refine_communities`
    — split internally-disconnected communities, the Leiden guarantee) →
    community aggregation with self-loops (`community_aggregate`), then
    the next level runs on the super-graph. Returns (node, community)
    mapped back through every level.

    Guarantee (tested): every returned community induces a CONNECTED
    subgraph — the property Louvain cannot promise and the reason Leiden
    exists. Like the louvain family, this variant is deterministic
    (integer gains, min-id ties, alternating parity, min-label CC) where
    GDS's implementation is randomized — same algorithm class, exactly
    replayable by the unrolled SQL oracle. Shuffle shape per level =
    louvain rounds + one intra-edge CC + one aggregation; levels shrink
    geometrically like louvain_multilevel.
    """
    gnum, gden = _gamma_rational(gamma)
    e = _louvain_wfp_frame(edges, src_col, dst_col, weight_col)
    if fits_driver(e, DRIVER_MAX_EDGES):
        return _multilevel_local(
            [(r["src"], r["dst"], r["wfp"]) for r in e.collect()],
            levels, rounds, refine=True, spark=edges.sparkSession,
            gnum=gnum, gden=gden, stats_out=stats_out,
        )
    per_level: list[dict] = [] if stats_out is not None else None
    lv = {} if stats_out is not None else None
    labels = louvain(edges, rounds=rounds, src_col=src_col, dst_col=dst_col,
                     weight_col=weight_col, gamma=gamma, stats_out=lv)
    if stats_out is not None:
        per_level.append(lv)
    mapping = refine_communities(edges, labels, src_col=src_col,
                                 dst_col=dst_col)
    for _ in range(1, levels):
        mapping = mapping.transform(truncate_lineage)
        # materialize the super-graph once per level: the distributed
        # louvain below walks its input in every round, and an
        # unmaterialized aggregate plan would re-execute the collapse +
        # label joins each time (measured: minutes on a 25-node fixture)
        agg = community_aggregate(edges, mapping, weight_col=weight_col,
                                  src_col=src_col, dst_col=dst_col
                                  ).transform(truncate_lineage)
        lv = {} if stats_out is not None else None
        up = louvain(agg, rounds=rounds, src_col="src", dst_col="dst",
                     weight_col="wfp", pre_scaled_weights=True,
                     gamma=gamma, stats_out=lv)
        if stats_out is not None:
            per_level.append(lv)
        up = refine_communities(agg, up, src_col="src", dst_col="dst")
        mapping = mapping.join(
            up.select(F.col("node").alias("community"),
                      F.col("community").alias("next_c")),
            "community",
        ).select("node", F.col("next_c").alias("community"))
    if stats_out is not None:
        stats_out["levels"] = levels
        stats_out["per_level"] = per_level
        stats_out["did_converge"] = per_level[-1]["did_converge"]
    return mapping


# --- FastRP embeddings (GDS gds.fastRP parity) --------------------------------

FASTRP_DIM = 8


def _fastrp_init_val(v: int, j: int) -> int:
    """Deterministic sparse init entry ∈ {-1, 0, +1}: the portable md5
    device (same as dedup's portable hashes) mod 6 — +1 and −1 each with
    probability 1/6, zero otherwise, i.e. FastRP's sparse projection with
    s = 3 (the √s scale factor is absorbed by the per-node ℓ2 norm)."""
    import hashlib

    h = int(hashlib.md5(f"{v}:{j}".encode()).hexdigest()[:14], 16) % 6
    return 1 if h == 0 else (-1 if h == 1 else 0)


def _fastrp_local(adj_rows: list, dim: int, iterations: int, spark) -> DataFrame:
    adj: dict[int, list[int]] = {}
    for r in adj_rows:
        adj.setdefault(r["u"], []).append(r["v"])
    nodes = sorted(adj)
    x = {v: [float(_fastrp_init_val(v, j)) for j in range(dim)] for v in nodes}
    acc = {v: [0.0] * dim for v in nodes}
    for _ in range(iterations):
        new = {}
        for v in nodes:
            deg = len(adj[v])
            ms = []
            for j in range(dim):
                s = 0
                for u in adj[v]:
                    s += int(math.floor(x[u][j] * 1_000_000 + 0.5))
                ms.append(float(s) / deg / 1_000_000.0)
            norm2 = 0.0
            for j in range(dim):
                norm2 = norm2 + ms[j] * ms[j]
            norm = math.sqrt(norm2)
            new[v] = [(ms[j] / norm if norm > 0.0 else 0.0) for j in range(dim)]
        x = new
        for v in nodes:
            for j in range(dim):
                acc[v][j] = acc[v][j] + x[v][j]
    out = {}
    for v in nodes:
        norm2 = 0.0
        for j in range(dim):
            norm2 = norm2 + acc[v][j] * acc[v][j]
        norm = math.sqrt(norm2)
        out[v] = [(acc[v][j] / norm if norm > 0.0 else 0.0) for j in range(dim)]
    schema = "node long, " + ", ".join(f"e{j} double" for j in range(dim))
    return local_frame(spark, [(v, *out[v]) for v in nodes], schema)


def fastrp_embeddings(edges: DataFrame, dim: int = FASTRP_DIM, iterations: int = 2,
                      src_col: str = "src_system_id",
                      dst_col: str = "dst_system_id") -> DataFrame:
    """GDS `gds.fastRP` parity (Chen et al., "Fast and Accurate Network
    Embeddings via Very Sparse Random Projection"), made deterministic and
    oracle-replayable:

    - sparse init R(v) ∈ {−1,0,+1}^dim from the portable md5 device
      (s = 3 sparsity — the seeded-random substitute, reproducible across
      engines AND runs, like the random-walk sampler);
    - each iteration: MEAN-aggregate neighbor vectors (the D⁻¹A step) with
      the fixed-point integer-sum contract, then per-node ℓ2 normalize —
      square/sum in a fixed left-to-right column order so the float
      sequence is engine-identical;
    - final embedding = ℓ2-normalized sum of the per-iteration embeddings
      (GDS iterationWeights = [1, 1, …]).

    Embeddings are dim FLAT COLUMNS (e0..e{dim-1}), not an array — flat
    columns keep the SQL oracle expressible and let Parquet/Catalyst prune
    per-dimension. One dst-keyed sum shuffle per iteration carrying dim
    integer cells per node; norms are scan-side expressions.
    """
    e = _edge_frame(edges, src_col, dst_col)
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    if fits_driver(adj, DRIVER_MAX_EDGES):
        return _fastrp_local(adj.collect(), dim, iterations, edges.sparkSession)

    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    def init_col(j: int):
        h = (
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.col("u").cast("string"),
                                              F.lit(str(j)))), 1, 14),
                16, 10,
            ).cast("long") % 6
        )
        return (
            F.when(h == 0, F.lit(1.0)).when(h == 1, F.lit(-1.0)).otherwise(F.lit(0.0))
        )

    x = deg.select(F.col("u").alias("node"),
                   *[init_col(j).alias(f"x{j}") for j in range(dim)])
    acc = None
    for _ in range(iterations):
        fp_cols = [
            F.floor(F.col(f"x{j}") * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long").alias(f"c{j}")
            for j in range(dim)
        ]
        contribs = (
            x.select("node", *fp_cols)
            .join(adj, F.col("node") == F.col("v"))
            .groupBy(F.col("u").alias("node"))
            .agg(*[F.sum(f"c{j}").alias(f"s{j}") for j in range(dim)])
        )
        mcols = [
            (F.col(f"s{j}").cast("double") / F.col("deg") / F.lit(1_000_000.0))
            .alias(f"m{j}")
            for j in range(dim)
        ]
        m = contribs.join(deg.select(F.col("u").alias("node"), "deg"), "node").select(
            "node", *mcols
        )
        norm2 = F.col("m0") * F.col("m0")
        for j in range(1, dim):
            norm2 = norm2 + F.col(f"m{j}") * F.col(f"m{j}")
        x = m.select(
            "node",
            *[
                F.when(F.sqrt(norm2) > 0, F.col(f"m{j}") / F.sqrt(norm2))
                .otherwise(F.lit(0.0)).alias(f"x{j}")
                for j in range(dim)
            ],
        ).transform(truncate_lineage)
        if acc is None:
            acc = x.select("node", *[F.col(f"x{j}").alias(f"a{j}") for j in range(dim)])
        else:
            acc = acc.join(x, "node").select(
                "node",
                *[(F.col(f"a{j}") + F.col(f"x{j}")).alias(f"a{j}") for j in range(dim)],
            ).transform(truncate_lineage)
    fnorm2 = F.col("a0") * F.col("a0")
    for j in range(1, dim):
        fnorm2 = fnorm2 + F.col(f"a{j}") * F.col(f"a{j}")
    return acc.select(
        "node",
        *[
            F.when(F.sqrt(fnorm2) > 0, F.col(f"a{j}") / F.sqrt(fnorm2))
            .otherwise(F.lit(0.0)).alias(f"e{j}")
            for j in range(dim)
        ],
    )


# --- K-1 coloring (GDS gds.beta.k1coloring parity) ----------------------------

def _k1_prio(v: int) -> int:
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:14], 16)


def _k1_local(adj_rows: list, max_rounds: int, spark) -> DataFrame:
    adj: dict[int, set[int]] = {}
    for r in adj_rows:
        adj.setdefault(r["u"], set()).add(r["v"])
    nodes = sorted(adj)
    prio = {v: (_k1_prio(v), v) for v in nodes}
    color: dict[int, int] = {}
    for _ in range(max_rounds):
        if len(color) == len(nodes):
            break
        ready = [
            v for v in nodes if v not in color
            and all(u in color or prio[u] < prio[v] for u in adj[v])
        ]
        for v in ready:
            used = {color[u] for u in adj[v] if u in color}
            c = 0
            while c in used:
                c += 1
            color[v] = c
    if len(color) != len(nodes):
        raise RuntimeError(
            f"k1_coloring: {len(nodes) - len(color)} nodes uncolored after "
            f"{max_rounds} rounds"
        )
    return local_frame(
        spark, sorted(color.items()), "node long, color long"
    )


def k1_coloring(edges: DataFrame, max_rounds: int = 12,
                src_col: str = "src_system_id", dst_col: str = "dst_system_id") -> DataFrame:
    """GDS `gds.beta.k1coloring` parity: a proper vertex coloring (no edge
    joins two same-colored nodes) via deterministic Jones–Plassmann —
    a node colors itself in the round where it holds the highest priority
    in its UNCOLORED neighborhood; its color is the mex of already-colored
    neighbor colors. Priority = the portable md5 hash (ties broken by id),
    so rounds are O(log n) in expectation on any topology — id-priority
    would degrade to O(diameter) on the ring — and the schedule replays
    identically in Python, Spark and DuckDB.

    Per round: one neighbor-join to find ready nodes (no uncolored
    higher-priority neighbor), one sequence-explode + anti-join mex over
    colored-neighbor colors — all integer logic. The uncolored frontier
    shrinks monotonically; the round count is the driver signal, node
    state never returns to the driver.

    Budget guidance: the round count is the longest strictly-decreasing
    priority path, ~log n in expectation but with real constants — a 50k-
    node random graph needs ~30 rounds, so size max_rounds ≳ 3·log₂(n).
    Too small a budget raises (never a silent partial coloring).
    """
    e = _edge_frame(edges, src_col, dst_col)
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    if fits_driver(adj, DRIVER_MAX_EDGES):
        return _k1_local(adj.collect(), max_rounds, edges.sparkSession)

    prio_expr = F.conv(
        F.substring(F.md5(F.col("u").cast("string")), 1, 14), 16, 10
    ).cast("long")
    nodes = adj.select("u").distinct().select(
        F.col("u").alias("node"), prio_expr.alias("prio")
    ).transform(truncate_lineage)
    colored = local_frame(nodes.sparkSession, [], "node long, color long")
    uncolored = nodes
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    for _ in range(max_rounds):
        if uncolored.limit(1).count() == 0:
            break
        # ready: uncolored node with no uncolored neighbor of higher (prio, id)
        un_nbr = (
            adj.join(uncolored.select(F.col("node").alias("u")), "u")
            .join(
                uncolored.select(F.col("node").alias("v"), F.col("prio").alias("vprio")),
                "v",
            )
        )
        blocked = (
            un_nbr.join(uncolored.select(F.col("node").alias("u"), "prio"), "u")
            .filter(
                (F.col("vprio") > F.col("prio"))
                | ((F.col("vprio") == F.col("prio")) & (F.col("v") > F.col("u")))
            )
            .select(F.col("u").alias("node"))
            .distinct()
        )
        ready = uncolored.join(blocked, "node", "left_anti")
        # mex over already-colored neighbor colors
        used = (
            adj.join(ready.select(F.col("node").alias("u")), "u")
            .join(colored.select(F.col("node").alias("v"), "color"), "v")
            .select(F.col("u").alias("node"), "color")
            .distinct()
        )
        cand = (
            ready.join(deg, "node")
            .select("node", F.explode(F.sequence(F.lit(0), F.col("deg"))).alias("k"))
        )
        mex = (
            cand.join(
                used.select(F.col("node").alias("n2"), F.col("color").alias("uk")),
                (F.col("node") == F.col("n2")) & (F.col("k") == F.col("uk")),
                "left_anti",
            )
            .groupBy("node")
            .agg(F.min("k").alias("color"))
        )
        colored = colored.unionByName(mex).transform(truncate_lineage)
        uncolored = uncolored.join(mex.select("node"), "node", "left_anti") \
            .transform(truncate_lineage)
    n_left = uncolored.count()
    if n_left:
        raise RuntimeError(
            f"k1_coloring: {n_left} nodes uncolored after {max_rounds} rounds"
        )
    return colored


# --- SLLPA overlapping communities (GDS gds.sllpa parity) ---------------------

def _sllpa_local(adj_rows: list, rounds: int, min_count: int, spark) -> DataFrame:
    adj: dict[int, list[tuple[int, int]]] = {}
    for r in adj_rows:
        adj.setdefault(r["u"], []).append((r["v"], r["wfp"]))
    nodes = sorted(adj)
    mem: dict[int, dict[int, int]] = {v: {v: 1} for v in nodes}
    for it in range(rounds):
        spoken = {}
        for v in nodes:
            spoken[v] = min(mem[v], key=lambda lbl: (-mem[v][lbl], lbl))
        listened = {}
        for v in nodes:
            recv: dict[int, int] = {}
            for u, wfp in adj[v]:
                recv[spoken[u]] = recv.get(spoken[u], 0) + wfp
            if it % 2 == 0:
                listened[v] = min(recv, key=lambda lbl: (-recv[lbl], lbl))
            else:
                listened[v] = min(recv, key=lambda lbl: (-recv[lbl], -lbl))
        for v in nodes:
            mem[v][listened[v]] = mem[v].get(listened[v], 0) + 1
    rows = [
        (v, lbl, cnt)
        for v in nodes for lbl, cnt in sorted(mem[v].items()) if cnt >= min_count
    ]
    return local_frame(spark, rows, "node long, label long, cnt long")


def sllpa(edges: DataFrame, rounds: int = 5, min_count: int = 2,
          src_col: str = "src_system_id", dst_col: str = "dst_system_id",
          weight_col: str | None = None) -> DataFrame:
    """GDS `gds.sllpa` parity (speaker-listener label propagation, Xie et
    al. — OVERLAPPING community detection): each round every node SPEAKS
    its most-frequent memory label (ties → min) and LISTENS to the most
    frequent label spoken by its neighbors (ties → min), adding it to
    memory. After `rounds`, every (node, label) with memory count ≥
    min_count is a membership — a node can belong to several communities
    (bridge nodes keep both sides' labels), which the single-label
    LPA/Louvain family cannot express.

    `weight_col=` (relationshipWeightProperty knob parity with the
    louvain/LPA family) weights the LISTEN step: a neighbor's spoken
    label votes with the edge's 1e-6 fixed-point weight (undirected
    weight = MIN across collapsed directed edges, the MST/louvain
    convention) instead of 1 — the weighted SLPA form (Xie & Szymanski).
    Memory increments stay 1 per round (memory counts are membership
    evidence, not vote mass). weight_col=None reduces to integer votes
    of 1 bit-exactly.

    Deterministic: synchronous rounds, integer counts, min-label ties —
    the SQL oracle replays every round. Memory is (node, label, cnt)
    rows, at most `rounds`+1 labels per node; each round costs one
    (node)-keyed argmax window, one neighbor join + (node, label) count
    shuffle, and one memory-merge shuffle.
    """
    wexpr = (
        F.lit(1).cast("long") if weight_col is None
        else F.floor(F.col(weight_col).cast("double") * MST_SCALE + F.lit(0.5))
        .cast("long")
    )
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
        wexpr.alias("wfp"),
    )
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"),
                "wfp")
        .groupBy("a", "b").agg(F.min("wfp").alias("wfp"))
    )
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v"), "wfp").unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"), "wfp")
    )
    if fits_driver(adj, DRIVER_MAX_EDGES):
        return _sllpa_local(adj.collect(), rounds, min_count, edges.sparkSession)

    from pyspark.sql import Window

    mem = adj.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label"),
        F.lit(1).cast("long").alias("cnt"),
    ).transform(truncate_lineage)
    w_mem = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    for it in range(rounds):
        spoken = (
            mem.withColumn("rn", F.row_number().over(w_mem))
            .filter(F.col("rn") == 1)
            .select(F.col("node").alias("v"), F.col("label").alias("spoken"))
        )
        recv = (
            adj.join(spoken, "v")
            .groupBy(F.col("u").alias("node"), F.col("spoken").alias("label"))
            .agg(F.sum("wfp").alias("c"))  # wfp=1 unweighted → exact count
        )
        # alternating tie-break (min on even rounds, max on odd): a fixed
        # min-tie would let the globally smallest label win EVERY balanced
        # tie, so a node evenly pulled between two communities would never
        # accumulate the second membership — the same oscillation-control
        # trade as louvain's move parity, pointed the other way
        tie = F.asc("label") if it % 2 == 0 else F.desc("label")
        w_recv = Window.partitionBy("node").orderBy(F.desc("c"), tie)
        listened = (
            recv.withColumn("rn", F.row_number().over(w_recv))
            .filter(F.col("rn") == 1)
            .select("node", "label", F.lit(1).cast("long").alias("cnt"))
        )
        mem = (
            mem.unionByName(listened)
            .groupBy("node", "label")
            .agg(F.sum("cnt").alias("cnt"))
            .transform(truncate_lineage)
        )
    return mem.filter(F.col("cnt") >= min_count).select("node", "label", "cnt")
