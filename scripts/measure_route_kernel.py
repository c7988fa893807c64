"""Time the driver route kernel, unbounded against landmark-bounded.

For each seed this builds the `route-serving` universe with
`perfbench/gen.py` (imported, never modified) and the two adjacencies the
engine's route projections hold over it: cost 1 per jump, and inbound
risk kills²/jumps + baseline. Per kind it then builds the landmark table
and routes the same seeded endpoint pairs twice, in pure Python with no
Spark session:

- plain: `route_local` without a table, one unbounded `_dijkstra` run;
- bounded: `route_local` with the table, the engine's route.

It prints one line per kind: kernel p50 and max ms for both, the median
number of nodes settled per route (`stats_out["expansions"]`, summed over
a route's kernel runs), the table build ms, the break-even (how many
routes one projection build must serve before their saved kernel time,
by the mean, repays its table), and how many routes differ from the
plain kernel's (the bounded route must be node-for-node equal, so
anything but 0 is a bug).

`--synthetic EDGES` runs the same comparison on a jittered grid of about
that many directed edges instead, with seeded random inbound weights for
the risk kind: a graph near the driver cutover (`DRIVER_SSSP_MAX_EDGES`).

Usage:
    python scripts/measure_route_kernel.py [--seeds 1 7919] [--pairs 200]
    python scripts/measure_route_kernel.py --synthetic 2000000 --pairs 10
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import gen  # noqa: E402

from eve_graph_spark.operators import graph as G  # noqa: E402


def universe_adjacencies(seed: int) -> tuple[dict[str, G.Adjacency], list[tuple[int, int]]]:
    u = gen.universe(seed)
    kills, jumps = (dict(rows) for rows in gen.activity(seed, u.system_ids))
    tk, tj = sum(kills.values()), sum(jumps.values())
    base = tk / tj if tj > 0 else 0.01

    def risk(sid: int) -> float:  # risk_expr: kills²/jumps + baseline
        k, j = kills[sid], jumps[sid]
        return (float(k) * k / j if j > 0 else float(k) * k) + base

    src = [a for a, b in u.gate_pairs] + [b for a, b in u.gate_pairs]
    dst = [b for a, b in u.gate_pairs] + [a for a, b in u.gate_pairs]
    adjs = {"shortest": G.Adjacency.from_edges(src, dst, [1.0] * len(src)),
            "safest": G.Adjacency.from_edges(src, dst, [risk(v) for v in dst])}
    id_of = dict(zip(u.names, u.system_ids))
    pairs = [(id_of[a], id_of[b]) for a, b in gen.route_pairs(seed, u, 4096)]
    return adjs, pairs


def synthetic_adjacencies(n_edges: int, seed: int) -> tuple[dict[str, G.Adjacency], list[tuple[int, int]]]:
    """A side × side grid, 4-neighbour links both ways (~4·side² edges)."""
    side = max(2, int((n_edges / 4) ** 0.5))
    rng = np.random.default_rng(seed)
    ids = np.arange(side * side).reshape(side, side)
    right = np.stack([ids[:, :-1].ravel(), ids[:, 1:].ravel()])
    down = np.stack([ids[:-1, :].ravel(), ids[1:, :].ravel()])
    links = np.concatenate([right, down], axis=1)
    src = np.concatenate([links[0], links[1]]).tolist()
    dst = np.concatenate([links[1], links[0]]).tolist()
    inbound = (rng.integers(0, 40, side * side) ** 2 / 50.0 + 0.1).tolist()
    adjs = {"shortest": G.Adjacency.from_edges(src, dst, [1.0] * len(src)),
            "safest": G.Adjacency.from_edges(src, dst, [inbound[v] for v in dst])}
    pairs = [tuple(int(x) for x in rng.choice(side * side, 2, replace=False)) for _ in range(4096)]
    return adjs, pairs


def settled(adj: G.Adjacency, s: int, t: int, table) -> int:
    """Nodes expanded over every kernel run of one route."""
    total = 0
    kernel = G._dijkstra

    def counted(*a, **k):
        nonlocal total
        stats: dict = {}
        tree = kernel(*a, **k, stats_out=stats)
        total += stats["expansions"]
        return tree

    G._dijkstra = counted
    try:
        G.route_local(adj, s, t, None, table)
    finally:
        G._dijkstra = kernel
    return total


def measure(label: str, adjs: dict[str, G.Adjacency], pairs: list[tuple[int, int]]) -> None:
    for kind, adj in adjs.items():
        t0 = time.perf_counter()
        table = G.landmark_table(adj)
        build_ms = (time.perf_counter() - t0) * 1e3
        ms: dict[str, list[float]] = {"plain": [], "bounded": []}
        paths: dict[str, list[list[int]]] = {"plain": [], "bounded": []}
        for s, t in pairs:
            for arm, tab in (("plain", None), ("bounded", table)):
                t0 = time.perf_counter()
                paths[arm].append(G.route_local(adj, s, t, None, tab))
                ms[arm].append((time.perf_counter() - t0) * 1e3)
        nodes = {arm: statistics.median(settled(adj, s, t, tab) for s, t in pairs)
                 for arm, tab in (("plain", None), ("bounded", table))}
        differ = sum(a != b for a, b in zip(paths["plain"], paths["bounded"]))
        saved = statistics.mean(ms["plain"]) - statistics.mean(ms["bounded"])
        even = f"{build_ms / saved:.0f} routes" if saved > 0 else "never"
        print(f"{label} {kind:8s} pairs={len(pairs)} "
              f"p50 {statistics.median(ms['plain']):.2f} -> {statistics.median(ms['bounded']):.2f} ms  "
              f"max {max(ms['plain']):.1f} -> {max(ms['bounded']):.1f} ms  "
              f"settled p50 {nodes['plain']:.0f} -> {nodes['bounded']:.0f}  "
              f"table {build_ms:.0f} ms  break-even {even}  differ {differ}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 7919])
    ap.add_argument("--pairs", type=int, default=200)
    ap.add_argument("--synthetic", type=int, metavar="EDGES",
                    help="measure a grid of about EDGES directed edges instead")
    args = ap.parse_args()
    if args.synthetic:
        adjs, pairs = synthetic_adjacencies(args.synthetic, args.seeds[0])
        n_edges = sum(len(o) for o in adjs["shortest"].out)
        measure(f"grid edges={n_edges} nodes={len(adjs['shortest'].ids)}", adjs, pairs[: args.pairs])
        return
    for seed in args.seeds:
        adjs, pairs = universe_adjacencies(seed)
        measure(f"seed={seed}", adjs, pairs[: args.pairs])


if __name__ == "__main__":
    main()
