"""Round-8 operators: deterministic random walks + chokepoint analysis
(articulation points / bridges via exclusion-BFS).

Contracts under test:
- the portable-hash walk is a VALID walk (every consecutive pair is an
  edge) and the distributed frontier loop is bit-identical to the driver
  replay;
- the chokepoint fixture's provable structure holds: exactly the 5 region
  hubs articulate, exactly the 16 pure-leaf gates are bridges;
- the full fixture graph (Hamiltonian ring) is 2-connected: no
  articulation points, no bridges — the degenerate case stays degenerate;
- exclusion scenarios run as ONE keyed frontier loop (supersteps bounded
  by diameter, not |V|·diameter).
"""

from __future__ import annotations

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F

from eve_graph_spark.operators.graph_analytics import (
    articulation_points,
    bridges,
    random_walks,
)
from eve_graph_spark.sources.graph_fixture import (
    build_choke_edges,
    build_jumps,
    build_systems,
)

# The driver's synthetic nation table assigns region = nationkey % 5, so
# region hubs (min key per region) are 0..4. Wormhole (2,17) coincides with
# 17's leaf gate (17 % 5 == 2) and adds nothing after dedup; wormhole (5,21)
# creates the single cycle 5-0-1-21-5 — its 4 edges are the only non-bridges.
HUBS = {0, 1, 2, 3, 4}
CYCLE_EDGES = {(0, 1), (0, 5), (1, 21), (5, 21)}


@pytest.fixture(scope="module")
def choke(spark, sf_dir):
    return build_choke_edges(spark, sf_dir)


@pytest.fixture(scope="module")
def jumps(spark, sf_dir):
    return build_jumps(spark, sf_dir)


# --- chokepoint semantics -----------------------------------------------------

def test_articulation_points_are_exactly_the_hubs(choke):
    rows = articulation_points(choke, src_col="src", dst_col="dst").collect()
    assert len(rows) == 25
    arts = {r["node"] for r in rows if r["is_articulation"] == 1}
    assert arts == HUBS
    # a non-articulation removal keeps everyone else reachable: n-1 = 24
    for r in rows:
        assert r["reached"] == 24 if r["is_articulation"] == 0 else r["reached"] < 24


def test_bridges_are_everything_off_the_wormhole_cycle(choke):
    rows = bridges(choke, src_col="src", dst_col="dst").collect()
    got = {(r["src"], r["dst"]) for r in rows if r["is_bridge"] == 1}
    all_pairs = {
        (min(a, b), max(a, b))
        for a, b in [(r["src"], r["dst"]) for r in choke.collect()]
    }
    assert got == all_pairs - CYCLE_EDGES
    assert len(all_pairs) == 25 and len(got) == 21
    # independent brute-force check: python BFS over G-e per edge
    adj: dict[int, set[int]] = {}
    for a, b in all_pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    for a, b in all_pairs:
        seen, stack = {0}, [0]
        while stack:
            u = stack.pop()
            for v in adj[u]:
                if (u, v) in ((a, b), (b, a)) or v in seen:
                    continue
                seen.add(v)
                stack.append(v)
        assert (len(seen) < n) == ((a, b) in got), (a, b)


def test_full_ring_graph_is_two_connected(jumps):
    """The Hamiltonian ring makes the full fixture 2-connected: removing
    any single system or gate cannot disconnect it."""
    ap = articulation_points(jumps).collect()
    assert all(r["is_articulation"] == 0 for r in ap)
    br = bridges(jumps).collect()
    assert all(r["is_bridge"] == 0 for r in br)


# --- driver vs distributed parity ----------------------------------------------

def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_articulation_distributed_matches_driver(choke):
    drv = articulation_points(choke, src_col="src", dst_col="dst")
    with forced_distributed():
        dist = articulation_points(choke, src_col="src", dst_col="dst")
    assert _sorted_rows(drv) == _sorted_rows(dist)


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_bridges_distributed_matches_driver(choke):
    drv = bridges(choke, src_col="src", dst_col="dst")
    with forced_distributed():
        dist = bridges(choke, src_col="src", dst_col="dst")
    assert _sorted_rows(drv) == _sorted_rows(dist)


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_random_walks_distributed_matches_driver(jumps, spark, sf_dir):
    nodes = build_systems(spark, sf_dir).select("system_id")
    drv = random_walks(jumps, walks_per_node=2, steps=4, nodes=nodes)
    with forced_distributed():
        dist = random_walks(
            jumps, walks_per_node=2, steps=4, nodes=nodes
        )
    assert _sorted_rows(drv) == _sorted_rows(dist)


# --- walk validity --------------------------------------------------------------

def test_random_walks_are_valid_walks(jumps, spark, sf_dir):
    nodes = build_systems(spark, sf_dir).select("system_id")
    walks = random_walks(jumps, walks_per_node=2, steps=4, nodes=nodes)
    rows = walks.collect()
    edge_set = {(r["src_system_id"], r["dst_system_id"]) for r in jumps.collect()}
    by_walk: dict[int, dict[int, int]] = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    # 25 systems x 2 walks, every node has out-edges -> full-length walks
    assert len(by_walk) == 50
    for wid, steps in by_walk.items():
        assert sorted(steps) == [0, 1, 2, 3, 4]
        assert steps[0] == wid // 2  # walk starts at its seed system
        for i in range(4):
            assert (steps[i], steps[i + 1]) in edge_set, (wid, i)


def test_random_walks_diverge_across_replicates(jumps, spark, sf_dir):
    """walk_id mixes into the score, so the two walks from the same seed
    should not be identical for EVERY seed (expected: most diverge)."""
    nodes = build_systems(spark, sf_dir).select("system_id")
    rows = random_walks(jumps, walks_per_node=2, steps=4, nodes=nodes).collect()
    by_walk: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: (r["walk_id"], r["step"])):
        by_walk.setdefault(r["walk_id"], []).append(r["node"])
    diverged = sum(
        1 for seed in range(25) if by_walk[seed * 2] != by_walk[seed * 2 + 1]
    )
    assert diverged >= 20


def test_random_walks_stop_at_sinks(spark):
    """A node with no out-edges ends the walk early (shorter row set, no
    nulls, no self-loops invented)."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3)], "src_system_id long, dst_system_id long"
    )
    rows = random_walks(e, walks_per_node=1, steps=4).collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    # node 3 is a sink: its walk is just step 0; node 2 reaches 3 then stops
    assert set(by_walk[3]) == {0}
    assert by_walk[2] == {0: 2, 1: 3}
    assert by_walk[1] == {0: 1, 1: 2, 2: 3}
    # distributed path agrees on the ragged shape
    with forced_distributed():
        dist = random_walks(e, walks_per_node=1, steps=4).collect()
    assert sorted(tuple(r) for r in dist) == sorted(tuple(r) for r in rows)


def test_exclusion_bfs_superstep_bound(choke):
    """All 25 exclusion scenarios ride one frontier loop: the iteration
    count is bounded by the worst-case G-v diameter (+1 fixpoint probe),
    NOT 25x anything. The choke graph's diameter is ~6 (leaf-hub-chain-
    hub-leaf); removing a chain hub forces the wormhole detour, ~9."""
    from unittest.mock import patch

    from eve_graph_spark.operators import graph_analytics as ga

    calls = {"n": 0}
    orig = ga._frontier_loop

    def counting(*args, **kwargs):
        run = orig(*args, **kwargs)
        calls["n"] = run.rounds
        return run

    with patch.object(ga, "_frontier_loop", side_effect=counting) as m:
        with forced_distributed():
            articulation_points(
                choke, src_col="src", dst_col="dst"
            ).collect()
        assert m.called
    assert calls["n"] <= 14


# --- k-means --------------------------------------------------------------------

@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_kmeans_assignment_is_argmin_and_lloyd_monotone(spark, sf_dir):
    """Independent numpy replay: (a) every point's cluster is the true
    argmin distance to the iteration-2 centroids (ties to lowest index);
    (b) Lloyd's SSE is non-increasing from the 1-iteration to the
    2-iteration assignment."""
    import numpy as np

    from eve_graph_spark.operators.clustering import KM_FP, kmeans_assign
    from eve_graph_spark.sources.tables import load_table, spread

    emb = spread(load_table(spark, sf_dir, "embeddings")).filter(
        (F.size("embedding") == 64)
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.floor(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * KM_FP + 0.5
    ).astype(np.int64)

    def replay(iters):
        order = np.argsort(ids)
        init_idx = order[:4]
        cents = {c: X[i].copy() for c, i in enumerate(init_idx)}
        assign = None
        for it in range(iters):
            ks = sorted(cents)
            D = np.stack([((X - cents[c]) ** 2).sum(axis=1) for c in ks], axis=1)
            enc = D * 4 + np.array(ks)
            assign = np.array(ks)[enc.argmin(axis=1)]
            if it == iters - 1:
                break
            new = {}
            for c in ks:
                m = assign == c
                if m.any():
                    n = m.sum()
                    new[c] = np.floor((2.0 * X[m].sum(axis=0) + n) / (2.0 * n)).astype(
                        np.int64
                    )
            cents = new
        return assign, cents

    got = {
        r["id"]: r["cluster"]
        for r in kmeans_assign(emb, k=4, iterations=2).collect()
    }
    a2, cents2 = replay(2)
    assert got == {int(i): int(c) for i, c in zip(ids, a2)}
    assert len(set(got.values())) == 4  # no cluster collapsed on the fixture

    def sse(assign, cents):
        return sum(
            float(((X[i] - cents[c]) ** 2).sum()) for i, c in enumerate(assign) if c in cents
        )

    a1, cents1 = replay(1)
    # SSE against each run's own final centroids: Lloyd's never increases it
    assert sse(a2, cents2) <= sse(a1, cents1) + 1e-6


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_kmeans_drops_null_and_short_vectors(spark):
    from eve_graph_spark.operators.clustering import kmeans_assign

    df = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] * 64), (3, None), (4, [1.0] * 8),
         (5, [0.5] * 64), (6, [0.9] * 64)],
        "vec_id long, embedding array<double>",
    )
    out = kmeans_assign(df, k=2, iterations=2).collect()
    assert {r["id"] for r in out} == {1, 2, 5, 6}
    by_id = {r["id"]: r["cluster"] for r in out}
    assert by_id[1] == by_id[5] != by_id[2] == by_id[6]


def test_kmeans_single_surviving_centroid(spark):
    """All-identical-vector corpus: every point lands in cluster 0 after the
    first update, so clusters 1..k-1 drop out and the assign expression must
    not require >= 2 score columns (r8 advice: F.least WRONG_NUM_COLUMNS)."""
    from eve_graph_spark.operators.clustering import kmeans_assign

    df = spark.createDataFrame(
        [(i, [1.5] * 64) for i in range(1, 6)], "vec_id long, embedding array<double>"
    )
    out = kmeans_assign(df, k=2, iterations=2).collect()
    assert len(out) == 5
    assert all(r["cluster"] == 0 for r in out)


def test_kmeans_fewer_vectors_than_k(spark):
    from eve_graph_spark.operators.clustering import kmeans_assign

    df = spark.createDataFrame(
        [(1, [0.25] * 64)], "vec_id long, embedding array<double>"
    )
    out = kmeans_assign(df, k=3, iterations=2).collect()
    assert [(r["id"], r["cluster"]) for r in out] == [(1, 0)]


def test_kmeans_empty_corpus(spark):
    from eve_graph_spark.operators.clustering import kmeans_assign

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kmeans_assign(df, k=2, iterations=2).count() == 0


def test_kmeans_rejects_duplicate_ids(spark):
    import pytest

    from eve_graph_spark.operators.clustering import kmeans_fit

    df = spark.createDataFrame(
        [(1, [0.0] * 64), (1, [1.0] * 64), (2, [0.5] * 64)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="unique"):
        kmeans_fit(df, k=2, iterations=2)
    # opt-out path still runs (caller takes responsibility)
    cents = kmeans_fit(df, k=2, iterations=2, check_unique_ids=False)
    assert len(cents) >= 1


# --- scalar quantization ---------------------------------------------------------

def test_quantization_codes_and_error_bound(spark, sf_dir):
    """numpy replay of the affine code formula + the analytic error bound:
    per-dim |err| <= scale/2 (+ float slack), so MSE <= mean(scale^2)/4."""
    import numpy as np

    from eve_graph_spark.operators.quantization import (
        Q_LEVELS,
        dim_stats,
        quantization_report,
    )
    from eve_graph_spark.sources.tables import load_table, spread

    emb = spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.size("embedding") == 64
    )
    stats = dim_stats(emb)
    mn = np.array([s[0] for s in stats])
    scale = np.array([(s[1] - s[0]) / Q_LEVELS for s in stats])
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        q = np.floor((X - mn) / scale + 0.5)
    q = np.where(scale == 0, 0, np.clip(q, 0, Q_LEVELS)).astype(np.int64)
    want_checksum = {
        int(r["vec_id"]): int((q[i] * np.arange(1, 65)).sum()) for i, r in enumerate(rows)
    }

    got = {r["id"]: r for r in quantization_report(emb).collect()}
    assert {k: v["code_checksum"] for k, v in got.items()} == want_checksum
    bound = float((scale ** 2).mean()) / 4 + 1e-9
    assert all(0.0 <= v["mse"] <= bound for v in got.values())


def test_quantization_constant_dim_guard(spark):
    from eve_graph_spark.operators.quantization import quantization_report

    df = spark.createDataFrame(
        [(1, [2.5] * 64), (2, [2.5] * 64)], "vec_id long, embedding array<double>"
    )
    out = quantization_report(df).collect()
    # every dimension constant: scale 0 -> all codes 0, zero error
    assert all(r["code_checksum"] == 0 and r["mse"] == 0.0 for r in out)


# --- node2vec (second-order) walks ------------------------------------------------

@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_node2vec_distributed_matches_driver(jumps, spark, sf_dir):
    from eve_graph_spark.operators.graph_analytics import node2vec_walks

    nodes = build_systems(spark, sf_dir).select("system_id")
    kw = dict(walks_per_node=2, steps=4, return_mult=4, inout_mult=2, nodes=nodes)
    drv = node2vec_walks(jumps, **kw)
    with forced_distributed():
        dist = node2vec_walks(jumps, **kw)
    assert _sorted_rows(drv) == _sorted_rows(dist)


def test_node2vec_return_bias_suppresses_backtracking(jumps, spark, sf_dir):
    """With a huge return multiplier, a walker never immediately backtracks
    when any alternative exists (fixture: every node has degree >= 2)."""
    from eve_graph_spark.operators.graph_analytics import node2vec_walks

    nodes = build_systems(spark, sf_dir).select("system_id")
    rows = node2vec_walks(
        jumps, walks_per_node=2, steps=4, return_mult=10**6, inout_mult=1,
        nodes=nodes,
    ).collect()
    by_walk: dict[int, dict[int, int]] = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    for wid, steps in by_walk.items():
        seq = [steps[i] for i in sorted(steps)]
        for i in range(2, len(seq)):
            assert seq[i] != seq[i - 2], (wid, seq)


def test_node2vec_unit_multipliers_equal_random_walks(jumps, spark, sf_dir):
    """p = q = 1 collapses the second-order walk to the first-order one."""
    from eve_graph_spark.operators.graph_analytics import node2vec_walks, random_walks

    nodes = build_systems(spark, sf_dir).select("system_id")
    nv = node2vec_walks(jumps, walks_per_node=2, steps=4, return_mult=1,
                        inout_mult=1, nodes=nodes)
    rw = random_walks(jumps, walks_per_node=2, steps=4, nodes=nodes)
    assert _sorted_rows(nv) == _sorted_rows(rw)


def test_node2vec_walks_are_valid(jumps, spark, sf_dir):
    from eve_graph_spark.operators.graph_analytics import node2vec_walks

    nodes = build_systems(spark, sf_dir).select("system_id")
    rows = node2vec_walks(jumps, walks_per_node=2, steps=4, nodes=nodes).collect()
    edge_set = {(r["src_system_id"], r["dst_system_id"]) for r in jumps.collect()}
    by_walk: dict[int, dict[int, int]] = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    assert len(by_walk) == 50
    for wid, steps in by_walk.items():
        assert sorted(steps) == [0, 1, 2, 3, 4]
        for i in range(4):
            assert (steps[i], steps[i + 1]) in edge_set, (wid, i)


# --- robustness curve + diameter ---------------------------------------------------

def test_risk_robustness_percolation_cliff(spark, sf_dir):
    from eve_graph_spark.queries import queries as registry

    rows = {r["removed"]: r["reachable"]
            for r in registry()["risk_robustness"](spark, sf_dir).collect()}
    assert rows[0] == 25
    for k in range(6):
        assert rows[k] == 25 - k  # leaves fall one by one
    assert rows[6] == 6  # hub 1 falls: region stranded, wormhole saves 21


def test_diameter_estimate_is_tight_here(spark, sf_dir):
    """Double sweep is a lower bound by construction; on this fixture it
    equals the true diameter (python all-pairs BFS check)."""
    from eve_graph_spark.queries import queries as registry
    from eve_graph_spark.sources.graph_fixture import build_choke_edges

    est = registry()["graph_diameter_estimate"](spark, sf_dir).collect()[0]
    adj: dict[int, set[int]] = {}
    for r in build_choke_edges(spark, sf_dir).collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    def ecc(s):
        d = {s: 0}
        q = [s]
        while q:
            u = q.pop(0)
            for v in adj[u]:
                if v not in d:
                    d[v] = d[u] + 1
                    q.append(v)
        return max(d.values())
    true_diam = max(ecc(s) for s in adj)
    assert est["diameter_lb"] <= true_diam
    assert est["diameter_lb"] == true_diam == 6
    assert est["ecc_start"] == ecc(0) == 5
