"""Scale smoke: the distributed Pregel paths on a 200k-edge graph.

The unit tests exercise the distributed loops on toy graphs; this proves
they hold up (converge, stay correct, don't blow lineage) at a size where
the iteration count and shuffle volume are real — and pins them against
the driver-local fast path, which is the bit-identical reference.
"""

from __future__ import annotations

import pytest
from conftest import forced_distributed
# slow tier: 200k-edge distributed Pregel stress — deselected from the driver-window default run
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from eve_graph_spark.operators.graph import sssp
from eve_graph_spark.operators.graph_analytics import connected_components

N_NODES, N_EDGES = 50_000, 200_000


def _random_graph(spark):
    # deterministic hash-derived edge list (no rand(): reproducible)
    return (
        spark.range(N_EDGES)
        .select(
            F.abs(F.xxhash64("id") % N_NODES).alias("src"),
            F.abs(F.xxhash64("id", F.lit(1)) % N_NODES).alias("dst"),
        )
        .withColumn("w", F.lit(1.0))
    )


def test_distributed_sssp_matches_local_at_200k_edges(spark):
    e = _random_graph(spark)
    local = {r["node"]: r["dist"] for r in sssp(e, [0], weight_col="w",
                                                src_col="src", dst_col="dst").collect()}
    with forced_distributed():
        dist = {r["node"]: r["dist"] for r in sssp(e, [0], weight_col="w", src_col="src",
                                                   dst_col="dst").collect()}
    assert dist == local
    assert len(dist) > N_NODES * 0.9  # giant component reached


def test_sssp_long_diameter_lineage_truncation(spark):
    """~50-hop diameter forces ~50 Pregel supersteps: the accumulated dist
    table must be localCheckpointed on schedule so the final plan stays
    bounded (no 50-join lineage tower), and the pred chain must walk the
    exact path back to the source."""
    hops = 50
    e = spark.range(hops).select(
        F.col("id").alias("src"),
        (F.col("id") + 1).alias("dst"),
        F.lit(1.0).alias("w"),
    )
    stats: dict = {}
    with forced_distributed():
        out = sssp(e, [0], weight_col="w", src_col="src", dst_col="dst", stats_out=stats)
    rows = {r["node"]: (r["dist"], r["pred"]) for r in out.collect()}
    assert len(rows) == hops + 1
    assert all(rows[i][0] == float(i) for i in range(hops + 1))
    # pred chain reconstructs the unique path
    node, path = hops, []
    while node != 0:
        path.append(node)
        node = rows[node][1]
    assert path == list(range(hops, 0, -1))
    # one superstep per hop, +1 empty-frontier round to detect convergence
    assert stats["iterations"] == hops + 1
    # lineage truncation engaged on schedule: every 5th superstep
    assert stats["dist_checkpoints"] == (hops + 1) // 5
    # and the final plan is flat because of it: a lineage tower of ~50
    # joins would print thousands of lines here
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan.splitlines()) < 60, f"unbounded lineage:\n{plan[:2000]}"


def test_multi_source_sssp_one_loop_at_200k_edges(spark):
    """Landmark-path scale contract (r5 verdict item 1): k landmark sweeps
    run as ONE (source, node)-keyed frontier loop — per-source dists
    bit-identical to k sequential sssp() runs, and the superstep count
    bounded by the max single-sweep count (diameter), NOT k-proportional."""
    from eve_graph_spark.operators.graph import multi_source_sssp

    e = _random_graph(spark)
    sources = [0, 1, 2, 3]
    singles: dict[tuple[int, int], float] = {}
    max_single_iters = 0
    for s in sources:
        st: dict = {}
        with forced_distributed():
            d = sssp(e, [s], weight_col="w", src_col="src", dst_col="dst", stats_out=st)
        singles.update({(s, r["node"]): r["dist"] for r in d.collect()})
        max_single_iters = max(max_single_iters, st["iterations"])
    ms: dict = {}
    with forced_distributed():
        got = {
            (r["source"], r["node"]): r["dist"]
            for r in multi_source_sssp(
                e, sources, weight_col="w", src_col="src", dst_col="dst", stats_out=ms,
            ).collect()
        }
    assert got == singles
    # ONE loop: iterations = max over sources (+0; the empty-frontier
    # detection round is shared), vs sum-over-sources for sequential sweeps
    assert ms["iterations"] <= max_single_iters


def test_distributed_components_match_local_at_200k_edges(spark):
    e = _random_graph(spark)
    sym = e.select("src", "dst").unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    local = {r["node"]: r["component"] for r in
             connected_components(sym, src_col="src", dst_col="dst").collect()}
    with forced_distributed():
        dist = {r["node"]: r["component"] for r in
                connected_components(sym, src_col="src", dst_col="dst").collect()}
    assert dist == local


def test_distributed_sampled_betweenness_at_200k_edges(spark):
    """Round-6 betweenness: the distributed forward (bfs_sigma) +
    backward (dependency accumulation) loops on the 200k-edge graph with
    4 sampled sources, pinned against driver-local Brandes over the SAME
    hash-chosen sources. Dependency ratios are non-integer, so agreement
    is to float rounding (everything integer-valued — dist, sigma — is
    pinned bit-identical by the unit tests)."""
    from eve_graph_spark.operators.graph_analytics import betweenness_centrality

    e = _random_graph(spark).select("src", "dst")
    local = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(
            e, src_col="src", dst_col="dst", sample_sources=4
        ).collect()
    }
    with forced_distributed():
        dist = {
            r["node"]: r["betweenness"]
            for r in betweenness_centrality(
                e, src_col="src", dst_col="dst", sample_sources=4
            ).collect()
        }
    assert set(dist) == set(local)
    mism = [
        v for v in local
        if abs(dist[v] - local[v]) > 1e-6 * max(1.0, abs(local[v]))
    ]
    assert not mism, f"{len(mism)} nodes diverge, e.g. {mism[:3]}"
    assert sum(local.values()) > 0  # sampling actually accumulated mass


def test_star_components_match_local_at_200k_edges(spark):
    e = _random_graph(spark)
    sym = e.select("src", "dst").unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    local = {r["node"]: r["component"] for r in
             connected_components(sym, src_col="src", dst_col="dst").collect()}
    st: dict = {}
    with forced_distributed():
        star = {r["node"]: r["component"] for r in
                connected_components(sym, src_col="src", dst_col="dst", algorithm="star",
                                     stats_out=st).collect()}
    assert star == local
    assert st["iterations"] <= 10, st  # O(log n) rounds, not O(diameter)


def test_distributed_random_walks_at_200k_edges(spark):
    """Walk sampling on the 200k-edge graph: the (walk_id, node) frontier
    stays one row per live walk across steps, every emitted hop is a real
    edge (sampled), and the driver replay agrees on a node subset."""
    from eve_graph_spark.operators.graph_analytics import random_walks

    e = _random_graph(spark)
    nodes = spark.range(500).select((F.col("id") * 97 % N_NODES).alias("node")).distinct()
    with forced_distributed():
        walks = random_walks(
            e, walks_per_node=2, steps=3, nodes=nodes,
            src_col="src", dst_col="dst",
        ).persist()
    n_seeds = nodes.count()
    by_step = {r["step"]: r["n"] for r in
               walks.groupBy("step").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_step[0] == n_seeds * 2
    # frontier only shrinks (sinks end walks), never grows
    assert by_step[0] >= by_step.get(1, 0) >= by_step.get(2, 0) >= by_step.get(3, 0)
    # emitted hops are real edges: check all step-1 transitions
    hops = (
        walks.filter(F.col("step") == 0).select("walk_id", F.col("node").alias("a"))
        .join(walks.filter(F.col("step") == 1).select("walk_id", F.col("node").alias("b")),
              "walk_id")
    )
    bad = hops.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")).distinct(),
        ["a", "b"], "left_anti",
    ).count()
    assert bad == 0
    # driver replay parity on the same seed set
    local = random_walks(e, walks_per_node=2, steps=3, nodes=nodes,
                         src_col="src", dst_col="dst")
    assert sorted(map(tuple, walks.collect())) == sorted(map(tuple, local.collect()))
    walks.unpersist()


def test_distributed_kmeans_at_200k_vectors(spark):
    """Lloyd's over 200k synthetic 16-dim vectors: assignment is total
    (every row gets a cluster), all k clusters survive on a spread-out
    corpus, and the plan never collects the corpus (only k*dim centroid
    cells come back per iteration)."""
    from eve_graph_spark.operators.clustering import kmeans_assign

    n, dim, k = 200_000, 16, 8
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.abs(F.xxhash64("id", i)) % 1000).cast("double") / 100.0,
        ).alias("embedding"),
    )
    out = kmeans_assign(vecs, k=k, iterations=2, dim=dim).persist()
    assert out.count() == n
    sizes = {r["cluster"]: r["n"] for r in
             out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(sizes) == k and sum(sizes.values()) == n
    out.unpersist()


def test_distributed_louvain_at_200k_edges(spark):
    """Louvain's distributed rounds at 200k edges: the parity-gated moves
    must converge to a stable partition whose modularity beats the
    singleton baseline (0), and labels must cover every node."""
    from eve_graph_spark.operators.graph_analytics import community_metrics, louvain

    e = _random_graph(spark)
    with forced_distributed():
        labels = louvain(e, rounds=2, src_col="src", dst_col="dst")
    n_nodes = (
        e.select(F.col("src").alias("n")).union(e.select(F.col("dst").alias("n")))
        .filter(F.col("n").isNotNull()).distinct().count()
    )
    assert labels.count() == n_nodes
    mod = community_metrics(e, labels, src_col="src", dst_col="dst").agg(
        F.sum("modularity_fp")
    ).collect()[0][0]
    assert mod > 0  # better than the one-blob/singleton degenerate cases


def test_distributed_mst_at_200k_edges(spark):
    """Boruvka at 200k edges: the forest must have exactly
    (nodes - components) edges and be cycle-free — verified by running
    connected_components over the forest itself."""
    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    e = _random_graph(spark).withColumn(
        "w", (F.abs(F.xxhash64("src", "dst")) % 1_000_000).cast("double") / 1_000.0
    )
    with forced_distributed():
        forest = minimum_spanning_forest(
            e, weight_col="w", src_col="src", dst_col="dst"
        ).localCheckpoint(eager=True)
    n_forest = forest.count()
    nodes = (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("n")).union(e.filter(F.col("src") != F.col("dst")).select(F.col("dst").alias("n")))
        .distinct().count()
    )
    with forced_distributed():
        comps = connected_components(
            e.filter(F.col("src") != F.col("dst")), src_col="src", dst_col="dst",
        ).select("component").distinct().count()
    assert n_forest == nodes - comps  # spanning forest edge count
    # acyclic: a forest with k edges spans exactly k + (#tree components)
    # nodes; CC over the forest must reproduce the same component count
    f_nodes = (
        forest.select(F.col("src").alias("n")).union(forest.select(F.col("dst").alias("n")))
        .distinct().count()
    )
    # connected_components assumes symmetric input; the forest is canonical
    # (src<dst only), so union the flipped edges first
    forest_sym = forest.select("src", "dst").union(
        forest.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with forced_distributed():
        f_comps = connected_components(
            forest_sym, src_col="src", dst_col="dst"
        ).select("component").distinct().count()
    assert n_forest == f_nodes - f_comps


def test_distributed_dag_longest_path_at_200k_edges(spark):
    """Max-plus DAG supersteps at 200k edges (low-id -> high-id DAG):
    distributed fixpoint equals the driver Kahn DP bit-for-bit."""
    from eve_graph_spark.operators.graph_analytics import dag_longest_paths

    e = (
        _random_graph(spark)
        .filter(F.col("src") < F.col("dst"))
        .withColumn("w", (F.abs(F.xxhash64("src", "dst")) % 1000).cast("double"))
    )
    loc = {r["node"]: (r["topo_level"], r["longest_dist_fp"])
           for r in dag_longest_paths(e, weight_col="w", src_col="src",
                                      dst_col="dst").collect()}
    with forced_distributed():
        dist = {r["node"]: (r["topo_level"], r["longest_dist_fp"])
                for r in dag_longest_paths(e, weight_col="w", src_col="src", dst_col="dst",
                                           max_iterations=128).collect()}
    assert dist == loc


def test_distributed_eigenvector_at_200k_edges(spark):
    """Power iteration at 200k edges: bit parity vs the driver twin (the
    norm broadcast + fixed-point sums must hold at real shuffle sizes)."""
    from eve_graph_spark.operators.graph_analytics import eigenvector_centrality

    e = _random_graph(spark)
    loc = {r["node"]: r["score"]
           for r in eigenvector_centrality(e, iterations=2,
                                           src_col="src", dst_col="dst").collect()}
    with forced_distributed():
        dist = {r["node"]: r["score"]
                for r in eigenvector_centrality(e, iterations=2, src_col="src",
                                                dst_col="dst").collect()}
    assert dist == loc


def test_distributed_k1_coloring_at_60k_edges(spark):
    """Jones-Plassmann at 60k edges: the hash-priority schedule must
    finish within the round budget and produce a PROPER coloring —
    verified by joining colors back onto the edge list."""
    from eve_graph_spark.operators.graph_analytics import k1_coloring

    # 60k edges / 15k nodes: the longest decreasing-priority path sets the
    # round count (~log n with random priorities, observed ~25-30 at this
    # size) — the budget must clear it with margin, or the operator raises
    e = (
        spark.range(60_000)
        .select(
            F.abs(F.xxhash64("id") % 15_000).alias("src"),
            F.abs(F.xxhash64("id", F.lit(1)) % 15_000).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    with forced_distributed():
        colors = k1_coloring(e, max_rounds=48, src_col="src",
                             dst_col="dst").localCheckpoint(eager=True)
    bad = (
        e.join(colors.withColumnRenamed("node", "src").withColumnRenamed("color", "cs"), "src")
        .join(colors.withColumnRenamed("node", "dst").withColumnRenamed("color", "cd"), "dst")
        .filter(F.col("cs") == F.col("cd"))
        .count()
    )
    assert bad == 0
    n_nodes = (
        e.select(F.col("src").alias("n")).union(e.select(F.col("dst").alias("n")))
        .distinct().count()
    )
    assert colors.count() == n_nodes


def test_distributed_fastrp_at_200k_edges(spark):
    """FastRP at 200k edges: distributed equals the driver twin
    bit-for-bit, embeddings are unit-norm (or zero)."""
    from eve_graph_spark.operators.graph_analytics import fastrp_embeddings

    e = _random_graph(spark)
    with forced_distributed():
        dist = {r["node"]: tuple(r)[1:]
                for r in fastrp_embeddings(e, dim=4, iterations=2, src_col="src",
                                           dst_col="dst").collect()}
    loc = {r["node"]: tuple(r)[1:]
           for r in fastrp_embeddings(e, dim=4, iterations=2, src_col="src",
                                      dst_col="dst").collect()}
    assert dist == loc
    sample = list(dist.values())[:100]
    for vec in sample:
        s = sum(x * x for x in vec)
        assert abs(s - 1.0) < 1e-9 or s == 0.0


def test_distributed_ktruss_at_60k_edges(spark):
    """k-truss peel at 60k edges: the surviving subgraph must actually BE
    a 3-truss — every surviving edge closes >= 1 triangle within the
    surviving edge set (re-verified independently), and both code paths
    agree."""
    from eve_graph_spark.operators.graph_analytics import k_truss

    e = (
        spark.range(60_000)
        .select(
            F.abs(F.xxhash64("id") % 8_000).alias("src"),
            F.abs(F.xxhash64("id", F.lit(1)) % 8_000).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    with forced_distributed():
        truss = k_truss(e, k=3, src_col="src", dst_col="dst").localCheckpoint(eager=True)
    n = truss.count()
    assert n > 0  # dense-enough random graph keeps a triangle core
    assert truss.filter(F.col("support") < 1).count() == 0
    # independent re-check: recompute support over the surviving set
    und = truss.select("src", "dst")
    e1 = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = und.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = und.select(F.col("src").alias("ta"), F.col("dst").alias("tc"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("ta") == F.col("a")) & (F.col("tc") == F.col("c")))
        .select("a", "b", "c")
    )
    sides = (
        tri.select("a", "b")
        .union(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
        .union(tri.select("a", F.col("c").alias("b")))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("sup2"))
    )
    mismatch = (
        truss.join(sides, (truss.src == sides.a) & (truss.dst == sides.b), "left")
        .filter(F.coalesce(F.col("sup2"), F.lit(0)) != F.col("support"))
        .count()
    )
    assert mismatch == 0
