"""Skewed scale-stress for the curation operators (VERDICT r2 item 4).

Inflates sf0.1 documents ~100x to 500k docs with deliberately hostile
shape — one mega near-dup cluster (~1,000 identical docs), 5,000 exact-dup
clusters of 50, near-dup satellite variants, a mega source domain holding
~40% of the corpus, and a skewed lang distribution — then runs the four
curation queries against it exactly as the bench harness would (noop sink)
and records wall time + shuffle bytes per query from the Spark UI REST API.

This is the empirical check behind SCALE.md's skew notes: the LSH pair
blowup on dup-heavy corpora, the per-lang window straggler in domain
mixing, and the CC-membership join in survivor selection all actually get
exercised at a size where they would visibly stall if the plans regressed
to their quadratic/single-task forms.

Usage: python scripts/scale_stress.py [--rep 100] [--keep] [--only q1 q2 ...]
Prints one JSON line per query and a summary line; exits non-zero if any
query fails or exceeds its wall-time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from eve_graph_spark import queries as registry  # noqa: E402
from eve_graph_spark.sources.tables import TABLE_NAMES  # noqa: E402

SRC_DIR = "/root/testdata/sf0.1"


@contextmanager
def forced_distributed():
    """SPARK_GRAFT_FORCE_DISTRIBUTED=1 for the block: every operator
    cutover (nested calls included) takes its distributed branch."""
    old = os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED")
    os.environ["SPARK_GRAFT_FORCE_DISTRIBUTED"] = "1"
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_GRAFT_FORCE_DISTRIBUTED"]
        else:
            os.environ["SPARK_GRAFT_FORCE_DISTRIBUTED"] = old

# Generous wall-time ceilings (sec) on local[32]: an order of magnitude
# above the healthy runtime, tight enough to flag a plan regressing to a
# quadratic/single-task form (which overshoots these by >10x).
BUDGETS = {
    "repetition_stats_documents": 600,
    "domain_mix_documents": 300,
    "dedup_survivors_quality": 1200,
    "corpus_curation_pipeline": 600,
    # round-5 additions. duplicate_text_spans hits its documented worst
    # case here: the exact-dup clusters make nearly every position
    # duplicated, so the digest shuffle is O(total positions) (~28M rows
    # at rep=100) — the budget flags only a regression past that, e.g. an
    # accidental all-pairs join.
    "bloom_decontaminate": 600,
    "bm25_topk": 300,
    "duplicate_text_spans": 900,
}


def build_skewed_corpus(spark: SparkSession, out_dir: str, rep: int) -> None:
    """500k-doc corpus (at rep=100) with dup clusters + domain/lang skew.

    Deterministic (no rand()): every shape below is a pure function of
    (doc_id, rep).
    - replicas 0..49 of each base doc keep the base text → 5,000 exact-dup
      clusters of 50 members;
    - base docs where doc_id % 500 == 0 (10 of them) share ONE fixed text
      across all replicas → a single ~1,000-member identical mega cluster;
    - replicas 50..59 append a small suffix → near-dup satellites that LSH
      must still bucket with the core at threshold 0.5;
    - ~40% of rows land in source 'mega.example' and lang 'en' → the giant
      domain / giant window-partition stragglers the SCALE.md notes cover.
    """
    base = spark.read.parquet(f"{SRC_DIR}/documents.parquet")
    reps = spark.range(rep).select(F.col("id").cast("int").alias("rep"))
    inflated = (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") * rep + F.col("rep")).alias("doc_id"),
            F.when(F.col("doc_id") % 500 == 0, F.lit("mega cluster body " * 12))
            .when(F.col("rep") < 50, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" tail"), F.col("rep").cast("string")))
            .alias("text"),
            F.when(F.abs(F.xxhash64("doc_id", "rep")) % 10 < 4, F.lit("en"))
            .otherwise(F.col("lang"))
            .alias("lang"),
            F.when(F.abs(F.xxhash64("rep", "doc_id")) % 10 < 4, F.lit("mega.example"))
            .otherwise(F.col("source"))
            .alias("source"),
            F.col("n_chars"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    inflated.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def completed_stage_metrics(spark: SparkSession) -> dict[int, dict]:
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return {}
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages?status=complete") as r:
            stages = json.load(r)
    except OSError:
        return {}
    return {s["stageId"]: s for s in stages}


GRAPH_BUDGET_SEC = 1200


def graph_stress(spark: SparkSession, layers: int, width: int, budget: int) -> int:
    """Long-diameter distributed-Pregel stress (VERDICT r5 item 3).

    A "wide chain" — complete bipartite between consecutive layers —
    gives (layers-1)*width^2 edges and diameter layers-1: the regime
    where the SSSP loop's weak spots live (per-iteration job overhead,
    lineage truncation cadence, checkpoint cost), which the hash-random
    200k-edge smoke (diameter ~7) never exercises. GDS solves this
    in-memory (reference src/database.rs:491-495); the iterative loop
    must survive it with a flat final plan and one superstep per hop.

    Exact expectations (weight 1.0, source node 0 in layer 0):
    dist(node in layer l) = l; only node 0 of layer 0 is reachable;
    iterations = layers (layers-1 productive relaxations + the
    empty-frontier detection round); dist_checkpoints =
    (layers-1) // FRONTIER_TRUNCATE_EVERY (the detection round breaks
    before its checkpoint slot).
    """
    from eve_graph_spark.operators.graph import FRONTIER_TRUNCATE_EVERY, sssp

    n_edges = (layers - 1) * width * width
    e = (
        spark.range((layers - 1) * width)
        .crossJoin(spark.range(width).select(F.col("id").alias("j")))
        .select(
            F.col("id").alias("src"),
            ((F.floor(F.col("id") / width) + 1) * width + F.col("j")).alias("dst"),
            F.lit(1.0).alias("w"),
        )
    )
    stats: dict = {}
    t0 = time.time()
    with forced_distributed():
        out = sssp(e, [0], weight_col="w", src_col="src", dst_col="dst",
                   max_iterations=layers + 10, stats_out=stats)
    agg = out.groupBy((F.floor(F.col("node") / width)).alias("layer")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("dist").alias("dmin"),
        F.max("dist").alias("dmax"),
    ).collect()
    took = time.time() - t0
    plan_lines = len(out._jdf.queryExecution().optimizedPlan().toString().splitlines())

    errs = []
    by_layer = {int(r["layer"]): r for r in agg}
    if set(by_layer) != set(range(layers)):
        errs.append(f"missing layers: {sorted(set(range(layers)) - set(by_layer))[:5]}")
    for l, r in by_layer.items():
        expect_n = 1 if l == 0 else width
        if r["n"] != expect_n or r["dmin"] != float(l) or r["dmax"] != float(l):
            errs.append(f"layer {l}: n={r['n']} dmin={r['dmin']} dmax={r['dmax']}")
            break
    if stats.get("iterations") != layers:
        errs.append(f"iterations={stats.get('iterations')} expected {layers}")
    # the final (empty-frontier) round breaks before its checkpoint slot,
    # so cadence applies to the layers-1 productive supersteps before it
    if stats.get("dist_checkpoints") != (layers - 1) // FRONTIER_TRUNCATE_EVERY:
        errs.append(f"dist_checkpoints={stats.get('dist_checkpoints')} "
                    f"expected {(layers - 1) // FRONTIER_TRUNCATE_EVERY}")
    # the final plan holds at most (FRONTIER_TRUNCATE_EVERY - 1) un-truncated
    # supersteps (~20 lines each: anti-join + union per merge) on top of
    # the checkpointed base — bounded by the CADENCE, independent of
    # layers, which is exactly what lineage truncation must guarantee
    plan_budget = 60 + 20 * FRONTIER_TRUNCATE_EVERY
    if plan_lines >= plan_budget:
        errs.append(f"unbounded lineage: {plan_lines} plan lines (budget {plan_budget})")
    if took > budget:
        errs.append(f"wall {took:.0f}s over budget {budget}s")
    print(json.dumps({
        "graph": f"{layers}x{width} wide-chain", "n_edges": n_edges,
        "sec": round(took, 1), "budget_sec": budget,
        "sec_per_superstep": round(took / max(stats.get("iterations", 1), 1), 3),
        "iterations": stats.get("iterations"),
        "dist_checkpoints": stats.get("dist_checkpoints"),
        "plan_lines": plan_lines, "errs": errs,
    }))
    print(json.dumps({"result": "FAIL" if errs else "PASS", "failures": errs}))
    return 1 if errs else 0


def reliable_ckpt_stress(spark: SparkSession, layers: int, width: int,
                         budget: int) -> int:
    """Fault-tolerant-checkpoint premium (r10 verdict item 1 follow-up).

    Runs the wide-chain SSSP distributed loop twice — default
    executor-local truncation vs `enable_reliable_checkpoints` (real
    `df.checkpoint()` writes per truncation slot) — and reports the
    wall-clock premium plus the checkpoint files actually written.
    Results must be identical row-for-row: the switch changes WHERE
    materialized rounds live (executor blocks vs reliable storage), never
    what they contain. The premium is the price of surviving executor
    loss on a 1000-node cluster; the default stays local because on
    local[32] there is no executor to lose.
    """
    import os
    import tempfile

    from eve_graph_spark.checkpointing import (
        disable_reliable_checkpoints,
        enable_reliable_checkpoints,
    )
    from eve_graph_spark.operators.graph import sssp

    e = (
        spark.range((layers - 1) * width)
        .crossJoin(spark.range(width).select(F.col("id").alias("j")))
        .select(
            F.col("id").alias("src"),
            ((F.floor(F.col("id") / width) + 1) * width + F.col("j")).alias("dst"),
            F.lit(1.0).alias("w"),
        )
    )

    def run():
        t0 = time.time()
        with forced_distributed():
            out = sssp(e, [0], weight_col="w", src_col="src", dst_col="dst",
                       max_iterations=layers + 10)
        rows = sorted(map(tuple, out.collect()))
        return rows, time.time() - t0

    base_rows, base_sec = run()
    ckpt_dir = tempfile.mkdtemp(prefix="eve-reliable-ckpt-")
    try:
        enable_reliable_checkpoints(spark, ckpt_dir)
        rel_rows, rel_sec = run()
        n_files = sum(len(fs) for _, _, fs in os.walk(ckpt_dir))
    finally:
        disable_reliable_checkpoints(spark)
        shutil.rmtree(ckpt_dir, ignore_errors=True)

    errs = []
    if rel_rows != base_rows:
        errs.append("reliable-checkpoint run diverged from local run")
    if n_files == 0:
        errs.append("no checkpoint files written under the reliable dir")
    if rel_sec > budget:
        errs.append(f"wall {rel_sec:.0f}s over budget {budget}s")
    print(json.dumps({
        "graph": f"{layers}x{width} wide-chain",
        "n_edges": (layers - 1) * width * width,
        "local_sec": round(base_sec, 1),
        "reliable_sec": round(rel_sec, 1),
        "premium": round(rel_sec / max(base_sec, 1e-9), 2),
        "ckpt_files": n_files,
        "n_rows": len(base_rows),
        "errs": errs,
    }))
    print(json.dumps({"result": "FAIL" if errs else "PASS", "failures": errs}))
    return 1 if errs else 0


def lsh_megabucket_stress(spark: SparkSession, n_mega: int, cap: int | str,
                          budget: int) -> int:
    """Planted degenerate-bucket stress for BATCH LSH (r11 verdict item 6).

    `n_mega` DISTINCT docs share a long boilerplate prefix (one unique
    word each), so exact-dup pre-collapse cannot remove them and most
    land in the same LSH band buckets — the all-pairs bucket join's
    intrinsic C(B,2) blowup, which AQE's skew split can spread across
    tasks but never shrink. Measures the uncapped candidate count/wall
    against `max_bucket_size=cap` (all-pairs under the cap, sorted-id
    chain above it) and asserts the capped path (a) emits O(B) not O(B²)
    candidates, (b) stays within the wall budget, (c) still links every
    planted doc into ONE verified cluster (chain links are near-identical
    so they pass the 0.5 Jaccard verify), and (d) leaves a background
    corpus of normal docs with identical pairs under both settings.
    """
    from eve_graph_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup,
        minhash_signatures,
    )

    base = " ".join(f"boiler{i}" for i in range(60))
    mega = spark.range(n_mega).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(base + " unique"), F.col("id").cast("string")).alias("text"),
    )
    # background: unrelated docs, a handful of genuine near-dup pairs
    bg = spark.range(n_mega, n_mega + 2000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[(F.col("id") * (i + 3) % 997).cast("string") for i in range(40)],
        ).alias("text"),
    )
    docs = mega.unionByName(bg).repartition(64).localCheckpoint(eager=True)
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)

    t0 = time.time()
    n_uncapped = lsh_candidate_pairs(sigs).count()
    uncapped_sec = time.time() - t0
    t0 = time.time()
    n_capped = lsh_candidate_pairs(sigs, max_bucket_size=cap).count()
    capped_sec = time.time() - t0

    # end-to-end cluster recall through verification, capped
    t0 = time.time()
    verified = minhash_dedup(docs, threshold=0.5, max_bucket_size=cap)
    vpairs = [(r["id_a"], r["id_b"]) for r in verified.collect()]
    verify_sec = time.time() - t0
    parent = list(range(n_mega))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a_, b_ in vpairs:
        if a_ < n_mega and b_ < n_mega:
            parent[find(a_)] = find(b_)
    n_clusters = len({find(i) for i in range(n_mega)})

    errs = []
    if n_capped * 10 > n_uncapped:
        errs.append(
            f"cap did not collapse the blowup: {n_uncapped} -> {n_capped}"
        )
    if n_clusters != 1:
        errs.append(f"planted mega-cluster split into {n_clusters} components")
    if capped_sec + verify_sec > budget:
        errs.append(f"capped wall {capped_sec + verify_sec:.0f}s over budget {budget}s")
    print(json.dumps({
        "n_mega": n_mega, "cap": cap,
        "uncapped_candidates": n_uncapped, "uncapped_sec": round(uncapped_sec, 1),
        "capped_candidates": n_capped, "capped_sec": round(capped_sec, 1),
        "verified_pairs": len(vpairs), "verify_sec": round(verify_sec, 1),
        "mega_clusters_after_cap": n_clusters,
        "errs": errs,
    }))
    print(json.dumps({"result": "FAIL" if errs else "PASS", "failures": errs}))
    return 1 if errs else 0


def mst_stress(spark: SparkSession, n_nodes: int, extra_per_node: int,
               budget: int) -> int:
    """Borůvka MST at stress scale (VERDICT r9 item 3): the round-9
    distributed kernels were smoke-tested at 60k-200k edges; this runs
    `minimum_spanning_forest`'s distributed path (forced) on a
    ~2.4M-edge hash-random graph — past the 2M driver threshold, i.e. the
    regime where production would actually take this path — and asserts
    BIT-PARITY against the driver-local Kruskal twin plus the exact forest
    rank (connected graph → exactly n_nodes-1 edges).

    Graph: a ring (i, i+1 mod n) guarantees connectivity; `extra_per_node`
    hash-scattered extra edges per node make the min-pick contention real.
    Weights are hash-derived in (0, 1) with ~1e6 distinct values — the
    random-weight regime where Borůvka needs its full O(log V) rounds
    (components contract geometrically, not in one shot like uniform
    weights on a path) — and both paths read the SAME materialized edge
    frame, so parity is a pure algorithm check.
    """
    from eve_graph_spark.operators import graph_analytics
    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    ring = spark.range(n_nodes).select(
        F.col("id").alias("src"),
        ((F.col("id") + 1) % n_nodes).alias("dst"),
    )
    extra = (
        spark.range(n_nodes)
        .crossJoin(spark.range(extra_per_node).select(F.col("id").alias("j")))
        .select(
            F.col("id").alias("src"),
            ((F.col("id") * 2654435761 + (F.col("j") + 1) * 40503 + 7)
             % n_nodes).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    w = (((F.col("src") * 1000003 + F.col("dst") * 7919) % 999983) + 1) / 1000000.0
    edges = (
        ring.unionByName(extra)
        .select("src", "dst", w.cast("double").alias("risk"))
        .repartition(64)
        .localCheckpoint(eager=True)  # both paths read identical bytes
    )
    n_edges = edges.count()

    errs: list[str] = []
    before = set(completed_stage_metrics(spark))
    t0 = time.time()
    with forced_distributed():
        dist_forest = minimum_spanning_forest(
            edges, src_col="src", dst_col="dst"
        ).localCheckpoint(eager=True)
    n_forest = dist_forest.count()
    took = round(time.time() - t0, 1)
    stages = completed_stage_metrics(spark)
    shuffle_rows = sum(
        s.get("shuffleWriteRecords", 0)
        for sid, s in stages.items() if sid not in before
    )

    if n_forest != n_nodes - 1:
        errs.append(f"forest rank {n_forest} != n-1 = {n_nodes - 1}")
    if took > budget:
        errs.append(f"wall {took}s over budget {budget}s")

    t0 = time.time()
    # the driver-local twin: raise the cutover past the stress graph
    cutover = graph_analytics.DRIVER_MAX_EDGES
    graph_analytics.DRIVER_MAX_EDGES = 10**8
    try:
        local_forest = minimum_spanning_forest(edges, src_col="src", dst_col="dst")
    finally:
        graph_analytics.DRIVER_MAX_EDGES = cutover
    local_sec = round(time.time() - t0, 1)
    diff = (
        dist_forest.exceptAll(local_forest).count()
        + local_forest.exceptAll(dist_forest).count()
    )
    if diff != 0:
        errs.append(f"distributed vs driver-local twin differ on {diff} edges")
    total_fp = dist_forest.agg(F.sum("weight_fp")).collect()[0][0]

    print(json.dumps({
        "graph": f"ring+{extra_per_node}/node hash-random", "n_nodes": n_nodes,
        "n_edges": n_edges, "forest_edges": n_forest,
        "forest_weight_fp": total_fp, "sec": took, "budget_sec": budget,
        "local_twin_sec": local_sec, "shuffle_rows": shuffle_rows,
        "errs": errs,
    }))
    print(json.dumps({"result": "FAIL" if errs else "PASS", "failures": errs}))
    return 1 if errs else 0


def louvain_stress(spark: SparkSession, n_cliques: int, clique_size: int,
                   budget: int) -> int:
    """Louvain at stress scale (VERDICT r9 item 3): a planted
    ring-of-cliques at ~2M edges, run through the distributed path
    (forced), asserting planted-community recovery — the
    label-quality check the 60k-edge smoke can't make interesting.

    Planted structure: `n_cliques` cliques of `clique_size` nodes
    (clique c owns nodes [c*s, (c+1)*s)), one ring edge between
    consecutive cliques for connectivity. Every node has s-1 intra-clique
    neighbors vs at most 2 ring neighbors, so modularity-optimizing local
    moves must (a) never merge labels across cliques (kin(own clique
    community) >> 1 from round 1 on) and (b) converge each clique to one
    label within ~3 synchronous rounds (parity-alternating moves: evens
    coalesce onto the min-id non-boundary singleton, odds join the
    majority community next round). Asserted exactly: no label spans two
    planted cliques, >= 99% of nodes carry their clique's plurality
    label, and the community count lands in [n_cliques, 1.1*n_cliques].
    """
    from eve_graph_spark.operators.graph_analytics import louvain

    s = clique_size
    pairs = [(i, j) for i in range(s) for j in range(i + 1, s)]
    pair_df = spark.createDataFrame(pairs, "i int, j int")
    intra = (
        spark.range(n_cliques).crossJoin(pair_df)
        .select(
            (F.col("id") * s + F.col("i")).alias("src"),
            (F.col("id") * s + F.col("j")).alias("dst"),
        )
    )
    ring = spark.range(n_cliques).select(
        (F.col("id") * s).alias("src"),
        (((F.col("id") + 1) % n_cliques) * s).alias("dst"),
    )
    edges = intra.unionByName(ring).repartition(64).localCheckpoint(eager=True)
    n_edges = edges.count()

    errs: list[str] = []
    before = set(completed_stage_metrics(spark))
    t0 = time.time()
    with forced_distributed():
        out = louvain(edges, rounds=5, src_col="src",
                      dst_col="dst").localCheckpoint(eager=True)
    took = round(time.time() - t0, 1)
    stages = completed_stage_metrics(spark)
    shuffle_rows = sum(
        s2.get("shuffleWriteRecords", 0)
        for sid, s2 in stages.items() if sid not in before
    )

    labeled = out.select(
        "node", "community", F.floor(F.col("node") / s).alias("clique")
    )
    span = (
        labeled.groupBy("community")
        .agg(F.countDistinct("clique").alias("n_cliques"))
        .filter(F.col("n_cliques") > 1).count()
    )
    if span:
        errs.append(f"{span} communities span more than one planted clique")
    plur = (
        labeled.groupBy("clique", "community").count()
        .groupBy("clique").agg(F.max("count").alias("plurality"))
        .agg(F.sum("plurality")).collect()[0][0]
    )
    n_nodes = n_cliques * s
    purity = plur / n_nodes
    if purity < 0.99:
        errs.append(f"plurality purity {purity:.4f} < 0.99")
    n_comm = labeled.select("community").distinct().count()
    if not (n_cliques <= n_comm <= int(1.1 * n_cliques)):
        errs.append(f"community count {n_comm} outside [{n_cliques}, "
                    f"{int(1.1 * n_cliques)}]")
    if took > budget:
        errs.append(f"wall {took}s over budget {budget}s")

    print(json.dumps({
        "graph": f"{n_cliques} cliques x {s}", "n_nodes": n_nodes,
        "n_edges": n_edges, "sec": took, "budget_sec": budget,
        "purity": round(purity, 6), "communities": n_comm,
        "cross_clique_labels": span, "shuffle_rows": shuffle_rows,
        "errs": errs,
    }))
    print(json.dumps({"result": "FAIL" if errs else "PASS", "failures": errs}))
    return 1 if errs else 0


def multi_source_stress(spark: SparkSession, layers: int, width: int, k: int,
                        budget: int) -> int:
    """Multi-source frontier-loop stress (round-6: landmark closeness fix).

    Same wide-chain as graph_stress but k sources — the FIRST node of
    every (layers // k)-th layer — run as ONE (source, node)-keyed loop.
    The scale contract being pinned: superstep count equals the DEEPEST
    single sweep (layers - min source layer, + the empty-frontier
    detection round), NOT k x that; and per-source dists are exact:
    from the first node of layer ls every node of layer l > ls sits at
    dist l - ls (complete bipartite between consecutive layers), nothing
    in layer ls or earlier is reachable except the source itself.
    """
    from eve_graph_spark.operators.graph import FRONTIER_TRUNCATE_EVERY, multi_source_sssp

    n_edges = (layers - 1) * width * width
    e = (
        spark.range((layers - 1) * width)
        .crossJoin(spark.range(width).select(F.col("id").alias("j")))
        .select(
            F.col("id").alias("src"),
            ((F.floor(F.col("id") / width) + 1) * width + F.col("j")).alias("dst"),
            F.lit(1.0).alias("w"),
        )
    )
    step = max(layers // k, 1)
    source_layers = [i * step for i in range(k) if i * step < layers]
    sources = [l * width for l in source_layers]
    stats: dict = {}
    t0 = time.time()
    with forced_distributed():
        out = multi_source_sssp(
            e, sources, weight_col="w", src_col="src", dst_col="dst",
            max_iterations=layers + 10, stats_out=stats,
        )
    agg = out.groupBy(
        (F.floor(F.col("source") / width)).alias("src_layer"),
        (F.floor(F.col("node") / width)).alias("layer"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("dist").alias("dmin"),
        F.max("dist").alias("dmax"),
    ).collect()
    took = time.time() - t0
    plan_lines = len(out._jdf.queryExecution().optimizedPlan().toString().splitlines())

    errs = []
    by_key = {(int(r["src_layer"]), int(r["layer"])): r for r in agg}
    expect_keys = {
        (ls, l) for ls in source_layers for l in range(ls, layers)
    }
    if set(by_key) != expect_keys:
        missing = sorted(expect_keys - set(by_key))[:5]
        extra = sorted(set(by_key) - expect_keys)[:5]
        errs.append(f"reach sets wrong: missing={missing} extra={extra}")
    for (ls, l), r in by_key.items():
        expect_n = 1 if l == ls else width
        d = float(l - ls)
        if r["n"] != expect_n or r["dmin"] != d or r["dmax"] != d:
            errs.append(f"src_layer {ls} layer {l}: n={r['n']} "
                        f"dmin={r['dmin']} dmax={r['dmax']}")
            break
    # ONE loop bounded by the deepest sweep: (layers-1 - min source
    # layer) productive supersteps + the shared detection round
    expect_iters = layers - min(source_layers)
    if stats.get("iterations") != expect_iters:
        errs.append(f"iterations={stats.get('iterations')} expected {expect_iters}")
    plan_budget = 60 + 20 * FRONTIER_TRUNCATE_EVERY
    if plan_lines >= plan_budget:
        errs.append(f"unbounded lineage: {plan_lines} plan lines (budget {plan_budget})")
    if took > budget:
        errs.append(f"wall {took:.0f}s over budget {budget}s")
    print(json.dumps({
        "graph": f"{layers}x{width} wide-chain", "n_edges": n_edges,
        "k_sources": len(sources), "sec": round(took, 1), "budget_sec": budget,
        "sec_per_superstep": round(took / max(stats.get("iterations", 1), 1), 3),
        "iterations": stats.get("iterations"),
        "plan_lines": plan_lines, "errs": errs,
    }))
    print(json.dumps({"result": "FAIL" if errs else "PASS", "failures": errs}))
    return 1 if errs else 0


def build_family_corpus(spark: SparkSession, out_dir: str, rep: int) -> None:
    """Corpus for the pair-LINEARITY stress (r8 verdict item 6): same
    hostile shapes as build_skewed_corpus, but replica space splits into
    independent GROUPS of 100 with per-group text salting, so growing
    `rep` multiplies the number of dup families while family sizes stay
    constant (50 exact dups + 50 near-dup satellites per (base doc,
    group)). That is the realistic crawl regime — more pages, not
    proportionally bigger dup clusters — and the regime where candidate
    pairs/doc must stay FLAT under the exact-dup pre-collapse. (The plain
    skewed corpus can't measure this: its family sizes grow with rep, so
    pair counts are super-linear by construction.) The one deliberate
    exception stays: the unsalted mega text forms a single
    linearly-growing identical cluster (10x members at rep=1000), which
    the digest collapse must still reduce to ONE representative node.

    Group separation is a per-group CAESAR ROTATION of the letters, not a
    salt token: the first r9 attempt prefixed "g<n> " and measured
    cand/doc growing 33.5 -> 336 at 10x — a one-token salt leaves
    cross-group Jaccard far above the 0.5 threshold, so same-base
    variants in different groups are GENUINE near-dups and family sizes
    still grew with rep. Rotating every letter changes every shingle,
    pushing cross-group Jaccard to ~0 while keeping within-group
    structure byte-identical (group 0 is the identity rotation, so the
    rep=100 corpus is unchanged). Shifts collide past 26 groups — fine
    below rep=2600.
    """
    import string

    base = spark.read.parquet(f"{SRC_DIR}/documents.parquet")
    reps = spark.range(rep).select(F.col("id").cast("int").alias("rep"))
    grp = F.floor(F.col("rep") / 100).cast("int")
    lo, up = string.ascii_lowercase, string.ascii_uppercase
    n_groups = (rep + 99) // 100
    salted = None
    for g in range(n_groups):
        r = g % 26
        t = F.translate(F.col("text"), lo + up, lo[r:] + lo[:r] + up[r:] + up[:r])
        salted = F.when(grp == g, t) if salted is None else salted.when(grp == g, t)
    salted = salted.otherwise(F.col("text"))
    inflated = (
        base.crossJoin(reps)
        .select(
            (F.col("doc_id") * rep + F.col("rep")).alias("doc_id"),
            F.when(F.col("doc_id") % 500 == 0, F.lit("mega cluster body " * 12))
            .when(F.col("rep") % 100 < 50, salted)
            .otherwise(
                F.concat(salted, F.lit(" tail"), (F.col("rep") % 100).cast("string"))
            )
            .alias("text"),
            F.when(F.abs(F.xxhash64("doc_id", "rep")) % 10 < 4, F.lit("en"))
            .otherwise(F.col("lang"))
            .alias("lang"),
            F.when(F.abs(F.xxhash64("rep", "doc_id")) % 10 < 4, F.lit("mega.example"))
            .otherwise(F.col("source"))
            .alias("source"),
            F.col("n_chars"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    inflated.repartition(64).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


PAIRS_BUDGETS_SEC = {100: 1200, 500: 2400, 1000: 3600}


def _fresh_session(spark: SparkSession) -> SparkSession:
    """Stop the active session and build a new one — the one reliable way
    to RECLAIM SHUFFLE DISK between heavy phases: shuffle files live until
    ContextCleaner reaps them on a driver GC (best-effort, and System.gc()
    nudges proved insufficient), while the app's temp dirs are deleted
    synchronously on stop. The first two r9 attempts at the 5M corpus died
    ENOSPC from ACCUMULATED multi-phase spill; with a session per phase,
    peak disk is one phase's footprint."""
    spark.stop()
    time.sleep(2)
    s = (
        SparkSession.builder.master("local[32]")
        .appName("scale-stress")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def pairs_stress(spark: SparkSession, reps_list: list[int]) -> int:
    """Pair-generation linearity proof (r8 verdict item 6): run the FULL
    near_dup_clusters -> survivors pipeline on family corpora at 500k and
    ~5M docs, record candidate/verified pair counts and shuffle rows per
    run, and assert pairs-per-doc stays flat (within 2x) as the corpus
    grows 10x. A quadratic pair stage shows up as a ~10x jump in
    pairs/doc — impossible to miss at this delta.
    """
    from eve_graph_spark.operators.dedup import (
        portable_lsh_candidates,
        portable_minhash_near_dups,
    )

    results = []
    failures: list[str] = []
    for rep in reps_list:
        tmp = tempfile.mkdtemp(prefix=f"pairs_stress_{rep}_")
        for name in TABLE_NAMES:
            if name != "documents":
                (Path(tmp) / f"{name}.parquet").symlink_to(f"{SRC_DIR}/{name}.parquet")
        t0 = time.time()
        build_family_corpus(spark, tmp, rep)
        n_docs = spark.read.parquet(f"{tmp}/documents.parquet").count()
        gen_sec = round(time.time() - t0, 1)

        # the pre-collapse + candidate stages, counted explicitly (the
        # registered query runs them fused; counts here are the evidence).
        # Each heavy phase gets its OWN session (see _fresh_session);
        # rep_docs is re-derived per phase — one cheap digest groupBy,
        # a fraction of any phase's cost.
        def rep_docs_df():
            docs = spark.read.parquet(f"{tmp}/documents.parquet")
            digest = F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8"))
            return (
                docs.select(F.col("doc_id"), F.col("text"), digest.alias("__dg"))
                .groupBy("__dg")
                .agg(F.min("doc_id").alias("doc_id"),
                     F.min_by("text", F.col("doc_id")).alias("text"))
                .select("doc_id", "text")
            )

        n_reps = rep_docs_df().count()
        spark = _fresh_session(spark)
        t0 = time.time()
        n_cand = portable_lsh_candidates(rep_docs_df()).count()
        cand_sec = round(time.time() - t0, 1)
        spark = _fresh_session(spark)
        t0 = time.time()
        n_ver = portable_minhash_near_dups(rep_docs_df()).count()
        ver_sec = round(time.time() - t0, 1)
        spark = _fresh_session(spark)

        # the full registered pipeline, noop-sunk like the bench harness
        qs = registry.queries()
        budget = PAIRS_BUDGETS_SEC.get(rep, 3600)
        before = set(completed_stage_metrics(spark))
        t0 = time.time()
        err = None
        try:
            qs["dedup_survivors_quality"](spark, tmp).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001 - report and keep stressing
            err = f"{type(e).__name__}: {e}"[:300]
        surv_sec = round(time.time() - t0, 1)
        stages = completed_stage_metrics(spark)
        new = [s for sid, s in stages.items() if sid not in before]
        rec = {
            "rep": rep,
            "n_docs": n_docs,
            "n_reps": n_reps,
            "gen_sec": gen_sec,
            "candidate_pairs": n_cand,
            "verified_pairs": n_ver,
            "cand_per_doc": round(n_cand / n_docs, 4),
            "ver_per_doc": round(n_ver / n_docs, 4),
            "cand_sec": cand_sec,
            "ver_sec": ver_sec,
            "survivors_sec": surv_sec,
            "survivors_budget_sec": budget,
            "survivors_shuffle_rows": sum(
                s.get("shuffleWriteRecords", 0) for s in new
            ),
            "survivors_shuffle_mb": round(
                sum(s.get("shuffleWriteBytes", 0) for s in new) / 1e6, 1
            ),
            "err": err,
        }
        print(json.dumps(rec))
        results.append(rec)
        if err:
            failures.append(f"rep={rep}: {err}")
        elif surv_sec > budget:
            failures.append(f"rep={rep}: survivors {surv_sec}s over budget {budget}s")
        shutil.rmtree(tmp, ignore_errors=True)
        spark = _fresh_session(spark)  # drop this rep's survivors spill

    if len(results) >= 2 and not failures:
        base_r, big = results[0], results[-1]
        for key in ("cand_per_doc", "ver_per_doc"):
            if big[key] > base_r[key] * 2 + 0.01:
                failures.append(
                    f"{key} grew {base_r[key]} -> {big[key]} over a "
                    f"{big['n_docs'] / base_r['n_docs']:.0f}x corpus — "
                    "pair generation is not linear"
                )
    print(json.dumps({"result": "FAIL" if failures else "PASS", "failures": failures}))
    return 1 if failures else 0


def pairs_cand_only(spark: SparkSession, rep: int) -> int:
    """Candidate-generation probe for corpora whose VERIFY phase
    out-shuffles this single box (the 5M verify join carries full texts
    for ~170M pairs — linear bytes, ~10x the 500k run, but one phase
    alone exceeds the local disk; on a cluster that shuffle is spread
    across nodes). Candidate banding shuffles only digests/bucket ids,
    so the LSH-stage linearity evidence extends to 5M here even though
    the full pipeline tops out at 2.5M locally."""
    from eve_graph_spark.operators.dedup import portable_lsh_candidates

    tmp = tempfile.mkdtemp(prefix=f"pairs_cand_{rep}_")
    t0 = time.time()
    build_family_corpus(spark, tmp, rep)
    docs = spark.read.parquet(f"{tmp}/documents.parquet")
    n_docs = docs.count()
    gen_sec = round(time.time() - t0, 1)
    digest = F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8"))
    rep_docs = (
        docs.select(F.col("doc_id"), F.col("text"), digest.alias("__dg"))
        .groupBy("__dg")
        .agg(F.min("doc_id").alias("doc_id"),
             F.min_by("text", F.col("doc_id")).alias("text"))
        .select("doc_id", "text")
    )
    n_reps = rep_docs.count()
    t0 = time.time()
    n_cand = portable_lsh_candidates(rep_docs).count()
    rec = {
        "rep": rep, "n_docs": n_docs, "n_reps": n_reps, "gen_sec": gen_sec,
        "candidate_pairs": n_cand, "cand_per_doc": round(n_cand / n_docs, 4),
        "cand_sec": round(time.time() - t0, 1),
    }
    print(json.dumps(rec))
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rep", type=int, default=100)
    ap.add_argument("--keep", action="store_true", help="keep the generated corpus dir")
    ap.add_argument("--only", nargs="*", default=None,
                    help="stress only these queries (default: all budgeted)")
    ap.add_argument("--graph", action="store_true",
                    help="run the long-diameter Pregel stress instead of the corpus stress")
    ap.add_argument("--multi-source", action="store_true",
                    help="run the k-source one-loop frontier stress (landmark fix, r6)")
    ap.add_argument("--pairs", nargs="*", type=int, default=None, metavar="REP",
                    help="pair-linearity stress: near_dup pipeline at each REP "
                         "x5000 docs (default 100 500 = 500k and 2.5M; the "
                         "5M verify phase alone out-shuffles this box's disk)")
    ap.add_argument("--pairs-cand-only", type=int, default=None, metavar="REP",
                    help="candidates-only probe at REP x5000 docs: digest/"
                         "bucket shuffles only, so it fits the box at 5M "
                         "where the full verify phase cannot")
    ap.add_argument("--mst", action="store_true",
                    help="Borůvka MST stress: 2.4M-edge hash-random graph "
                         "through the distributed path, bit-parity vs the "
                         "driver-local Kruskal twin (r9 verdict item 3)")
    ap.add_argument("--louvain", action="store_true",
                    help="Louvain stress: 2M-edge planted ring-of-cliques "
                         "through the distributed path, asserting planted-"
                         "community recovery (r9 verdict item 3)")
    ap.add_argument("--reliable-ckpt", action="store_true",
                    help="fault-tolerant df.checkpoint() premium on the "
                         "wide-chain SSSP loop: identical results, "
                         "measured wall-clock cost vs localCheckpoint "
                         "(r10 verdict item 1)")
    ap.add_argument("--lsh-megabucket", type=int, default=None, metavar="N",
                    help="planted degenerate-bucket LSH stress: N distinct "
                         "near-identical docs in one bucket, uncapped vs "
                         "max_bucket_size (r11 verdict item 6)")
    ap.add_argument(
        "--lsh-cap", default=64,
        type=lambda v: v if v == "auto" else int(v),
        help="int bucket cap, or 'auto' (histogram-derived, r13)")
    ap.add_argument("--mst-nodes", type=int, default=400_000)
    ap.add_argument("--mst-extra", type=int, default=5)
    ap.add_argument("--louvain-cliques", type=int, default=2600)
    ap.add_argument("--louvain-clique-size", type=int, default=40)
    ap.add_argument("--graph-layers", type=int, default=1000)
    ap.add_argument("--graph-width", type=int, default=32)
    ap.add_argument("--graph-sources", type=int, default=16)
    args = ap.parse_args()
    budgets = {k: v for k, v in BUDGETS.items() if args.only is None or k in args.only}

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scale-stress")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.lsh_megabucket is not None:
        return lsh_megabucket_stress(
            spark, args.lsh_megabucket, args.lsh_cap, GRAPH_BUDGET_SEC
        )
    if args.pairs_cand_only is not None:
        return pairs_cand_only(spark, args.pairs_cand_only)
    if args.pairs is not None:
        return pairs_stress(spark, args.pairs or [100, 500])
    if args.mst:
        return mst_stress(spark, args.mst_nodes, args.mst_extra, GRAPH_BUDGET_SEC)
    if args.louvain:
        return louvain_stress(spark, args.louvain_cliques,
                              args.louvain_clique_size, GRAPH_BUDGET_SEC)
    if args.reliable_ckpt:
        return reliable_ckpt_stress(
            spark, args.graph_layers, args.graph_width, GRAPH_BUDGET_SEC
        )
    if args.graph:
        return graph_stress(spark, args.graph_layers, args.graph_width,
                            GRAPH_BUDGET_SEC)
    if args.multi_source:
        # default shape: 100 layers x 100 width ~ 1M edges, diameter 99,
        # 16 sources — k x the 200k-edge smoke, at a diameter where
        # sequential sweeps would cost ~1,600 supersteps vs ~100 here
        layers = args.graph_layers if args.graph_layers != 1000 else 100
        width = args.graph_width if args.graph_width != 32 else 100
        return multi_source_stress(spark, layers, width, args.graph_sources,
                                   GRAPH_BUDGET_SEC)

    tmp = tempfile.mkdtemp(prefix="scale_stress_")
    # queries resolve every table against sf_dir: link the rest through
    for name in TABLE_NAMES:
        if name != "documents":
            (Path(tmp) / f"{name}.parquet").symlink_to(f"{SRC_DIR}/{name}.parquet")

    t0 = time.time()
    build_skewed_corpus(spark, tmp, args.rep)
    n_docs = spark.read.parquet(f"{tmp}/documents.parquet").count()
    print(json.dumps({"corpus": tmp, "n_docs": n_docs, "gen_sec": round(time.time() - t0, 1)}))

    qs = registry.queries()
    failures = []
    for name, budget in budgets.items():
        before = set(completed_stage_metrics(spark))
        t0 = time.time()
        try:
            qs[name](spark, tmp).write.format("noop").mode("overwrite").save()
            took = time.time() - t0
            err = None
        except Exception as e:  # noqa: BLE001 - report and keep stressing
            took = time.time() - t0
            err = f"{type(e).__name__}: {e}"[:300]
        stages = completed_stage_metrics(spark)
        new = [s for sid, s in stages.items() if sid not in before]
        shuffle_write = sum(s.get("shuffleWriteBytes", 0) for s in new)
        shuffle_read = sum(s.get("shuffleReadBytes", 0) for s in new)
        rec = {
            "query": name,
            "sec": round(took, 1),
            "budget_sec": budget,
            "shuffle_write_mb": round(shuffle_write / 1e6, 1),
            "shuffle_read_mb": round(shuffle_read / 1e6, 1),
            "n_stages": len(new),
            "err": err,
        }
        print(json.dumps(rec))
        if err or took > budget:
            failures.append(name)

    if not args.keep:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"result": "FAIL" if failures else "PASS", "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
