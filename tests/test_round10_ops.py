"""Round-10 fixes: loud non-convergence in the iterative graph kernels,
input validation on personalized PageRank, overflow-safe modularity, and
the GDS similarityMetric top-k knob.

Each test pins a round-10 ADVICE item:
- minimum_spanning_forest / k_truss must RAISE when their round budget is
  exhausted before the fixpoint, never return a silently-incomplete result
  (the driver-local twins always run to fixpoint, so a silent early exit
  would let the two code paths diverge).
- pagerank(sources=[]) / sources disjoint from the graph raised a bare
  ZeroDivisionError on both paths — now a ValueError with a message.
- community_metrics modularity arithmetic goes through decimal(38,0) (the
  long form wrapped past m ~ 3M edges) and m == 0 yields 0, not null.
- node_similarity(metric=...) drives the top-k window ordering
  (GDS similarityMetric OVERLAP / COSINE parity).
"""

from __future__ import annotations

import contextlib

import pytest
from conftest import forced_distributed


def _e(spark, rows, schema="src_system_id long, dst_system_id long"):
    if rows:
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame([], schema)


# --- ValueError on empty / absent personalized-PageRank source sets ----------


def test_ppr_empty_sources_raises_local(spark):
    from eve_graph_spark.operators.graph_analytics import pagerank

    e = _e(spark, [(1, 2), (2, 3)])
    with pytest.raises(ValueError, match="no source nodes present"):
        pagerank(e, sources=[])


def test_ppr_absent_sources_raises_local(spark):
    from eve_graph_spark.operators.graph_analytics import pagerank

    e = _e(spark, [(1, 2), (2, 3)])
    with pytest.raises(ValueError, match="no source nodes present"):
        pagerank(e, sources=[99, 100])


def test_ppr_absent_sources_raises_distributed(spark):
    from eve_graph_spark.operators.graph_analytics import pagerank

    e = _e(spark, [(1, 2), (2, 3)])
    with pytest.raises(ValueError, match="no source nodes present"):
        with forced_distributed():
            pagerank(e, sources=[99])


def test_property_graph_ppr_empty_sources_raises(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    g = PropertyGraph(
        spark.createDataFrame([(1,), (2,)], "id long"),
        spark.createDataFrame([(1, 2)], "src long, dst long"),
    )
    with pytest.raises(ValueError, match="no source nodes present"):
        g.personalizedPageRank([]).collect()


def test_ppr_partial_source_overlap_still_works(spark):
    # sources half-present: only the present ones carry teleport mass —
    # must NOT raise (only the fully-absent case is an error).
    from eve_graph_spark.operators.graph_analytics import pagerank

    e = _e(spark, [(1, 2), (2, 3), (3, 1)])
    out = {r["node"]: r["rank"] for r in pagerank(e, sources=[1, 99]).collect()}
    assert out[1] > 0.0 and len(out) == 3


# --- MST: budget exhaustion is loud, not an incomplete forest ----------------


def _path_graph(spark, n):
    rows = [(i, i + 1, float(i + 1)) for i in range(1, n)]
    return spark.createDataFrame(
        rows, "src_system_id long, dst_system_id long, risk double"
    )


def test_mst_budget_exhaustion_raises(spark):
    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    # A plain path contracts in ONE Borůvka round (every node picks its
    # lighter incident edge, chaining the whole path) — force two rounds
    # with paired light edges joined by heavy bridges: round 1 merges the
    # pairs only, the bridges still cross components afterwards.
    rows = [(1, 2, 0.1), (3, 4, 0.2), (5, 6, 0.3), (7, 8, 0.4),
            (2, 3, 10.0), (4, 5, 11.0), (6, 7, 12.0)]
    e = spark.createDataFrame(
        rows, "src_system_id long, dst_system_id long, risk double")
    with pytest.raises(RuntimeError, match="did not converge"):
        with forced_distributed():
            minimum_spanning_forest(e, weight_col="risk", max_rounds=1).collect()


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_mst_sufficient_budget_matches_local_twin(spark):
    from eve_graph_spark.operators.graph_analytics import minimum_spanning_forest

    e = _path_graph(spark, 8)
    with forced_distributed():
        dist = sorted(
            tuple(r) for r in minimum_spanning_forest(
                e, weight_col="risk").collect()
        )
    local = sorted(
        tuple(r) for r in minimum_spanning_forest(e, weight_col="risk").collect()
    )
    assert dist == local and len(dist) == 7


# --- k-truss: peel budget exhaustion is loud ---------------------------------


def test_k_truss_budget_exhaustion_raises(spark):
    from eve_graph_spark.operators.graph_analytics import k_truss

    # Two triangles sharing edge (2,3): for k=4 the outer edges peel in
    # round 1, leaving (2,3) with support 0 < k-2 — a second round is
    # required. max_rounds=1 on the distributed path must raise, because
    # returning {(2,3)} would not be a 4-truss.
    e = _e(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    with pytest.raises(RuntimeError, match="fixpoint"):
        with forced_distributed():
            k_truss(e, k=4, max_rounds=1).collect()


def test_k_truss_sufficient_budget_matches_local_twin(spark):
    from eve_graph_spark.operators.graph_analytics import k_truss

    e = _e(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    with forced_distributed():
        dist = sorted(tuple(r) for r in k_truss(e, k=4).collect())
    local = sorted(tuple(r) for r in k_truss(e, k=4).collect())
    assert dist == local == []  # deep peel dissolves both triangles


# --- community_metrics: m == 0 guard + decimal modularity --------------------


def test_community_metrics_edgeless_with_labels(spark):
    from eve_graph_spark.operators.graph_analytics import community_metrics

    e = _e(spark, [])
    labels = spark.createDataFrame([(1, 10), (2, 10), (3, 20)],
                                   "node long, community long")
    rows = {r["community"]: r for r in community_metrics(e, labels).collect()}
    assert set(rows) == {10, 20}
    for r in rows.values():
        assert r["modularity_fp"] == 0 and r["conductance_fp"] == 0
        assert r["internal"] == 0 and r["outgoing"] == 0 and r["incoming"] == 0


def test_community_metrics_values_unchanged_by_decimal_path(spark):
    # The decimal(38,0) rewrite must be value-identical on small inputs:
    # triangle in community 10 + one cross edge to community 20.
    from eve_graph_spark.operators.graph_analytics import community_metrics

    e = _e(spark, [(1, 2), (2, 3), (3, 1), (1, 4)])
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20)], "node long, community long")
    rows = {r["community"]: r for r in community_metrics(e, labels).collect()}
    # community 10: internal=3, outgoing=1, incoming=0, m=4
    # modularity = 3/4 - (4*3)/16 = 0  -> 0 fp
    assert rows[10]["modularity_fp"] == 0
    # community 20: internal=0, outgoing=0, incoming=1
    # modularity = 0 - (0*1)/16 = 0
    assert rows[20]["modularity_fp"] == 0
    # conductance of 10: outgoing/min(vol=4, m-4=0) -> denom 0 -> 0
    assert rows[10]["conductance_fp"] == 0


# --- node_similarity: similarityMetric top-k parity --------------------------


def _wedge_graph(spark):
    # out-neighbor sets: 1 -> {10, 11, 12}; 2 -> {10, 11}; 3 -> {10, 20, 21, 22}
    rows = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11),
            (3, 10), (3, 20), (3, 21), (3, 22)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_node_similarity_metric_validation(spark):
    from eve_graph_spark.operators.graph_analytics import node_similarity

    e = _wedge_graph(spark)
    with pytest.raises(ValueError, match="jaccard\\|overlap\\|cosine"):
        node_similarity(e, metric="euclidean")
    with pytest.raises(ValueError, match="include_all_metrics"):
        node_similarity(e, top_k=1, metric="overlap")


def test_node_similarity_overlap_topk_reorders(spark):
    from eve_graph_spark.operators.graph_analytics import node_similarity

    # Divergence needs dmin asymmetry: add node 4 -> {10} (degree 1) so
    # overlap = inter/dmin saturates at 1 for every pair touching node 4
    # while jaccard still discriminates by union size.
    e = _wedge_graph(spark)
    e2 = spark.createDataFrame(
        [(r["src"], r["dst"]) for r in e.collect()] + [(4, 10)],
        "src long, dst long",
    )
    jac = {
        r["node"]: r["other"]
        for r in node_similarity(e2, top_k=1, include_all_metrics=True).collect()
    }
    ovl = {
        r["node"]: r["other"]
        for r in node_similarity(
            e2, top_k=1, include_all_metrics=True, metric="overlap").collect()
    }
    # node 3's neighbors: pairs (3,2): jac 1/5, ovl 1/2 ; (3,4): jac 1/4, ovl 1
    # jaccard top-1 -> 4 (1/4 > 1/5); overlap top-1 -> 4 (1 > 1/2)... both 4.
    # node 1: (1,2) jac 2/3 ovl 1 ; (1,3) jac 1/6 ovl 1/3 ; (1,4) inter=1,
    # union=3, jac 1/3, ovl 1/min(3,1)=1 — ties with (1,2) on overlap,
    # tie-break other asc -> 2. jaccard top-1 -> 2 as well.
    # node 4: (4,1) jac 1/3 ovl 1 ; (4,2) jac 1/2 ovl 1 ; (4,3) jac 1/4 ovl 1
    # jaccard top-1 -> 2 ; overlap all tie at 1 -> tie-break -> 1. DIVERGES.
    assert jac[4] == 2
    assert ovl[4] == 1


def test_node_similarity_cosine_topk_runs(spark):
    from eve_graph_spark.operators.graph_analytics import node_similarity

    e = _wedge_graph(spark)
    out = node_similarity(e, top_k=2, include_all_metrics=True,
                          metric="cosine").collect()
    assert all(r["rank"] <= 2 for r in out) and len(out) > 0


# --- text-free near-dup verification (r10: digest-set Jaccard/containment) ---


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_digest_jaccard_matches_string_jaccard(spark):
    # On a collision-free corpus, Jaccard over digest sets equals Jaccard
    # over shingle-string sets EXACTLY — both portable and xxhash64 paths.
    from eve_graph_spark.operators.dedup import jaccard_pairs

    docs = _docs(spark, [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy cat tonight",
        "completely different text with no shared shingles at all here",
        "the quick brown fox jumps over the lazy dog tonight",  # exact dup of 0
    ])
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "id_a long, id_b long")
    base = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(docs, pairs).collect()}
    for digest in ("portable", "xxhash64"):
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in jaccard_pairs(docs, pairs, digest=digest).collect()}
        assert got == base, digest
    assert base[(0, 3)] == 1.0 and base[(0, 2)] == 0.0


def test_digest_containment_matches_string_containment(spark):
    from eve_graph_spark.operators.dedup import containment_for_pairs

    docs = _docs(spark, [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta",  # contained prefix
        "unrelated words entirely disjoint from the others",
    ])
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "id_a long, id_b long")
    base = {(r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"], r["is_contained"])
            for r in containment_for_pairs(docs, pairs).collect()}
    for digest in ("portable", "xxhash64"):
        got = {(r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"], r["is_contained"])
               for r in containment_for_pairs(docs, pairs, digest=digest).collect()}
        assert got == base, digest
    assert base[(0, 1)][2] is True and base[(0, 2)][2] is False


def test_verify_pair_join_is_text_free(spark):
    # The PLAN pin for the round-10 seam fix: the near-dup verify stage's
    # pair join must not carry the text column (or shingle strings) — only
    # digest arrays. Assert no string-typed set column survives into the
    # join output schema.
    from eve_graph_spark.operators.dedup import jaccard_pairs, portable_minhash_near_dups

    docs = _docs(spark, [f"doc number {i} with shared words plus token{i % 7}"
                         for i in range(40)])
    out = portable_minhash_near_dups(docs, threshold=0.1)
    # schema-level: verify output carries no text
    assert "text" not in out.columns
    # plan-level: the optimized plan of the digest verify never projects
    # the shingle-STRING array (array<string>); only array<bigint> sets
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    plan = jaccard_pairs(docs, pairs, digest="portable")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "array<string>" not in plan.replace("ArrayType(StringType", "array<string>")


def test_bad_digest_value_raises(spark):
    from eve_graph_spark.operators.dedup import jaccard_pairs
    import pytest as _pt

    docs = _docs(spark, ["a b c d"])
    pairs = spark.createDataFrame([(0, 0)], "id_a long, id_b long")
    with _pt.raises(ValueError, match="digest must be"):
        jaccard_pairs(docs, pairs, digest="sha1")


# --- IVF index persistence (r10: write → reload → identical top-k) -----------


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_ivf_index_persist_roundtrip(spark, sf_dir, tmp_path):
    from eve_graph_spark.operators.similarity import (
        ivf_index, ivf_topk, ivf_topk_from_index,
    )
    from eve_graph_spark.sinks import read_ivf_index, write_ivf_index

    emb = _emb(spark, sf_dir)
    qids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(3).collect()]
    idx, model = ivf_index(emb)
    write_ivf_index(idx, model, str(tmp_path / "ivf"))
    idx2, model2 = read_ivf_index(spark, str(tmp_path / "ivf"))

    got = ivf_topk_from_index(idx2, model2, qids, k=5)
    with forced_distributed():
        want = ivf_topk(emb, qids, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_persisted_probe_prunes_partitions(spark, sf_dir, tmp_path):
    # The plan pin for the deployment story: probing a persisted
    # cell-partitioned index must scan ONLY the probed cells' partitions —
    # the literal cell filter shows up as a non-empty PartitionFilters on
    # the index scan.
    from eve_graph_spark.operators.similarity import ivf_index, ivf_topk_from_index
    from eve_graph_spark.sinks import read_ivf_index, write_ivf_index

    emb = _emb(spark, sf_dir)
    qids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(2).collect()]
    idx, model = ivf_index(emb)
    write_ivf_index(idx, model, str(tmp_path / "ivf2"))
    idx2, model2 = read_ivf_index(spark, str(tmp_path / "ivf2"))
    df = ivf_topk_from_index(idx2, model2, qids, k=5, n_probe=2)
    plan = df._jdf.queryExecution().toString()
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf, "no partitioned scan in the plan"
    assert any("cell" in f and " IN " in f.upper() for f in pf), pf


def test_ivf_pq_index_persist_roundtrip(spark, sf_dir, tmp_path):
    from eve_graph_spark.operators.similarity import ivf_pq_index, ivf_pq_topk
    from eve_graph_spark.sinks import read_ivf_index, write_ivf_index

    emb = _emb(spark, sf_dir)
    qids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(3).collect()]
    idx, model = ivf_pq_index(emb)
    write_ivf_index(idx, model, str(tmp_path / "pq"))
    idx2, model2 = read_ivf_index(spark, str(tmp_path / "pq"))

    got = ivf_pq_topk(emb, qids, k=5, index=idx2, model=model2)
    want = ivf_pq_topk(emb, qids, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# --- weighted SLLPA (r10: relationshipWeightProperty knob) -------------------


def _wedges(spark, triples):
    rows = list(triples) + [(b, a, w) for a, b, w in triples]
    return spark.createDataFrame(
        rows, "src_system_id long, dst_system_id long, risk double"
    )


def test_sllpa_weighted_flips_listened_label(spark):
    # node 0 hears three first-round speakers: label 9 over a HEAVY edge
    # (10.0), labels 1 and 2 over light ones (1.0). Unweighted listening
    # ties all three at one vote → min label 1; weighted listening picks
    # 9 (vote 10 vs 1) — rounds=1/min_count=1 exposes the listen step's
    # vote mass directly, with no memory-echo dynamics in the way.
    from eve_graph_spark.operators.graph_analytics import sllpa

    e = _wedges(spark, [(0, 9, 10.0), (0, 1, 1.0), (0, 2, 1.0),
                        (9, 8, 10.0), (1, 2, 1.0)])
    for forced in (False, True):  # driver-local and distributed paths agree
        with forced_distributed() if forced else contextlib.nullcontext():
            unw = {r["node"]: r["label"]
                   for r in sllpa(e, rounds=1, min_count=1).collect()
                   if r["node"] == 0 and r["label"] != 0}
            wgt = {r["node"]: r["label"]
                   for r in sllpa(e, rounds=1, min_count=1, weight_col="risk").collect()
                   if r["node"] == 0 and r["label"] != 0}
        assert unw[0] == 1  # count tie -> min label
        assert wgt[0] == 9  # heavy edge out-votes two light ones


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_sllpa_weighted_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import sllpa

    ka = [(a, b, 2.5) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = _wedges(spark, ka + [(20, 1, 7.0), (20, 2, 0.5), (5, 20, 1.25),
                             (5, 6, 3.0), (6, 7, 0.75), (7, 5, 2.0)])
    loc = sorted(tuple(r) for r in sllpa(e, weight_col="risk").collect())
    with forced_distributed():
        dist = sorted(
            tuple(r)
            for r in sllpa(e, weight_col="risk").collect()
        )
    assert loc == dist
    assert loc  # non-vacuous


def test_sllpa_unweighted_votes_unchanged_by_wfp_path(spark):
    # the sum(wfp)-with-wfp=1 rewrite must be bit-identical to the old
    # count(*) listen votes — pin a known overlapping result
    from eve_graph_spark.operators.graph_analytics import sllpa

    k4a = [(a, b, 99.0) for a in range(1, 5) for b in range(1, 5) if a < b]
    k4b = [(a, b, 0.1) for a in range(10, 14) for b in range(10, 14) if a < b]
    e = _wedges(spark, k4a + k4b + [(20, 1, 1.0), (20, 2, 1.0),
                                    (20, 10, 1.0), (20, 11, 1.0)])
    mem: dict = {}
    for r in sllpa(e).collect():  # weight_col=None: weights ignored
        mem.setdefault(r["node"], {})[r["label"]] = r["cnt"]
    assert set(mem[20]) == {1, 10}
    assert set(mem[1]) == {1} and set(mem[10]) == {10}


def test_property_graph_sllpa_weighted(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(1, 4)], "id long")
    e = spark.createDataFrame(
        [(1, 2, 5.0), (2, 1, 5.0), (2, 3, 1.0), (3, 2, 1.0),
         (1, 3, 2.0), (3, 1, 2.0)],
        "src long, dst long, weight double",
    )
    out = PropertyGraph(v, e).sllpa(weightCol="weight")
    assert out.columns == ["node", "label", "cnt"]
    assert out.count() >= 3


# --- LSH index persistence (r10: the "bucketed by LSH bucket" layout) --------


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_lsh_index_persist_roundtrip(spark, sf_dir, tmp_path):
    from eve_graph_spark.operators.similarity import (
        lsh_bucketed_topk, lsh_index, lsh_topk_from_index,
    )
    from eve_graph_spark.sinks import read_lsh_index, write_lsh_index

    emb = _emb(spark, sf_dir)
    qids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(3).collect()]
    idx, model = lsh_index(emb)
    write_lsh_index(idx, model, str(tmp_path / "lsh"))
    idx2, model2 = read_lsh_index(spark, str(tmp_path / "lsh"))

    got = lsh_topk_from_index(idx2, model2, qids, k=5)
    want = lsh_bucketed_topk(emb, qids, k=5, exact_fixed_point=True)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_lsh_persisted_probe_prunes_partitions(spark, sf_dir, tmp_path):
    from eve_graph_spark.operators.similarity import lsh_index, lsh_topk_from_index
    from eve_graph_spark.sinks import read_lsh_index, write_lsh_index

    emb = _emb(spark, sf_dir)
    qids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(2).collect()]
    idx, model = lsh_index(emb)
    write_lsh_index(idx, model, str(tmp_path / "lsh2"))
    idx2, model2 = read_lsh_index(spark, str(tmp_path / "lsh2"))
    df = lsh_topk_from_index(idx2, model2, qids, k=5)
    plan = df._jdf.queryExecution().toString()
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf, "no partitioned scan in the plan"
    assert any("bucket" in f and " IN " in f.upper() for f in pf), pf


# --- multi-level Louvain (r10: GDS maxLevels > 1) -----------------------------


def _ring_of_triangles(spark, n_cliques):
    tris = [(3 * c + i, 3 * c + j)
            for c in range(n_cliques) for i in range(3) for j in range(3) if i < j]
    ring = [(3 * c, 3 * ((c + 1) % n_cliques)) for c in range(n_cliques)]
    return spark.createDataFrame(
        tris + ring, "src_system_id long, dst_system_id long"
    )


def test_community_aggregate_supergraph_exact(spark):
    from eve_graph_spark.operators.graph_analytics import community_aggregate

    lbl = spark.createDataFrame(
        [(0, 100), (1, 100), (2, 100), (3, 200), (4, 200), (5, 200)],
        "node long, community long",
    )
    tiny = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (2, 3), (1, 4)],
        "src_system_id long, dst_system_id long",
    )
    got = sorted(tuple(r) for r in community_aggregate(tiny, lbl).collect())
    # 3 intra edges in 100 -> self-loop (100,100,3); 2 cross edges; 2 intra in 200
    assert got == [(100, 100, 3), (100, 200, 2), (200, 200, 2)]


def test_louvain_multilevel_levels1_equals_flat(spark):
    from eve_graph_spark.operators.graph_analytics import louvain, louvain_multilevel

    e = _ring_of_triangles(spark, 8)
    flat = sorted(tuple(r) for r in louvain(e, rounds=4).collect())
    l1 = sorted(tuple(r) for r in louvain_multilevel(e, levels=1, rounds=4).collect())
    assert flat == l1


def test_louvain_multilevel_merges_past_resolution_limit(spark):
    # 25 triangles in a ring: m = 100, so the clique count (25) exceeds the
    # sqrt(2m) ~ 14 resolution limit (Fortunato & Barthelemy) — a flat pass
    # finds every triangle, level 2 MUST merge some of them (whole-community
    # moves a single-node pass cannot make).
    from eve_graph_spark.operators.graph_analytics import louvain, louvain_multilevel

    e = _ring_of_triangles(spark, 25)
    n_flat = louvain(e, rounds=4).select("community").distinct().count()
    ml = louvain_multilevel(e, levels=2, rounds=4)
    n_ml = ml.select("community").distinct().count()
    assert n_flat == 25
    assert n_ml < 25
    # and it is still a partition of all 75 nodes
    assert ml.count() == 75 and ml.select("node").distinct().count() == 75


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_louvain_multilevel_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import louvain_multilevel

    e = _ring_of_triangles(spark, 8)
    loc = sorted(tuple(r) for r in louvain_multilevel(e, levels=2, rounds=3).collect())
    with forced_distributed():
        dist = sorted(
            tuple(r)
            for r in louvain_multilevel(e, levels=2, rounds=3).collect()
        )
    assert loc == dist


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_louvain_self_loops_degree_and_m_parity(spark):
    # self-loops must not crash either path and must agree between them;
    # they contribute to degree/m only, so on a graph where they are the
    # only difference, communities still form on the real edges
    from eve_graph_spark.operators.graph_analytics import louvain

    rows = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
            (1, 1), (5, 5)]
    e = spark.createDataFrame(rows, "src_system_id long, dst_system_id long")
    loc = sorted(tuple(r) for r in louvain(e, rounds=4).collect())
    with forced_distributed():
        dist = sorted(
            tuple(r) for r in louvain(e, rounds=4).collect()
        )
    assert loc == dist
    assert len(loc) == 6  # self-loops add no phantom nodes


def test_property_graph_louvain_max_levels(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    tris = [(3 * c + i, 3 * c + j)
            for c in range(25) for i in range(3) for j in range(3) if i < j]
    ring = [(3 * c, 3 * ((c + 1) % 25)) for c in range(25)]
    v = spark.createDataFrame([(i,) for i in range(75)], "id long")
    e = spark.createDataFrame(tris + ring, "src long, dst long")
    g = PropertyGraph(v, e)
    flat = g.louvain(rounds=4)
    deep = g.louvain(rounds=4, maxLevels=2)
    assert flat.select("community").distinct().count() == 25
    assert deep.select("community").distinct().count() < 25


# --- Leiden (r10: refinement guarantee + multilevel) --------------------------


def test_refine_splits_disconnected_community(spark):
    from eve_graph_spark.operators.graph_analytics import refine_communities

    # community 7 contains {1,2,3,9} but 9 has no intra-community edge —
    # the Leiden refinement must split it out as a singleton
    e = spark.createDataFrame([(1, 2), (2, 3), (9, 10)],
                              "src_system_id long, dst_system_id long")
    lbl = spark.createDataFrame([(1, 7), (2, 7), (3, 7), (9, 7), (10, 20)],
                                "node long, community long")
    got = {r["node"]: r["community"]
           for r in refine_communities(e, lbl).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9, 10: 10}


def test_refine_keeps_connected_communities_intact(spark):
    from eve_graph_spark.operators.graph_analytics import refine_communities

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)],
                              "src_system_id long, dst_system_id long")
    lbl = spark.createDataFrame([(1, 5), (2, 5), (3, 5)],
                                "node long, community long")
    got = {r["node"]: r["community"]
           for r in refine_communities(e, lbl).collect()}
    assert got == {1: 1, 2: 1, 3: 1}  # one piece, min-id label


def test_leiden_guarantee_every_community_connected(spark):
    # the invariant that names the algorithm: leiden's output must be a
    # fixpoint of refinement (no community splits further)
    from eve_graph_spark.operators.graph_analytics import leiden, refine_communities

    e = _ring_of_triangles(spark, 25)
    out = leiden(e, levels=2, rounds=4)
    refd = refine_communities(e, out)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, refd.collect()))
    # and level-2 merging still happened (communities < 25 cliques)
    assert out.select("community").distinct().count() < 25
    assert out.count() == 75


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_leiden_distributed_matches_local(spark):
    from eve_graph_spark.operators.graph_analytics import leiden

    e = _ring_of_triangles(spark, 8)
    loc = sorted(tuple(r) for r in leiden(e, levels=2, rounds=3).collect())
    with forced_distributed():
        dist = sorted(
            tuple(r)
            for r in leiden(e, levels=2, rounds=3).collect()
        )
    assert loc == dist


def test_property_graph_leiden(spark):
    from eve_graph_spark.graph_api import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "src long, dst long",
    )
    out = PropertyGraph(v, e).leiden(rounds=3, maxLevels=2)
    assert out.columns == ["node", "community"]
    assert out.count() == 6
