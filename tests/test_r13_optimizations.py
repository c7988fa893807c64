"""Round-13 optimization pins: every plan/expression rewrite this round is
value-preserving by construction — these tests pin that property against a
naive reference implementation on adversarial inputs, so a future edit to
the optimized form cannot silently drift the values the oracles hash.
"""

from __future__ import annotations

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F


def _naive_shingles_sql(text_col: str, k: int) -> str:
    """The pre-r13 form (split re-evaluated inside the per-position lambda):
    the semantic reference the optimized let-bound form must match."""
    t = f"coalesce({text_col}, '')"
    return (
        f"array_distinct(CASE WHEN size(split(lower({t}), ' ')) >= {k} THEN "
        f"transform(sequence(0, size(split(lower({t}), ' ')) - {k}), "
        f"i -> concat_ws(' ', slice(split(lower({t}), ' '), i + 1, {k}))) "
        f"ELSE array(lower({t})) END)"
    )


ADVERSARIAL_TEXTS = [
    (0, None),  # null text: one '' shingle
    (1, ""),  # empty
    (2, "one"),  # shorter than k
    (3, "two words"),
    (4, "exactly three words"),
    (5, "a  b   c d e"),  # consecutive spaces → empty-string words
    (6, " leading and trailing spaces "),
    (7, "UPPER Case MiXeD tokens repeat repeat repeat repeat"),
    (8, "Ünïcode tökens ünïcode tökens ünïcode tökens"),
    (9, "tab\tand\nnewline are not split delimiters here"),
    (10, "x " * 200),  # long doc, duplicate shingles collapse
]


@pytest.mark.parametrize("k", [2, 3, 5])
def test_let_bound_shingles_match_naive_form(spark, k):
    from eve_graph_spark.operators.dedup import _shingles_sql

    df = spark.createDataFrame(ADVERSARIAL_TEXTS, "doc_id long, text string")
    mism = (
        df.select(
            F.expr(_shingles_sql("text", k)).alias("opt"),
            F.expr(_naive_shingles_sql("text", k)).alias("ref"),
        )
        .filter("opt <> ref OR (opt IS NULL) <> (ref IS NULL)")
        .count()
    )
    assert mism == 0


def test_let_bound_shingles_single_split_in_lambda(spark):
    """The optimization itself: the per-position lambda must reference the
    let-bound word array, never re-split the text. A regression to the
    naive form is O(words x text) per doc (measured 3.6x the expression
    cost at sf0.1)."""
    from eve_graph_spark.operators.dedup import _shingles_sql

    sql = _shingles_sql("text", 3)
    body = sql.split("__ws ->", 1)
    assert len(body) == 2, "shingles must let-bind the word array as __ws"
    # inside the binder body the only split() is gone — slice works on __ws
    assert "slice(__ws" in body[1]
    assert "slice(split" not in body[1]


def _naive_fixed_point_topk(embeddings, q, k, id_col, vec_col):
    """Pre-r13 posexplode + SUM reference for the exact fixed-point
    brute-force kernel."""
    from pyspark.sql import Window

    from eve_graph_spark.operators.similarity import (
        FIXED_POINT_SCALE,
        fixed_sqnorm_expr,
    )

    cand = embeddings.select(F.col(id_col), F.posexplode(vec_col).alias("pos", "cval"))
    qexp = q.select("query_id", F.posexplode("qvec").alias("pos", "qval"))
    prods = cand.join(F.broadcast(qexp), "pos").filter(F.col(id_col) != F.col("query_id"))
    fp = lambda c: F.floor(c * FIXED_POINT_SCALE + F.lit(0.5))  # noqa: E731
    dots = prods.groupBy("query_id", id_col).agg(
        (F.sum(fp(F.col("cval").cast("double") * F.col("qval").cast("double")))
         / F.lit(float(FIXED_POINT_SCALE))).alias("dot")
    )
    norms = (
        embeddings.select(F.col(id_col).alias("nid"), F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("nid")
        .agg((F.sum(fp(F.col("v").cast("double") * F.col("v").cast("double")))
              / F.lit(float(FIXED_POINT_SCALE))).alias("sqnorm"))
    )
    qnorms = q.select("query_id", fixed_sqnorm_expr(F.col("qvec")).alias("qn"))
    scored = (
        dots.join(F.broadcast(qnorms), "query_id")
        .join(norms.withColumnRenamed("sqnorm", "cn"), F.col(id_col) == F.col("nid"))
        .select("query_id", id_col,
                (F.col("dot") / (F.sqrt("qn") * F.sqrt("cn"))).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def test_fold_brute_force_matches_explode_reference(spark):
    """r13: the crossJoin+fold exact brute-force must reproduce the old
    posexplode+SUM plan bit-for-bit on uniform-width vectors, including
    NULL elements (SUM skips them) and negative values."""
    from eve_graph_spark.operators.similarity import _brute_force_topk_fixed_point

    rows = []
    for i in range(40):
        vec = [((i * 7 + j * 13) % 21 - 10) / 3.0 for j in range(8)]
        if i % 11 == 3:
            vec[2] = None  # NULL element: SUM semantics, not fold-poisoning
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id").isin([0, 5, 17])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = _brute_force_topk_fixed_point(emb, q, 6, "vec_id", "embedding")
    ref = _naive_fixed_point_topk(emb, q, 6, "vec_id", "embedding")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_sssp_route_driver_and_distributed_branches_agree(spark):
    """r13: sssp_route's driver-local branch (one edge collect feeds the
    relaxation, preds rule and walk) must match the distributed branch
    (the old query plan: dist -> 3-frame preds join -> reconstruct walk)
    exactly — dist rows AND path — including a float-tie graph."""
    from eve_graph_spark.operators.graph import sssp_route

    # diamond with two equal-cost 0->3 paths (tie broken by MIN pred),
    # plus a tail and an unreachable island
    edges = [
        (0, 1, 0.5), (0, 2, 0.25), (1, 3, 0.25), (2, 3, 0.5),
        (3, 4, 1.0), (7, 8, 1.0),
    ]
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    d_local, p_local = sssp_route(e, 0, 4)
    with forced_distributed():
        d_dist, p_dist = sssp_route(e, 0, 4)
    assert p_local == p_dist and p_local[0] == 0 and p_local[-1] == 4
    assert sorted(map(tuple, d_local.collect())) == sorted(
        map(tuple, d_dist.select("node", "dist").collect())
    )
    # unreachable target -> empty path, both branches
    assert sssp_route(e, 0, 8)[1] == []
    with forced_distributed():
        assert sssp_route(e, 0, 8)[1] == []


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_kmeans_fit_local_matches_distributed(spark):
    """r13: the driver-local Lloyd fit must return the identical centroid
    dict as the distributed posexplode+groupBy loop — including empty-
    cluster dropout and the int64-encode argmin tie-break."""
    from eve_graph_spark.operators.clustering import kmeans_fit

    rows = [
        (i, [((i * 13 + j * 7) % 29 - 14) / 7.0 for j in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for it in (1, 2, 3):
        local = kmeans_fit(df, k=5, iterations=it, dim=8)
        with forced_distributed():
            dist = kmeans_fit(df, k=5, iterations=it, dim=8)
        assert local == dist, f"iterations={it}: {local} != {dist}"


def test_truncate_lineage_leaf_passthrough(spark):
    """r13 (amended): only a JVM-side LocalRelation leaf passes through
    untouched. A PySpark createDataFrame is a python-RDD-backed
    LogicalRDD — every scan of one re-pays Python deserialization, so it
    MUST still be checkpointed into JVM blocks (the betweenness pair
    joins scan theirs four times; the broader passthrough regressed both
    ~2.5x). A derived frame still gets a real lineage cut."""
    from eve_graph_spark.checkpointing import truncate_lineage

    rdd_backed = spark.createDataFrame([(1, 2.0)], "a long, b double")
    assert rdd_backed._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    cut_rdd = truncate_lineage(rdd_backed)
    assert cut_rdd is not rdd_backed
    assert cut_rdd.collect() == rdd_backed.collect()

    local = spark.sql("SELECT * FROM VALUES (1, 2.0) AS t(a, b)")
    if local._jdf.queryExecution().analyzed().nodeName() == "LocalRelation":
        assert truncate_lineage(local) is local

    derived = rdd_backed.groupBy("a").count()
    cut = truncate_lineage(derived)
    assert cut is not derived
    assert cut.collect() == derived.collect()


def test_mapside_sig_digests_match_separate_expressions(spark):
    """r13 near_dup_clusters rewrite: the fused map-side struct (one
    shingle/md5 pass -> MinHash sig + verify digest set) must be
    bit-identical to the separate portable_minhash_sql /
    portable_shingle_digests_sql expressions the old pipeline evaluated
    over representative texts — including null/empty/short-text docs."""
    from eve_graph_spark.operators.dedup import (
        PORTABLE_P,
        _shingles_sql,
        portable_minhash_sql,
        portable_shingle_digests_sql,
        portable_shingle_hash_sql,
    )

    num_hashes, k = 8, 3
    hs = portable_shingle_hash_sql(_shingles_sql("text", k))
    fused = (
        f"transform(array({hs}), __hs -> struct("
        f"aggregate(__hs, array_repeat(CAST({PORTABLE_P} AS BIGINT), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        f"(a, j) -> least(a, ((2 * j + 1) * h + 97 * j + 13) % {PORTABLE_P}))) AS sig, "
        f"array_distinct(__hs) AS sh))[0]"
    )
    df = spark.createDataFrame(ADVERSARIAL_TEXTS, "doc_id long, text string")
    mism = (
        df.select(
            F.expr(fused).alias("f"),
            F.expr(portable_minhash_sql("text", num_hashes, k)).alias("sig"),
            F.expr(portable_shingle_digests_sql("text", k)).alias("sh"),
        )
        .filter(
            "f.sig IS DISTINCT FROM sig OR f.sh IS DISTINCT FROM sh"
        )
        .count()
    )
    assert mism == 0


def test_near_dup_clusters_shuffles_no_text(spark):
    """r13: the pair-stage exchange must carry signatures/digests, never
    the text column — the formatted plan's exchange inputs stay free of
    a raw `text` reference below the groupBy."""
    from eve_graph_spark.operators.dedup import near_dup_clusters

    df = spark.createDataFrame(ADVERSARIAL_TEXTS, "doc_id long, text string")
    # the forced-distributed arm: this pins the DISTRIBUTED pipeline's plan
    # (the driver-local branch would otherwise absorb the tiny fixture
    # into a LocalRelation with no exchanges at all)
    with forced_distributed():
        plan = near_dup_clusters(df)._jdf.queryExecution().optimizedPlan().toString()
    # the old pipeline carried the representative TEXT through the exact-dup
    # aggregate (min_by(text, doc_id)) and signed it post-exchange; the
    # rewrite must never aggregate raw text — only the md5 digest key and
    # the pre-computed sig/digest arrays survive past the scan
    assert "min_by(text" not in plan, plan
    assert "md5(" in plan  # the digest grouping key is still there


def test_ivf_pq_driver_local_encode_matches_distributed(spark):
    """r13: when the train collect covers the whole corpus, ivf_pq_index
    encodes driver-side — (cell, codes) must be bit-identical to the
    distributed expression encode (same model, same tie-breaks, cumsum
    reductions replicating the fold's left-to-right float adds)."""
    from eve_graph_spark.operators.similarity import ivf_pq_index

    rows = [
        (i, [((i * 31 + j * 17) % 101 - 50) / 13.0 for j in range(16)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx_local, m_local = ivf_pq_index(emb, m_subspaces=4)
    with forced_distributed():
        idx_dist, m_dist = ivf_pq_index(emb, m_subspaces=4)
    # "_"-prefixed keys are session-only carry (the driver-local branch
    # exposes its corpus collect for ivf_pq_topk reuse); the persisted
    # model contract must be identical
    strip = lambda m: {k: v for k, v in m.items() if not k.startswith("_")}  # noqa: E731
    assert strip(m_local) == strip(m_dist)
    # session-only carries: the corpus collect (r13) + the driver-encoded
    # index rows and their identity token (r14, feed ivf_pq_topk's
    # driver-local ADC) — never more
    assert {k for k in m_local if k.startswith("_")} == {
        "_corpus_rows", "_index_rows", "_index_df",
    }
    a = sorted(map(tuple, ((r["vec_id"], r["cell"], tuple(r["codes"]))
                           for r in idx_local.collect())))
    b = sorted(map(tuple, ((r["vec_id"], r["cell"], tuple(r["codes"]))
                           for r in idx_dist.collect())))
    assert a == b


def test_community_metrics_driver_and_distributed_branches_agree(spark, monkeypatch):
    """r13: community_metrics gains a driver-local branch below the edge
    threshold and a one-exchange two-sided aggregate in the distributed
    branch — both must produce the identical rows (same integer counters,
    same single double division per metric). Fixture covers internal-only
    communities, cut edges both directions, an unlabeled endpoint
    (inner-join semantics drop the edge from the counters but it still
    counts toward m), and a community with no edges at all."""
    from eve_graph_spark.operators import graph_analytics
    from eve_graph_spark.operators.graph_analytics import community_metrics

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 1), (1, 3),         # community 10: internal triangle-ish
            (3, 4),                          # 10 -> 20 cut
            (4, 5), (5, 4),                  # community 20 internal
            (4, 1),                          # 20 -> 10 cut
            (5, 99),                         # dst unlabeled: drops, still in m
            (99, 1),                         # src unlabeled: drops, still in m
        ],
        "src_system_id long, dst_system_id long",
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (7, 30)],
        "node long, community long",
    )
    key = lambda r: tuple(r)  # noqa: E731
    monkeypatch.setattr(graph_analytics, "DRIVER_MAX_EDGES", 10**6)
    local = sorted(map(key, community_metrics(edges, labels).collect()))
    with forced_distributed():
        dist = sorted(map(key, community_metrics(edges, labels).collect()))
    assert local == dist
    assert len(local) == 3  # community 30 present with zero counters
    by_comm = {r[0]: r for r in local}
    assert by_comm[30][1:] == (1, 0, 0, 0, 0, 0)[:1] + by_comm[30][2:]  # nodes=1
    assert by_comm[30][2:6] == (0, 0, 0, 0)


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_near_dup_clusters_carry_matches_separate_join(spark):
    """r13: carry= evaluates extra per-doc expressions inside the member-map
    scan; the result must equal computing the expression separately and
    joining on the id (the pre-r13 dedup_survivors_quality shape)."""
    from eve_graph_spark.operators.dedup import near_dup_clusters

    df = spark.createDataFrame(ADVERSARIAL_TEXTS, "doc_id long, text string")
    expr = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
    carried = sorted(
        map(tuple, near_dup_clusters(df, carry={"x": expr}).collect())
    )
    joined = sorted(
        map(
            tuple,
            df.select("doc_id", expr.alias("x"))
            .join(near_dup_clusters(df), "doc_id")
            .select("doc_id", "cluster", "x")
            .collect(),
        )
    )
    assert carried == joined
    # and carry=None keeps the original two-column contract
    assert near_dup_clusters(df).columns == ["doc_id", "cluster"]


def test_diameter_estimate_driver_and_distributed_branches_agree(spark, monkeypatch):
    """r13: diameter_estimate gains a fused driver-local branch (both
    sweeps from one edge collect). The forced-distributed arm replays the
    job-composed path, both sweeps included; the rows must be identical — weighted ties
    included (two equal-dist peaks must resolve to the min node in both
    branches)."""
    from eve_graph_spark.operators import graph
    from eve_graph_spark.operators.graph_analytics import diameter_estimate

    # diamond with a tail: ties at dist (nodes 1,2 both at 1.0 from 0),
    # peak on the tail; plus an unreachable island edge (7 -> 8)
    edges = spark.createDataFrame(
        [
            (0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0),
            (3, 4, 0.25), (4, 5, 0.25), (7, 8, 9.0),
        ],
        "src long, dst long, w double",
    )
    monkeypatch.setattr(graph, "DRIVER_SSSP_MAX_EDGES", 10**6)
    for wc in ("w", None):
        local = diameter_estimate(edges, start=0, weight_col=wc).collect()
        with forced_distributed():
            dist = diameter_estimate(edges, start=0, weight_col=wc).collect()
        assert [tuple(r) for r in local] == [tuple(r) for r in dist]


def test_fixed_dot_fold_matches_exploded_sum(spark):
    """r13 (hard_negatives_topk): the crossJoin + fold cosine must equal
    the posexplode -> equi-join on pos -> SUM(floor(a*b*1e9+0.5)) form on
    adversarial vectors (NULL elements, all-NULL). Same integer addends,
    so the doubles are bit-identical."""
    from eve_graph_spark.operators.similarity import (
        _fixed_dot_sum_semantics, fixed_sqnorm_expr,
    )

    FP = 1_000_000_000
    rows = [
        (1, 0, [0.5, -0.25, 0.125, 1.0]),
        (2, 0, [1.0, 1.0, 1.0, 1.0]),
        (3, 1, [0.5, -0.5, 0.5, -0.5]),
        (4, 1, [0.3, None, -0.7, 0.9]),       # NULL element: SUM skips it
        (5, 2, [None, None, None, None]),     # all-NULL: dot/norm NULL
        (6, 2, [1e-9, -1e-9, 0.123456789, -0.987654321]),
    ]
    v = spark.createDataFrame(rows, "vec_id long, label long, vec array<double>")
    fp = lambda c: F.floor(c * FP + F.lit(0.5)).cast("long")  # noqa: E731

    cand = v.select("vec_id", "label", F.posexplode_outer("vec").alias("pos", "val"))
    qexp = v.select(
        F.col("vec_id").alias("query_id"), F.posexplode_outer("vec").alias("pos", "qval")
    )
    dots_ref = (
        cand.join(qexp, "pos")
        .groupBy("query_id", "vec_id")
        .agg((F.sum(fp(F.col("val") * F.col("qval"))) / F.lit(float(FP))).alias("dot"))
    )
    norms_ref = (
        v.select("vec_id", F.posexplode_outer("vec").alias("pos", "x"))
        .groupBy("vec_id")
        .agg((F.sum(fp(F.col("x") * F.col("x"))) / F.lit(float(FP))).alias("sq"))
    )
    ref = (
        dots_ref.join(
            norms_ref.withColumnRenamed("sq", "q_sq")
            .withColumnRenamed("vec_id", "query_id"), "query_id")
        .join(norms_ref.withColumnRenamed("sq", "v_sq"), "vec_id")
        .select(
            "query_id", "vec_id",
            (F.col("dot") / (F.sqrt("q_sq") * F.sqrt("v_sq"))).alias("cosine"),
        )
    )
    q = v.select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
        fixed_sqnorm_expr(F.col("vec"), FP).alias("q_sq"),
    )
    opt = (
        v.select("vec_id", "vec", fixed_sqnorm_expr(F.col("vec"), FP).alias("v_sq"))
        .crossJoin(F.broadcast(q))
        .select(
            "query_id", "vec_id",
            (_fixed_dot_sum_semantics(F.col("qvec"), F.col("vec"))
             / (F.sqrt("q_sq") * F.sqrt("v_sq"))).alias("cosine"),
        )
    )
    key = lambda r: (r["query_id"], r["vec_id"])  # noqa: E731
    a = {key(r): r["cosine"] for r in ref.collect()}
    b = {key(r): r["cosine"] for r in opt.collect()}
    assert set(a) == set(b)
    for k in a:
        x, y = a[k], b[k]
        assert (x is None) == (y is None), k
        if x is not None:
            import math
            assert (x == y) or (math.isnan(x) and math.isnan(y)), (k, x, y)


def test_repetition_stats_matches_explode_reference(spark):
    """r13: the zero-shuffle sorted-run repetition_stats must row-for-row
    equal the explode -> (doc, gram) count -> per-doc rollup form it
    replaced, including the NULL-text drop, 1-word docs (no bigrams ->
    top_bigram_frac 0.0), duplicate-heavy and unicode docs."""
    from eve_graph_spark.operators.text_analysis import repetition_stats

    df = spark.createDataFrame(ADVERSARIAL_TEXTS, "doc_id long, text string")

    text = F.col("text")
    ws = F.split(F.lower(text), " ")
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def gram_stats(gram_col, n, nd, top):
        g = df.select(F.col("doc_id"), F.explode(gram_col).alias("gram"))
        per = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
        return per.groupBy("doc_id").agg(
            F.sum("cnt").alias(n), F.count(F.lit(1)).alias(nd), F.max("cnt").alias(top)
        )

    w = gram_stats(ws, "n_words", "n_distinct_words", "top_word_n")
    b = gram_stats(bigrams, "n_bigrams", "n_distinct_bigrams", "top_bigram_n")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    ref = (
        w.join(b, "doc_id", "left")
        .select(
            "doc_id", "n_words", "n_distinct_words", "top_word_n",
            F.coalesce("top_bigram_n", F.lit(0)).alias("top_bigram_n"),
            ((dbl("n_words") - dbl("n_distinct_words")) / dbl("n_words")).alias("dup_word_frac"),
            (dbl("top_word_n") / dbl("n_words")).alias("top_word_frac"),
            F.coalesce(dbl("top_bigram_n") / dbl("n_bigrams"), F.lit(0.0)).alias("top_bigram_frac"),
        )
    )
    a = sorted(map(tuple, ref.collect()))
    bres = sorted(map(tuple, repetition_stats(df).collect()))
    assert a == bres
    assert repetition_stats(df).columns == ref.columns
