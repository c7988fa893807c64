"""Skew mitigation correctness + property-based SSSP fuzzing."""

from __future__ import annotations

import pytest
from conftest import forced_distributed
# slow tier: property-based sweeps over random graphs/corpora — deselected from the driver-window default run
pytestmark = pytest.mark.slow

import heapq

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from eve_graph_spark.operators.skew import salted_count, salted_join

# --- salting ----------------------------------------------------------------


def test_salted_join_matches_plain_join(spark):
    # one hot key (0) with 5k rows, long tail of 100 keys
    big = spark.range(0, 6000).select(
        F.when(F.col("id") < 5000, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    plain = big.join(small, "k").select("k", "payload", "v")
    salted = salted_join(big, small, "k", salt_buckets=4).select("k", "payload", "v")
    assert plain.exceptAll(salted).isEmpty() and salted.exceptAll(plain).isEmpty()


def test_salted_join_scatters_hot_key(spark):
    big = spark.range(0, 5000).select(F.lit(0).alias("k"), F.col("id").alias("payload"))
    small = spark.range(0, 1).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    out = salted_join(big, small, "k", salt_buckets=8)
    # the hot key's rows must occupy >1 shuffle partition after the join
    n_parts = (
        out.withColumn("p", F.spark_partition_id()).select("p").distinct().count()
    )
    assert n_parts > 1


def test_salted_count_matches_group_count(spark):
    df = spark.range(0, 3000).select(
        F.when(F.col("id") < 2500, 7).otherwise(F.col("id") % 10).alias("k")
    )
    expected = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    got = {r["k"]: r["cnt"] for r in salted_count(df, "k").collect()}
    assert got == expected


# --- property-based SSSP ----------------------------------------------------


def _py_dijkstra(edges, src):
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=1, max_value=5),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=edge_lists)
def test_sssp_matches_dijkstra_on_random_graphs(spark, edges):
    from eve_graph_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [(u, v, float(w)) for u, v, w in edges], "src long, dst long, weight double"
    )
    got = {r["node"]: r["dist"] for r in sssp(e, [0]).collect()}
    expected = _py_dijkstra([(u, v, float(w)) for u, v, w in edges], 0)
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    edges=edge_lists,
    sources=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=3, unique=True),
)
def test_multi_source_sssp_matches_dijkstra_per_source(spark, edges, sources):
    """Round-6 machinery: the (source, node)-keyed frontier loop's driver
    fast path must equal an independent Dijkstra per source — including
    sources absent from the edge set (they yield only their self row)."""
    from eve_graph_spark.operators.graph import multi_source_sssp

    e = spark.createDataFrame(
        [(u, v, float(w)) for u, v, w in edges], "src long, dst long, weight double"
    )
    got = {
        (r["source"], r["node"]): r["dist"]
        for r in multi_source_sssp(e, sources).collect()
    }
    expected = {}
    for s in sources:
        for node, d in _py_dijkstra([(u, v, float(w)) for u, v, w in edges], s).items():
            expected[(s, node)] = d
    assert got == expected


# --- property-based near-dup collapse invariance ----------------------------

_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
_texts = st.lists(
    st.lists(_words, min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=_texts)
def test_near_dup_clusters_collapse_invariance(spark, texts):
    """near_dup_clusters' claim (dedup.py): exact-dup pre-collapse leaves
    cluster membership identical to the direct member-level pipeline
    (LSH pairs over ALL docs -> CC -> min-id cluster, unclustered docs
    their own cluster). Small-word corpora force duplicate and
    near-duplicate texts often, so the collapse actually fires."""
    from eve_graph_spark.operators.dedup import near_dup_clusters, portable_minhash_near_dups
    from eve_graph_spark.operators.graph_analytics import connected_components

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["cluster"]
        for r in near_dup_clusters(docs, threshold=0.5).collect()
    }

    pairs = portable_minhash_near_dups(docs, threshold=0.5).select("id_a", "id_b")
    sym = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d")).union(
        pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
    )
    cc = {
        r["node"]: r["component"]
        for r in connected_components(sym, src_col="s", dst_col="d").collect()
    }
    expected = {i: cc.get(i, i) for i in range(len(texts))}
    assert got == expected


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(edges=edge_lists)
def test_star_cc_matches_union_find_on_random_graphs(spark, edges):
    """Star contraction (round 6) vs the driver union-find reference on
    random digraphs (symmetrized), including self-loops and duplicate
    edges the generator produces."""
    from eve_graph_spark.operators.graph_analytics import connected_components

    sym = [(u, v) for u, v, _ in edges] + [(v, u) for u, v, _ in edges]
    e = spark.createDataFrame(sym, "src long, dst long")
    ref = {
        r["node"]: r["component"]
        for r in connected_components(e, src_col="src", dst_col="dst").collect()
    }
    with forced_distributed():
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                e, src_col="src", dst_col="dst", algorithm="star"
            ).collect()
        }
    assert got == ref
