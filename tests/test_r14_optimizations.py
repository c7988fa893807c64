"""Round-14 optimization pins: every r14 change to an operator's internals
gets a branch-parity or semantics test here (bench-harness changes are
covered by test_bench_flags).

- semantic_dedup gains a driver-local branch (one collect + numpy twins of
  fit/assign/pair kernel) — pinned bit-identical to the distributed path,
  and declining (falling back) on non-finite vectors.
- near_dup_clusters gains a driver-local branch (engine-computed
  digest/sig/sh/carry collected once; banding/verify/CC replayed in
  integer Python) — pinned bit-identical, carry included.
- ivf_pq_topk gains a driver-local ADC+rerank when the index build
  collected the corpus — pinned bit-identical to the distributed ADC.
- brute_force_topk accepts a caller-provided query batch (q_df) — pinned
  identical to the self-derived batch.
- bm25's document-length stat moved to character arithmetic — pinned
  equal to size(split(...)) on adversarial texts.
- fits_driver(force_exempt=) keeps driver-only operators runnable under
  SPARK_GRAFT_FORCE_DISTRIBUTED=1.
"""

from __future__ import annotations

import math

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F


def _emb_fixture(spark, n=60, dim=8, dup_pairs=True):
    rows = []
    for i in range(n):
        v = [((i * 13 + j * 7) % 29 - 14) / 7.0 for j in range(dim)]
        rows.append((i, v))
    if dup_pairs:
        # near-identical neighbors inside clusters to exercise tau hits
        rows.append((n, [x * 1.000001 for x in rows[0][1]]))
        rows.append((n + 1, list(rows[1][1])))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_local_matches_distributed(spark):
    from eve_graph_spark.operators.dedup import semantic_dedup

    emb = _emb_fixture(spark, dim=8)
    loc = sorted(map(tuple, semantic_dedup(
        emb, k=3, iterations=2, tau=0.3, dim=8).collect()))
    with forced_distributed():
        dist = sorted(map(tuple, semantic_dedup(
            emb, k=3, iterations=2, tau=0.3, dim=8).collect()))
    assert loc == dist
    assert any(not r[3] for r in loc)  # the dup rows actually got dropped


def test_semantic_dedup_local_declines_on_nonfinite(spark):
    from eve_graph_spark.operators.dedup import semantic_dedup

    rows = [(0, [1.0, 2.0]), (1, [float("nan"), 1.0]), (2, [1.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # NaN fv casts clamp differently in numpy vs SQL — the local branch
    # must decline and both calls run the (authoritative) distributed path
    loc = sorted(map(tuple, semantic_dedup(emb, k=2, iterations=2, dim=2).collect()))
    with forced_distributed():
        dist = sorted(map(tuple, semantic_dedup(
            emb, k=2, iterations=2, dim=2).collect()))
    assert loc == dist


ADVERSARIAL = [
    (1, "alpha beta gamma alpha beta gamma alpha beta"),
    (2, "alpha beta gamma alpha beta gamma alpha beta"),  # exact dup
    (3, "alpha beta gamma alpha beta gamma alpha delta"),  # near dup
    (4, None),  # NULL text
    (5, ""),  # empty
    (6, "  leading and   multiple   spaces  "),
    (7, "unicode ß İ 你好 tokens repeated unicode ß İ 你好 tokens"),
    (8, "totally different content about wormholes and stargates here"),
]


def test_near_dup_clusters_local_matches_distributed_with_carry(spark):
    from eve_graph_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    carry = {"tlen": F.length(F.coalesce("text", F.lit(""))).cast("long")}
    loc = sorted(map(tuple, near_dup_clusters(docs, carry=dict(carry)).collect()))
    with forced_distributed():
        dist = sorted(map(tuple, near_dup_clusters(
            docs, carry=dict(carry)).collect()))
    assert loc == dist
    # exact dups 1/2 share a cluster; every doc appears exactly once
    by_id = {r[0]: r[1] for r in loc}
    assert by_id[1] == by_id[2]
    assert len(loc) == len(ADVERSARIAL)


def test_near_dup_clusters_capped_path_unchanged_by_threshold(spark):
    # max_bucket_size != None must bypass the local branch entirely (the
    # quantile-cap logic is distributed-only) and still work
    from eve_graph_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    uncapped = sorted(map(tuple, near_dup_clusters(docs).collect()))
    capped = sorted(map(tuple, near_dup_clusters(
        docs, max_bucket_size="auto").collect()))
    assert uncapped == capped  # generous auto cap never fires here


def test_ivf_pq_topk_driver_adc_matches_distributed(spark):
    from eve_graph_spark.operators.similarity import ivf_pq_index, ivf_pq_topk

    emb = spark.createDataFrame(
        [(i, [((i * 31 + j * 17) % 101 - 50) / 13.0 for j in range(16)])
         for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    qids = [3, 57, 110]
    idx_l, m_l = ivf_pq_index(emb, m_subspaces=4)
    with forced_distributed():
        idx_d, m_d = ivf_pq_index(emb, m_subspaces=4)
    assert "_index_rows" in m_l and "_index_rows" not in m_d
    local = sorted(map(tuple, ivf_pq_topk(
        emb, qids, k=5, index=idx_l, model=m_l).collect()))
    dist = sorted(map(tuple, ivf_pq_topk(
        emb, qids, k=5, index=idx_d, model=m_d).collect()))
    assert local == dist
    assert local  # non-empty: the ADC actually returned neighbors


def test_brute_force_topk_q_df_matches_self_derived(spark):
    from eve_graph_spark.operators.similarity import brute_force_topk

    emb = _emb_fixture(spark, n=40, dim=8, dup_pairs=False)
    qids = [1, 7]
    base = sorted(map(tuple, brute_force_topk(
        emb, qids, k=4, exact_fixed_point=True).collect()))
    q_df = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in emb.collect()
         if r["vec_id"] in qids],
        "query_id long, qvec array<double>",
    )
    shared = sorted(map(tuple, brute_force_topk(
        emb, qids, k=4, exact_fixed_point=True, q_df=q_df).collect()))
    assert base == shared


@pytest.mark.parametrize("text", [
    None, "", " ", "a", "a b", "  a  b  ", "one two three", "ß İ",
    "trailing space ", " leading", "a" * 100,
])
def test_bm25_char_arithmetic_dl_equals_split_size(spark, text):
    # dl = |split(lower(t), ' ')| == |spaces in t| + 1 for ANY text (split
    # emits one element per gap; '' splits to ['']; lower never touches
    # U+0020) — the char-arithmetic form the bm25 stats pass uses
    df = spark.createDataFrame([(text,)], "text string")
    t = F.coalesce("text", F.lit(""))
    row = df.select(
        F.size(F.split(F.lower(t), " ")).cast("long").alias("dl_split"),
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1)
        .cast("long").alias("dl_chars"),
    ).collect()[0]
    assert row["dl_split"] == row["dl_chars"]


def test_force_distributed_exempts_driver_only_operators(spark, monkeypatch):
    from eve_graph_spark.operators import graph
    from eve_graph_spark.operators.graph_analytics import bfs_sigma

    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    graph.clear_probe_cache()
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long")
    # all-pairs sigma (source_ids=None) has no distributed twin: it must
    # still run driver-local under the arm instead of raising
    rows = bfs_sigma(e, None, src_col="src", dst_col="dst").collect()
    assert len(rows) == 9
    # while an explicit-source call IS forced distributed (probe says no)
    assert graph.fits_driver(e, 1_000_000) is False
    assert graph.fits_driver(e, 1_000_000, force_exempt=True) is True
    monkeypatch.delenv("SPARK_GRAFT_FORCE_DISTRIBUTED")
    graph.clear_probe_cache()
