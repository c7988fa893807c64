"""frames.local_frame: driver-built frames ride Arrow.

- For every type the package passes, a local_frame collects to the same
  rows as the Python-list createDataFrame it replaced.
- Under Spark's localRelationThreshold the frame is a LocalRelation and
  collecting it runs no Spark job; over it the frame is an Arrow RDD.
  Either way, a multi-batch frame keeps its rows, also when
  maxRecordsPerBatch is set to its "no limit" value of 0.
- The driver branches of pagerank, connected_components,
  near_dup_clusters and semantic_dedup return frames whose collect runs
  no Spark job.
- No module in the package calls createDataFrame.
"""

from __future__ import annotations

import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from eve_graph_spark.frames import local_frame

_NUMS = [
    (1, 2, 1.5), (None, None, None), (-3, 7, float("nan")), (4, 0, -0.0),
    (5, -1, float("inf")), (6, 3, float("-inf")), (2**62, 2**30, 1e-300),
]
_CASES = {
    "long_int_double": (_NUMS, "a long, b int, c double"),
    "string_boolean": (
        [("a", True), ("", False), (None, None), ("ß İ 你好", True)],
        "s string, f boolean",
    ),
    "array_double": (
        [(1, [1.0, float("nan"), -0.0]), (2, []), (3, None), (4, [None, 2.5])],
        "id long, v array<double>",
    ),
    "array_int": ([(1, [3, 0, 255]), (2, None), (3, [])], "id long, codes array<int>"),
    "array3_double": (
        [([[[1.0, 2.0]], [[3.0], []]],), ([],), (None,)],
        "cb array<array<array<double>>>",
    ),
    "array_struct": (
        [([(2, [0.5, -1.0]), (7, [])],), ([(1, None)],), (None,)],
        "cents array<struct<cell:bigint,cvec:array<double>>>",
    ),
    "empty": ([], "node long, rank double"),
}


def _same(a, b) -> bool:
    """Row equality with NaN == NaN and -0.0 told apart from 0.0."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or (
            a == b and math.copysign(1, a) == math.copysign(1, b)
        )
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def _leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().nodeName()


def _collect(spark, df):
    """(rows, ids of the Spark jobs the collect launched)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    rows = df.collect()
    return rows, set(tracker.getJobIdsForGroup() or []) - before


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_frame_matches_list_create(spark, case):
    rows, ddl = _CASES[case]
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert _same(got.collect(), want.collect())


def test_local_frame_accepts_struct_type(spark):
    rows, ddl = _CASES["long_int_double"]
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, want.schema)
    assert _same(got.collect(), want.collect())


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2.0), (2,)], "a long, b double")


def test_small_local_frame_collects_without_a_job(spark):
    df = local_frame(spark, [(i, float(i)) for i in range(5_000)], "a long, b double")
    assert _leaf(df) == "LocalRelation"
    rows, jobs = _collect(spark, df)
    assert len(rows) == 5_000 and not jobs


def _with_conf(spark, key, value, fn):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        return fn()
    finally:
        spark.conf.set(key, prev)


_MULTI_BATCH = [(i, i / 7.0, f"s{i % 97}") for i in range(25_000)]  # 3 batches


@pytest.mark.parametrize(
    "threshold, leaf", [(None, "LocalRelation"), ("0", "LogicalRDD")],
    ids=["local_relation", "arrow_rdd"],
)
def test_multi_batch_local_frame_keeps_its_rows(spark, threshold, leaf):
    def build():
        df = local_frame(spark, _MULTI_BATCH, "a long, b double, s string")
        return _leaf(df), [tuple(r) for r in df.collect()]

    key = "spark.sql.execution.arrow.localRelationThreshold"
    got = build() if threshold is None else _with_conf(spark, key, threshold, build)
    assert got == (leaf, _MULTI_BATCH)


def test_local_frame_ignores_unbounded_max_records_per_batch(spark):
    # Spark documents maxRecordsPerBatch <= 0 as "no limit"
    df = _with_conf(
        spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "0",
        lambda: local_frame(spark, _MULTI_BATCH, "a long, b double, s string"),
    )
    assert [tuple(r) for r in df.collect()] == _MULTI_BATCH


# --- driver branches of the analytics: their result reads run no job -------


def test_graph_driver_branches_collect_without_a_job(spark, sf_dir):
    from eve_graph_spark.operators.graph_analytics import connected_components, pagerank
    from eve_graph_spark.sources.graph_fixture import build_jumps

    jumps = build_jumps(spark, sf_dir)
    e = jumps.select(F.col("src_system_id").alias("src"), F.col("dst_system_id").alias("dst"))
    pr = pagerank(e, src_col="src", dst_col="dst")
    cc = connected_components(e, src_col="src", dst_col="dst")
    assert not _collect(spark, pr)[1]
    assert not _collect(spark, cc)[1]


def test_dedup_driver_branches_collect_without_a_job(spark):
    from eve_graph_spark.operators.dedup import near_dup_clusters, semantic_dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "alpha beta gamma epsilon"), (4, None), (5, "wormholes and stargates")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [((i * 13 + j * 7) % 29 - 14) / 7.0 for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    assert not _collect(spark, near_dup_clusters(docs))[1]
    assert not _collect(spark, semantic_dedup(emb, k=3, iterations=2, dim=8))[1]


def test_no_package_module_calls_create_dataframe():
    # local_frame hands its Arrow batches to the JVM itself; a Python-list
    # createDataFrame anywhere in the package would bring back the
    # Python-worker job on every read
    pkg = Path(__file__).resolve().parent.parent / "eve_graph_spark"
    hits = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if ".createDataFrame(" in p.read_text(encoding="utf-8")
    )
    assert hits == []
