"""Unit tests: entity resolution, link prediction, EWMA, sequence packing,
decontamination — synthetic inputs with hand-checked ground truth (the
oracle parity tests cover the registry queries; these pin the operator
semantics directly)."""

from __future__ import annotations

import pytest
from conftest import forced_distributed
from pyspark.sql import functions as F

from eve_graph_spark.operators.entity_resolution import blocked_fuzzy_match
from eve_graph_spark.operators.graph_analytics import jaccard_link_prediction
from eve_graph_spark.operators.timeseries import ewma_by_group


def test_blocked_fuzzy_match_picks_nearest_in_block(spark):
    clean = spark.createDataFrame(
        [(1, "alice smith", 0), (2, "alicia smith", 0), (3, "bob jones", 1)],
        "key long, name string, block long",
    )
    dirty = spark.createDataFrame(
        [(10, "alice smyth", 0), (11, "bob jonez", 1), (12, "zzzzz", 1)],
        "key long, name string, block long",
    )
    got = {r["dirty_key"]: (r["clean_key"], r["distance"])
           for r in blocked_fuzzy_match(dirty, clean, max_distance=3).collect()}
    assert got[10] == (1, 1)  # smyth->smith is 1 edit; alicia is further
    assert got[11] == (3, 1)
    assert 12 not in got  # nothing within max_distance


def test_blocked_fuzzy_match_never_crosses_blocks(spark):
    clean = spark.createDataFrame([(1, "same", 0)], "key long, name string, block long")
    dirty = spark.createDataFrame([(2, "same", 1)], "key long, name string, block long")
    assert blocked_fuzzy_match(dirty, clean).count() == 0


def test_jaccard_link_prediction_path_graph(spark):
    # path 1-2-3: only non-adjacent pair is (1,3), N(1)={2}, N(3)={2}
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src_system_id long, dst_system_id long"
    )
    rows = jaccard_link_prediction(edges).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["node_a"], r["node_b"], r["common_cnt"]) == (1, 3, 1)
    assert r["jaccard"] == 1.0  # 1 / (1 + 1 - 1)


def test_jaccard_excludes_adjacent_pairs(spark):
    # triangle: every pair adjacent -> no predictions
    e = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a != b]
    edges = spark.createDataFrame(e, "src_system_id long, dst_system_id long")
    assert jaccard_link_prediction(edges).count() == 0


def test_ewma_matches_pandas_fold(spark):
    import pandas as pd

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "g long, i long, v double"
    )
    got = ewma_by_group(df, "g", "i", "v", alpha=0.25).collect()[0]
    expected = pd.Series(vals).ewm(alpha=0.25, adjust=False).mean().iloc[-1]
    assert got["n_obs"] == len(vals)
    assert got["ewma"] == pytest.approx(expected, abs=1e-12)


def test_ewma_singleton_group_is_identity(spark):
    df = spark.createDataFrame([(1, 0, 7.5)], "g long, i long, v double")
    assert ewma_by_group(df, "g", "i", "v").collect()[0]["ewma"] == 7.5


def test_ewma_order_independence_of_input(spark):
    # fold must follow the order column, not arrival order
    rows = [(1, 2, 10.0), (1, 0, 1.0), (1, 1, 5.0)]
    df = spark.createDataFrame(rows, "g long, i long, v double")
    acc = 1.0
    for x in (5.0, 10.0):
        acc = acc * 0.75 + x * 0.25
    assert ewma_by_group(df, "g", "i", "v").collect()[0]["ewma"] == acc


def test_sequence_packing_bins_never_skip(spark):
    from eve_graph_spark import queries as registry

    out = registry.queries()["sequence_packing"](spark, "/root/testdata/sf0.001")
    pdf = out.toPandas()
    for _, grp in pdf.groupby("source"):
        g = grp.sort_values("doc_id")
        # bins are a non-decreasing sequence starting at 0 per shard
        bins = g["bin"].tolist()
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) or b2 > b1 for b1, b2 in zip(bins, bins[1:]))
        # offset is the running total modulo nothing — it resets across bins
        assert ((g["bin_offset"] >= 0) & (g["bin_offset"] < 2048)).all()


def test_decontamination_flags_verbatim_overlap(spark):
    from eve_graph_spark.operators.dedup import shingles_expr

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, bench_text),  # benchmark (id < 20)
            (21, "prefix words then alpha beta gamma delta epsilon here"),
            (22, "totally unrelated content with no overlap at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    bench_sh = (
        docs.filter(F.col("doc_id") < 20)
        .select(F.explode(shingles_expr("text", 5)).alias("sh"))
        .distinct()
    )
    corp_sh = docs.filter(F.col("doc_id") >= 20).select(
        "doc_id", F.explode(shingles_expr("text", 5)).alias("sh")
    )
    hits = {r["doc_id"] for r in corp_sh.join(bench_sh, "sh").select("doc_id").distinct().collect()}
    assert hits == {21}


def test_k_core_peels_tail_keeps_triangle(spark):
    from eve_graph_spark.operators.graph_analytics import k_core

    # triangle 1-2-3 plus a pendant 4-1: 2-core = the triangle
    pairs = [(1, 2), (2, 3), (3, 1), (4, 1)]
    e = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(e, "src_system_id long, dst_system_id long")
    assert {r["node"] for r in k_core(edges, k=2).collect()} == {1, 2, 3}
    assert k_core(edges, k=3).count() == 0


def test_k_core_distributed_matches_driver_path(spark):
    from eve_graph_spark.operators.graph_analytics import k_core

    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 1)]
    e = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(e, "src_system_id long, dst_system_id long")
    local = {r["node"] for r in k_core(edges, k=2).collect()}
    with forced_distributed():
        dist = {r["node"] for r in k_core(edges, k=2).collect()}
    assert local == dist == {1, 2, 3, 4, 5}


def test_stream_static_enrichment(spark, tmp_path):
    from eve_graph_spark.streaming.windows import enrich_with_static

    src = tmp_path / "stream_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "user_id long, value double"
    ).write.mode("overwrite").parquet(str(src / "batch0"))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema("user_id long, value double").parquet(
        str(src / "batch0")
    )
    out = enrich_with_static(stream, dim, "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r["user_id"]: r["tier"] for r in spark.sql("SELECT * FROM enriched").collect()}
    assert rows == {1: "gold", 2: "silver", 3: None}


@pytest.mark.slow  # >3s: full-tier only (r14 test tiers)
def test_custom_datasource_reads_and_pushes_filters(spark, tmp_path):
    import json

    from eve_graph_spark.sources.custom_datasource import register_eve_scout

    recs = [
        {"id": "sig-1", "signature_type": "wormhole", "out_system_id": 31000005,
         "out_signature": "ABC-123", "in_system_id": 30000142,
         "in_signature": "DEF-456", "max_ship_size": "large",
         "expires_at": "2024-01-01T12:00:00Z", "remaining_hours": 10},
        {"id": "sig-2", "signature_type": "gas", "out_system_id": 31000006,
         "out_signature": "GGG-777", "in_system_id": 30000144,
         "in_signature": "HHH-888", "max_ship_size": "small",
         "expires_at": "2024-01-01T13:00:00Z", "remaining_hours": 5},
        {"id": "sig-3", "signature_type": "wormhole", "out_system_id": 31000007,
         "out_signature": "III-999", "in_system_id": 30000145,
         "in_signature": "JJJ-000", "max_ship_size": "medium",
         "expires_at": "2024-01-01T14:00:00Z", "remaining_hours": 8},
    ]
    p = tmp_path / "sigs.json"
    p.write_text(json.dumps(recs))
    register_eve_scout(spark)
    df = spark.read.format("eve_scout").option("path", str(p)).load()
    assert df.count() == 3
    wh = df.filter(df.signature_type == "wormhole")
    assert {r["id"] for r in wh.collect()} == {"sig-1", "sig-3"}
    # partitioned read: more partitions than records still yields all rows
    df8 = (
        spark.read.format("eve_scout")
        .option("path", str(p))
        .option("numPartitions", "8")
        .load()
    )
    assert df8.count() == 3


def test_custom_datasource_range_and_in_pushdown(spark, tmp_path):
    """IN-list + expires_at range pushdown (the wormhole-expiry hot filter,
    eve_scout.rs:31): rows must be dropped INSIDE the source's read(), with
    SQL NULL semantics, and unsupported filters handed back to Spark."""
    import json

    from pyspark.sql.datasource import (
        GreaterThan,
        In,
        IsNotNull,
        StringStartsWith,
    )
    from pyspark.sql.types import _parse_datatype_string

    from eve_graph_spark.sources.custom_datasource import (
        SIGNATURE_DDL,
        _EveScoutReader,
        register_eve_scout,
    )

    recs = [
        {"id": "sig-1", "signature_type": "wormhole", "out_system_id": 31000005,
         "expires_at": "2024-01-01T12:00:00Z", "remaining_hours": 10},
        {"id": "sig-2", "signature_type": "gas", "out_system_id": 31000006,
         "expires_at": "2024-01-01T13:00:00Z", "remaining_hours": 5},
        {"id": "sig-3", "signature_type": "wormhole", "out_system_id": 31000007,
         "expires_at": "2024-01-01T14:00:00Z", "remaining_hours": 8},
        {"id": "sig-4", "signature_type": "data", "out_system_id": 31000008,
         "expires_at": None, "remaining_hours": None},  # NULL expiry: every
        # comparison is unknown → dropped by range pushdown
    ]
    p = tmp_path / "sigs.json"
    p.write_text(json.dumps(recs))

    # Reader-level: range + IN absorbed, StringStartsWith handed back.
    schema = _parse_datatype_string(SIGNATURE_DDL)
    reader = _EveScoutReader(schema, {"path": str(p), "numPartitions": "1"})
    handed_back = list(
        reader.pushFilters(
            [
                GreaterThan(attribute=("expires_at",), value="2024-01-01T12:30:00Z"),
                In(attribute=("signature_type",), value=("wormhole", "gas")),
                StringStartsWith(attribute=("id",), value="sig"),
            ]
        )
    )
    assert [type(f) for f in handed_back] == [StringStartsWith]
    assert len(reader._pushed) == 2
    [part] = reader.partitions()
    got = {row[0] for row in reader.read(part)}
    assert got == {"sig-2", "sig-3"}  # sig-1 expired, sig-4 NULL, both pruned

    # End-to-end through Spark: same answer, filters in the query.
    register_eve_scout(spark)
    df = (
        spark.read.format("eve_scout")
        .option("path", str(p))
        .load()
        .filter("expires_at > '2024-01-01T12:30:00Z'")
        .filter("signature_type IN ('wormhole', 'gas')")
    )
    assert {r["id"] for r in df.collect()} == {"sig-2", "sig-3"}
    # NULL-check pushdown keeps only the NULL-expiry row
    nulls = (
        spark.read.format("eve_scout")
        .option("path", str(p))
        .load()
        .filter("expires_at IS NULL")
    )
    assert {r["id"] for r in nulls.collect()} == {"sig-4"}


def test_weighted_mean_udaf_matches_exact(spark):
    from eve_graph_spark.operators.pandas_surface import weighted_mean_by_group

    rows = [(1, 10.0, 1.0), (1, 20.0, 3.0), (2, 5.0, 2.0)]
    df = spark.createDataFrame(rows, "k long, v double, w double")
    got = {r["k"]: r["weighted_mean"] for r in weighted_mean_by_group(df, "k", "v", "w").collect()}
    assert got[1] == pytest.approx((10 * 1 + 20 * 3) / 4.0)
    assert got[2] == pytest.approx(5.0)
