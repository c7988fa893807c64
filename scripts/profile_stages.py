"""Ad-hoc stage profiler for optimization work (guide §1): times labelled
sub-plans of expensive queries with the noop sink under the bench's session
config. Not part of the driver contract.

Usage: python scripts/profile_stages.py <family> [reps]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .appName("stage-profile")
    .config("spark.sql.shuffle.partitions", str(cpus))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.driver.memory", "8g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 2


def t(label, df_builder):
    """Best-of-REPS noop-sink timing of a DataFrame builder."""
    best = None
    for _ in range(REPS):
        t0 = time.perf_counter()
        df_builder().write.format("noop").mode("overwrite").save()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    print(f"  {best:7.3f}s  {label}", flush=True)
    return best


def warmup():
    from eve_graph_spark import queries as registry
    from eve_graph_spark.sources.graph_fixture import build_jumps

    registry.q1_pricing_summary(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(cpus * 100).repartition(cpus).mapInPandas(
        lambda b: b, "id long"
    ).write.format("noop").mode("overwrite").save()
    build_jumps(spark, sf_dir, with_risk=True).write.format("noop").mode("overwrite").save()
    build_jumps(spark, sf_dir, with_risk=False).write.format("noop").mode("overwrite").save()


def profile_dedup():
    from eve_graph_spark.operators.dedup import (
        jaccard_pairs,
        portable_lsh_candidates,
        portable_minhash_near_dups,
        portable_minhash_sql,
        portable_shingle_digests_sql,
        near_dup_clusters,
    )
    from eve_graph_spark.sources.tables import load_table, spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    digest = F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8"))
    withd = docs.select(F.col("doc_id"), F.col("text"), digest.alias("__dg"))
    reps = withd.groupBy("__dg").agg(
        F.min("doc_id").alias("__rep"),
        F.min_by("text", F.col("doc_id")).alias("text"),
    )
    rep_docs = reps.select(F.col("__rep").alias("doc_id"), "text")

    t("docs scan only", lambda: docs)
    t("exact-dup reps groupBy", lambda: reps)
    t("portable minhash sigs over reps", lambda: rep_docs.select(
        "doc_id", F.expr(portable_minhash_sql("text", 8, 3)).alias("__sig")))
    t("verify digest sets over reps", lambda: rep_docs.select(
        "doc_id", F.expr(portable_shingle_digests_sql("text", 3)).alias("sh")))
    t("lsh candidates (band+bucket join)", lambda: portable_lsh_candidates(rep_docs))
    t("cands + jaccard verify", lambda: portable_minhash_near_dups(rep_docs, threshold=0.5))
    t("near_dup_clusters end-to-end", lambda: near_dup_clusters(docs, threshold=0.5))

    from eve_graph_spark import queries as registry

    t("dedup_pipeline_documents (registered)", lambda: registry.queries()["dedup_pipeline_documents"](spark, sf_dir))
    t("dedup_survivors_quality (registered)", lambda: registry.queries()["dedup_survivors_quality"](spark, sf_dir))


def profile_ann():
    from eve_graph_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        ivf_topk,
    )
    from eve_graph_spark.queries import ANN_QUERY_IDS
    from eve_graph_spark.sources.tables import load_table, spread

    emb = spread(load_table(spark, sf_dir, "embeddings")).filter(F.size("embedding") == 64)
    t("emb scan", lambda: emb)
    t("brute exact fixed-point k=10", lambda: brute_force_topk(
        emb, ANN_QUERY_IDS, k=10, exact_fixed_point=True))
    t("ivf_topk k=10", lambda: ivf_topk(emb, ANN_QUERY_IDS, k=10))
    t("ivf_pq_topk k=10", lambda: ivf_pq_topk(emb, ANN_QUERY_IDS, k=10))

    from eve_graph_spark import queries as registry

    for q in ("ann_brute_force_topk", "ann_ivf_topk", "ann_ivf_pq_topk",
              "ann_ivf_production", "hard_negatives_topk"):
        t(q, lambda q=q: registry.queries()[q](spark, sf_dir))


def profile_route():
    from eve_graph_spark import queries as registry

    for q in ("sssp_cost", "sssp_weighted", "safest_route_path",
              "route_avoiding_risky", "route_alternatives_k3", "a_star_route",
              "diameter_weighted", "community_conductance"):
        t(q, lambda q=q: registry.queries()[q](spark, sf_dir))


def profile_kmeans():
    from eve_graph_spark import queries as registry
    from eve_graph_spark.operators.clustering import kmeans_fit
    from eve_graph_spark.sources.tables import load_table, spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))

    def fit_only():
        kmeans_fit(emb, k=4, iterations=2)
        return spark.range(1)

    t("kmeans_fit only (driver loop)", fit_only)
    for q in ("kmeans_embeddings", "semantic_dedup_embeddings"):
        t(q, lambda q=q: registry.queries()[q](spark, sf_dir))


FAMILIES = {
    "dedup": profile_dedup,
    "ann": profile_ann,
    "route": profile_route,
    "kmeans": profile_kmeans,
}

if __name__ == "__main__":
    fam = sys.argv[1]
    print("warmup...", flush=True)
    warmup()
    print(f"profiling {fam} (best of {REPS}):", flush=True)
    FAMILIES[fam]()
    spark.stop()
