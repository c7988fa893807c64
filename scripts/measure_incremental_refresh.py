"""Measure the incremental-vs-full wormhole-refresh win in shuffle rows.

The reference re-polls wormhole signatures constantly (A6,
sync.rs:66-94) and rebuilds its GDS cost projection each time; the
engine's `refresh_wormholes_incremental` patches the persisted
projection with the per-poll edge delta instead
(`ProjectionRegistry.apply_delta`). The e2e test pins that routes after
either path are identical; THIS script pins the cost claim with
numbers: per-poll shuffle WRITE RECORDS and input records (UI REST
stage diff, same methodology as bench.py), wall milliseconds and
apply_delta's removed/added row counters, full path vs incremental path,
over several simulated polls.

Usage: python scripts/measure_incremental_refresh.py [n_polls]
Prints one JSON line per poll and a summary line; results are recorded
in SCALE.md ("Incremental refresh").
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with sibling scripts)

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from eve_graph_spark.api import GraphEngine  # noqa: E402
from eve_graph_spark.sources.graph_fixture import (  # noqa: E402
    build_jumps,
    build_systems,
)

SF_DIR = "/root/testdata/sf0.1"
SIG_SCHEMA = "id string, signature_type string, in_system_id long, out_system_id long"


def stage_rows(spark) -> dict:
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=15
    ) as r:
        stages = json.load(r)
    return {
        (s["stageId"], s.get("attemptId", 0)): (
            s.get("shuffleWriteRecords", 0),
            s.get("inputRecords", 0),
        )
        for s in stages
    }


def measure(spark, fn) -> tuple[int, int, float]:
    """(shuffle write records, input records, wall ms) attributable to fn()."""
    before = stage_rows(spark)
    t0 = time.perf_counter()
    fn()
    ms = (time.perf_counter() - t0) * 1e3
    after = stage_rows(spark)
    new = [v for k, v in after.items() if k not in before]
    return sum(v[0] for v in new), sum(v[1] for v in new), ms


def poll_signatures(spark, i: int):
    # a poll's worth of churn: two live wormholes, one of them new
    return spark.createDataFrame(
        [
            (f"sig-a{i}", "wormhole", 2, 17),
            (f"sig-b{i}", "wormhole", 5, (7 + i) % 25),
            (f"sig-g{i}", "gas", 1, 2),  # non-wormhole, filtered out
        ],
        SIG_SCHEMA,
    )


def main() -> None:
    import argparse
    import shutil
    import tempfile

    ap = argparse.ArgumentParser()
    ap.add_argument("n_polls", nargs="?", type=int, default=5)
    ap.add_argument("--rep", type=int, default=1,
                    help="replicate the fixture edge table N times (disjoint "
                         "id ranges) and serve it from parquet, so the full "
                         "path's re-derivation reads a real table")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("incremental-refresh-measure")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    systems = build_systems(spark, SF_DIR)
    jumps = build_jumps(spark, SF_DIR, with_risk=True)
    tmp = None
    if args.rep > 1:
        tmp = tempfile.mkdtemp(prefix="inc_refresh_")
        reps = spark.range(args.rep).select(F.col("id").alias("k"))
        (
            jumps.crossJoin(reps)
            .select(
                (F.col("src_system_id") + F.col("k") * 1000).alias("src_system_id"),
                (F.col("dst_system_id") + F.col("k") * 1000).alias("dst_system_id"),
                "cost", "risk", "kind",
            )
            .write.mode("overwrite").parquet(f"{tmp}/jumps")
        )
        jumps = spark.read.parquet(f"{tmp}/jumps")

    eng_full = GraphEngine(systems, jumps)
    eng_full.build_cost_projection()
    eng_inc = GraphEngine(systems, jumps)
    eng_inc.build_cost_projection()

    tot = {"full_sh": 0, "inc_sh": 0, "full_in": 0, "inc_in": 0,
           "full_ms": 0.0, "inc_ms": 0.0}
    for i in range(args.n_polls):
        sigs = poll_signatures(spark, i)
        sh_f, in_f, ms_f = measure(spark, lambda: eng_full.refresh_wormholes(sigs))
        st: dict = {}
        sh_i, in_i, ms_i = measure(
            spark, lambda: eng_inc.refresh_wormholes_incremental(sigs, stats_out=st)
        )
        tot["full_sh"] += sh_f
        tot["inc_sh"] += sh_i
        tot["full_in"] += in_f
        tot["inc_in"] += in_i
        tot["full_ms"] += ms_f
        tot["inc_ms"] += ms_i
        print(json.dumps({
            "poll": i,
            "full": {"shuffle_rows": sh_f, "input_rows": in_f, "ms": round(ms_f)},
            "incremental": {"shuffle_rows": sh_i, "input_rows": in_i, "ms": round(ms_i)},
            "delta_removed": st.get("removed_rows"),
            "delta_added": st.get("added_rows"),
        }))

    print(json.dumps({
        "summary": True,
        "n_polls": args.n_polls,
        "rep": args.rep,
        "full_shuffle_total": tot["full_sh"],
        "incremental_shuffle_total": tot["inc_sh"],
        "full_input_total": tot["full_in"],
        "incremental_input_total": tot["inc_in"],
        "full_ms_total": round(tot["full_ms"]),
        "incremental_ms_total": round(tot["inc_ms"]),
    }))
    if tmp:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
