"""Measure the per-poll cost of the wormhole refresh in shuffle rows.

The reference re-polls wormhole signatures constantly (A6,
sync.rs:66-94): it resets Thera/Turnur, inserts the poll's wormhole
edges and rebuilds its GDS cost projection. The engine answers every
poll, POST or stream, with `GraphEngine.refresh_wormholes`, which
anchors the new `jumps` once and rebuilds the cost projection from it.
This script times that one path over several simulated polls: per-poll
shuffle WRITE RECORDS and input records (UI REST stage diff, same
methodology as bench.py) and wall milliseconds.

Usage: python scripts/measure_wormhole_refresh.py [n_polls] [--rep N]
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
                         "id ranges) and serve it from parquet, so the "
                         "refresh reads a real table")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("wormhole-refresh-measure")
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
        tmp = tempfile.mkdtemp(prefix="wh_refresh_")
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

    eng = GraphEngine(systems, jumps)
    eng.build_cost_projection()

    tot = {"shuffle_rows": 0, "input_rows": 0, "ms": 0.0}
    for i in range(args.n_polls):
        sigs = poll_signatures(spark, i)
        sh, inp, ms = measure(spark, lambda: eng.refresh_wormholes(sigs))
        tot["shuffle_rows"] += sh
        tot["input_rows"] += inp
        tot["ms"] += ms
        print(json.dumps({
            "poll": i, "shuffle_rows": sh, "input_rows": inp, "ms": round(ms),
        }))

    print(json.dumps({
        "summary": True,
        "n_polls": args.n_polls,
        "rep": args.rep,
        "shuffle_total": tot["shuffle_rows"],
        "input_total": tot["input_rows"],
        "ms_total": round(tot["ms"]),
    }))
    if tmp:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
