#!/usr/bin/env python3
"""Run one benchmark workload against the eve_graph_spark package.

    python3 perfbench/run.py --workload route-serving --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from `--seed`;
scratch files go under `.bench_work/` in the checkout. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`). The lines before it are a readable summary. The exit
code is 0 only when the workload ran; a failed output check still exits
0 but reports `correct: false`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

CONFIRM_SEED = 7919  # a seed kept out of tuning, for confirming later claims


def peak_rss_mb() -> float:
    """VmHWM of this (the Python driver) process."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc/self/status")


def _prepare_env(work: Path) -> None:
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)  # local[nproc]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # the JVM's temp files stay in the checkout; -XX:-UsePerfData stops
        # the hsperfdata file HotSpot would otherwise write under /tmp
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={work / 'tmp'} "
        "-XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        # the traced run reads every job of its phase back from the status store
        "--conf spark.ui.retainedJobs=200000 --conf spark.ui.retainedStages=200000 "
        "pyspark-shell")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _fmt(v) -> str:
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import eve_graph_spark
    except ImportError as e:
        print(f"perfbench: cannot import eve_graph_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    if Path(eve_graph_spark.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: eve_graph_spark resolved outside {ROOT}: {eve_graph_spark.__file__}",
              file=sys.stderr)
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _prepare_env(work)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, workloads) -> int:
    from eve_graph_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    try:
        res = workloads.WORKLOADS[args.workload](
            spark, args.seed, work, bool(args.trace)).execute(args.seconds)
    finally:
        _stop_spark(spark)
    res.layer["session.start_s"] = session_start_s
    res.summary["setup_s"] = session_start_s + res.summary.pop("warm_setup_s")
    res.summary["driver_py_peak_rss_mb"] = peak_rss_mb()

    print(f"workload {args.workload} seed {args.seed} (confirmation seed: {CONFIRM_SEED})")
    print("input sizes: " + ", ".join(f"{k}={v}" for k, v in res.sizes.items()))
    for name, unit in workloads.SUMMARY_METRICS.items():
        v = res.summary.get(name)
        print(f"  {name:24s} {('n/a' if v is None else _fmt(v)):>14s} {unit}")
    for note in res.notes:
        print(f"  note: {note}")
    for msg in res.failures[:20]:
        print(f"  FAILED: {msg}")
    if res.tracer is not None:
        out = ROOT / ".bench_out"
        out.mkdir(exist_ok=True)
        spans_file = out / f"spans-{args.workload}-{args.seed}.json"
        res.tracer.dump(spans_file)
        print(f"  spans: {len(res.tracer.spans)} written to {spans_file.relative_to(ROOT)}")
    if args.trace:
        for name in sorted(res.layer):
            print(f"  layer {name:52s} {_fmt(res.layer[name])}")
        metrics = {m["name"]: {"value": res.layer.get(m["name"], 0), "unit": m["unit"]}
                   for m in workloads.bench_spec()["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res.e2e[m["name"]] if m["name"] in res.e2e
                               else res.summary[m["name"]], "unit": m["unit"]}
                   for m in workloads.bench_spec()["end_to_end"]}
    print(json.dumps({"correct": not res.failures, "attempted": res.attempted,
                      "failed": len(res.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
