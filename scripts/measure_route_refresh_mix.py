"""Time route GETs interleaved with the refresh that rebuilds their projection.

A route projection is rebuilt by every refresh that changes its weights:
each `/systems/risk` POST or risk stream poll rebuilds the risk
projection, each `/wormholes/refresh` POST or wormhole poll the cost one.
Whatever a route snapshot costs to build is paid once per projection
build, so its worth depends on how many routes that build serves. This
script measures that trade on the product path.

It bootstraps the `route-serving` universe over HTTP with
`perfbench/route_serving.py` and `perfbench/run.py` (imported, never
modified), then runs `--cycles` cycles for each count R in `--routes`:
one `POST /systems/risk` (the same feed again, so the weights stay those
the routes are checked against), then R `GET /safest-route` requests on
seeded endpoint pairs, one after another. Every route is checked against
networkx Dijkstra, as the benchmark checks its own.

It prints one line per R: the median refresh POST, the median first
route after a refresh, the median of all routes, and the mean cycle
(refresh plus its R routes) both in total and per route.

Usage:
    python scripts/measure_route_refresh_mix.py [--seed 1] [--routes 1 10 100] [--cycles 3]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import gen  # noqa: E402
import route_serving  # noqa: E402
import run as bench_run  # noqa: E402


def timed(base: str, method: str, path: str, rid: str) -> tuple[int, dict, float]:
    t0 = time.perf_counter()
    status, body = route_serving._request(base, method, path, rid)
    return status, body, (time.perf_counter() - t0) * 1e3


def mix(rs: route_serving.RouteServing, counts: list[int], cycles: int) -> list[dict]:
    pairs = gen.route_pairs(rs.seed, rs.u, 4096)
    records, i = [], 0
    for r in counts:
        refresh_ms, first_ms, route_ms, cycle_ms = [], [], [], []
        for c in range(cycles):
            status, body, ms = timed(rs.base, "POST", "/systems/risk", f"mix{r}-{c}")
            if status != 200:
                raise RuntimeError(f"POST /systems/risk: HTTP {status} {body}")
            refresh_ms.append(ms)
            cycle = ms
            for k in range(r):
                a, b = pairs[i % len(pairs)]
                status, body, ms = timed(rs.base, "GET", route_serving._route_path("safest", a, b), f"r{i}")
                records.append({"i": i, "kind": "safest", "a": a, "b": b,
                                "status": status, "body": body, "ms": ms})
                (first_ms if k == 0 else route_ms).append(ms)
                cycle += ms
                i += 1
            cycle_ms.append(cycle)
        every = first_ms + route_ms
        print(f"routes/build={r:<4d} refresh p50 {statistics.median(refresh_ms):7.0f} ms  "
              f"first route p50 {statistics.median(first_ms):6.1f} ms  "
              f"route p50 {statistics.median(every):5.1f} ms  "
              f"cycle mean {statistics.mean(cycle_ms):7.0f} ms "
              f"({statistics.mean(cycle_ms) / r:6.1f} ms a route)", flush=True)
    return records


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--routes", type=int, nargs="+", default=[1, 10, 100])
    ap.add_argument("--cycles", type=int, default=3)
    args = ap.parse_args()
    work = ROOT / ".bench_work" / f"refresh-mix-{os.getpid()}"
    bench_run._prepare_env(work)
    from eve_graph_spark.session import get_spark

    spark = get_spark("route-refresh-mix")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rs = route_serving.RouteServing(args.seed)
        rs.generate()
        rs.check_branch()
        rs.start(spark)
        try:
            records = mix(rs, args.routes, args.cycles)
        finally:
            rs.stop()
        failures = rs.check(records)
        print(f"seed={args.seed} routes={len(records)} failures={len(failures)}", flush=True)
        for f in failures[:5]:
            print("  " + f)
    finally:
        bench_run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
