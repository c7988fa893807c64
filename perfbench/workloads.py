"""The workloads: set-up, the measured phase, the checks and the metrics.

Every workload reports the same end-to-end metrics (`BENCHMARK.json`),
where an "operation" is the workload's unit of work: a route request in
`route-serving`, a pass over the query slice in `registry`. `op_ms` is
the median window route, and the window's pass with each query at its
fastest. Workload-specific figures (route_p50_ms, registry_total_s, ...) are
printed in the readable summary.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import layers
import route_serving
import stats
from registry import Registry
from route_serving import RouteServing
from spans import Tracer

ROOT = Path(__file__).resolve().parent.parent

# the readable summary: workload-specific figures by unit; a workload
# prints n/a for those it does not produce (graph-bulk and corpus-curation
# are not built, see CARD.md)
SUMMARY_METRICS = {
    "setup_s": "s",
    "ops_failed_frac": "ratio",
    "driver_py_peak_rss_mb": "MB",
    "route_p50_ms": "ms",
    "route_tail_ms": "ms",
    "refresh_p50_ms": "ms",
    "bulk_wall_s": "s",
    "corpus_docs_per_s": "docs/s",
    "registry_total_s": "s",
}


def bench_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


@dataclass
class Result:
    sizes: dict
    attempted: int
    failures: list[str]
    e2e: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    tracer: Tracer | None = None


def _setup(generate, warm) -> tuple[float, float]:
    """Generate the inputs, then warm up; returns both durations. Set-up
    runs once per run: its warm-up is the process's first use of each
    code path, which a second pass in the same process would not repeat.
    The set-up bound applies to the median over runs."""
    t0 = time.perf_counter()
    generate()
    t1 = time.perf_counter()
    warm()
    return t1 - t0, time.perf_counter() - t1


class RouteServingRun:
    def __init__(self, spark, seed: int, work: Path, trace: bool):
        self.spark = spark
        self.trace = trace
        self.rs = RouteServing(seed, wormholes=trace)

    def execute(self, seconds: float) -> Result:
        rs, spark = self.rs, self.spark
        tracer = Tracer(spark) if self.trace else None
        if tracer:
            layers.install(tracer)  # the bootstrap refreshes are traced too
        warm_up = []

        def warm():
            rs.check_branch()
            rs.start(spark)
            if tracer:
                tracer.enabled = False
            warm_up.extend(rs.run(0, at_least=2))  # one route of each kind

        gen_s, warm_s = _setup(rs.generate, warm)
        traced = []
        try:
            # the untraced window, one route of each kind at least; in a
            # traced run, the overhead's baseline
            records = rs.run(seconds, first=len(warm_up), at_least=2)
            if tracer:
                # starts on the kind the untraced window started on
                nxt = len(warm_up) + len(records) + len(records) % 2
                tracer.enabled = True
                traced = rs.run(seconds, first=nxt, at_least=2)
                tracer.enabled = False
        finally:
            rs.stop()
            if tracer:
                tracer.restore()
        failures = rs.check(warm_up + records + traced)

        def ms(recs):
            return [r["ms"] for r in recs]

        tail = stats.tail(ms(records))
        res = Result(rs.sizes(), len(warm_up) + len(records) + len(traced), failures,
                     e2e={"op_ms": stats.median(ms(records))})
        refreshes = [p for p in route_serving.REFRESHES if p in rs.refresh_ms]
        res.summary = {
            "warm_setup_s": gen_s + warm_s,
            "ops_failed_frac": len(failures) / res.attempted,
            "route_p50_ms": res.e2e["op_ms"],
            "route_tail_ms": tail["value"],
            "refresh_p50_ms": stats.median([rs.refresh_ms[p] for p in refreshes]),
        }
        res.notes.append(f"route_tail_ms is p{tail['percentile']:g} of {tail['samples']} routes "
                         "(closed loop, 1 client); refresh_p50_ms is the median of the "
                         "set-up's " + " and ".join(f"POST {p}" for p in refreshes))
        res.notes.append("route ms (set-up | window): " + " ".join(
            f"{r['kind']}:{r['ms']:.0f}/{len(r['body'].get('route') or [])}hops"
            + (" |" if r is warm_up[-1] else "") for r in warm_up + records))
        res.layer = {"sources.generate_s": gen_s, "warm_s": warm_s}
        if tracer:
            tracer.resolve()
            # per-request figures cover the traced bootstrap and window
            res.layer.update(layers.metrics(tracer, len(traced) + len(rs.refresh_ms)))
            res.layer["trace.overhead_ms"] = (statistics.fmean(ms(traced))
                                              - statistics.fmean(ms(records)))
            res.tracer = tracer
        return res


class RegistryRun:
    # Passes a window holds at least. Each query counts at its fastest
    # pass, so a transient on the shared host that slows one query of one
    # pass does not move the figure; a slowdown the program causes shows
    # in every pass.
    MIN_PASSES = 2

    def __init__(self, spark, seed: int, work: Path, trace: bool):
        self.spark = spark
        self.trace = trace
        self.reg = Registry(seed, work)

    def execute(self, seconds: float) -> Result:
        reg, spark = self.reg, self.spark
        gen_s, warm_s = _setup(reg.generate, lambda: reg.warm(spark))
        passes = []
        t_end = time.perf_counter() + seconds
        while len(passes) < self.MIN_PASSES or time.perf_counter() < t_end:
            passes.append(reg.run_pass(spark))
        traced, tracer = [], None
        if self.trace:
            tracer = Tracer(spark)
            layers.install(tracer)
            try:
                traced = reg.run_pass(spark, tracer)
            finally:
                tracer.enabled = False
                tracer.restore()
        records = [r for p in passes for r in p]
        failures = reg.check(records + traced)

        def op_ms(recs):
            return [(r["construct_s"] + r["execute_s"]) * 1e3 for r in recs]

        # per query, its times over the passes (every pass runs the slice in order)
        per_query = list(zip(*(op_ms(p) for p in passes)))
        best_ms = sum(min(q) for q in per_query)
        tail = stats.tail(op_ms(records))
        res = Result(reg.sizes(), len(records) + len(traced), failures,
                     e2e={"op_ms": best_ms})
        res.summary = {
            "warm_setup_s": gen_s + warm_s,
            "ops_failed_frac": len(failures) / res.attempted,
            "registry_total_s": best_ms / 1e3,
        }
        res.notes.append(f"{len(passes)} passes of {len(passes[0])} queries, s: "
                         + " ".join(f"{sum(op_ms(p)) / 1e3:.2f}" for p in passes)
                         + f"; query tail {tail['value']:.0f} ms is p{tail['percentile']:g} "
                         f"of {tail['samples']}")
        res.notes.append("query ms, fastest pass: " + " ".join(
            f"{r['name']}:{min(q):.0f}" for r, q in zip(passes[0], per_query)))
        res.layer = {"sources.generate_s": gen_s, "warm_s": warm_s}
        if tracer:
            tracer.resolve()
            res.layer.update(layers.metrics(tracer, len(traced)))
            # the baseline is the untraced pass just before the traced one
            res.layer["trace.overhead_ms"] = (statistics.fmean(op_ms(traced))
                                              - statistics.fmean(op_ms(passes[-1])))
            res.tracer = tracer
        return res


WORKLOADS = {"route-serving": RouteServingRun, "registry": RegistryRun}
