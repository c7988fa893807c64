"""Which functions of the package the traced run wraps, and the per-layer
metrics computed from their spans.

Each target is wrapped where callers look the name up: in its defining
module and in every `eve_graph_spark` module that imported it by name.
"""

from __future__ import annotations

import sys

from spans import Tracer

# (module, attribute, span name). Class methods are given as "Class.method".
TARGETS = [
    ("eve_graph_spark.api", "GraphEngine._route", "api.route"),
    ("eve_graph_spark.api", "GraphEngine.refresh_risk", "api.refresh_risk"),
    ("eve_graph_spark.api", "GraphEngine.refresh_systems", "api.refresh_systems"),
    ("eve_graph_spark.api", "GraphEngine.refresh_stargates", "api.refresh_stargates"),
    ("eve_graph_spark.api", "GraphEngine.refresh_wormholes", "api.refresh_wormholes"),
    ("eve_graph_spark.operators.graph", "sssp", "graph.sssp"),
    ("eve_graph_spark.operators.graph", "reconstruct_path", "graph.reconstruct_path"),
    ("eve_graph_spark.operators.graph", "path_as_names", "graph.path_as_names"),
    ("eve_graph_spark.operators.graph", "fits_driver", "graph.fits_driver"),
    ("eve_graph_spark.operators.graph", "ProjectionRegistry.refresh",
     "graph.ProjectionRegistry.refresh"),
    ("eve_graph_spark.operators.graph_analytics", "pagerank",
     "graph_analytics.pagerank"),
    ("eve_graph_spark.operators.graph_analytics", "connected_components",
     "graph_analytics.connected_components"),
    ("eve_graph_spark.checkpointing", "truncate_lineage", "checkpointing.truncate_lineage"),
    ("eve_graph_spark.operators.dedup", "minhash_dedup", "dedup.minhash_dedup"),
    ("eve_graph_spark.operators.dedup", "near_dup_clusters", "dedup.near_dup_clusters"),
    ("eve_graph_spark.operators.dedup", "semantic_dedup", "dedup.semantic_dedup"),
    ("eve_graph_spark.operators.similarity", "brute_force_topk",
     "similarity.brute_force_topk"),
]
# span names whose Spark figures are reported as construct_s/jobs/shuffle
KERNELS = ("graph_analytics.pagerank", "graph_analytics.connected_components",
           "dedup.minhash_dedup", "dedup.near_dup_clusters", "dedup.semantic_dedup",
           "similarity.brute_force_topk")
CALL_LAYERS = ("graph.sssp", "graph.reconstruct_path", "graph.path_as_names",
               "graph.ProjectionRegistry.refresh")
FAMILIES = ("graph", "relational", "corpus", "other")


def install(tracer: Tracer) -> None:
    import importlib

    import eve_graph_spark.http_api  # noqa: F401 — loads the modules below
    import eve_graph_spark.queries  # noqa: F401

    pkg_mods = [m for n, m in sorted(sys.modules.items())
                if n.startswith("eve_graph_spark") and m is not None]
    for mod_name, attr, span in TARGETS:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            tracer.wrap(getattr(mod, cls_name), meth, span)
            continue
        orig = getattr(mod, attr)
        for m in pkg_mods:
            if getattr(m, attr, None) is orig:
                tracer.wrap(m, attr, span)
    _wrap_http(tracer)


def _wrap_http(tracer: Tracer) -> None:
    """Wrap request handling in `http_api`: `serve` looks `_make_handler`
    up in its module, so the wrapper returns a handler subclass whose
    verbs run inside an `http_api.request` span carrying the client's
    request id."""
    import eve_graph_spark.http_api as http_api

    make = http_api._make_handler

    def traced_make_handler(engine, providers):
        base = make(engine, providers)

        class Traced(base):
            def do_GET(self):  # noqa: N802
                with tracer.span("http_api.request", request=self.headers.get("X-Request-Id")):
                    return super().do_GET()

            def do_POST(self):  # noqa: N802
                with tracer.span("http_api.request", request=self.headers.get("X-Request-Id")):
                    return super().do_POST()

        return Traced

    tracer._patched.append((http_api, "_make_handler", make))
    http_api._make_handler = traced_make_handler


def metrics(tracer: Tracer, n_ops: int) -> dict[str, float]:
    """Per-layer metrics of the traced phase. `.ms`/`.self_ms`/`.jobs` of
    request-path layers are means per call; kernel, checkpointing and query
    figures are totals over the phase; `spark.*` are per operation."""
    agg = tracer.by_name()
    out: dict[str, float] = {}

    def per_call(name: str, key: str) -> float:
        a = agg.get(name)
        return a[key] / a["calls"] if a and a["calls"] else 0.0

    out["http_api.request.self_ms"] = per_call("http_api.request", "self_ms")
    out["http_api.request.ms"] = per_call("http_api.request", "ms")
    out["api.route.self_ms"] = per_call("api.route", "self_ms")
    out["api.route.jobs"] = per_call("api.route", "jobs")
    out["api.refresh_risk.ms"] = per_call("api.refresh_risk", "ms")
    out["api.refresh_wormholes.ms"] = per_call("api.refresh_wormholes", "ms")
    for name in CALL_LAYERS:
        out[f"{name}.ms"] = per_call(name, "ms")
        out[f"{name}.jobs"] = per_call(name, "jobs")
    fd = agg.get("graph.fits_driver")
    routes = agg.get("api.route", {}).get("calls", 0)
    if fd:
        probes = [len(sp.jobs) for sp in tracer.spans if sp.name == "graph.fits_driver"]
        per = max(routes, 1)  # per route request; totals where no route ran
        out["graph.fits_driver.calls"] = fd["calls"] / per
        out["graph.fits_driver.probe_jobs"] = sum(probes) / per
        out["graph.fits_driver.hit_ratio"] = sum(1 for p in probes if p == 0) / len(probes)
    else:
        out["graph.fits_driver.calls"] = 0.0
        out["graph.fits_driver.probe_jobs"] = 0.0
        out["graph.fits_driver.hit_ratio"] = 0.0
    for name in KERNELS:
        a = agg.get(name)
        figs = a["figs"] if a else {}
        out[f"{name}.construct_s"] = a["ms"] / 1e3 if a else 0.0
        out[f"{name}.jobs"] = float(a["jobs"]) if a else 0.0
        out[f"{name}.shuffle_write_bytes"] = float(figs.get("shuffle_write_bytes", 0))
        out[f"{name}.shuffle_write_rows"] = float(figs.get("shuffle_write_rows", 0))
    ck = agg.get("checkpointing.truncate_lineage")
    out["checkpointing.truncate_lineage.calls"] = float(ck["calls"]) if ck else 0.0
    out["checkpointing.truncate_lineage.ms"] = ck["ms"] if ck else 0.0
    for fam in FAMILIES:
        c = agg.get(f"queries.{fam}.construct")
        e = agg.get(f"queries.{fam}.execute")
        out[f"queries.{fam}.construct_s"] = c["ms"] / 1e3 if c else 0.0
        out[f"queries.{fam}.execute_s"] = e["ms"] / 1e3 if e else 0.0
        out[f"queries.{fam}.jobs"] = float((c["jobs"] if c else 0) + (e["jobs"] if e else 0))
    n = max(n_ops, 1)
    out["spark.jobs"] = sum(len(sp.jobs) for sp in tracer.spans) / n
    for k in ("stages", "shuffle_write_rows", "shuffle_write_bytes", "executor_run_s"):
        out[f"spark.{k}"] = sum(sp.figs.get(k, 0) for sp in tracer.spans) / n
    return out
