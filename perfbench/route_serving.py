"""Workload `route-serving`: the reference's product path over HTTP.

An EVE-scale universe is bootstrapped through the refresh POSTs of
`http_api.serve` on loopback: `/systems/refresh`, `/stargates/refresh`
and `/systems/risk` (the safest route needs risk weights); a traced run
also sends `/wormholes/refresh` after them. Set-up then
serves one route of each kind, so the measured routes find the
projections built and the process warm. Then one closed-loop client (each
request waits for the previous reply) sends `GET /shortest-route` and
`GET /safest-route`, alternating, over uniform seeded endpoint pairs.
Every route is checked afterwards against networkx Dijkstra over the same
generated gates, wormholes and weights.

Refresh POSTs run in set-up only: each one currently costs seconds to
tens of seconds and the next one costs more, so a refresh inside the
measured window would make the run length depend on how many fit.
`setup_s` carries their cost. The wormhole refresh, about 40 s after the
risk refresh on 4 cores, fits the run budget only in the traced run.
"""

from __future__ import annotations

import json
import math
import time
import urllib.error
import urllib.request

import gen

BOOTSTRAP = ("/systems/refresh", "/stargates/refresh", "/systems/risk")
WORMHOLES = "/wormholes/refresh"
REFRESHES = ("/systems/risk", WORMHOLES)  # the periodic syncs


def _request(base: str, method: str, path: str, request_id: str = "") -> tuple[int, dict]:
    req = urllib.request.Request(base + path, method=method,
                                 data=b"" if method == "POST" else None,
                                 headers={"X-Request-Id": request_id})
    try:
        with urllib.request.urlopen(req, timeout=170) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def _route_path(kind: str, a: str, b: str) -> str:
    q = urllib.request.quote
    return f"/{kind}-route/{q(a, safe='')}/to/{q(b, safe='')}"


class RouteServing:
    def __init__(self, seed: int, wormholes: bool = False):
        self.seed = seed
        self.wormholes = wormholes  # send the wormhole refresh after bootstrap
        self.refresh_ms: dict[str, float] = {}

    def generate(self) -> None:
        self.u = gen.universe(self.seed)
        self.sys_rows = gen.system_rows(self.u)
        self.gate_rows = gen.stargate_rows(self.u)
        self.kills, self.jumps = gen.activity(self.seed, self.u.system_ids)
        self.sigs = gen.signatures(self.seed, self.u)

    def sizes(self) -> dict:
        return {"systems": self.u.n_systems, "edges": self.u.n_directed_edges}

    def check_branch(self) -> None:
        """Fail loudly if the input no longer sits below the driver-local
        cutovers this workload was chosen for."""
        from eve_graph_spark.operators import graph, graph_analytics

        limit = min(graph.DRIVER_SSSP_MAX_EDGES, graph.DRIVER_PATH_MAX_NODES,
                    graph_analytics.DRIVER_MAX_EDGES)
        if self.u.n_directed_edges >= limit or self.u.n_systems >= limit:
            raise RuntimeError(f"route-serving: {self.u.n_directed_edges} edges are not "
                               f"below the driver cutover {limit}")

    def start(self, spark) -> None:
        """Start the server on a fresh engine and bootstrap it over HTTP."""
        import pandas as pd

        from eve_graph_spark import schemas
        from eve_graph_spark.api import GraphEngine
        from eve_graph_spark.http_api import EngineProviders, serve

        def frame(rows, schema):
            # a fetched feed snapshot: built from Arrow and held in memory,
            # so plans over it re-read cached blocks, not Python rows
            df = spark.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()),
                                       schema).cache()
            df.count()
            return df

        esi = frame(self.sys_rows, schemas.SYSTEM)
        gates = frame(self.gate_rows, schemas.STARGATE)
        kills = frame(self.kills, schemas.SYSTEM_KILLS)
        jumps = frame(self.jumps, schemas.SYSTEM_JUMPS)
        sigs = frame(self.sigs, schemas.EVE_SCOUT_SIGNATURE)
        engine = GraphEngine(spark.createDataFrame([], schemas.SYSTEM),
                             spark.createDataFrame([], schemas.JUMP))
        providers = EngineProviders(esi_systems=lambda: esi, stargates=lambda: gates,
                                    kills=lambda: kills, jumps_activity=lambda: jumps,
                                    signatures=lambda: sigs)
        self.srv, self.thread = serve(engine, providers)
        self.base = f"http://127.0.0.1:{self.srv.server_address[1]}"
        for i, path in enumerate(BOOTSTRAP + ((WORMHOLES,) if self.wormholes else ())):
            t0 = time.perf_counter()
            status, body = _request(self.base, "POST", path, f"boot{i}")
            self.refresh_ms[path] = (time.perf_counter() - t0) * 1e3
            if status != 200:
                raise RuntimeError(f"bootstrap {path}: HTTP {status} {body}")

    def stop(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=30)

    def run(self, seconds: float, first: int = 0, at_least: int = 1) -> list[dict]:
        """Send route requests one after another until `seconds` have
        passed and at least `at_least` were served; one record per
        request. Request i asks for a shortest route when i is even and a
        safest one when it is odd; `first` offsets the sequence, so a
        later phase continues with new pairs."""
        pairs = gen.route_pairs(self.seed, self.u, 4096)
        records = []
        t_end = time.perf_counter() + seconds
        i = first
        while len(records) < at_least or time.perf_counter() < t_end:
            a, b = pairs[i % len(pairs)]
            kind = "shortest" if i % 2 == 0 else "safest"
            t0 = time.perf_counter()
            status, body = _request(self.base, "GET", _route_path(kind, a, b), f"r{i}")
            records.append({"i": i, "kind": kind, "a": a, "b": b, "status": status,
                            "body": body, "ms": (time.perf_counter() - t0) * 1e3})
            i += 1
        return records

    def check(self, records: list[dict]) -> list[str]:
        """One message per failed request: an HTTP error, a route that is
        not an edge walk between the asked endpoints, or a cost other than
        the networkx Dijkstra optimum."""
        import networkx as nx

        u = self.u
        id_of = dict(zip(u.names, u.system_ids))
        kills, jumps = dict(self.kills), dict(self.jumps)
        tk, tj = sum(kills.values()), sum(jumps.values())
        base = tk / tj if tj > 0 else 0.01

        def risk(sid: int) -> float:  # kills²/jumps + baseline; jumps == 0 → kills²
            k, j = kills[sid], jumps[sid]
            return (float(k) * k / j if j > 0 else float(k) * k) + base

        # The wormhole refresh rebuilds the cost projection only (as the
        # reference's does); the risk projection stays as the risk refresh
        # before it built it, over the gates alone.
        wormholes = [(a, b) for _, kind, a, b, *_ in self.sigs
                     if kind == "wormhole" and self.wormholes]
        graphs = {"shortest": nx.DiGraph(), "safest": nx.DiGraph()}
        for a, b in u.gate_pairs:
            for x, y in ((a, b), (b, a)):
                graphs["safest"].add_edge(x, y, weight=risk(y))  # inbound-edge risk
        for a, b in u.gate_pairs + wormholes:  # a jump costs 1 through either
            for x, y in ((a, b), (b, a)):
                graphs["shortest"].add_edge(x, y, weight=1.0)

        failures = []
        for rec in records:
            tag = f"request {rec['i']} {rec['kind']} {rec['a']}->{rec['b']}"
            if rec["status"] != 200:
                failures.append(f"{tag}: HTTP {rec['status']} {rec['body']}")
                continue
            g = graphs[rec["kind"]]
            ids = [id_of.get(n) for n in rec["body"].get("route") or []]
            src, dst = id_of[rec["a"]], id_of[rec["b"]]
            if not ids or ids[0] != src or ids[-1] != dst or None in ids:
                failures.append(f"{tag}: wrong endpoints or unknown names")
            elif any(not g.has_edge(x, y) for x, y in zip(ids, ids[1:])):
                failures.append(f"{tag}: route is not an edge walk")
            else:
                cost = sum(g[x][y]["weight"] for x, y in zip(ids, ids[1:]))
                best = nx.dijkstra_path_length(g, src, dst)
                if not math.isclose(cost, best, rel_tol=1e-9, abs_tol=1e-12):
                    failures.append(f"{tag}: cost {cost!r} != Dijkstra {best!r}")
        return failures
