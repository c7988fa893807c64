"""Workload `registry`: a fixed slice of the query registry over seeded
TPC-H-ish tables, each result checked against its DuckDB oracle.

The slice is named, not sampled: at least one query per layer the
benchmark traces (graph kernels, dedup, similarity, relational and plain
SQL queries), so it does not move with the seed; only the table contents
do. The whole
registry (179 queries) takes over three minutes in a fresh process on 4
cores, past the per-run limit.

Set-up warms the process (JVM, Python workers, first-use imports) by
running the slice once over table set 0. Each measured pass then runs
over a fresh table set of the same shape in its own directory, so every
pass finds the process warm and the program's plan-keyed caches cold, and
a run's passes are equal work however many fit in `--seconds`.
"""

from __future__ import annotations

import hashlib
import math
import time
from pathlib import Path

import gen

# query name -> family, the group its per-layer `queries.*` figures sum into
SLICE = {
    "q1_pricing_summary": "other",             # plain SQL
    "dedup_exact_documents": "relational",     # operators.relational
    "pagerank": "graph",                       # operators.graph_analytics
    "connected_components": "graph",           # operators.graph_analytics, checkpointing
    "minhash_near_dups": "corpus",             # operators.dedup.minhash_dedup
    "dedup_pipeline_documents": "corpus",      # operators.dedup.near_dup_clusters
    "semantic_dedup_embeddings": "corpus",     # operators.dedup.semantic_dedup
    "ann_brute_force_topk": "corpus",          # operators.similarity.brute_force_topk
}
# Left out: `ann_ivf_pq_topk`. Its oracle fixes `pq_recall_at_10_ok` to
# TRUE, a recall pin that the approximate index misses on some generated
# table sets (seed 310, variant 2: query 2), so its check is not an exact
# comparison on seeded inputs. `ann_brute_force_topk` covers
# operators.similarity with an exact oracle instead. Also left out:
# `safest_route_path` (3-4 s a pass); `route-serving` measures
# operators.graph's route kernels.


# --- value hash, as the __spark_entry__ contract compares results -----------

def _norm(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    rendered and sorted. NaN and NULL render alike."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class Registry:
    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.sets = 0  # table sets written so far

    def _tables(self) -> Path:
        """Write the next table set of this seed; returns its directory."""
        d = self.work / f"tables-{self.sets}"
        self.rows = gen.write_tables(self.seed, d, variant=self.sets)
        self.sets += 1
        return d

    def generate(self) -> None:
        self.warm_dir = self._tables()

    def sizes(self) -> dict:
        return {"docs": self.rows["documents"], "vectors": self.rows["embeddings"],
                "lineitem": self.rows["lineitem"], "queries": len(SLICE)}

    def slice(self) -> dict:
        from eve_graph_spark import queries

        qs = queries.queries()
        return {n: qs[n] for n in SLICE}

    def warm(self, spark) -> None:
        for fn in self.slice().values():
            fn(spark, str(self.warm_dir)).collect()

    def run_pass(self, spark, tracer=None) -> list[dict]:
        """Construct and execute every query of the slice once over a fresh
        table set; the execution is `collect()`, whose rows the checks
        then hash."""
        from contextlib import nullcontext

        tables = self._tables()
        out = []
        for name, fn in self.slice().items():
            fam = SLICE[name]
            rec = {"name": name, "family": fam, "tables": tables, "error": None,
                   "cols": [], "rows": []}

            def span(phase):
                return tracer.span(f"queries.{fam}.{phase}") if tracer else nullcontext()

            t0 = time.perf_counter()
            try:
                with span("construct"):
                    df = fn(spark, str(tables))
                t1 = time.perf_counter()
                with span("execute"):
                    rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
                rec.update(cols=df.columns, rows=rows, construct_s=t1 - t0, execute_s=t2 - t1)
            except Exception as e:  # noqa: BLE001 — a failed query is a counted failure
                rec.update(error=f"{type(e).__name__}: {e}"[:300],
                           construct_s=time.perf_counter() - t0, execute_s=0.0)
            out.append(rec)
        return out

    def check(self, records: list[dict]) -> list[str]:
        """Hash-compare each result with its DuckDB oracle on the same
        parquet files; oracle-less queries must return rows."""
        import duckdb

        from eve_graph_spark import queries

        oracles = queries.oracle_sql()
        failures = []
        for tables in sorted({rec["tables"] for rec in records}):
            con = duckdb.connect()
            try:
                for t in gen.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables / t}.parquet'")
                for rec in (r for r in records if r["tables"] == tables):
                    failures.extend(self._check_one(con, oracles, rec))
            finally:
                con.close()
        return failures

    @staticmethod
    def _check_one(con, oracles: dict, rec: dict) -> list[str]:
        name = rec["name"]
        if rec["error"]:
            return [f"{name}: {rec['error']}"]
        if name not in oracles:
            return [] if rec["rows"] else [f"{name}: rows-only query returned 0 rows"]
        odf = con.execute(oracles[name]).fetchdf()
        want = (sorted(odf.columns), len(odf),
                value_hash(list(odf.columns), list(odf.itertuples(index=False, name=None))))
        got = (sorted(rec["cols"]), len(rec["rows"]), value_hash(rec["cols"], rec["rows"]))
        if got != want:
            return [f"{name}: result {got[1]} rows/{got[2]} != oracle {want[1]} rows/{want[2]}"]
        return []
