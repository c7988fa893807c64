"""Tests of the benchmark's own machinery: the tail-percentile rule, span
self time, generator determinism, the branch guard and the metric lists.

    python3 -m pytest perfbench/
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from registry import value_hash  # noqa: E402
from spans import Tracer  # noqa: E402


# --- the tail-percentile rule ---------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 100 samples
    t = stats.tail(xs)
    # p90 has rank 90, leaving exactly 10 beyond; p95 would leave 5
    assert t == {"value": 90.0, "percentile": 90.0, "samples": 100}


def test_tail_steps_down_for_small_samples():
    xs = [float(i) for i in range(1, 22)]  # 21 samples
    t = stats.tail(xs)
    beyond = sum(1 for x in xs if x > t["value"])
    assert beyond >= stats.MIN_BEYOND
    assert t["percentile"] == 50.0 and t["samples"] == 21


def test_tail_too_few_samples_reports_max():
    t = stats.tail([3.0, 1.0, 2.0])
    assert t == {"value": 3.0, "percentile": 100.0, "samples": 3}


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0


# --- self time ----------------------------------------------------------------

def test_self_time_subtracts_merged_children():
    # children [1,3] and [2,5] overlap -> [1,5]; [8,12] is clipped to [8,10]
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0


def test_self_time_without_children_is_duration():
    assert stats.self_time(2.0, 7.5, []) == 5.5


def test_tracer_nesting_and_self_time():
    tr = Tracer()
    with tr.span("outer", request="r1"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans  # closed in this order
    assert inner.parent == outer.id and inner.request == "r1"
    agg = tr.by_name()
    total = (outer.end - outer.start) * 1e3
    assert agg["outer"]["self_ms"] == pytest.approx(total - (inner.end - inner.start) * 1e3)


def test_wrap_is_one_span_per_outer_call_and_restores():
    class Box:
        @staticmethod
        def f(n):
            return n if n == 0 else Box.f(n - 1)

    tr = Tracer()
    orig = Box.f
    tr.wrap(Box, "f", "box.f")
    assert Box.f(3) == 0
    assert [s.name for s in tr.spans] == ["box.f"]  # re-entrant calls fold
    tr.enabled = False
    Box.f(1)
    assert len(tr.spans) == 1
    tr.restore()
    assert Box.f is orig


# --- generators ---------------------------------------------------------------

def test_universe_is_deterministic_and_seeded():
    a, b, c = gen.universe(5), gen.universe(5), gen.universe(6)
    assert a.gate_pairs == b.gate_pairs and a.names == b.names
    assert (a.coords == b.coords).all()
    assert a.gate_pairs != c.gate_pairs
    assert a.n_systems == 8500 and a.n_directed_edges == 28000


def test_universe_is_connected():
    import networkx as nx

    u = gen.universe(5)
    g = nx.Graph()
    g.add_nodes_from(u.system_ids)
    g.add_edges_from(u.gate_pairs)
    assert nx.is_connected(g)


def test_feeds_and_pairs_are_deterministic():
    u = gen.universe(5)
    assert gen.activity(5, u.system_ids) == gen.activity(5, u.system_ids)
    assert gen.activity(5, u.system_ids) != gen.activity(6, u.system_ids)
    assert gen.route_pairs(5, u, 50) == gen.route_pairs(5, u, 50)
    assert gen.route_pairs(5, u, 50) != gen.route_pairs(6, u, 50)
    assert gen.signatures(5, u) == gen.signatures(5, u)
    assert gen.signatures(5, u) != gen.signatures(6, u)


def test_tables_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    n1 = gen.write_tables(9, tmp_path / "a")
    n2 = gen.write_tables(9, tmp_path / "b")
    gen.write_tables(10, tmp_path / "c")
    gen.write_tables(9, tmp_path / "d", variant=1)
    assert n1 == n2 and n1["lineitem"] == 6000
    for t in gen.TABLES:
        ta, tb = (pq.read_table(tmp_path / d / f"{t}.parquet") for d in ("a", "b"))
        assert ta.equals(tb), t
    for other in ("c", "d"):  # another seed, another variant: other rows
        for t in ("lineitem", "documents", "embeddings"):
            assert not pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
                pq.read_table(tmp_path / other / f"{t}.parquet")), (other, t)


def test_documents_plant_near_duplicates():
    d = gen.documents(3, 2000)
    dups = [i for i in range(2000) if d["text"][i].endswith(" dup")]
    assert 50 <= len(dups) <= 150
    assert all(d["n_chars"][i] == len(d["text"][i]) for i in range(2000))


# --- branch guard and metric lists ------------------------------------------------

def test_route_serving_branch_guard_fails_loudly(monkeypatch):
    from eve_graph_spark.operators import graph
    from route_serving import RouteServing

    rs = RouteServing(1)
    rs.u = gen.universe(1)
    rs.check_branch()  # below the 2M-edge cutover today
    monkeypatch.setattr(graph, "DRIVER_SSSP_MAX_EDGES", 1000)
    with pytest.raises(RuntimeError, match="driver cutover"):
        rs.check_branch()


def test_value_hash_ignores_row_and_column_order():
    a = value_hash(["x", "y"], [(1, 2.0), (3, None)])
    b = value_hash(["y", "x"], [(float("nan"), 3), (2.0, 1)])
    assert a == b
    assert a != value_hash(["x", "y"], [(1, 2.5), (3, None)])


def test_benchmark_json_lists_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    produced = set(layers.metrics(Tracer(), 1)) | {
        "sources.generate_s", "session.start_s", "warm_s", "trace.overhead_ms"}
    assert {m["name"] for m in spec["per_layer"]} == produced
    assert {m["name"] for m in spec["end_to_end"]} == {
        "op_ms", "driver_py_peak_rss_mb", "setup_s"}
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_fails_without_the_package(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "registry",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
