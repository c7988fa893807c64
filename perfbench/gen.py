"""Seeded input generators for every benchmark workload.

Each generator is a pure function of its seed (and size arguments): the
same seed gives byte-identical inputs. Nothing here imports Spark; the
workloads turn these plain Python / numpy / pyarrow values into
DataFrames or parquet files.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np

# --- route-serving: an EVE-scale universe ----------------------------------

@dataclass
class Universe:
    """Systems and gates of one generated universe. `gate_pairs` are
    undirected; every pair yields two stargates and so two directed JUMP
    edges."""

    system_ids: list[int]
    names: list[str]
    coords: np.ndarray  # (n, 3) float64
    gate_pairs: list[tuple[int, int]]  # system-id pairs, a < b

    @property
    def n_systems(self) -> int:
        return len(self.system_ids)

    @property
    def n_directed_edges(self) -> int:
        return 2 * len(self.gate_pairs)


def universe(seed: int, n_systems: int = 8500, n_gate_pairs: int = 14000) -> Universe:
    """A connected geometric graph: systems scattered in a flat disc, each
    linked to its nearest neighbours, components stitched together, then
    extra short links until `n_gate_pairs` undirected gates exist."""
    rng = np.random.default_rng([seed, 1])
    n = n_systems
    r = np.sqrt(rng.random(n)) * 1000.0
    th = rng.random(n) * 2 * np.pi
    xy = np.stack([r * np.cos(th), r * np.sin(th)], axis=1)
    z = rng.normal(0.0, 20.0, n)

    cell = 1000.0 / np.sqrt(n / 4)  # ~4 systems per grid cell
    keys = np.floor(xy / cell).astype(np.int64)
    buckets: dict[tuple[int, int], list[int]] = {}
    for i, (a, b) in enumerate(keys):
        buckets.setdefault((int(a), int(b)), []).append(i)

    def near(i: int, k: int) -> list[int]:
        a, b = int(keys[i, 0]), int(keys[i, 1])
        for ring in range(1, 6):
            cand = [j for da in range(-ring, ring + 1) for db in range(-ring, ring + 1)
                    for j in buckets.get((a + da, b + db), ()) if j != i]
            if len(cand) >= k:
                break
        d = np.linalg.norm(xy[cand] - xy[i], axis=1)
        return [cand[j] for j in np.argsort(d, kind="stable")[:k]]

    pairs: set[tuple[int, int]] = set()
    for i in range(n):
        for j in near(i, 2):
            pairs.add((min(i, j), max(i, j)))

    # stitch components: link each to its nearest node outside it
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comps: dict[int, list[int]] = {}
    for i in range(n):
        comps.setdefault(find(i), []).append(i)
    for members in sorted(comps.values(), key=len)[:-1]:  # all but the largest
        root = find(members[0])
        best = None
        for i in members:
            for j in near(i, 24):
                if find(j) != root:
                    d = float(np.linalg.norm(xy[j] - xy[i]))
                    if best is None or d < best[0]:
                        best = (d, i, j)
                    break
        if best is None:  # isolated pocket: fall back to a full scan
            i = members[0]
            outside = [j for j in range(n) if find(j) != root]
            d = np.linalg.norm(xy[outside] - xy[i], axis=1)
            best = (0.0, i, outside[int(np.argmin(d))])
        _, a, b = best
        pairs.add((min(a, b), max(a, b)))
        parent[find(a)] = find(b)

    while len(pairs) < n_gate_pairs:
        i = int(rng.integers(n))
        j = near(i, 6)[int(rng.integers(2, 6))]
        pairs.add((min(i, j), max(i, j)))

    ids = [30_000_001 + i for i in range(n)]
    coords = np.column_stack([xy, z])
    return Universe(ids, [f"S-{i:05d}" for i in range(n)], coords,
                    sorted((ids[a], ids[b]) for a, b in pairs))


def stargate_rows(u: Universe) -> list[tuple]:
    """Two stargates per undirected gate pair, STARGATE schema order."""
    rows = []
    gid = 50_000_001
    for a, b in u.gate_pairs:
        rows.append((gid, a, gid + 1, b, f"gate-{gid}", 0.0, 0.0, 0.0, 29624))
        rows.append((gid + 1, b, gid, a, f"gate-{gid + 1}", 0.0, 0.0, 0.0, 29624))
        gid += 2
    return rows


def system_rows(u: Universe) -> list[tuple]:
    """SYSTEM schema rows; gate ids listed per system, activity zeroed."""
    gates: dict[int, list[int]] = {}
    for gid, sid, *_ in stargate_rows(u):
        gates.setdefault(sid, []).append(gid)
    return [
        (sid, name, -1, 0.5, "B", -1, float(x), float(y), float(z), [],
         gates.get(sid, []), 0, 0)
        for sid, name, (x, y, z) in zip(u.system_ids, u.names, u.coords)
    ]


def activity(seed: int, system_ids: list[int]) -> tuple[list[tuple], list[tuple]]:
    """One kills/jumps poll covering every system: most quiet, a few hot."""
    rng = np.random.default_rng([seed, 2])
    n = len(system_ids)
    kills = np.where(rng.random(n) < 0.1, rng.integers(1, 40, n), 0)
    jumps = np.where(rng.random(n) < 0.85, rng.integers(1, 400, n), 0)
    return ([(s, int(k)) for s, k in zip(system_ids, kills)],
            [(s, int(j)) for s, j in zip(system_ids, jumps)])


def route_pairs(seed: int, u: Universe, n: int) -> list[tuple[str, str]]:
    """Request endpoints: distinct systems, uniform over the universe."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for _ in range(n):
        a, b = rng.choice(u.n_systems, size=2, replace=False)
        out.append((u.names[a], u.names[b]))
    return out


def signatures(seed: int, u: Universe, n: int = 40) -> list[tuple]:
    """One signature poll, EVE_SCOUT_SIGNATURE schema order: links between
    two random systems, every fourth of another type than "wormhole", so
    the refresh's filter drops it."""
    rng = np.random.default_rng([seed, 3])
    rows = []
    for i in range(n):
        a, b = rng.choice(u.n_systems, size=2, replace=False)
        kind = "combat" if i % 4 == 3 else "wormhole"
        rows.append((f"sig-{i}", kind, u.system_ids[a], u.system_ids[b], bool(i % 2),
                     "2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z", False))
    return rows


# --- registry: TPC-H-ish star schema plus the LLM-data tables -------------

VOCAB = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()
LANGS = (("en", 0.4), ("fr", 0.15), ("es", 0.15), ("zh", 0.15), ("de", 0.15))
SEGMENTS = ("FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE")
PART_ADJ = ("cold", "hot", "large", "small", "red", "blue", "shiny", "old")
PART_NOUN = ("widget", "gear", "bolt", "nut", "spring", "valve", "gasket", "lever")
PART_TYPES = ("PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def documents(seed: int, n: int, dup_share: float = 0.05, variant: int = 0) -> dict[str, list]:
    """`documents` columns: random texts over `VOCAB`, of which a
    `dup_share` are planted near duplicates of an earlier original (one
    word changed, " dup" appended)."""
    rng = np.random.default_rng([seed, 5, variant])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < dup_share:
            words = texts[originals[int(rng.integers(len(originals)))]].split()
            words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(len(VOCAB), size=k)))
            originals.append(i)
    langs = rng.choice([c for c, _ in LANGS], size=n, p=[p for _, p in LANGS])
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def embeddings(seed: int, n: int, dim: int = 64, n_labels: int = 10,
               variant: int = 0) -> dict[str, np.ndarray]:
    """Unit-norm float32 vectors, weakly clustered by label."""
    rng = np.random.default_rng([seed, 6, variant])
    centers = rng.normal(0.0, 0.02, (n_labels, dim))
    labels = rng.integers(n_labels, size=n)
    x = centers[labels] + rng.normal(0.0, 0.125, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": x,
            "label": labels.astype(np.int32)}


def _days(rng, n: int, start: dt.date, span_days: int) -> list[dt.datetime]:
    d0 = dt.datetime(start.year, start.month, start.day)
    return [d0 + dt.timedelta(days=int(k)) for k in rng.integers(0, span_days + 1, n)]


def write_tables(seed: int, out_dir: Path, variant: int = 0, n_docs: int = 500,
                 n_vecs: int = 500) -> dict[str, int]:
    """Write the ten registry tables as parquet under `out_dir`, with the
    schemas and row counts of the sf0.001 tables in TESTDATA.md; each
    `variant` of a seed is another table set of the same shape. Returns
    row counts per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7, variant])
    out_dir.mkdir(parents=True, exist_ok=True)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 150, 10, 200, 1500, 6000, 1000

    def money(lo: float, hi: float, n: int) -> list[float]:
        return [round(float(v), 2) for v in rng.uniform(lo, hi, n)]

    tabs = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist(), s)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))], s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist(), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(n_part)], f64)}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord).tolist(), s),
            "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
            "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), 2403), ts),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist(), s)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
            "l_extendedprice": pa.array(money(900, 105000, n_line), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["N", "R", "A"], n_line).tolist(), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist(), s),
            "l_shipdate": pa.array(_days(rng, n_line, dt.date(1995, 1, 2), 2498), ts)}),
    }
    t0 = dt.datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tabs["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(o)) for o in offs], ts),
        "user_id": pa.array(rng.integers(0, 15, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist(), s),
        "value": pa.array([round(float(v), 2) + 0.01 for v in rng.exponential(60.0, n_ev)], f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    docs = documents(seed, n_docs, variant=variant)
    tabs["documents"] = pa.table({
        "doc_id": pa.array(docs["doc_id"], i64), "text": pa.array(docs["text"], s),
        "lang": pa.array(docs["lang"], s), "source": pa.array(docs["source"], s),
        "n_chars": pa.array(docs["n_chars"], i64)})
    emb = embeddings(seed, n_vecs, variant=variant)
    tabs["embeddings"] = pa.table({
        "vec_id": pa.array(emb["vec_id"], i64),
        "embedding": pa.array(list(emb["embedding"]), pa.list_(pa.float32())),
        "label": pa.array(emb["label"], i32)})
    for name, tab in tabs.items():
        pq.write_table(tab, out_dir / f"{name}.parquet")
    return {name: tab.num_rows for name, tab in tabs.items()}
