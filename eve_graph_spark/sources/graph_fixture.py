"""Deterministic property-graph fixture derived from the driver test data.

The reference's graph (systems + JUMP edges, reference: src/database.rs:81-96,
:367-385) is ingested from live APIs; the driver's test data has no graph
tables. To make every graph operator oracle-checkable, we derive a graph
**deterministically from the `nation` table** with pure column expressions,
and keep an exactly-equivalent ANSI-SQL CTE (`GRAPH_SQL_CTE`) for DuckDB.

Topology (25 nodes at every SF — TPC-H `nation` is fixed-size):
- ring gates: i -> (i+1) mod N, both directions (every physical gate pair
  yields two directed edges, like the reference, database.rs:241-242)
- hub gates: every nation <-> min(nationkey) of its region (both directions)
- wormholes: fixed shortcut pairs (2,17) and (5,21), both directions
  (reference inserts wormholes bidirectionally, database.rs:246-254)

Edge properties: cost = 1 (database.rs:375); risk = kills²/jumps + baseline
on the DESTINATION system (risk is written to all inbound edges,
database.rs:311-320), baseline = Σkills/Σjumps (sync.rs:303-307).

All derived numbers are integer arithmetic plus single float divisions, so
Spark and DuckDB produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eve_graph_spark.frames import local_frame
from eve_graph_spark.functions.risk import risk_expr

WORMHOLE_PAIRS = ((2, 17), (5, 21))

# Memoized fixture DataFrames, keyed per Spark application + SF dir. This
# mirrors the reference's cached GDS projections (database.rs:422-456): the
# graph is materialized once and every query reads the same snapshot instead
# of re-deriving it. persist() of a 25-node graph is free; at 100 TB the
# same pattern (persist the canonical edge DF, reuse across queries) is the
# difference between one shuffle and one per query.
_FIXTURE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _memo(spark: SparkSession, kind: str, sf_dir: str, build) -> DataFrame:
    key = (spark.sparkContext.applicationId, kind, sf_dir)
    df = _FIXTURE_CACHE.get(key)
    if df is None:
        df = build().persist()
        _FIXTURE_CACHE[key] = df
    return df


def build_systems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex table: one System per nation, activity stats from nationkey."""
    return _memo(spark, "systems", sf_dir, lambda: _build_systems(spark, sf_dir))


def _build_systems(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return nation.select(
        F.col("n_nationkey").cast("long").alias("system_id"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("long").alias("constellation_id"),
        ((F.col("n_nationkey") % 11 - F.lit(5)) / F.lit(10.0)).alias("security_status"),
        ((F.col("n_nationkey") * 7) % 13).cast("int").alias("kills"),
        ((F.col("n_nationkey") * 3) % 17).cast("int").alias("jumps"),
    )


def build_gate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed gate edges: ring + region-hub star, cost=1."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("k"),
        F.col("n_regionkey").cast("long").alias("r"),
    )
    n_count = nation.groupBy().agg(F.max("k").alias("mx")).select((F.col("mx") + 1).alias("n"))
    ring_fwd = nation.crossJoin(F.broadcast(n_count)).select(
        F.col("k").alias("src"), ((F.col("k") + 1) % F.col("n")).alias("dst")
    )
    ring = ring_fwd.union(ring_fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    hubs = nation.groupBy("r").agg(F.min("k").alias("hub"))
    hub_fwd = (
        nation.join(F.broadcast(hubs), "r")
        .where(F.col("k") != F.col("hub"))
        .select(F.col("k").alias("src"), F.col("hub").alias("dst"))
    )
    hub_edges = hub_fwd.union(hub_fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (
        ring.union(hub_edges)
        .dropDuplicates(["src", "dst"])  # idempotent edge upsert (database.rs:355-365)
        .select(
            F.col("src").alias("src_system_id"),
            F.col("dst").alias("dst_system_id"),
            F.lit(1).cast("long").alias("cost"),
            F.lit("gate").alias("kind"),
        )
    )


def build_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System x,y,z positions (reference keeps them on every System,
    database.rs:86-88, ingested from ESI but never queried). Deterministic
    ring layout matching the ring-gate topology: system k sits at angle
    2πk/N on a radius-100 circle, z = 1 (nonzero, so no system trips the
    a_star placeholder rule). Gate neighbors are spatial neighbors, which
    is what makes the A* heuristic informative on this fixture; wormholes
    cross the circle — exactly the long-jump-cheap-cost shape the
    heuristic's global distance-per-cost bound r accounts for.
    """
    return _memo(spark, "coords", sf_dir, lambda: _build_coords(spark, sf_dir))


def _build_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("system_id")
    )
    n_count = nation.groupBy().agg(
        (F.max("system_id") + 1).alias("n")
    )
    theta = F.lit(2 * math.pi) * F.col("system_id") / F.col("n")
    return nation.crossJoin(F.broadcast(n_count)).select(
        "system_id",
        (F.cos(theta) * 100.0).alias("x"),
        (F.sin(theta) * 100.0).alias("y"),
        F.lit(1.0).alias("z"),
    )


def build_wormhole_edges(spark: SparkSession) -> DataFrame:
    """Both directions per signature (reference: src/database.rs:246-254)."""
    rows = []
    for a, b in WORMHOLE_PAIRS:
        rows.append((a, b))
        rows.append((b, a))
    return local_frame(spark, rows, "src_system_id long, dst_system_id long").select(
        "src_system_id",
        "dst_system_id",
        F.lit(1).cast("long").alias("cost"),
        F.lit("wormhole").alias("kind"),
    )


def build_jumps(spark: SparkSession, sf_dir: str, with_risk: bool = True) -> DataFrame:
    """Full JUMP edge table, optionally risk-weighted (memoized + persisted
    per session/SF, like the reference's named projections).

    Risk join is a broadcast of the (tiny) systems dim onto edges keyed by
    destination — the bulk form of the reference's per-system inbound-edge
    update (database.rs:294-322): one shuffle-free join instead of N queries.
    """
    kind = "jumps_risk" if with_risk else "jumps"
    return _memo(spark, kind, sf_dir, lambda: _build_jumps(spark, sf_dir, with_risk))


def _build_jumps(spark: SparkSession, sf_dir: str, with_risk: bool) -> DataFrame:
    edges = build_gate_edges(spark, sf_dir).union(build_wormhole_edges(spark))
    if not with_risk:
        return edges.withColumn("risk", F.lit(None).cast("double")).select(
            "src_system_id", "dst_system_id", "cost", "risk", "kind"
        )
    systems = build_systems(spark, sf_dir)
    totals = systems.agg(
        F.sum("kills").alias("tk"), F.sum("jumps").alias("tj")
    ).select(
        F.when(F.col("tj") > 0, F.col("tk") / F.col("tj")).otherwise(F.lit(0.01)).alias("baseline")
    )
    sys_risk = (
        systems.crossJoin(F.broadcast(totals))
        .select(
            F.col("system_id").alias("dst_system_id"),
            risk_expr(F.col("kills"), F.col("jumps"), F.col("baseline")).alias("risk"),
        )
    )
    return edges.join(F.broadcast(sys_risk), "dst_system_id").select(
        "src_system_id", "dst_system_id", "cost", "risk", "kind"
    )


# --- DuckDB-side mirror -----------------------------------------------------
# Exactly the same graph as the builders above, as a SQL WITH-clause body.
# Keep in lockstep with the DataFrame code; tests compare the two.

GRAPH_SQL_CTE = """
fix_systems AS (
    SELECT CAST(n_nationkey AS BIGINT) AS system_id,
           n_name AS name,
           CAST(n_regionkey AS BIGINT) AS constellation_id,
           (n_nationkey % 11 - 5) / 10.0 AS security_status,
           CAST((n_nationkey * 7) % 13 AS INTEGER) AS kills,
           CAST((n_nationkey * 3) % 17 AS INTEGER) AS jumps
    FROM nation
),
fix_n AS (SELECT MAX(n_nationkey) + 1 AS n FROM nation),
fix_ring_fwd AS (
    SELECT CAST(n_nationkey AS BIGINT) AS src,
           CAST((n_nationkey + 1) % (SELECT n FROM fix_n) AS BIGINT) AS dst
    FROM nation
),
fix_hubs AS (
    SELECT n_regionkey AS r, MIN(n_nationkey) AS hub FROM nation GROUP BY n_regionkey
),
fix_hub_fwd AS (
    SELECT CAST(n.n_nationkey AS BIGINT) AS src, CAST(h.hub AS BIGINT) AS dst
    FROM nation n JOIN fix_hubs h ON n.n_regionkey = h.r
    WHERE n.n_nationkey <> h.hub
),
fix_gates AS (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM fix_ring_fwd
        UNION ALL SELECT dst AS src, src AS dst FROM fix_ring_fwd
        UNION ALL SELECT src, dst FROM fix_hub_fwd
        UNION ALL SELECT dst AS src, src AS dst FROM fix_hub_fwd
    )
),
fix_wormholes(src, dst) AS (
    VALUES (CAST(2 AS BIGINT), CAST(17 AS BIGINT)), (17, 2), (5, 21), (21, 5)
),
fix_edges_base AS (
    SELECT src AS src_system_id, dst AS dst_system_id,
           CAST(1 AS BIGINT) AS cost, 'gate' AS kind FROM fix_gates
    UNION ALL
    SELECT src, dst, CAST(1 AS BIGINT), 'wormhole' FROM fix_wormholes
),
fix_baseline AS (
    SELECT CASE WHEN SUM(jumps) > 0
                THEN CAST(SUM(kills) AS DOUBLE) / CAST(SUM(jumps) AS DOUBLE)
                ELSE 0.01 END AS baseline
    FROM fix_systems
),
fix_sys_risk AS (
    SELECT system_id AS dst_system_id,
           CASE WHEN jumps > 0
                THEN CAST(kills AS DOUBLE) * kills / jumps
                ELSE CAST(kills AS DOUBLE) * kills END
           + (SELECT baseline FROM fix_baseline) AS risk
    FROM fix_systems
),
fix_jumps AS (
    SELECT e.src_system_id, e.dst_system_id, e.cost, r.risk, e.kind
    FROM fix_edges_base e JOIN fix_sys_risk r USING (dst_system_id)
)
"""


# --- chokepoint subgraph ------------------------------------------------------
# The full fixture graph is 2-edge-connected (the ring is a Hamiltonian
# cycle), so articulation/bridge analysis on it is degenerate (all-zero).
# The chokepoint fixture drops the ring: region-hub stars + a chain joining
# consecutive hubs + the two wormhole shortcuts. That is a tree plus (at
# most) two chords — the hubs are exactly the articulation points (every
# hub keeps at least one pure-leaf child), and every edge NOT on a wormhole
# cycle is a bridge. On the driver's nation table (region = nationkey % 5:
# hubs 0..4), wormhole (2,17) coincides with 17's own leaf gate and dedups
# away; (5,21) creates the single cycle 5-0-1-21-5, leaving 21 of 25
# undirected gates as bridges. tests/test_round8_ops.py pins both claims
# against an independent brute force.


def build_choke_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-symmetric chokepoint edge list: (src, dst)."""
    return _memo(spark, "choke", sf_dir, lambda: _build_choke_edges(spark, sf_dir))


def _build_choke_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("k"),
        F.col("n_regionkey").cast("long").alias("r"),
    )
    hubs = nation.groupBy("r").agg(F.min("k").alias("hub"))
    leaf = (
        nation.join(F.broadcast(hubs), "r")
        .where(F.col("k") != F.col("hub"))
        .select(F.col("k").alias("src"), F.col("hub").alias("dst"))
    )
    # consecutive-by-id hub chain; the rank window is over |regions| rows
    hub_rank = hubs.select("hub", F.row_number().over(Window.orderBy("hub")).alias("rk"))
    chain = (
        hub_rank.alias("a")
        .join(hub_rank.alias("b"), F.col("b.rk") == F.col("a.rk") + 1)
        .select(F.col("a.hub").alias("src"), F.col("b.hub").alias("dst"))
    )
    worm = local_frame(spark, list(WORMHOLE_PAIRS), "src long, dst long")
    fwd = leaf.union(chain).union(worm)
    return (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
    )


CHOKE_SQL_CTE = """
choke_hubs AS (
    SELECT n_regionkey AS r, MIN(n_nationkey) AS hub FROM nation GROUP BY n_regionkey
),
choke_leaf AS (
    SELECT CAST(n.n_nationkey AS BIGINT) AS src, CAST(h.hub AS BIGINT) AS dst
    FROM nation n JOIN choke_hubs h ON n.n_regionkey = h.r
    WHERE n.n_nationkey <> h.hub
),
choke_rank AS (SELECT hub, ROW_NUMBER() OVER (ORDER BY hub) AS rk FROM choke_hubs),
choke_chain AS (
    SELECT CAST(a.hub AS BIGINT) AS src, CAST(b.hub AS BIGINT) AS dst
    FROM choke_rank a JOIN choke_rank b ON b.rk = a.rk + 1
),
choke_fwd AS (
    SELECT src, dst FROM choke_leaf
    UNION ALL SELECT src, dst FROM choke_chain
    UNION ALL SELECT src, dst
    FROM (VALUES (CAST(2 AS BIGINT), CAST(17 AS BIGINT)), (5, 21)) AS w(src, dst)
),
fix_choke AS (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM choke_fwd UNION ALL SELECT dst AS src, src AS dst FROM choke_fwd
    )
)
"""


# --- triangle-rich mesh overlay ----------------------------------------------
# The base jump graph is triangle-FREE: region = nationkey % 5, so ring
# neighbors never share a region and no hub-ring triangle closes. Triangle
# operators (local clustering, k-truss) would be degenerate on it — every
# support/coefficient zero, an empty truss, and a correctness check that
# can't fail. The mesh overlay adds the intra-region ring k -> (k+5) mod N
# (both directions): each region's hub + two consecutive members now close
# a triangle (3 per region, 15 total), giving those operators real
# structure while the base fixture (and every committed hash) stays
# untouched.


def build_mesh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected-symmetric (src_system_id, dst_system_id) edge list:
    base jumps ∪ intra-region +5 ring."""
    return _memo(spark, "mesh", sf_dir, lambda: _build_mesh_edges(spark, sf_dir))


def _build_mesh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = build_jumps(spark, sf_dir, with_risk=False).select(
        F.col("src_system_id").alias("src"), F.col("dst_system_id").alias("dst")
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("k")
    )
    n_count = nation.groupBy().agg((F.max("k") + 1).alias("n"))
    fwd = nation.crossJoin(F.broadcast(n_count)).select(
        F.col("k").alias("src"), ((F.col("k") + 5) % F.col("n")).alias("dst")
    )
    mesh = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (
        base.union(mesh)
        .dropDuplicates(["src", "dst"])
        .select(
            F.col("src").alias("src_system_id"), F.col("dst").alias("dst_system_id")
        )
    )


MESH_SQL_CTE = """
fix_mesh AS (
    SELECT DISTINCT src AS src_system_id, dst AS dst_system_id FROM (
        SELECT src_system_id AS src, dst_system_id AS dst FROM fix_jumps
        UNION ALL
        SELECT CAST(n_nationkey AS BIGINT),
               CAST((n_nationkey + 5) % (SELECT n FROM fix_n) AS BIGINT) FROM nation
        UNION ALL
        SELECT CAST((n_nationkey + 5) % (SELECT n FROM fix_n) AS BIGINT),
               CAST(n_nationkey AS BIGINT) FROM nation
    ) m
)
"""
