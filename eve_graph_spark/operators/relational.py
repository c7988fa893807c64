"""Relational kernel — SURVEY.md §2.2 (Q*), §2.3 (W*), §2.5 (D*).

Every operator is a declarative DataFrame transformation so Catalyst gets
predicate pushdown, column pruning and join planning. Mutations (the
reference's Cypher SET/DELETE, src/database.rs) become batch join +
overwrite — identical effective semantics because the reference only ever
refreshes in bulk.

Scale notes are inline per operator; the recurring ones:
- point lookups / existence checks push their predicate into the parquet
  scan (min-max + dictionary filters) — no full-table read;
- keyed updates are one shuffle (or zero, when the update side broadcasts)
  instead of N point queries;
- deletes are left_anti joins (never row-at-a-time).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --- Scans / lookups / existence (Q1-Q8, reference: src/database.rs) -------

def point_lookup(df: DataFrame, key_col: str, key_value) -> DataFrame:
    """Q4 `get_system` (database.rs:137-148): keyed lookup, LIMIT 1.

    The equality predicate reaches the parquet scan (PushedFilters), so at
    100 TB this reads only row groups whose min/max straddle the key.
    """
    return df.filter(F.col(key_col) == F.lit(key_value)).limit(1)


def exists(df: DataFrame, condition: Column) -> bool:
    """Q5/Q6 existence (database.rs:68-79, :334-353): COUNT>0 with LIMIT 1.

    `.limit(1)` lets Spark stop at the first matching row instead of
    counting the whole table.
    """
    return df.filter(condition).limit(1).count() > 0


def exists_many(df: DataFrame, probes: dict[str, Column]) -> DataFrame:
    """Batched existence: all probes against one table in a SINGLE scan —
    one conditional aggregate per probe, then stack to (probe, found)
    rows. N separate exists() calls would scan the table N times."""
    agg = df.agg(
        *[F.max(F.when(cond, F.lit(1)).otherwise(F.lit(0))).alias(name)
          for name, cond in probes.items()]
    )
    stack = ", ".join(f"'{name}', coalesce({name}, 0) > 0" for name in probes)
    return agg.selectExpr(f"stack({len(probes)}, {stack}) as (probe, found)")


def projection_scan(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Q2/Q3 projection scans (database.rs:164-176, :580-592) — column
    pruning reaches the parquet footer (ReadSchema shows only these)."""
    return df.select(*columns)


def global_count(df: DataFrame) -> DataFrame:
    """Q7/Q8 (database.rs:178-197) as a 1-row DataFrame (composable)."""
    return df.agg(F.count(F.lit(1)).alias("cnt"))


# --- Mutations as batch dataflow (W1-W13) -----------------------------------

def append_rows(base: DataFrame, new_rows: DataFrame) -> DataFrame:
    """W1/W2 `save_*` (database.rs:98-135): blind insert → union."""
    return base.unionByName(new_rows)


def bidirectional_edges(edges: DataFrame, src: str = "src_system_id", dst: str = "dst_system_id") -> DataFrame:
    """W3 `save_wormhole` (database.rs:246-254): both directed edges.

    The flip is an aliased select (withColumnsRenamed with a swap-map
    leaves two columns with the same name and later selects go ambiguous).
    """
    swap = {src: dst, dst: src}
    flipped = edges.select(*[F.col(swap.get(c, c)).alias(c) for c in edges.columns])
    return edges.unionByName(flipped)


def derive_gate_edges(stargates: DataFrame, systems: DataFrame) -> DataFrame:
    """W4 `create_system_jump` (database.rs:367-385): one directed JUMP per
    stargate, FK-validated against systems on BOTH endpoints (the Cypher
    MATCH source / MATCH dest pair is an inner join here).

    systems' id column is tiny relative to edges — broadcast it so the FK
    validation never shuffles the edge set.
    """
    ids = systems.select(F.col("system_id").alias("_sid"))
    edges = stargates.select(
        F.col("system_id").alias("src_system_id"),
        F.col("destination_system_id").alias("dst_system_id"),
        F.lit(1).cast("long").alias("cost"),
        F.lit("gate").alias("kind"),
    )
    edges = edges.join(F.broadcast(ids), edges.src_system_id == ids._sid, "inner").drop("_sid")
    edges = edges.join(F.broadcast(ids), edges.dst_system_id == ids._sid, "inner").drop("_sid")
    return edges


def upsert_edges_if_missing(existing: DataFrame, new_edges: DataFrame,
                            keys: Sequence[str] = ("src_system_id", "dst_system_id")) -> DataFrame:
    """W5 `create_system_jump_if_missing` (database.rs:355-365): idempotent
    check-then-insert = left_anti against existing, then union. The
    reference checks before EACH insert, so duplicates within the new
    batch also collapse — hence the dropDuplicates on the keys.

    `existing` is the big side and is never shuffled, whatever its size
    estimate (an anchored table may carry none): it semi-joins against
    the batch's broadcast keys, and the batch anti-joins against those
    broadcast hits."""
    keys = list(keys)
    hits = existing.select(*keys).join(
        F.broadcast(new_edges.select(*keys)), keys, "left_semi"
    )
    missing = new_edges.dropDuplicates(keys).join(F.broadcast(hits), keys, "left_anti")
    return existing.unionByName(missing)


def keyed_update(base: DataFrame, updates: DataFrame, key: str, col: str,
                 update_col: str | None = None, default=None) -> DataFrame:
    """W6/W7 `set_last_hour_system_*` (database.rs:256-292): keyed SET as a
    left join + coalesce(new, old). One broadcast join replaces N point
    updates — updates (activity feeds) are small next to the base table.
    """
    update_col = update_col or col
    upd = updates.select(F.col(key), F.col(update_col).alias("__new"))
    out = base.join(F.broadcast(upd), key, "left")
    fallback = F.col(col) if default is None else F.coalesce(F.col(col), F.lit(default))
    return out.withColumn(col, F.coalesce(F.col("__new"), fallback)).drop("__new")


def update_inbound_edge_risk(edges: DataFrame, system_risk: DataFrame) -> DataFrame:
    """W8 `set_system_jump_risk` (database.rs:294-322): write each system's
    risk onto ALL its inbound edges. The reference runs one Cypher per
    system; here it is a single join keyed by destination. system_risk is
    (system_id, risk) — broadcast (it is the vertex set, small vs edges).
    """
    sr = system_risk.select(F.col("system_id").alias("dst_system_id"), F.col("risk").alias("__r"))
    return (
        edges.join(F.broadcast(sr), "dst_system_id", "left")
        .withColumn("risk", F.coalesce(F.col("__r"), F.col("risk")))
        .drop("__r")
    )


def remove_by_ids(df: DataFrame, ids: DataFrame, key: str) -> DataFrame:
    """W9/W10 `remove_*_by_id` (database.rs:557-567, :594-607): anti-join
    delete. ids is usually small → broadcast, so the delete is a map-side
    filter over the big table, no shuffle."""
    return df.join(F.broadcast(ids.select(key)), key, "left_anti")


def dedup_keep_first(df: DataFrame, keys: Sequence[str], order_by: Sequence[str] | None = None) -> DataFrame:
    """W11/W12 `remove_duplicate_*` (database.rs:546-555, :569-578): keep one
    row per key. With order_by the winner is deterministic (row_number);
    without, dropDuplicates (cheaper: partial-agg instead of full sort)."""
    if order_by is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def drop_node_connections(edges: DataFrame, system_ids: DataFrame,
                          src: str = "src_system_id", dst: str = "dst_system_id") -> DataFrame:
    """W13 `drop_system_connections` (database.rs:458-466): delete all edges
    touching the given nodes — UNDIRECTED match, so anti-join on src and on
    dst. Used for the Thera/Turnur wormhole reset (sync.rs:71-76)."""
    ids = system_ids.select(F.col(system_ids.columns[0]).alias("__id"))
    out = edges.join(F.broadcast(ids), edges[src] == F.col("__id"), "left_anti")
    return out.join(F.broadcast(ids), out[dst] == F.col("__id"), "left_anti")


# --- Sync dataflow (D1-D4, reference: src/sync.rs) --------------------------

def diff_sync(expected_ids: DataFrame, current_ids: DataFrame, key: str) -> tuple[DataFrame, DataFrame]:
    """D1 (sync.rs:121-170): two-way set difference → (to_add, to_remove).

    The reference materializes both sides into HashSets on one machine;
    two left_anti joins keep it distributed and shuffle only the key
    column. This is the incremental bulk-load kernel.
    """
    to_add = expected_ids.select(key).join(current_ids.select(key), key, "left_anti")
    to_remove = current_ids.select(key).join(expected_ids.select(key), key, "left_anti")
    return to_add, to_remove


def diff_sync_actions(expected_ids: DataFrame, current_ids: DataFrame, key: str) -> DataFrame:
    """One-pass form of `diff_sync` when both directions are consumed
    together: a single full-outer join on the key classifies every id as
    to_add (expected only) / to_remove (current only) / unchanged
    (dropped). The two-anti-join form plans each input per direction —
    at scale that is two extra scans and two extra shuffles for the same
    answer. Same sync.rs:121-170 semantics, keys assumed distinct per side
    (they are ids)."""
    e = expected_ids.select(F.col(key)).withColumn("__e", F.lit(1))
    c = current_ids.select(F.col(key)).withColumn("__c", F.lit(1))
    j = e.join(c, key, "full_outer")
    return (
        j.filter(F.col("__e").isNull() | F.col("__c").isNull())
        .select(
            F.when(F.col("__c").isNull(), F.lit("to_add"))
            .otherwise(F.lit("to_remove"))
            .alias("action"),
            key,
        )
    )


def expected_stargates(systems: DataFrame) -> DataFrame:
    """D2 (sync.rs:172-221): expected gate ids = explode systems.stargates."""
    return systems.select(F.explode("stargates").alias("stargate_id")).distinct()


def filter_wormhole_signatures(signatures: DataFrame) -> DataFrame:
    """D3 (sync.rs:80-90): keep only wormhole signatures."""
    return signatures.filter(F.col("signature_type") == "wormhole")
