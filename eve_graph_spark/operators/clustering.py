"""Distributed k-means (Lloyd's) over embedding columns.

The clustering-as-product operator (SemDeDup-style cluster-then-curate,
diversity balancing, IVF cell design): assignments over the FULL corpus,
not a driver-sample fit like ivf_topk's internal trainer (similarity.py).

Execution design for 100 TB:
- assignment is scan-side: centroids are k·dim literals baked into a
  whole-stage-codegen expression (k and dim are model-sized, never
  data-sized) — zero shuffle, zero Python;
- the update step is ONE (cluster, dim)-keyed shuffle carrying partial
  integer sums — k·dim cells regardless of corpus size;
- centroids round-trip through the driver between iterations (k·dim longs
  — the classic parameter-server step; the DATA never moves);
- everything is integer fixed-point (floor(x·1e6+0.5) per element, exact
  integer distance sums, one double division per centroid cell with a
  deterministic round-half-up), so a SQL oracle replays assignments
  bit-for-bit and results are cluster-size independent of partitioning.

Reference parity note: the reference engine (madmikeross/eve-graph) has no
clustering surface; this is north-star LLM-pipeline scope (SURVEY.md §2
"beyond the reference" lane), same as the dedup/ANN family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KM_FP = 1_000_000  # element fixed point: |x| <= ~2k after scaling fits long
KMEANS_DRIVER_MAX_ROWS = 200_000  # below this, kmeans_fit runs on the driver


def _fixed_vec(col: Column) -> Column:
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * KM_FP + F.lit(0.5)).cast("long")
    )


def _dist_expr(fixed_col: Column, centroid: list[int]) -> Column:
    """Exact integer squared L2 distance to one centroid (fixed-point)."""
    cvec = F.array(*[F.lit(int(v)).cast("long") for v in centroid])
    return F.aggregate(
        F.zip_with(fixed_col, cvec, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign_expr(fixed_col: Column, centroids: dict[int, list[int]], k: int) -> Column:
    """argmin cluster with lowest-index tie-break: min over c of
    (dist_c * k + c), decoded mod k. dist <= dim·(2·FP)² keeps the encode
    far below 2^63 for any realistic dim/k."""
    scores = [
        (_dist_expr(fixed_col, vec) * F.lit(k) + F.lit(c)).cast("long")
        for c, vec in sorted(centroids.items())
    ]
    if not scores:
        # no surviving centroid (zero valid vectors at fit time): no row can
        # be assigned — NULL keeps the schema without inventing a cluster
        return F.lit(None).cast("int")
    if len(scores) == 1:
        # F.least requires >= 2 columns; with one surviving centroid the
        # argmin is that centroid for every row (all-identical-vector
        # corpora collapse to this, matching the oracle's MIN over one c)
        return (scores[0] % F.lit(k)).cast("int")
    return (F.least(*scores) % F.lit(k)).cast("int")


def _clean(embeddings: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    return embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(
        F.col(id_col).cast("long").alias("id"), _fixed_vec(F.col(vec_col)).alias("fv")
    )


def kmeans_fit(embeddings: DataFrame, k: int = 4, iterations: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = 64, check_unique_ids: bool = True) -> dict[int, list[int]]:
    """The trained model: fixed-point centroids after `iterations` Lloyd
    rounds from a deterministic init (the k smallest ids' vectors; cluster
    index = id rank) — i.e. the centroids the FINAL assignment of
    `iterations` rounds is made against (iterations - 1 update steps).
    Fixed schedule, not convergence-tested: the oracle must replay it, and
    production corpus-clustering runs are budgeted in rounds anyway.

    Contract: ids must be unique. With duplicates the deterministic init is
    ill-defined (the engine would pick an arbitrary duplicate's vector while
    the SQL oracle joins ALL duplicate rows per (c, idx) — silent
    divergence), so by default we spend one id-keyed agg at fit time to
    fail loudly instead (`check_unique_ids=False` opts out when the caller
    has already deduped; fit is a multi-pass job anyway, so the extra
    groupBy is in budget even at corpus scale).

    Corpora under KMEANS_DRIVER_MAX_ROWS rows fit on the driver
    (the same threshold device as similarity._ivf_topk_local): one
    collect of the fixed-point matrix feeds the uniqueness check, the
    deterministic init AND every Lloyd round — replacing one driver job
    per step (dup-check agg, init TakeOrdered, one posexplode+groupBy
    collect per update). Bit-identical: distances/encodes are int64
    arithmetic (numpy wraps like the JVM long), and the centroid update
    runs the same double op sequence (2.0·sum + n) / (2.0·n) with
    round-to-nearest long→double conversion on both sides. Parity is
    pinned by test (the oracle CTEs replay either branch)."""
    from eve_graph_spark.operators.graph import fits_driver

    emb = _clean(embeddings, id_col, vec_col, dim)
    if fits_driver(emb, KMEANS_DRIVER_MAX_ROWS):
        return _kmeans_fit_local(emb, k, iterations, check_unique_ids)
    if check_unique_ids:
        dup = (
            emb.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"kmeans_fit requires unique {id_col!r} values; id {dup[0]['id']} "
                "appears more than once (dedup the input or pass "
                "check_unique_ids=False after deduping upstream)"
            )
    init_rows = emb.orderBy("id").limit(k).collect()
    centroids: dict[int, list[int]] = {
        c: list(r["fv"]) for c, r in enumerate(init_rows)
    }
    for _ in range(iterations - 1):
        assigned = emb.select(
            "fv", _assign_expr(F.col("fv"), centroids, k).alias("cluster")
        )
        # update: one (cluster, idx) shuffle of partial sums; the division
        # and floor run engine-side so the collected longs are the same
        # IEEE results the oracle computes
        cent_rows = (
            assigned.select("cluster", F.posexplode("fv").alias("idx", "v"))
            .groupBy("cluster", "idx")
            .agg(
                F.floor(
                    (F.lit(2.0) * F.sum("v") + F.count(F.lit(1)))
                    / (F.lit(2.0) * F.count(F.lit(1)))
                ).cast("long").alias("cv")
            )
            .collect()
        )
        new_cents: dict[int, list[int]] = {}
        for r in cent_rows:
            new_cents.setdefault(r["cluster"], [0] * dim)[r["idx"]] = r["cv"]
        centroids = new_cents  # empty clusters drop out; argmin skips them
    return centroids


def _kmeans_fit_local(emb: DataFrame, k: int, iterations: int,
                      check_unique_ids: bool) -> dict[int, list[int]]:
    """Driver-side Lloyd fit over the collected fixed-point matrix — the
    ≤KMEANS_DRIVER_MAX_ROWS branch of kmeans_fit. Same values as the
    distributed loop (see its docstring); `emb` is the _clean() frame."""
    return _kmeans_fit_local_rows(emb.collect(), k, iterations, check_unique_ids)


def _kmeans_fit_local_rows(rows, k: int, iterations: int,
                           check_unique_ids: bool) -> dict[int, list[int]]:
    """_kmeans_fit_local from already-collected rows carrying `id` and the
    SQL-computed fixed-point vector `fv` — shared with callers that
    collected the corpus once for several driver-local kernels (r14,
    semantic_dedup)."""
    import numpy as np

    ids = [r["id"] for r in rows]
    if check_unique_ids and len(set(ids)) != len(ids):
        seen: set[int] = set()
        dup = next(i for i in ids if i in seen or seen.add(i))
        raise ValueError(
            f"kmeans_fit requires unique id values; id {dup} appears more "
            "than once (dedup the input or pass check_unique_ids=False "
            "after deduping upstream)"
        )
    Mfull = np.array([r["fv"] for r in rows], dtype=np.int64) if rows else (
        np.zeros((0, 0), dtype=np.int64)
    )
    return _kmeans_fit_local_mat(ids, Mfull, k, iterations)


def _kmeans_fit_local_mat(ids, Mfull, k: int,
                          iterations: int) -> dict[int, list[int]]:
    """The Lloyd loop itself, from an id list + the UNSORTED int64
    fixed-point matrix aligned with it (uniqueness already checked by the
    caller when required)."""
    import numpy as np

    order = sorted(range(len(ids)), key=lambda i: ids[i])
    M = Mfull[order]
    centroids: dict[int, list[int]] = {
        c: [int(v) for v in M[c]] for c in range(min(k, len(order)))
    }
    for _ in range(iterations - 1):
        if not centroids:
            break
        cids = sorted(centroids)
        C = np.array([centroids[c] for c in cids], dtype=np.int64)
        # exact int64 argmin with lowest-index tie-break, via the same
        # (dist·k + c) encode _assign_expr bakes into the scan expression
        diff = M[:, None, :] - C[None, :, :]
        scores = (diff * diff).sum(axis=2) * np.int64(k) + np.array(
            cids, dtype=np.int64
        )
        assign = np.array(cids, dtype=np.int64)[np.argmin(scores, axis=1)]
        new_cents: dict[int, list[int]] = {}
        for c in cids:
            members = M[assign == c]
            if not len(members):
                continue  # empty clusters drop out, like the groupBy
            s = members.sum(axis=0, dtype=np.int64)
            n = np.float64(len(members))
            cv = np.floor((2.0 * s.astype(np.float64) + n) / (2.0 * n))
            new_cents[c] = [int(v) for v in cv]
        centroids = new_cents
    return centroids


def _assign_local_rows(M, centroids: dict[int, list[int]], k: int):
    """Driver-side argmin assignment over an int64 fixed-point matrix —
    the numpy twin of `_assign_expr` (same (dist·k + c) encode, same
    first-minimum tie-break, int64 wraparound semantics identical to the
    JVM long). Returns an int64 cluster array aligned with M's rows, or
    None clusters when no centroid survived (mirrors _assign_expr's NULL).
    """
    import numpy as np

    if not centroids:
        return None
    cids = sorted(centroids)
    C = np.array([centroids[c] for c in cids], dtype=np.int64)
    diff = M[:, None, :] - C[None, :, :]
    scores = (diff * diff).sum(axis=2) * np.int64(k) + np.array(
        cids, dtype=np.int64
    )
    # argmin picks the FIRST minimum: among tied distances the smallest
    # cid's encode (dist·k + c) is strictly smallest, so this matches
    # least(...) % k exactly (no-overflow regime, same as _kmeans_fit_local)
    return np.array(cids, dtype=np.int64)[np.argmin(scores, axis=1)]


def assign_with_centroids(embeddings: DataFrame, centroids: dict[int, list[int]],
                          k: int, id_col: str = "vec_id",
                          vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """(id, cluster) against a FIXED model — a pure scan-side projection
    (no shuffle, no state), which makes it directly usable on a STREAMING
    DataFrame too: the model-apply half of the pipeline (train batch-side
    with kmeans_fit, score the firehose with this)."""
    return _clean(embeddings, id_col, vec_col, dim).select(
        "id", _assign_expr(F.col("fv"), centroids, k).alias("cluster")
    )


def kmeans_assign(embeddings: DataFrame, k: int = 4, iterations: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int = 64) -> DataFrame:
    """(id, cluster) after `iterations` Lloyd rounds: fit + final assign.
    Rows with NULL/wrong-arity vectors are dropped (same guard as
    label_centroids)."""
    centroids = kmeans_fit(embeddings, k, iterations, id_col, vec_col, dim)
    return assign_with_centroids(embeddings, centroids, k, id_col, vec_col, dim)


def kmeans_cte_parts(k: int = 4, iterations: int = 2, dim: int = 64,
                     table: str = "embeddings", id_col: str = "vec_id",
                     vec_col: str = "embedding") -> tuple[list[str], str]:
    """The kmeans replay as reusable CTE parts: (parts, final_cte_name)
    where the final CTE yields (id, cluster). `kmeans_oracle_sql` wraps it
    for the standalone query; `semantic_dedup`'s oracle composes it with
    the in-cluster cosine pass."""
    parts = [
        f"""km_e AS (
            SELECT {id_col} AS id, i - 1 AS idx,
                   CAST(FLOOR(CAST({vec_col}[i] AS DOUBLE) * {KM_FP} + 0.5) AS BIGINT) AS ev
            FROM {table}, unnest(range(1, {dim + 1})) AS u(i)
            WHERE {vec_col} IS NOT NULL AND len({vec_col}) = {dim}
        )""",
        f"""km_init AS (
            SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS c
            FROM (SELECT DISTINCT id FROM km_e ORDER BY id LIMIT {k})
        )""",
        """km_c0 AS (
            SELECT i.c, e.idx, e.ev AS cv FROM km_init i JOIN km_e e ON e.id = i.id
        )""",
    ]
    for it in range(1, iterations + 1):
        parts.append(
            f"""km_d{it} AS (
            SELECT e.id, c.c, SUM((e.ev - c.cv) * (e.ev - c.cv)) AS dist
            FROM km_e e JOIN km_c{it - 1} c ON c.idx = e.idx
            GROUP BY e.id, c.c
        )"""
        )
        parts.append(
            f"""km_a{it} AS (
            SELECT id, CAST(MIN(dist * {k} + c) % {k} AS INTEGER) AS cluster
            FROM km_d{it} GROUP BY id
        )"""
        )
        if it < iterations:
            parts.append(
                f"""km_c{it} AS (
                SELECT a.cluster AS c, e.idx,
                       CAST(FLOOR((2.0 * SUM(e.ev) + COUNT(*)) / (2.0 * COUNT(*))) AS BIGINT) AS cv
                FROM km_a{it} a JOIN km_e e ON e.id = a.id
                GROUP BY a.cluster, e.idx
            )"""
            )
    return parts, f"km_a{iterations}"


def kmeans_oracle_sql(k: int = 4, iterations: int = 2, dim: int = 64,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding") -> str:
    """DuckDB replay of kmeans_assign: same init, same integer distance,
    same argmin encode, same round-half-up centroid update — unrolled one
    CTE block per iteration. Kept adjacent to the operator so the two move
    in lockstep (the test suite runs both on the fixtures)."""
    parts, final = kmeans_cte_parts(k, iterations, dim, table, id_col, vec_col)
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT id AS {id_col}, cluster FROM {final}"
