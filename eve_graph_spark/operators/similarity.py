"""Similarity search over embedding columns (array<float>).

Two paths, as a real 100 TB deployment would have:
- `brute_force_topk`: exact cosine top-k. The fast form keeps the whole
  dot product inside JVM array expressions (zip_with + aggregate) — one
  pass over candidates per query batch, no shuffle of the vectors.
  The `exact_fixed_point=True` form routes through posexplode + integer
  fixed-point sums so it is bit-reproducible against a SQL oracle.
- `lsh_bucketed_topk`: the scale path — random-hyperplane LSH buckets
  (SimHash for vectors) prune candidates to matching buckets, then exact
  re-rank within the bucket. Probabilistic recall; rows-only checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eve_graph_spark.checkpointing import truncate_lineage
from eve_graph_spark.frames import local_frame

FIXED_POINT_SCALE = 1_000_000_000  # products are in [-1,1]·dim → fits long
IVF_DRIVER_MAX_ROWS = 200_000  # below this, ivf_topk runs on the driver


def dot_expr(a: Column, b: Column) -> Column:
    """JVM-side dot product: zip_with multiply, aggregate sum (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def fixed_sqnorm_expr(a: Column, scale: int = FIXED_POINT_SCALE) -> Column:
    """Fixed-point squared norm as a pure array fold — bit-identical to the
    posexplode + SUM(floor(x*x*scale+0.5)) aggregate, but with no Generate
    node, so query-batch norms don't cost an explode of the batch.

    SUM semantics are replicated exactly, including NULLs: SUM skips NULL
    addends and returns NULL over zero rows, so the fold runs over the
    non-NULL elements only (same integer addends, order-independent
    integer addition) and yields NULL when no element survives the filter
    (all-NULL or empty array) — a naive fold would instead propagate NULL
    through the accumulator on the first NULL element.
    """
    nonnull = F.filter(a, lambda x: x.isNotNull())
    folded = (
        F.aggregate(
            F.transform(
                nonnull,
                lambda x: F.floor(
                    x.cast("double") * x.cast("double") * scale + F.lit(0.5)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        / F.lit(float(scale))
    )
    return F.when(F.size(nonnull) > 0, folded)


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_fixed_point: bool = False,
    q_df: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k of each query vector against all candidates.

    Queries (a handful of rows) are broadcast; candidates stream by in one
    pass; top-k per query is a TakeOrdered-style window. Ties broken by
    candidate id so results are total-ordered.

    `q_df` (r14, guide §1.2): an optional pre-built (query_id, qvec) frame
    for the query batch — a caller that already holds the query vectors
    (e.g. from an index build's training collect) passes them here so the
    broadcast build doesn't re-scan the corpus to find |Q| rows. Must
    contain exactly the `query_ids` rows of `embeddings`; values are
    identical by construction (same source rows).
    """
    q = q_df if q_df is not None else embeddings.filter(
        F.col(id_col).isin(query_ids)
    ).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    if exact_fixed_point:
        return _brute_force_topk_fixed_point(embeddings, q, k, id_col, vec_col)
    pairs = embeddings.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col(id_col),
        cosine_expr(F.col("qvec"), F.col(vec_col)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _fixed_dot_sum_semantics(a: Column, b: Column) -> Column:
    """Exact fixed-point dot as an array fold, with the SAME null/empty
    semantics as the posexplode + SUM(floor(a*b*scale+0.5)) aggregate it
    replaced (r13): SUM skips NULL addends and returns NULL over zero
    rows, so the fold runs over the non-NULL products only and yields
    NULL when none survive. Same integer addends, order-independent
    integer addition — the double result is bit-identical."""
    prods = F.filter(
        F.zip_with(a, b, lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * FIXED_POINT_SCALE + F.lit(0.5)
        ).cast("long")),
        lambda p: p.isNotNull(),
    )
    folded = (
        F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)
        / F.lit(float(FIXED_POINT_SCALE))
    )
    return F.when(F.size(prods) > 0, folded)


def _brute_force_topk_fixed_point(embeddings: DataFrame, q: DataFrame, k: int,
                                  id_col: str, vec_col: str) -> DataFrame:
    """Oracle-grade variant: per-dimension products are fixed-pointed with
    floor(x*1e9+0.5) (an IEEE-identical op in any engine) and summed as
    exact integers, so cosine is bit-reproducible in SQL.

    r13 shape (guide §2.4 — remove shuffles outright): one broadcast
    crossJoin of the |Q|-row query batch onto the candidate scan, dot and
    both norms computed as per-row integer array folds. The previous form
    posexploded the corpus (×dim Generate), equi-joined the exploded query
    batch on `pos` and ran TWO aggregate exchanges (dots, corpus norms)
    plus a norms join — |corpus|·|Q|·dim rows through a shuffle for values
    a map-side fold produces bit-identically (interleaved A/B at sf0.1:
    1.145 s → 0.491 s at |Q|=5, 1.269 s → 1.074 s at |Q|=100, rows
    exactly equal). Candidate norms are hoisted to the scan-side
    projection so they are computed once per candidate row, not once per
    (candidate, query) pair; zero exchanges remain below the top-k window.

    Semantics preserved from the explode form: empty/NULL vectors emit no
    posexplode rows, so such candidates and queries produced no pairs —
    the size(...) > 0 prefilters reproduce that; NULL elements are skipped
    like SUM addends (_fixed_dot_sum_semantics / fixed_sqnorm_expr).
    Assumes uniform vector width (every registered caller filters
    size == dim upstream); ragged pairs would differ from the old
    pos-equi-join, which dotted the overlapping positions only.
    """
    cand = embeddings.filter(F.size(F.col(vec_col)) > 0).select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        F.sqrt(fixed_sqnorm_expr(F.col(vec_col))).alias("__cn"),
    )
    qn = q.filter(F.size(F.col("qvec")) > 0).select(
        "query_id", "qvec", F.sqrt(fixed_sqnorm_expr(F.col("qvec"))).alias("__qn")
    )
    scored = (
        cand.crossJoin(F.broadcast(qn))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", id_col,
            (_fixed_dot_sum_semantics(F.col("qvec"), F.col("__cvec"))
             / (F.col("__qn") * F.col("__cn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _unit_list(vec: list[float]) -> list[float]:
    n = sum(x * x for x in vec) ** 0.5 or 1.0
    return [x / n for x in vec]


def _cents_1row(spark, cents: list[tuple[int, list[float]]]) -> DataFrame:
    # centroids as ONE broadcastable row holding a sorted struct array.
    # Keeping centroid values in DATA (not literals) means the argmax
    # expression tree is identical across Lloyd iterations, so codegen
    # compiles once and is cache-hit afterwards.
    rows = [(int(c), _unit_list(v)) for c, v in cents]
    return (
        local_frame(spark, rows, "cell long, cvec array<double>")
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("cell", "cvec"))).alias("__cents"))
    )


def _with_cell(vecs: DataFrame, cents: list[tuple[int, list[float]]], vcol: str) -> DataFrame:
    # narrow argmax: score all centroids in one transform, then pick the
    # first maximum (ties → lowest cell id; __cents is sorted by cell)
    scores = F.transform(F.col("__cents"), lambda s: dot_expr(F.col(vcol), s["cvec"]))
    pos = F.array_position(scores, F.array_max(scores)).cast("int")
    cell = F.element_at(F.transform(F.col("__cents"), lambda s: s["cell"]), pos)
    return (
        vecs.crossJoin(F.broadcast(_cents_1row(vecs.sparkSession, cents)))
        .withColumn("cell", cell)
        .drop("__cents")
    )


def _ivf_train_assign(embeddings: DataFrame, n_centroids: int,
                      lloyd_iterations: int, id_col: str,
                      vec_col: str) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Distributed IVF training: deterministic seed (n_centroids smallest
    ids), fixed Lloyd iterations, narrow argmax assignment. Returns
    (assigned (id, vec, cell) DataFrame, final cents as (cell, mean) list)
    — the body ivf_topk always ran, factored out (r10) so ivf_index can
    build the persistable assignment with the identical op sequence."""
    seed = (
        embeddings.orderBy(id_col).limit(n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    cents = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seed)
    ]
    dim = len(cents[0][1])

    def _vec_sum(col: F.Column) -> F.Column:
        # element-wise sum of an array column via collect_list + zip_with
        # fold — one compact expression instead of `dim` aggregate columns
        return F.aggregate(
            F.collect_list(col),
            F.array_repeat(F.lit(0.0), dim),
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        )

    for _ in range(lloyd_iterations):
        assigned = _with_cell(embeddings.select(id_col, vec_col), cents, vec_col)
        # new centroid = dimension-wise mean, two-phase so the collect_list
        # buffers stay partition-bounded at scale: fold per (cell,
        # partition) first, then combine the per-partition partials
        partials = assigned.groupBy("cell", F.spark_partition_id().alias("__pid")).agg(
            F.count(F.lit(1)).alias("__n"),
            _vec_sum(F.col(vec_col).cast("array<double>")).alias("__vsum"),
        )
        sums = partials.groupBy("cell").agg(
            F.sum("__n").alias("__n"), _vec_sum(F.col("__vsum")).alias("__vsum")
        ).collect()
        cents = sorted(
            (r["cell"], [s / r["__n"] for s in r["__vsum"]]) for r in sums
        )
    assigned = _with_cell(embeddings.select(id_col, vec_col), cents, vec_col)
    return assigned, cents


def ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict]:
    """Build the persistable plain-IVF index: the corpus WITH its cell
    assignment — (id, vec, cell) — plus the centroid model. Persist with
    sinks.write_ivf_index (cell-partitioned parquet): probing then scans
    only the n_probe matching partitions (SCALE.md "embeddings bucketed
    by IVF cell id"). Same training op sequence as ivf_topk's in-session
    path (_ivf_train_assign), so a query against the persisted index
    returns the identical top-k (pinned in tests)."""
    assigned, cents = _ivf_train_assign(
        embeddings, n_centroids, lloyd_iterations, id_col, vec_col
    )
    model = {
        "cents": [v for _, v in cents],
        "cell_ids": [int(c) for c, _ in cents],
    }
    return assigned.select(id_col, vec_col, "cell"), model


def ivf_topk_from_index(
    index: DataFrame,
    model: dict,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Plain-IVF query against a PERSISTED index (ivf_index →
    sinks.write_ivf_index → read_ivf_index): no training pass, and the
    probe applies a LITERAL cell filter — on a cell-partitioned table
    that is static partition pruning, so the scan touches n_probe
    partitions of the corpus, never all of it (plan-pinned in tests).
    Query vectors are fetched by id (pushdown-pruned scan), probe cells
    chosen by the same (-score, cell) order as ivf_topk."""
    import numpy as np

    spark = index.sparkSession
    qrows = (
        index.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col).collect()
    )
    ucents = _unit_rows_np(np.array(model["cents"], dtype=np.float64))
    cell_ids = model["cell_ids"]
    qdata = []
    for r in qrows:
        qv = np.array(r[vec_col], dtype=np.float64)
        cscore = ucents @ qv
        order = sorted(range(len(cell_ids)), key=lambda i: (-cscore[i], cell_ids[i]))
        for i in order[:n_probe]:
            qdata.append((int(r[id_col]), int(cell_ids[i]),
                          [float(x) for x in r[vec_col]]))
    if not qdata:
        return local_frame(
            spark, [], f"query_id long, {id_col} long, cosine double, rank int"
        )
    qdf = local_frame(spark, qdata, "query_id long, cell long, qvec array<double>")
    probe_cells = sorted({c for _, c, _ in qdata})
    pairs = (
        index.filter(F.col("cell").isin(probe_cells))  # static partition pruning
        .join(F.broadcast(qdf), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    scored = pairs.select(
        "query_id", F.col(id_col),
        cosine_expr(F.col("qvec"), F.col(vec_col)).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer → probe the
    query's `n_probe` nearest cells → exact cosine re-rank inside them.

    Scale shape: centroids are tiny (n_centroids rows) and live on the
    driver; the corpus is huge and is only ever touched by NARROW maps.
    Cell assignment is an argmax-dot against a centroid literal array —
    no row blowup, no shuffle — so each Lloyd pass costs one map plus one
    (n_centroids × dim)-cell partial aggregation. At scale the cell id is
    the table's partition key, so each query touches n_probe partitions
    instead of the full corpus — same layout story as the LSH variant,
    but with data-adaptive cells (better recall on clustered embeddings;
    LSH needs no training pass).

    Deterministic end to end: centroids seed from the `n_centroids`
    smallest vec_ids, refined with fixed Lloyd iterations; assignment ties
    break toward the lowest cell id (strict > in the fold keeps the first
    maximum).

    Like SSSP/PageRank, a corpus under IVF_DRIVER_MAX_ROWS rows takes
    a driver-local numpy fast path (the training loop is inherently
    iterative; a sub-MB corpus shouldn't pay one Spark job per Lloyd
    pass). The distributed path is the same algorithm and is parity-pinned
    by tests.
    """
    from eve_graph_spark.operators.graph import fits_driver

    if fits_driver(embeddings, IVF_DRIVER_MAX_ROWS):
        return _ivf_topk_local(
            embeddings, query_ids, k, n_centroids, n_probe, lloyd_iterations,
            id_col, vec_col,
        )
    assigned, cents = _ivf_train_assign(
        embeddings, n_centroids, lloyd_iterations, id_col, vec_col
    )
    q = assigned.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # probe cells: n_probe nearest centroids per query (q is a handful of rows)
    qcells = (
        q.crossJoin(F.broadcast(_cents_1row(embeddings.sparkSession, cents)))
        .select("query_id", "qvec", F.explode("__cents").alias("__s"))
        .select(
            "query_id", "qvec",
            F.col("__s")["cell"].alias("cell"),
            dot_expr(F.col("qvec"), F.col("__s")["cvec"]).alias("__d"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("__d").desc(), F.col("cell"))
            ),
        )
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "qvec", "cell")
    )
    pairs = assigned.join(F.broadcast(qcells), "cell").filter(F.col(id_col) != F.col("query_id"))
    scored = pairs.select(
        "query_id", F.col(id_col), cosine_expr(F.col("qvec"), F.col(vec_col)).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ivf_topk_local(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    n_centroids: int,
    n_probe: int,
    lloyd_iterations: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Driver-local IVF: one collect, then numpy. Same algorithm as the
    distributed path (seed = n_centroids smallest ids, argmax-dot against
    unit centroids with first-max/lowest-cell ties, mean update, n_probe
    cells, exact cosine re-rank with id tie-break)."""
    import numpy as np

    rows = embeddings.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    V = np.array([r[1] for r in rows], dtype=np.float64)

    def _unit_rows(M: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(M, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return M / n

    cents = V[: min(n_centroids, len(ids))].copy()
    cell_ids = np.arange(len(cents), dtype=np.int64)
    for _ in range(lloyd_iterations):
        scores = V @ _unit_rows(cents).T          # (n, n_cells)
        assign = cell_ids[np.argmax(scores, axis=1)]  # first max = lowest cell
        kept, new_cents = [], []
        for c in cell_ids:
            members = V[assign == c]
            if len(members):
                kept.append(c)
                new_cents.append(members.mean(axis=0))
        cell_ids = np.array(kept, dtype=np.int64)
        cents = np.array(new_cents)
    scores = V @ _unit_rows(cents).T
    assign = cell_ids[np.argmax(scores, axis=1)]

    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0.0] = 1.0
    out = []
    id_pos = {int(i): p for p, i in enumerate(ids)}
    for qid in query_ids:
        if qid not in id_pos:
            continue
        qp = id_pos[qid]
        qv = V[qp]
        # n_probe nearest cells: score desc, then lowest cell id
        qscore = _unit_rows(cents) @ qv
        order = sorted(range(len(cell_ids)), key=lambda i: (-qscore[i], cell_ids[i]))
        probe = {int(cell_ids[i]) for i in order[:n_probe]}
        cand = np.where(np.isin(assign, list(probe)) & (ids != qid))[0]
        cos = (V[cand] @ qv) / (norms[cand] * norms[qp])
        ranked = sorted(zip(cos, ids[cand]), key=lambda t: (-t[0], t[1]))[:k]
        out.extend(
            (int(qid), int(vid), float(c), r + 1)
            for r, (c, vid) in enumerate(ranked)
        )
    return local_frame(
        embeddings.sparkSession, out, f"query_id long, {id_col} long, cosine double, rank int"
    )


def _unit_rows_np(M):
    import numpy as np

    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return M / n


def ivf_pq_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    m_subspaces: int = 8,
    n_codes: int = 16,
    lloyd_iterations: int = 2,
    train_sample: int = 200_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict]:
    """IVF-PQ index build (the standard FAISS split):
    a coarse k-means quantizer assigns each vector to a cell, and a
    PRODUCT QUANTIZER compresses it to `m_subspaces` byte-sized codes —
    per subspace, the nearest entry of a small L2-trained codebook.

    Returns (index_df, model): index_df is (id, cell, codes array<int>)
    — the table a deployment MATERIALIZES, partitioned by cell; model
    carries the centroids/codebooks needed at query time. The scale
    story: with m=8 codes the probe-stage scan reads ~8 bytes + ids per
    vector instead of dim×4 (~32x less for dim=64 float32) — the probe
    cost at 100 TB is the index table, never the vector table, which is
    touched only by the final re-rank's id lookups (bucket/z-order the
    vector table by id so those prune).

    Training is driver-side numpy over a deterministic sample (the
    `train_sample` lowest ids — FAISS practice: quantizers train on a
    sample, the full corpus is only ENCODED, a narrow map). Both
    quantizers are deterministic: seeds = first rows, argmin/argmax ties
    break to the lowest cell/code, fixed Lloyd iterations.
    """
    import numpy as np

    spark = embeddings.sparkSession
    rows = (
        embeddings.orderBy(id_col).limit(train_sample)
        .select(id_col, vec_col).collect()
    )
    V = np.array([r[vec_col] for r in rows], dtype=np.float64)
    dim = V.shape[1]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    d = dim // m_subspaces

    # coarse quantizer — same algorithm as _ivf_topk_local
    cents = V[: min(n_centroids, len(V))].copy()
    cell_ids = np.arange(len(cents), dtype=np.int64)
    for _ in range(lloyd_iterations):
        assign = cell_ids[np.argmax(V @ _unit_rows_np(cents).T, axis=1)]
        kept, new_c = [], []
        for c in cell_ids:
            members = V[assign == c]
            if len(members):
                kept.append(c)
                new_c.append(members.mean(axis=0))
        cell_ids, cents = np.array(kept, dtype=np.int64), np.array(new_c)

    # product quantizer: per-subspace L2 k-means codebooks
    codebooks = []
    for mi in range(m_subspaces):
        X = V[:, mi * d:(mi + 1) * d]
        cb = X[: min(n_codes, len(X))].copy()
        for _ in range(lloyd_iterations):
            d2 = ((X[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            code = np.argmin(d2, axis=1)  # first min = lowest code
            for c in range(len(cb)):
                members = X[code == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        codebooks.append([[float(x) for x in row] for row in cb])

    model = {
        "cents": [[float(x) for x in row] for row in cents],
        "cell_ids": [int(c) for c in cell_ids],
        "codebooks": codebooks,
        "m": m_subspaces,
        "d": d,
    }

    # When the training collect already covered the WHOLE corpus
    # (len(rows) < train_sample ⇒ the orderBy/limit returned
    # everything), encoding it distributed just replays the collected data
    # through ~1 s of interpreted higher-order-function folds plus a
    # checkpoint job — encode driver-side instead. Bit-parity with the
    # distributed expressions (pinned by test): every float reduction uses
    # np.cumsum[..., -1], which adds left-to-right exactly like the
    # aggregate() fold (np.sum's pairwise blocking would not), argmax/
    # argmin take the first extremum exactly like
    # array_position(arr, array_max/min(arr)), and the centroid rows are
    # consumed in the same sorted-by-cell order as the broadcast literal.
    # Above train_sample the distributed encode below is unchanged — at
    # scale the corpus is only ever touched by that narrow map.
    # NaN guard: SQL ordering ranks NaN largest, numpy comparisons drop it —
    # any NaN in the corpus keeps the distributed encode authoritative.
    # SPARK_GRAFT_FORCE_DISTRIBUTED keeps it too (the parity tests' switch).
    from eve_graph_spark.operators.graph import force_distributed

    if (
        len(rows) < train_sample
        and not force_distributed()
        and not any(r[vec_col] is None for r in rows)
        and not np.isnan(V).any()
    ):
        ucents_np = _unit_rows_np(np.array(model["cents"]))  # ascending cell order
        cell_arr = np.array(model["cell_ids"], dtype=np.int64)
        prod = V[:, None, :] * ucents_np[None, :, :]
        scores_np = np.cumsum(prod, axis=2)[:, :, -1]
        cells_np = cell_arr[np.argmax(scores_np, axis=1)]
        codes_cols = []
        for mi in range(m_subspaces):
            cb_np = np.array(model["codebooks"][mi])
            diff = V[:, None, mi * d:(mi + 1) * d] - cb_np[None, :, :]
            d2 = np.cumsum(diff * diff, axis=2)[:, :, -1]
            codes_cols.append(np.argmin(d2, axis=1))
        codes_np = np.stack(codes_cols, axis=1)
        enc = [
            (int(r[id_col]), int(cells_np[i]), [int(c) for c in codes_np[i]])
            for i, r in enumerate(rows)
        ]
        index = local_frame(
            spark, enc, f"{id_col} long, cell bigint, codes array<int>"
        )
        # the training collect covered the WHOLE corpus here — expose it
        # (and the driver-encoded index rows) so ivf_pq_topk can derive
        # its query vectors AND run the whole ADC+rerank driver-side
        # instead of scan-and-collect + shuffle jobs. Private keys, not
        # part of the persisted-model contract (sinks strips "_"-prefixed
        # keys).
        model["_corpus_rows"] = rows
        model["_index_rows"] = enc
        # identity token: ivf_pq_topk's driver-local ADC uses _index_rows
        # ONLY when the caller's index IS this exact frame (or None) — a
        # caller passing a different materialized/filtered index must get
        # the distributed ADC over THAT index, not a silent replay of the
        # build's rows
        model["_index_df"] = index
        return index, model

    # encode the corpus: cell (argmax dot vs unit centroids) + codes
    # (argmin L2 per subspace) — pure JVM array expressions against one
    # broadcast row, a narrow map over the corpus
    ucents = _unit_rows_np(np.array(model["cents"]))
    cent_row = local_frame(
        spark, [(sorted(zip(model["cell_ids"], [[float(x) for x in r] for r in ucents])),)],
        "cents array<struct<cell:bigint,cvec:array<double>>>",
    )
    cb_row = local_frame(spark, [(codebooks,)], "cb array<array<array<double>>>")
    scores = F.transform(F.col("cents"), lambda s: dot_expr(F.col(vec_col), s["cvec"]))
    cell = F.element_at(
        F.transform(F.col("cents"), lambda s: s["cell"]),
        F.array_position(scores, F.array_max(scores)).cast("int"),
    )
    sub = lambda mi: F.slice(F.col(vec_col), mi * d + 1, d)  # noqa: E731
    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # the per-subspace distance array is LET-BOUND via a 1-element
    # transform (r13, same device as dedup._shingles_sql): array_position
    # needs the array AND its min, and spelling the transform twice made
    # the interpreted l2 folds run twice per subspace — 2× the whole
    # encode cost for identical values
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m_subspaces - 1)),
        lambda mi: F.element_at(
            F.transform(
                F.array(
                    F.transform(F.element_at(F.col("cb"), (mi + 1).cast("int")),
                                lambda e: l2(sub(mi), e))
                ),
                lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast("int"),
            ),
            1,
        ),
    )
    index = (
        embeddings.select(id_col, vec_col)
        .crossJoin(F.broadcast(cent_row))
        .crossJoin(F.broadcast(cb_row))
        .select(id_col, cell.alias("cell"), codes.alias("codes"))
    )
    return index, model


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 100,
    index: DataFrame | None = None,
    model: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **train_kwargs,
) -> DataFrame:
    """IVF-PQ ANN query: probe the `n_probe` nearest cells, rank probed
    candidates by the ADC approximation (per-query lookup table over PQ
    codes — the scan touches ONLY the narrow index table), keep the top
    `rerank` per query, then exact-cosine re-rank just those against the
    full vector table. Output schema matches ivf_topk.

    The two-stage read is the point at scale: stage 1 scans
    (id, cell, codes) for the probed cells (~32x fewer bytes than the
    vectors); stage 2 fetches `rerank` full vectors per query by id.
    Recall ≤ plain IVF with the same cells by construction, approaching
    it as `rerank` grows — the default re-ranks 100 of the probed
    candidates, which holds the recall harness's bound on the fixtures
    (tests + the ann_ivf_pq_topk query pin it).

    Pass a materialized `index` + its `model` to skip the build (the
    deployment shape); otherwise both are derived in place.
    """
    import numpy as np

    spark = embeddings.sparkSession
    if index is None or model is None:
        index, model = ivf_pq_index(
            embeddings, id_col=id_col, vec_col=vec_col, **train_kwargs
        )
        # Materialize the narrow (id, cell, codes) index ONCE. Without
        # this the in-place build re-plans the corpus encode scan under
        # every downstream consumer (the ADC probe AND any caller that
        # branches on the result), turning one corpus pass into several —
        # exactly what a deployment avoids by writing the index table
        # out. localCheckpoint is the in-session equivalent of that
        # materialized table: lineage is truncated, so the only
        # embeddings scan left in the query plan is the final re-rank's
        # id fetch. r13: when the driver-local encode fired the index is
        # ALREADY a leaf relation with no embeddings lineage and exactly
        # one downstream scan (the ADC probe) — a checkpoint job would
        # only re-materialize it for nothing, so it is skipped.
        if "_corpus_rows" not in model:
            index = index.transform(truncate_lineage)
    m, d = model["m"], model["d"]
    # query vectors: from the training collect when it covered the whole
    # corpus (driver-local-encode path — same source table, so the rows
    # are identical), else one filtered scan-and-collect
    if "_corpus_rows" in model:
        qset = {int(q) for q in query_ids}
        qrows = [r for r in model["_corpus_rows"] if int(r[id_col]) in qset]
    else:
        qrows = (
            embeddings.filter(F.col(id_col).isin(query_ids))
            .select(id_col, vec_col).collect()
        )
    cents = np.array(model["cents"])
    ucents = _unit_rows_np(cents)
    cell_ids = model["cell_ids"]
    qdata = []
    for r in qrows:
        qv = np.array(r[vec_col], dtype=np.float64)
        cscore = ucents @ qv
        order = sorted(range(len(cell_ids)), key=lambda i: (-cscore[i], cell_ids[i]))
        lut = [
            [float(np.dot(qv[mi * d:(mi + 1) * d], np.array(e)))
             for e in model["codebooks"][mi]]
            for mi in range(m)
        ]
        for i in order[:n_probe]:
            qdata.append((int(r[id_col]), int(cell_ids[i]), lut))
    if not qdata:
        return local_frame(
            spark, [], f"query_id long, {id_col} long, cosine double, rank int"
        )
    # r14 (guide §5.3/§1.2): when the index build already collected the
    # whole corpus (_corpus_rows) AND encoded it driver-side (_index_rows),
    # the ADC probe + shortlist + exact re-rank are pure driver arithmetic
    # over data that is ALREADY ON THE DRIVER — running them as Spark jobs
    # costs a broadcast, two windows and a corpus join for nothing (the
    # r13 verdict's item 4: 17 driver jobs on ann_ivf_pq_topk). Bit-parity
    # with the distributed expressions, pinned by test:
    #   - ADC = aggregate(zip_with(codes, lut, element_at), 0.0, acc+v) —
    #     a LEFT-TO-RIGHT double fold; the Python loop adds in the same
    #     order over the same IEEE doubles;
    #   - shortlist/top-k ordering (desc score, asc id) via sorted() on
    #     (-x, id): double negation is exact, ties break identically;
    #   - exact cosine = dot/(sqrt(dot)·sqrt(dot)) with the same
    #     left-to-right double folds (dot_expr) and math.sqrt = IEEE sqrt.
    # No NaN can reach here: _corpus_rows only exists when the corpus had
    # no NULL/NaN (ivf_pq_index's auto_local guard). Identity guard: the
    # shortcut replays the BUILD's index rows, so it fires only when the
    # caller's index IS the build's frame (or was built in place above) —
    # an explicitly passed different index (materialized/filtered
    # deployment table) must drive the distributed ADC over THAT table
    # (pinned by test_ivf_pq_probe_scan_never_reads_vectors).
    if ("_corpus_rows" in model and "_index_rows" in model
            and index is model.get("_index_df")):
        import math

        vec_by_id = {int(r[id_col]): r[vec_col] for r in model["_corpus_rows"]}
        by_cell: dict[int, list[tuple[int, list[int]]]] = {}
        for vid, cell, codes_row in model["_index_rows"]:
            by_cell.setdefault(int(cell), []).append((int(vid), codes_row))
        per_query: dict[int, list[tuple[int, int, list[list[float]]]]] = {}
        for qid, cell, lut in qdata:
            per_query.setdefault(qid, []).append((cell, lut))
        out: list[tuple[int, int, float, int]] = []
        for qid in per_query:
            qv = vec_by_id[qid]
            cand: list[tuple[int, float]] = []
            for cell, lut in per_query[qid]:
                for vid, codes_row in by_cell.get(cell, ()):
                    if vid == qid:
                        continue
                    adc = 0.0
                    for mi, c in enumerate(codes_row):
                        adc += lut[mi][c]
                    cand.append((vid, adc))
            cand.sort(key=lambda t: (-t[1], t[0]))
            qdot = 0.0
            for x in qv:
                qdot += float(x) * float(x)
            qn = math.sqrt(qdot)
            rer: list[tuple[int, float]] = []
            for vid, _ in cand[:rerank]:
                cv = vec_by_id[vid]
                dot = 0.0
                cdot = 0.0
                for i in range(len(cv)):
                    dot += float(qv[i]) * float(cv[i])
                    cdot += float(cv[i]) * float(cv[i])
                rer.append((vid, dot / (qn * math.sqrt(cdot))))
            rer.sort(key=lambda t: (-t[1], t[0]))
            out.extend(
                (qid, vid, cos, rk + 1) for rk, (vid, cos) in enumerate(rer[:k])
            )
        return local_frame(
            spark, out, f"query_id long, {id_col} long, cosine double, rank int"
        )
    qdf = local_frame(
        spark, qdata, f"query_id long, cell long, __lut array<array<double>>"
    )
    # stage 1: ADC over the narrow index — codes ride the scan, vectors
    # don't. The LITERAL probe-cell filter is semantically redundant with
    # the join (qdf holds only probed cells) but is what lets a PERSISTED
    # cell-partitioned index prune statically: the scan reads n_probe
    # partitions, not the whole index (r10, plan-pinned in tests).
    probe_cells = sorted({c for _, c, _ in qdata})
    approx = (
        index.filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(qdf), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", id_col,
            F.aggregate(
                F.zip_with(
                    F.col("codes"), F.col("__lut"),
                    lambda c, row: F.element_at(row, c + 1),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("__adc"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(F.col("__adc").desc(), F.col(id_col))
    shortlist = (
        approx.withColumn("__rn", F.row_number().over(wa))
        .filter(F.col("__rn") <= rerank)
        .select("query_id", id_col)
    )
    # stage 2: exact cosine on the shortlist only
    qvec_df = local_frame(
        spark, [(int(r[id_col]), [float(x) for x in r[vec_col]]) for r in qrows],
        "query_id long, qvec array<double>",
    )
    scored = (
        shortlist.join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(qvec_df), "query_id")
        .select(
            "query_id", id_col,
            cosine_expr(F.col("qvec"), F.col(vec_col)).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def fixed_dot(a, b):
    """Exact fixed-point dot of two array columns: per-dimension products
    floored at 1e9 fixed point (an IEEE-identical op in any engine) and
    summed as exact integers, so the double result is bit-reproducible in
    SQL. Stays inside JVM array expressions — no posexplode, no shuffle."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: F.floor(
                x.cast("double") * y.cast("double") * F.lit(float(FIXED_POINT_SCALE)) + F.lit(0.5)
            ).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        / F.lit(float(FIXED_POINT_SCALE))
    )


def pairwise_cosine(embeddings: DataFrame, pairs: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact fixed-point cosine for given (id_a, id_b) pairs — the verify
    kernel of embedding-cosine near-dup dedup (candidate pairs come from
    LSH buckets at scale; here they are caller-supplied).
    """
    fp_dot = fixed_dot
    ea = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    eb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    joined = pairs.join(ea, "id_a").join(eb, "id_b")
    return joined.select(
        "id_a",
        "id_b",
        (fp_dot(F.col("__va"), F.col("__vb"))
         / (F.sqrt(fp_dot(F.col("__va"), F.col("__va")))
            * F.sqrt(fp_dot(F.col("__vb"), F.col("__vb"))))).alias("cosine"),
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy needed at the
    executor): values in [-1, 1)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 30) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = sign bits of the vector against each hyperplane."""
    bits = [
        F.when(
            dot_expr(vec, F.array(*[F.lit(v) for v in plane])) > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out.cast("long")


def exact_lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Oracle-grade bucket id: each sign bit comes from an INTEGER
    fixed-point dot (sum of floor(x·p·1e9+0.5) as longs), so the bit is
    independent of float summation order and any SQL engine inlining the
    same plane constants lands every vector in the same bucket. The float
    `lsh_bucket_expr` is the production form; near sign boundaries the two
    may differ by a bit — which is why the hash-checked query pins THIS
    form on both engines."""
    bits = []
    for i, plane in enumerate(planes):
        idot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: F.floor(
                    x.cast("double") * y.cast("double") * F.lit(float(FIXED_POINT_SCALE))
                    + F.lit(0.5)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(idot > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out.cast("long")


def lsh_index(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_fixed_point: bool = True,
    seed: int = 42,
) -> tuple[DataFrame, dict]:
    """Build the persistable hyperplane-LSH index: the corpus tagged with
    its bucket id (sign bits against `n_planes` deterministic
    hyperplanes), plus the model dict (the planes) the query path needs
    driver-side. Persist with sinks.write_lsh_index (bucket-partitioned);
    query with lsh_topk_from_index. Defaults to the exact fixed-point
    bucket bits so a reloaded index reproduces lsh_bucketed_topk
    (exact_fixed_point=True) bit-for-bit."""
    planes = random_hyperplanes(dim, n_planes, seed)
    bucket = (
        exact_lsh_bucket_expr(F.col(vec_col), planes)
        if exact_fixed_point
        else lsh_bucket_expr(F.col(vec_col), planes)
    )
    idx = embeddings.select(id_col, vec_col, bucket.alias("bucket"))
    model = {
        "planes": planes, "n_planes": n_planes, "dim": dim,
        "exact_fixed_point": exact_fixed_point, "seed": seed,
    }
    return idx, model


def lsh_topk_from_index(
    index: DataFrame,
    model: dict,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH ANN against a PERSISTED index (lsh_index → sinks.write_lsh_index
    → read_lsh_index): query rows are fetched by id (pushdown-pruned
    scan), then candidates come from a LITERAL bucket filter — on the
    bucket-partitioned layout that is static partition pruning, so a
    query scans its buckets' directories, never the corpus (plan-pinned
    in tests). Scoring matches lsh_bucketed_topk for the model's
    exact_fixed_point mode."""
    spark = index.sparkSession
    qrows = (
        index.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col, "bucket").collect()
    )
    if not qrows:
        return local_frame(
            spark, [], f"query_id long, {id_col} long, cosine double, rank int"
        )
    qdf = local_frame(
        spark, [(int(r[id_col]), [float(x) for x in r[vec_col]], int(r["bucket"]))
         for r in qrows],
        "query_id long, qvec array<double>, bucket long",
    )
    probe_buckets = sorted({int(r["bucket"]) for r in qrows})
    pairs = (
        index.filter(F.col("bucket").isin(probe_buckets))  # static pruning
        .join(F.broadcast(qdf), "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    cos = (
        (fixed_dot(F.col("qvec"), F.col(vec_col))
         / (F.sqrt(fixed_dot(F.col("qvec"), F.col("qvec")))
            * F.sqrt(fixed_dot(F.col(vec_col), F.col(vec_col)))))
        if model.get("exact_fixed_point", True)
        else cosine_expr(F.col("qvec"), F.col(vec_col))
    )
    scored = pairs.select("query_id", F.col(id_col), cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_fixed_point: bool = False,
) -> DataFrame:
    """ANN: candidates restricted to the query's hyperplane bucket, exact
    cosine re-rank inside the bucket. At 100 TB the bucket column is what
    the table would be hash-partitioned/bucketed BY, making each query a
    single-partition scan instead of a full pass.

    With `exact_fixed_point`, both the bucket sign bits and the re-rank
    cosine go through integer fixed point, making the WHOLE approximate
    pipeline bit-reproducible in any SQL engine that inlines the same
    hyperplane constants — the hash-checkable form."""
    planes = random_hyperplanes(dim, n_planes)
    bucket = (
        exact_lsh_bucket_expr(F.col(vec_col), planes)
        if exact_fixed_point
        else lsh_bucket_expr(F.col(vec_col), planes)
    )
    bucketed = embeddings.withColumn("bucket", bucket)
    q = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), F.col("bucket")
    )
    pairs = bucketed.join(F.broadcast(q), "bucket").filter(F.col(id_col) != F.col("query_id"))
    cos = (
        (fixed_dot(F.col("qvec"), F.col(vec_col))
         / (F.sqrt(fixed_dot(F.col("qvec"), F.col("qvec")))
            * F.sqrt(fixed_dot(F.col(vec_col), F.col(vec_col)))))
        if exact_fixed_point
        else cosine_expr(F.col("qvec"), F.col(vec_col))
    )
    scored = pairs.select("query_id", F.col(id_col), cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
