"""Lineage truncation with an opt-in fault-tolerant path.

Every iterative kernel in this engine (SSSP supersteps, Louvain rounds,
connected-components label propagation, PageRank, Borůvka MST, k-core
peeling, ...) must truncate DataFrame lineage between rounds or the plan
grows without bound. ``df.localCheckpoint(eager=True)`` is the fast way:
it materializes the rows as blocks on the executors that computed them,
with no extra shuffle and no distributed-filesystem write.

The catch — and the reason this module exists — is that localCheckpoint
blocks live ONLY on executors. On ``local[32]`` that is perfectly safe
(one JVM, nothing to lose), but on a 1000-executor cluster a single lost
executor makes the truncated lineage unrecoverable: the original plan was
discarded, the blocks are gone, and the whole multi-hour job dies. A
100 TB Louvain run cannot afford that failure mode.

``truncate_lineage`` therefore routes through one switch:

- default: ``df.localCheckpoint(eager=True)`` — the right choice for
  local mode and for short-lived jobs where re-running on failure is
  cheaper than writing every round to reliable storage;
- when a reliable checkpoint directory has been configured via
  :func:`enable_reliable_checkpoints` (or the
  ``SPARK_GRAFT_CHECKPOINT_DIR`` environment variable read by
  ``session.get_spark``): ``df.checkpoint(eager=True)``, which writes
  the rows to the configured directory (HDFS/S3/... on a real cluster)
  so a lost executor merely re-reads its partitions.

Results are bit-identical either way — both operators materialize the
same rows and return a frame with the same schema and partitioning
semantics; only the storage medium differs (``tests/test_checkpointing.py``
pins this for sssp and louvain).

Reference parity note: the reference (madmikeross/eve-graph) delegates
iteration durability to Neo4j's transactional store; on Spark, reliable
checkpointing is the equivalent durability seam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Runtime-conf key that, when set, switches every truncate_lineage call
#: in the engine onto the fault-tolerant df.checkpoint() path.
RELIABLE_DIR_KEY = "spark.eve_graph.reliableCheckpointDir"


def enable_reliable_checkpoints(spark: SparkSession, path: str) -> None:
    """Route all lineage truncation through fault-tolerant ``df.checkpoint()``.

    ``path`` should be on storage that survives executor loss (HDFS, S3,
    or any shared filesystem on a real cluster; a local directory is fine
    for tests).

    Checkpoint-file reaping is NOT controlled here: ContextCleaner reads
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` once at
    SparkContext creation, so flipping it on an existing session is a
    no-op. :func:`eve_graph_spark.session.get_spark` sets it in the
    builder unconditionally — sessions built there reap the checkpoint
    dirs of GC'd frames (pinned by
    ``tests/test_checkpointing.py::test_reliable_checkpoints_reaped_on_gc``).
    On a caller-provided context created WITHOUT that conf, every
    truncate_lineage round in reliable mode leaves a directory until job
    teardown — clean the checkpoint dir yourself in that case.
    """
    spark.sparkContext.setCheckpointDir(path)
    spark.conf.set(RELIABLE_DIR_KEY, path)


def disable_reliable_checkpoints(spark: SparkSession) -> None:
    """Return to the default executor-local truncation path.

    Spark offers no way to *unset* the SparkContext checkpoint dir, but
    clearing the engine's conf key is enough: ``truncate_lineage`` only
    consults the key, never the context.
    """
    try:
        spark.conf.unset(RELIABLE_DIR_KEY)
    except Exception:
        pass  # already unset


def reliable_checkpoint_dir(spark: SparkSession) -> str | None:
    """The configured reliable checkpoint dir, or None when disabled."""
    return spark.conf.get(RELIABLE_DIR_KEY, None)


#: Any inherited sizeInBytes above this is join-estimate noise, not signal
#: (defaultSizeInBytes itself is Long.MaxValue ≈ 9.2e18; real frames this
#: engine checkpoints are orders of magnitude below 2^60 bytes).
_STATS_CAP = 1 << 60


def _reset_bloated_stats(df: DataFrame) -> DataFrame:
    """Drop pathologically inflated plan statistics from a checkpointed frame.

    ``localCheckpoint``/``checkpoint`` cut the logical plan to a LogicalRDD
    but INHERIT the pre-checkpoint plan's ``sizeInBytes`` estimate. In an
    iterative kernel that estimate is a product over the round's joins, the
    next round multiplies those BigInts again, and checkpoints preserve
    rather than reset them — after a few rounds the driver spends MINUTES
    in BigInteger Karatsuba/Toom-Cook multiplications just computing
    statistics (measured: louvain rounds going 4 s → 10 s → 42 s → 302 s
    on a 10-row super-graph). Frames whose inherited estimate exceeds
    ``_STATS_CAP`` are rebuilt on the SAME materialized internal RDD with
    default (unknown-size) statistics: zero recompute, identical rows, and
    the digit growth stops compounding. Frames with small, credible stats
    are returned untouched so auto-broadcast decisions keep their signal.

    Tradeoff (ADVICE r11): the rebuilt LogicalRDD also loses the
    checkpointed frame's advertised outputPartitioning/ordering, so a
    keyed join downstream of it shuffles again. Under AQE a checkpoint
    advertises no partitioning in the first place, so no call site in
    this engine relies on it.
    """
    try:
        jqe = df._jdf.queryExecution()
        # py4j materializes the scala BigInt as a plain python int
        size = int(jqe.optimizedPlan().stats().sizeInBytes())
        if size <= _STATS_CAP:
            return df
        spark = df.sparkSession
        fresh = spark._jsparkSession.internalCreateDataFrame(
            jqe.toRdd(), df._jdf.schema(), False
        )
        return DataFrame(fresh, spark)
    except Exception:
        # internal API drifted (toRdd/internalCreateDataFrame are
        # private[sql]) — the plain checkpointed frame is still correct,
        # just slower to plan against
        return df


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and cut its lineage; drop-in for localCheckpoint.

    Designed for fluent use: ``frame.transform(truncate_lineage)`` reads
    exactly like the ``frame.localCheckpoint(eager=True)`` it replaces.
    Always eager — every call site in this engine wants the materialized
    barrier, not a lazy marker. The checkpointed frame additionally gets
    its inherited plan statistics sanity-capped (see
    ``_reset_bloated_stats`` — without the cap, iterative kernels compound
    join-estimate BigInts across rounds until planning dominates wall
    time).
    """
    # r13: a LocalRelation leaf (literal rows already sitting in the JVM
    # plan) has no lineage to cut and no inherited stats to cap —
    # checkpointing it only spends a job materializing data that is
    # already materialized. Package-built driver frames
    # (frames.local_frame) are such LocalRelations below Spark's
    # localRelationThreshold, so they are skipped; above it they are
    # JVM-side Arrow RDDs whose scans need no Python workers, and
    # checkpointing one merely pins its blocks.
    # Other LogicalRDD leaves are NOT exempt: a Python-list
    # createDataFrame (e.g. a caller's own frame) re-pays a Python-worker
    # deserialization pass on every scan, which is why multi-scan
    # consumers (the betweenness pair joins: four scans) checkpoint it
    # once (OPTIMIZATION_r13.md). A bare file scan is also a leaf, but
    # checkpointing one legitimately pins a snapshot of mutable storage,
    # so it too keeps the old behavior.
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.children().isEmpty() and plan.nodeName() == "LocalRelation":
            return df
    except Exception:  # pragma: no cover — plan not inspectable
        pass
    ck = (
        df.checkpoint(eager=True)
        if reliable_checkpoint_dir(df.sparkSession)
        else df.localCheckpoint(eager=True)
    )
    return _reset_bloated_stats(ck)
