"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE, skew-join handling, broadcast
threshold) — only ``shuffle.partitions`` is sized per deployment.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_PARENT = str(Path(__file__).resolve().parent.parent)


def _export_warm_daemon_path() -> None:
    """Prepend this package's parent dir to PYTHONPATH (idempotent) so the
    python worker DAEMON subprocess can `-m eve_graph_spark.warm_daemon`
    regardless of the launcher's cwd. Must run before the JVM gateway is
    launched: the daemon inherits the JVM's env, which inherits ours."""
    cur = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in cur.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + (os.pathsep + cur if cur else "")
        )


def get_spark(app_name: str = "eve-graph-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
    - Arrow on: every pandas UDF / mapInPandas batch rides Arrow.
    - Broadcast threshold 64MB: the dimension tables (region/nation/systems
      name-lookup) must broadcast, never shuffle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    _export_warm_daemon_path()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Pre-warmed worker daemon (r13 verdict item 2): Spark's
        # PythonWorkerFactory reaps the ENTIRE idle worker pool after a
        # hard-coded 60 s without a python task, so interleaved JVM-only /
        # python-path workloads re-pay a full pool re-fork+import chain
        # (numpy+pandas+pyarrow+this package, ~0.3-0.5 s/worker) at
        # unpredictable points. warm_daemon imports those modules ONCE in
        # the fork server; respawned workers inherit them copy-on-write,
        # so a pool rebuild costs milliseconds. See warm_daemon.py.
        .config("spark.python.daemon.module", "eve_graph_spark.warm_daemon")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # ContextCleaner reads this ONCE at SparkContext creation, so it
        # must be in the builder, not set lazily when reliable checkpoints
        # are enabled: with it, checkpoint dirs of GC'd frames are reaped;
        # without it every truncate_lineage round in reliable mode leaks a
        # directory for the life of the job (ADVICE r11). Harmless when no
        # checkpoint dir is ever configured.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        # Opt-in fault tolerance for iterative kernels: on a real cluster,
        # point this at HDFS/S3 so a lost executor re-reads checkpointed
        # rounds instead of killing the job (see checkpointing.py).
        from eve_graph_spark.checkpointing import enable_reliable_checkpoints

        enable_reliable_checkpoints(spark, ckpt_dir)
    return spark
