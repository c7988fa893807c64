"""Reliable-checkpoint option for iterative kernels (r10 verdict item 1).

`truncate_lineage` defaults to executor-local `localCheckpoint` (fast, but
blocks die with an executor). When a reliable dir is configured the same
call sites write fault-tolerant `df.checkpoint()` files instead — results
must be bit-identical either way, and the checkpoint files must actually
land in the configured directory.
"""

from __future__ import annotations

import pytest

import os

from conftest import forced_distributed

from eve_graph_spark.checkpointing import (
    RELIABLE_DIR_KEY,
    disable_reliable_checkpoints,
    enable_reliable_checkpoints,
    reliable_checkpoint_dir,
    truncate_lineage,
)


def _checkpoint_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files)
    return out


def _edges(spark, pairs):
    rows = list(pairs) + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src_system_id long, dst_system_id long")


def test_truncate_lineage_routes_to_reliable_dir(spark, tmp_path):
    df = spark.range(100).withColumnRenamed("id", "n")
    assert reliable_checkpoint_dir(spark) is None
    local = truncate_lineage(df)
    assert local.count() == 100

    enable_reliable_checkpoints(spark, str(tmp_path))
    try:
        assert reliable_checkpoint_dir(spark) == str(tmp_path)
        reliable = truncate_lineage(df)
        assert reliable.count() == 100
        # df.checkpoint() must have materialized files under the dir
        assert _checkpoint_files(str(tmp_path)), "no checkpoint files written"
        assert sorted(r["n"] for r in reliable.collect()) == sorted(
            r["n"] for r in local.collect()
        )
    finally:
        disable_reliable_checkpoints(spark)
    assert reliable_checkpoint_dir(spark) is None


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_sssp_bit_identical_under_reliable_checkpoints(spark, tmp_path):
    from eve_graph_spark.operators.graph import sssp
    from eve_graph_spark.sources.graph_fixture import build_jumps

    jumps = build_jumps(spark, "/root/testdata/sf0.001")
    src = [jumps.select("src_system_id").first()[0]]
    # the forced arm runs the distributed superstep loop — the path that
    # actually calls truncate_lineage every FRONTIER_TRUNCATE_EVERY rounds.
    def run():
        with forced_distributed():
            return sorted(map(tuple, sssp(
                jumps, src, weight_col="risk",
                src_col="src_system_id", dst_col="dst_system_id",
            ).collect()))

    base = run()
    enable_reliable_checkpoints(spark, str(tmp_path))
    try:
        ckpt = run()
        assert _checkpoint_files(str(tmp_path)), "sssp wrote no checkpoint files"
    finally:
        disable_reliable_checkpoints(spark)
    assert ckpt == base


@pytest.mark.slow  # >10s: full-tier only (r14 test tiers)
def test_louvain_bit_identical_under_reliable_checkpoints(spark, tmp_path):
    from eve_graph_spark.operators.graph_analytics import louvain

    k4a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    k4b = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    e = _edges(spark, k4a + k4b + [(4, 10)])
    def run():
        with forced_distributed():
            return sorted(
                (r["node"], r["community"]) for r in louvain(e, rounds=4).collect()
            )

    base = run()
    enable_reliable_checkpoints(spark, str(tmp_path))
    try:
        ckpt = run()
        assert _checkpoint_files(str(tmp_path)), "louvain wrote no checkpoint files"
    finally:
        disable_reliable_checkpoints(spark)
    assert ckpt == base


def test_disable_is_idempotent_and_key_is_scoped(spark):
    # unset twice must not raise; key is the engine's own namespace
    disable_reliable_checkpoints(spark)
    disable_reliable_checkpoints(spark)
    assert RELIABLE_DIR_KEY.startswith("spark.eve_graph.")


def test_truncate_lineage_caps_bloated_stats(spark):
    """Iterative kernels compound join-estimate BigInts across rounds
    (r11: measured louvain rounds 4s->10s->42s->302s); truncate_lineage
    must reset pathological inherited estimates to unknown-size while
    leaving the rows untouched."""
    df = spark.range(50).withColumnRenamed("id", "n")
    bloated = df
    for i in range(10):
        # estimate MULTIPLIES per cross join; the filter keeps actual rows
        # tiny but (without CBO) does not reduce the sizeInBytes estimate
        bloated = bloated.crossJoin(df.selectExpr(f"n as n{i}")).filter(
            f"n{i} = 0"
        )
    bloated = bloated.select("n")
    before = int(
        bloated._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    assert before > 1 << 60, f"fixture no longer bloated: {before}"
    out = truncate_lineage(bloated)
    after = int(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert after <= (1 << 63), f"stats not capped: {after}"
    assert out.count() == 50  # same rows, zero recompute semantics


def test_truncate_lineage_keeps_small_credible_stats(spark):
    df = spark.range(10).withColumnRenamed("id", "n")
    out = truncate_lineage(df)
    after = int(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # a tiny frame's inherited estimate must survive (broadcast signal)
    assert after < 1 << 30, after
    # and the checkpoint is a plain scan: no exchange stacked on top of it
    parted = truncate_lineage(df.repartition("n"))
    plan = parted._jdf.queryExecution().toString()
    assert "Exchange" not in plan.split("== Physical Plan ==")[-1], plan


def test_session_builder_enables_checkpoint_reaping(spark):
    # get_spark (which built this suite's context) must set the cleaner
    # flag at CONTEXT CREATION — ContextCleaner reads it exactly once, so
    # enable_reliable_checkpoints can't retrofit it (ADVICE r11).
    assert (
        spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        == "true"
    )


def test_reliable_checkpoints_reaped_on_gc(spark, tmp_path):
    # The leak ADVICE r11 flagged: one reliable-checkpoint dir per
    # truncate_lineage round, never deleted. With cleanCheckpoints set at
    # context creation, the ContextCleaner reaps the files once the frame
    # is unreachable on both the Python and JVM sides. GC timing is not
    # deterministic in a long shared session (py4j detach + weak-ref
    # processing both ride GC cycles; standalone this reaps in ~6 s, the
    # full suite has missed a 30 s window), so the automatic path gets a
    # generous window and the test then FALLS BACK to the cleaner's
    # explicit doCleanCheckpoint — same machinery, same dir — which must
    # delete the files deterministically. Either way the dir ends empty:
    # the leak cannot survive the frame.
    import gc
    import time

    enable_reliable_checkpoints(spark, str(tmp_path))
    try:
        ck = truncate_lineage(spark.range(1000).withColumnRenamed("id", "n"))
        assert ck.count() == 1000
        assert _checkpoint_files(str(tmp_path)), "no checkpoint files written"
        # the checkpoint landed under <dir>/<uuid>/rdd-<id>/ — recover the
        # id from disk (plan-side RDD ids are wrapper RDDs, not the
        # checkpointed one)
        rdd_ids = {
            int(p.split("rdd-")[1].split("/")[0])
            for p in _checkpoint_files(str(tmp_path))
            if "rdd-" in p
        }
        del ck
        for _ in range(45):
            gc.collect()  # release the py4j refs -> JVM frame unreachable
            spark.sparkContext._jvm.System.gc()  # nudge the ContextCleaner
            time.sleep(1)
            if not _checkpoint_files(str(tmp_path)):
                break
        else:
            # automatic reap didn't land in the window — drive the same
            # cleanup path explicitly; a missing/broken cleaner, a wrong
            # dir, or files held open would all fail here
            cleaner = spark.sparkContext._jsc.sc().cleaner().get()
            for rid in rdd_ids:
                cleaner.doCleanCheckpoint(rid)
            deadline = time.time() + 15
            while _checkpoint_files(str(tmp_path)) and time.time() < deadline:
                time.sleep(0.5)
        assert not _checkpoint_files(str(tmp_path)), (
            "checkpoint files survived both GC reaping and explicit cleaning"
        )
    finally:
        disable_reliable_checkpoints(spark)
