"""eager_ckpt / ckpt_count: lineage-truncating checkpoints at a
disk-backed level."""

from pyspark.sql import functions as F

from dedup_spark.util import ckpt_count, eager_ckpt


def test_eager_ckpt_preserves_rows_and_truncates_lineage(spark):
    df = (
        spark.range(0, 1000)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    )
    expected = {(r["g"], r["n"], r["s"]) for r in df.collect()}
    ck = eager_ckpt(df)
    # rows identical through the checkpoint
    assert {(r["g"], r["n"], r["s"]) for r in ck.collect()} == expected
    # lineage truncated: the plan is a materialized RDD scan, no agg
    plan = ck._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    # default level is DISK_ONLY — no deserialized heap pinning.
    # (``ck.rdd`` would wrap a NEW uncached RDD; the level lives on the
    # internal checkpointed RDD, visible via the context's storage info)
    levels = {
        str(i.storageLevel())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert any("disk" in lv and "memory" not in lv for lv in levels), levels


def test_ckpt_count_materializes_once(spark):
    """One action both materializes the checkpoint and counts it, where
    eager_ckpt followed by count() takes a checkpoint job and then a
    count job."""
    sc = spark.sparkContext

    def last_job() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    def frame():
        return spark.range(0, 1000, 1, 4).withColumn("r", F.rand())

    j0 = last_job()
    eager_ckpt(frame()).count()
    j1 = last_job()
    ck, n = ckpt_count(frame())
    j2 = last_job()
    assert n == 1000
    assert j2 - j1 < j1 - j0
    assert sorted(ck.collect()) == sorted(ck.collect())
    plan = ck._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Range" not in plan


def test_shared_memo_mtime_guard(tmp_path, monkeypatch):
    """_shared fails loudly when the sf_dir's contents change mid-session
    (stale-checkpoint footgun): memoized subplans are only valid while
    the underlying parquet is immutable."""
    import time

    import pytest

    from dedup_spark import entry_queries as eq

    d = tmp_path / "sf"
    d.mkdir()
    (d / "documents.parquet").write_text("v1")
    calls = []

    class FakeDF:
        pass

    monkeypatch.setattr(
        "dedup_spark.util.eager_ckpt", lambda df: df, raising=True
    )
    fake_spark = object()
    out1 = eq._shared(
        fake_spark, str(d), "k1", lambda: calls.append(1) or FakeDF()
    )
    # same key → memo hit, no rebuild
    out2 = eq._shared(fake_spark, str(d), "k1", lambda: calls.append(2) or FakeDF())
    assert out1 is out2 and calls == [1]
    # mutate the dir (mtime moves) → loud failure, not stale reuse
    time.sleep(0.02)
    (d / "documents.parquet").write_text("v2 — mutated")
    os_utime_target = d / "documents.parquet"
    import os as _os

    _os.utime(os_utime_target)
    with pytest.raises(RuntimeError, match="changed mid-session"):
        eq._shared(fake_spark, str(d), "k1", FakeDF)
