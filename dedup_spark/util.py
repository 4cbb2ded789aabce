"""Small plan-shaping helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def eager_ckpt(df: DataFrame) -> DataFrame:
    """Eager lineage-truncating checkpoint at the SERIALIZED, disk-backed
    ``DISK_ONLY`` storage level.

    The default ``localCheckpoint`` level keeps deserialized row objects
    in the executors' storage-memory region. With a checkpoint per
    pipeline stage that pins gigabytes of heap, which (a) starves
    execution memory — measured as a broadcast-build OOM on an 8 GiB
    single-JVM heap at the 12k-conv scaling corpus — and (b) exposes
    concurrent consumers to block eviction races ("Block rdd_N_M does
    not exist") once the storage region fills. ``DISK_ONLY`` blocks are
    compact serialized bytes on ``spark.local.dir`` — tmpfs in this
    sandbox, executor NVMe scratch on a real cluster — so the JVM heap
    stays dedicated to joins/aggs/broadcast builds and disk-store blocks
    are never evicted. Re-reads pay one deserialize per consumer, which
    is noise next to the stage compute they replace.
    """
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def ckpt_count(df: DataFrame) -> tuple[DataFrame, int]:
    """:func:`eager_ckpt` and a row count from ONE action: a lazy
    ``DISK_ONLY`` checkpoint that the ``count()`` materializes, instead
    of a checkpoint job and then a second job that re-reads the blocks
    to count them."""
    from pyspark import StorageLevel

    ck = df.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    return ck, ck.count()


# logical-plan node names that imply a shuffle (or explicit repartition)
# below this point — such plans are already wide (shuffle width comes
# from spark.sql.shuffle.partitions / AQE), so no extra repartition
_WIDE_NODES = ("Aggregate", "Join", "Repartition", "Window", "Sort", "Distinct")


def ensure_parallelism(
    df: DataFrame, factor: int = 2, bytes_per_part: int = 8 << 20
) -> DataFrame:
    """Round-robin repartition narrow FILE SCANS up to
    ``factor × defaultParallelism``.

    Checkpointed stage tables are small on disk, so a parquet re-read
    often yields just a few input splits — a downstream stage that
    AMPLIFIES rows (shingle/suffix explode: ×doc_len) or burns CPU per
    row (signature UDFs) then runs nearly serial no matter how many
    cores the session has. On a real cluster big inputs already carry
    thousands of splits and this is a no-op (we never shrink); it only
    widens degenerate narrow inputs.

    Width detection is driver-only metadata: the leaf file count
    (``df.inputFiles()``) plus a logical-plan scan for shuffle nodes —
    no ``df.rdd`` (which would materialize the plan to RDD outside AQE
    and pay job planning per call). Plans that already contain a shuffle
    are left alone: their width is the shuffle width, not the file count.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    # Size-aware clamp (driver-only plan statistics, no job): a tiny
    # input repartitioned to 2×cores pays ~target tasks of pure
    # scheduling floor in EVERY downstream stage — at interactive/bench
    # scale that floor dominates the actual work. One partition per
    # ``bytes_per_part`` of input (never below one per core, never above
    # target) keeps big corpora at full width while small inputs stay
    # narrow. CPU-heavy UDF stages pass a smaller bytes_per_part: their
    # per-byte cost is orders of magnitude above a scan's, so a byte
    # budget sized for scans leaves them running a couple of huge tasks
    # per core with a long straggler tail (measured: the shingle UDF at
    # 5 partitions held a 4-core session at ~1.5 busy cores for 20 s).
    try:
        size_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        by_size = max(sc.defaultParallelism, size_bytes // bytes_per_part + 1)
        target = min(target, by_size)
    except Exception:  # noqa: BLE001 - unknown stats → keep full width
        pass
    try:
        plan = df._jdf.queryExecution().logical().toString()
    except Exception:  # noqa: BLE001 - fall back to widening
        plan = ""
    if any(node in plan for node in _WIDE_NODES):
        return df
    if "ExistingRDD" in plan or "LogicalRDD" in plan:
        # a localCheckpoint: the plan IS an already-materialized RDD,
        # so getNumPartitions is a metadata read — no job, no AQE bypass
        # concern
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 - non-file source
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target)
    return df
