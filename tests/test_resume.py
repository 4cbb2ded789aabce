"""Checkpoint/resume semantics (analog of the reference's
skip-if-output-exists caching, kmer_utilities.py:111-118, hardened with
config fingerprints)."""

import dataclasses

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dedup_spark.catalog import StageCatalog
from dedup_spark.config import DedupConfig
from dedup_spark.corpus import CorpusSpec, generate_corpus
from dedup_spark.pipeline import DedupPipeline


def test_stage_reuse_and_fingerprint_invalidation(spark, tmp_path):
    cat = StageCatalog(spark, str(tmp_path), "fp1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).withColumnRenamed("id", "x")

    a = cat.stage("t", build)
    b = cat.stage("t", build)
    assert calls["n"] == 1 and a.count() == b.count() == 5
    # changed fingerprint → stale checkpoint recomputed
    cat2 = StageCatalog(spark, str(tmp_path), "fp2")
    cat2.stage("t", build)
    assert calls["n"] == 2


def test_pipeline_resume_equivalence(spark, tmp_path):
    """Kill-after-stage-k semantics: delete downstream stages, rerun,
    final tables identical (FIXTURES.md §3 resume)."""
    turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=60))
    turns = spark.createDataFrame(turns_pdf)
    cfg = DedupConfig()
    wh = str(tmp_path / "wh")

    p1 = DedupPipeline(spark, cfg, wh)
    r1 = p1.run(turns)
    clusters1 = sorted((r.conv_id, r.cluster_id) for r in r1.clusters.collect())

    # simulate a crash after 'signatures': drop everything downstream
    # (branch B restricts to candidate convs, so all of it is downstream)
    downstream = (
        "candidate_pairs", "verified_pairs", "clusters", "deduped_turns",
        "stats", "key_occ_repeated", "anchor_skew", "substring_chains",
        "position_classes", "substring_spans", "interval_marks",
        "trimmed_turns",
    )
    recorded = {m.stage for m in p1.catalog.metrics}
    for st in downstream:
        assert st in recorded, st  # a renamed stage must fail, not pass
        p1.catalog.invalidate(st)

    p2 = DedupPipeline(spark, cfg, wh)
    r2 = p2.run(turns)
    clusters2 = sorted((r.conv_id, r.cluster_id) for r in r2.clusters.collect())
    assert clusters1 == clusters2
    reused = {m.stage for m in p2.catalog.metrics if m.reused}
    assert {"transcripts", "shingle_sets", "shingle_ann", "signatures"} <= reused
    assert not reused & set(downstream)


def test_partition_lineage_and_run_report(spark, tmp_path):
    """Per-partition lineage (north rule): every checkpointed stage
    exposes per-file row/byte counts whose totals match the stage
    metric, and write_run_report dumps them durably with the stage
    timeline."""
    import json

    cat = StageCatalog(spark, str(tmp_path), "fp1")
    cat.stage("t", lambda: spark.range(100).repartition(4))
    cat.flush()
    parts = cat.partition_stats("t")
    assert sum(p["rows"] for p in parts) == 100
    assert all(p["bytes"] > 0 and p["file"].endswith(".parquet") for p in parts)
    m = next(m for m in cat.metrics if m.stage == "t")
    assert m.partitions == len(parts)
    assert m.t_end >= m.t_start >= 0.0

    report_path = str(tmp_path / "report.json")
    cat.write_run_report(report_path)
    with open(report_path) as f:
        rep = json.load(f)
    assert rep["fingerprint"] == "fp1"
    (st,) = [s for s in rep["stages"] if s["stage"] == "t"]
    assert sum(p["rows"] for p in st["partition_lineage"]) == 100


def test_run_report_survives_adopt(spark, tmp_path):
    """The run report carries the lineage recorded when the stage was
    written, so a stage table moved since (the incremental bootstrap
    adopts its stages as state) is still reported."""
    import json

    cat = StageCatalog(spark, str(tmp_path), "fp1")
    cat.stage("t", lambda: spark.range(30).repartition(3))
    cat.adopt("t", "u")
    report_path = str(tmp_path / "report.json")
    cat.write_run_report(report_path)
    with open(report_path) as f:
        rep = json.load(f)
    (st,) = [s for s in rep["stages"] if s["stage"] == "t"]
    assert st["partition_lineage"]
    assert sum(p["rows"] for p in st["partition_lineage"]) == 30


def test_read_takes_schema_from_sidecar(spark, tmp_path):
    """The sidecar carries the table's schema, so a read (every write's
    re-read, every incremental state probe) submits no schema-inference
    Spark job; an adopted table keeps it."""
    sc = spark.sparkContext

    def last_job() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)

    cat = StageCatalog(spark, str(tmp_path), "fp1")
    df = spark.range(6).select(
        F.col("id").cast("string").alias("conv_id"),
        F.array("id", F.lit(7).cast("long")).alias("shingles"),
        F.col("id").alias("n"),
    )
    cat.write("t", df)
    cat.adopt("t", "u")
    inferred = spark.read.parquet(str(tmp_path / "u")).schema
    before = last_job()
    out = cat.read("u")
    assert last_job() == before
    assert out.schema == inferred
    assert sorted(out.collect()) == sorted(df.collect())


def test_stage_is_durable_on_return(spark, tmp_path):
    """A built stage is written before ``stage`` returns: no flush is
    needed for its table, sidecar schema or metric."""
    cat = StageCatalog(spark, str(tmp_path), "fp1")
    cat.stage("t", lambda: spark.range(10).repartition(3))
    assert cat.exists("t")
    assert StructType.fromJson(cat._sidecar("t")["schema"]) == spark.range(1).schema
    (m,) = [m for m in cat.metrics if m.stage == "t"]
    assert not m.reused and m.rows_out == cat.rows("t") == 10


def test_iceberg_backend_requires_real_catalog(spark, tmp_path):
    """The iceberg branch never silently fakes capability: without an
    Iceberg catalog configured on the session it refuses to construct."""
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        StageCatalog(spark, str(tmp_path), "fp", table_format="iceberg")
    with pytest.raises(ValueError, match="table_format"):
        StageCatalog(spark, str(tmp_path), "fp", table_format="orc")


def test_changed_config_recomputes(spark, tmp_path):
    turns_pdf, _, _ = generate_corpus(CorpusSpec(n_convs=40))
    turns = spark.createDataFrame(turns_pdf)
    wh = str(tmp_path / "wh")
    DedupPipeline(spark, DedupConfig(), wh).run(turns)
    p2 = DedupPipeline(spark, dataclasses.replace(DedupConfig(), shingle_k=13), wh)
    p2.run(turns)
    assert not any(m.reused for m in p2.catalog.metrics)
