"""StageCatalog — checkpointed, resumable stage tables with lineage metrics.

The Spark re-expression of the reference's skip-if-output-exists file
caching (/root/reference/dedup/dedup.py:439-443,
kmer_utilities.py:111-118,139-147,216-225, kmer_spectrum.py:53-60),
hardened per the north rule:

* every expensive stage is written to a named warehouse table;
* a sidecar fingerprint records the config hash the stage was built
  under — a rerun with a changed config recomputes instead of silently
  reusing stale outputs (the reference would reuse them);
* each stage is written once, synchronously, and downstream stages read
  the written table back — the same path whether the stage was just
  built or resumed;
* per-stage metrics (rows out, wall ms, partition count) accumulate
  into a ``metrics`` table (analog of {prefix}_stats.csv,
  reference dedup.py:418-422, plus per-partition lineage).

Backends (``table_format``):

* ``"parquet"`` (default, and the only backend exercised in this
  sandbox — no Iceberg runtime jars are installed here): plain parquet
  directories under the warehouse path with atomic replace via
  temp-dir rename and a JSON sidecar carrying the config fingerprint
  and the table's schema (reads pass it instead of inferring it).
* ``"iceberg"``: real Iceberg tables via ``df.writeTo(ns.name)
  .using("iceberg").createOrReplace()`` with the fingerprint stored in
  table properties. Requires an Iceberg catalog configured on the
  session (``spark.sql.catalog.<cat>`` + iceberg-spark-runtime jar);
  constructing the catalog with this format raises immediately when no
  such catalog is configured, so the capability is never silently
  faked. This branch is code-complete but UNTESTED in this sandbox.

Resume semantics (skip-if-exists + fingerprint gate) are identical in
both backends.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class StageMetric:
    stage: str
    rows_out: int
    wall_ms: int
    partitions: int
    reused: bool
    # run-relative stage window (seconds since catalog creation) — the
    # per-stage lineage timestamps that let a timeline profiler attribute
    # busy-core samples to stages (driver threads overlap stages, so
    # ordering alone cannot)
    t_start: float = 0.0
    t_end: float = 0.0
    # per-file lineage read from the footers when the stage was recorded
    # (parquet backend): the run report serializes it, so a stage table
    # moved since (``adopt``) is still reported
    partition_lineage: list[dict] = field(default_factory=list)


def _has_iceberg_catalog(spark: SparkSession, catalog: str) -> bool:
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
    except Exception:  # noqa: BLE001 - unset conf raises
        return False
    return impl is not None and "iceberg" in impl.lower()


@dataclass
class StageCatalog:
    spark: SparkSession
    warehouse: str
    fingerprint: str
    metrics: list[StageMetric] = field(default_factory=list)
    table_format: str = "parquet"   # "parquet" | "iceberg"
    iceberg_namespace: str = "dedup"
    iceberg_catalog: str = "spark_catalog"
    _t0: float = field(default_factory=time.monotonic, repr=False)

    def __post_init__(self) -> None:
        if self.table_format not in ("parquet", "iceberg"):
            raise ValueError(f"bad table_format {self.table_format!r}")
        if self.table_format == "iceberg":
            if not _has_iceberg_catalog(self.spark, self.iceberg_catalog):
                raise RuntimeError(
                    f"table_format='iceberg' but no Iceberg catalog is "
                    f"configured at spark.sql.catalog.{self.iceberg_catalog} "
                    "(iceberg-spark-runtime jar + catalog conf required)"
                )
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS "
                f"{self.iceberg_catalog}.{self.iceberg_namespace}"
            )

    def _qualified(self, name: str) -> str:
        return f"{self.iceberg_catalog}.{self.iceberg_namespace}.{name}"

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.warehouse, f"_{name}.meta.json")

    def exists(self, name: str) -> bool:
        """True iff the stage table exists AND was written under the
        current config fingerprint (stale-config outputs are recomputed)."""
        if self.table_format == "iceberg":
            q = self._qualified(name)
            if not self.spark.catalog.tableExists(q):
                return False
            props = {
                r["key"]: r["value"]
                for r in self.spark.sql(f"SHOW TBLPROPERTIES {q}").collect()
            }
            return props.get("dedup.fingerprint") == self.fingerprint
        return (
            os.path.isdir(self._path(name))
            and self._sidecar(name).get("fingerprint") == self.fingerprint
        )

    def _sidecar(self, name: str) -> dict:
        """The parquet table's JSON sidecar; empty when missing or torn."""
        try:
            with open(self._meta_path(name)) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            return {}

    def _stamp(self, name: str, schema: dict | None) -> None:
        """Write the sidecar: fingerprint, stage name and the table's
        schema (None when unknown), which :meth:`read` passes instead of
        inferring it."""
        with open(self._meta_path(name), "w") as f:
            json.dump({"fingerprint": self.fingerprint, "stage": name,
                       "schema": schema}, f)

    def read(self, name: str) -> DataFrame:
        if self.table_format == "iceberg":
            return self.spark.read.table(self._qualified(name))
        reader = self.spark.read
        schema = self._sidecar(name).get("schema")
        if schema is not None:
            # a plain parquet read infers the schema with a Spark job
            # (one per read: every write's re-read, every state probe)
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(self._path(name))

    def write(self, name: str, df: DataFrame) -> DataFrame:
        if self.table_format == "iceberg":
            q = self._qualified(name)
            df.writeTo(q).using("iceberg").createOrReplace()
            self.spark.sql(
                f"ALTER TABLE {q} SET TBLPROPERTIES "
                f"('dedup.fingerprint' = '{self.fingerprint}')"
            )
            return self.read(name)
        path = self._path(name)
        tmp = path + ".__tmp__"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        self._stamp(name, df.schema.jsonValue())
        return self.read(name)

    def adopt(self, src: str, dst: str) -> None:
        """MOVE an existing stage table to a new name (driver-side
        rename — no Spark job, no data copy) and stamp a fresh sidecar.
        The source stage ceases to exist (its checkpoint is consumed,
        not shared): used by the incremental bootstrap to take ownership
        of batch-pipeline outputs as durable state segments."""
        if self.table_format == "iceberg":
            self.spark.sql(
                f"ALTER TABLE {self._qualified(src)} "
                f"RENAME TO {self._qualified(dst)}"
            )
            return
        if not os.path.isdir(self._path(src)):
            raise RuntimeError(f"adopt: source stage '{src}' does not exist")
        dst_path = self._path(dst)
        if os.path.isdir(dst_path):
            shutil.rmtree(dst_path)
        os.replace(self._path(src), dst_path)
        self._stamp(dst, self._sidecar(src).get("schema"))
        src_meta = self._meta_path(src)
        if os.path.isfile(src_meta):
            os.remove(src_meta)

    def rows(self, name: str) -> int:
        """Row count of a stage table: summed parquet footers on the
        parquet backend — driver-local metadata reads, NO Spark job (~19
        per-stage count() jobs used to add seconds of serial wall time
        per run, a pure scaling-efficiency tax) — and a ``count()`` on
        iceberg."""
        if self.table_format == "iceberg":
            return self.read(name).count()
        return sum(p["rows"] for p in self.partition_stats(name))

    def partition_stats(self, name: str) -> list[dict]:
        """Per-partition lineage of a stage table: one record per output
        file with its row count and byte size, read from parquet footers
        (driver-local metadata, no Spark job). This is the per-PARTITION
        half of the north rule's "per-partition lineage + throughput
        metrics" — stage-level rows/wall/partitions live in ``metrics``;
        this exposes how those rows are distributed across files, which
        is what a skew investigation actually needs."""
        import pyarrow.parquet as pq

        path = self._path(name)
        out = []
        for entry in sorted(os.listdir(path)):
            if entry.endswith(".parquet"):
                fp = os.path.join(path, entry)
                out.append(
                    {
                        "file": entry,
                        "rows": pq.read_metadata(fp).num_rows,
                        "bytes": os.path.getsize(fp),
                    }
                )
        return out

    def write_run_report(self, path: str) -> None:
        """Durable JSON run report: per-stage metrics (incl. the stage
        timeline) plus per-partition lineage for every checkpointed
        stage, as recorded when each stage was written or resumed — so a
        stage table moved since (:meth:`adopt`) is still reported. One
        driver-local file write: zero Spark jobs, so it adds no serial
        tax to the measured pipeline wall.

        Pure observability: a failure here (unwritable path) is logged
        as a warning, never propagated — it must not turn an
        otherwise-successful run into a failed exit after the timed work
        is done. A failed stage write has already raised from
        :meth:`stage` (checkpoint durability is correctness, not
        telemetry)."""
        try:
            report = {
                "fingerprint": self.fingerprint,
                "stages": [asdict(m) for m in self.metrics],
            }
            with open(path, "w") as f:
                json.dump(report, f)
        except Exception:  # noqa: BLE001 - observability only
            import logging

            logging.getLogger(__name__).warning(
                "run-report write to %s failed (observability only; "
                "pipeline outputs are unaffected)", path, exc_info=True,
            )

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Build-or-resume: skip ``build`` when a fingerprint-matching
        checkpoint exists (the reference's resume contract, S10).

        A built stage is written synchronously and read back, so it is
        durable — table, sidecar and metric — when this returns, and a
        failed write raises here. A stage requested again in the same
        session is read back like any resumed stage."""
        t0 = time.monotonic()
        reused = self.exists(name)
        out = self.read(name) if reused else self.write(name, build())
        self._record(name, t0, reused)
        return out

    def _record(self, name: str, t0: float, reused: bool) -> None:
        t1 = time.monotonic()
        if self.table_format == "iceberg":
            parts = []
            rows = self.rows(name)
            files = self.read(name).rdd.getNumPartitions()
        else:
            # one footer pass gives the file count, the rows and the
            # lineage the run report carries
            parts = self.partition_stats(name)
            rows, files = sum(p["rows"] for p in parts), len(parts)
        self.metrics.append(StageMetric(
            stage=name, rows_out=rows,
            wall_ms=int((t1 - t0) * 1000), partitions=files, reused=reused,
            t_start=round(t0 - self._t0, 3), t_end=round(t1 - self._t0, 3),
            partition_lineage=parts,
        ))

    def flush(self) -> None:
        """No-op kept for callers and tracers that wrap it by name:
        :meth:`stage` writes synchronously, so every stage is already
        durable when it returns."""

    def invalidate(self, name: str) -> None:
        if self.table_format == "iceberg":
            self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(name)}")
            return
        for p in (self._path(name), self._meta_path(name)):
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.isfile(p):
                os.remove(p)

    def metrics_df(self) -> DataFrame:
        rows = [
            (m.stage, m.rows_out, m.wall_ms, m.partitions, m.reused,
             m.t_start, m.t_end)
            for m in self.metrics
        ]
        return self.spark.createDataFrame(
            rows,
            "stage string, rows_out long, wall_ms long, partitions int, "
            "reused boolean, t_start double, t_end double",
        )
