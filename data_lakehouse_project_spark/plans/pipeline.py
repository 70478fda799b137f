"""In-process pipeline runner — SURVEY §3 "new-engine lifecycle".

Collapses the reference's Airflow + staging-volume + `aws s3 sync`
orchestration (``airflow/dags/*.py``, SURVEY §2.2 K7) into a single
declarative pipeline: each stage is a pure ``DataFrame -> DataFrame``
function, so Catalyst sees one fused plan per materialization layer —
the same write boundaries as the reference (one per medallion layer),
with everything between them optimized as a unit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from data_lakehouse_project_spark.operators.catalog import register_external_table
from data_lakehouse_project_spark.operators.sinks import (
    read_table,
    resolve_format,
    write_table,
)
from data_lakehouse_project_spark.operators.txnlog import TxnTable


@dataclass
class Stage:
    """One medallion stage: transform, then optionally materialize.

    transform: pure DataFrame -> DataFrame (no actions inside)
    path: when set, the stage's output is written (parquet/orc/json/csv,
          delta or delta-lite) and read back, creating a layer boundary
          exactly like the reference's bronze/silver/gold writes. The
          read-back takes its schema from the write, not from the files:
          data columns in written order, then ``partition_by`` columns,
          which keep their written types.
    register_as: (database, table) to register the written location in
          the catalog; refused for ``delta-lite``, which has no catalog
          source (read it with ``TxnTable(path).read``).
    """

    name: str
    transform: Callable[[DataFrame], DataFrame]
    path: str | None = None
    fmt: str = "parquet"
    partition_by: list[str] = field(default_factory=list)
    single_file: bool = False
    register_as: tuple[str, str] | None = None  # (database, table)

    def __post_init__(self) -> None:
        if self.register_as and self.fmt == "delta-lite":
            raise ValueError(
                f"stage {self.name!r}: register_as is not supported for "
                "fmt='delta-lite' (the catalog has no delta-lite source)"
            )


def _has_success_marker(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds a committed write (the ``_SUCCESS`` file
    Spark's output committer creates atomically at job commit). Resolved
    through the Hadoop FileSystem API so the check works on any
    supported store (local, HDFS, s3a), not just the local disk."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_SUCCESS")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _committed(spark: SparkSession, stage: Stage) -> bool:
    """True when the stage's target holds a committed write: a
    ``delta-lite`` table with a log version (a TxnTable writes no
    ``_SUCCESS``), else a ``_SUCCESS`` marker."""
    if stage.fmt == "delta-lite":
        return TxnTable(stage.path).latest_version() >= 0
    return _has_success_marker(spark, stage.path)


@dataclass
class StageResult:
    name: str
    action: str  # "computed" | "skipped" (resume hit) | "transformed"
    attempts: int
    # rows read back from the written table when run(verify=True), the
    # reference's post-write count (mysql_bronze_ingestion.py:117-120)
    rows: int | None = None


@dataclass
class Pipeline:
    """source -> [stage...]; run() returns the final DataFrame.

    Retry/resume semantics (the reference encodes these in its Airflow
    DAGs — ``airflow/dags/product_bronze_dag.py:18-47``: per-task
    ``retries``, pre-task cleanup, overwrite-idempotent writes):

    - **retry**: each materializing stage is retried up to ``retries``
      extra times. Writes are overwrite-mode, so a failed attempt's
      partial output is replaced wholesale — no cleanup task needed
      (the reference's pre-task ``rm``/``aws s3 sync`` collapses into
      the committer's overwrite).
    - **resume**: with ``resume=True``, a stage whose target already
      holds a *committed* write (``_SUCCESS`` marker — written
      atomically at job commit, so a crash mid-write never leaves one;
      for ``delta-lite``, a committed log version) is not recomputed;
      its output is read back, with an inferred schema since the files
      may come from an older run, and the pipeline continues
      downstream. Rerunning a killed pipeline therefore redoes only the
      failed stage onward and converges to the same gold output as an
      uninterrupted run.
    """

    source: Callable[[SparkSession], DataFrame]
    stages: list[Stage]

    def run(
        self,
        spark: SparkSession,
        verify: bool = False,
        retries: int = 0,
        resume: bool = False,
        report: list[StageResult] | None = None,
    ) -> DataFrame:
        """Run the stages in order and return the last stage's output.

        A stage this run writes is read back with the schema of the
        DataFrame it wrote (see ``operators.sinks.read_table``): data
        columns in written order, then partition columns with their
        written types. So the read-back costs no schema-inference job,
        and a materialized stage costs its write and nothing else.
        ``verify=True`` adds a count of each written stage, reported as
        ``StageResult.rows``.
        """
        df = self.source(spark)
        for stage in self.stages:
            if stage.path is None:
                df = stage.transform(df)
                if report is not None:
                    report.append(StageResult(stage.name, "transformed", 1))
                continue
            if resume and _committed(spark, stage):
                # committed output from a prior run — skip recompute
                df = read_table(spark, stage.path, stage.fmt)
                if report is not None:
                    report.append(StageResult(stage.name, "skipped", 0))
                continue
            attempts = 0
            while True:
                attempts += 1
                try:
                    out = stage.transform(df)
                    rows = write_table(
                        out,
                        stage.path,
                        fmt=stage.fmt,
                        partition_by=stage.partition_by or None,
                        single_file=stage.single_file,
                        verify=verify,
                    )
                    break
                except Exception:
                    if attempts > retries:
                        raise
            df = read_table(
                spark, stage.path, stage.fmt, out.schema, stage.partition_by
            )
            if stage.register_as:
                db, tbl = stage.register_as
                register_external_table(
                    spark, db, tbl, stage.path, resolve_format(stage.fmt)
                )
            if report is not None:
                report.append(
                    StageResult(stage.name, "computed", attempts, rows)
                )
        return df
