"""Stage read-back contract of ``plans.Pipeline``.

A stage the run writes is read back with the schema of the DataFrame it
wrote (``operators.sinks.read_table``): no schema-inference job, data
columns in written order, then partition columns with their written
types. Covers the job count, the schema, every write format
(including ``delta`` without delta-spark and ``delta-lite``) and the
``delta-lite`` resume and catalog rules.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from data_lakehouse_project_spark.plans import Pipeline, Stage
from data_lakehouse_project_spark.plans.pipeline import StageResult


def _source(spark):
    return spark.range(60).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket"),  # bigint partition column
        (F.col("id") % 3).cast("string").alias("code"),  # "0", "1", "2"
        (F.col("id") * 2).alias("value"),
    )


def _rows(df):
    return sorted(tuple(r[c] for c in ("id", "bucket", "code", "value"))
                  for r in df.collect())


def _stages(root, fmt="parquet"):
    return [
        Stage("flat", lambda df: df, path=str(root / "flat"), fmt=fmt),
        Stage("part", lambda df: df, path=str(root / "part"), fmt=fmt,
              partition_by=["bucket", "code"]),
    ]


def test_one_spark_job_per_materialized_stage(spark, tmp_path):
    sc = spark.sparkContext
    group = f"readback-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pipeline read-back job count")
    try:
        out = Pipeline(_source, _stages(tmp_path)).run(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one write job per stage: neither read-back infers a schema
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2

    # flat: exactly what inference reads (file reads force nullability)
    flat = spark.read.parquet(str(tmp_path / "flat")).schema
    assert Pipeline(_source, _stages(tmp_path)[:1]).run(spark).schema == flat

    # partitioned: inference's layout (data columns, then partition
    # columns), but the partition columns keep their written types where
    # inference turns bigint and numeric-looking strings into int
    inferred = spark.read.parquet(str(tmp_path / "part")).schema
    assert out.schema.names == inferred.names == ["id", "value", "bucket", "code"]
    assert out.schema[:2] == inferred[:2]
    assert [f.dataType.simpleString() for f in out.schema[2:]] == ["bigint", "string"]
    assert [f.dataType.simpleString() for f in inferred[2:]] == ["int", "int"]
    assert _rows(out) == _rows(_source(spark))


@pytest.mark.parametrize(
    "fmt", ["parquet", "orc", "json", "csv", "delta", "delta-lite"]
)
def test_stage_round_trips_every_write_format(spark, tmp_path, fmt):
    out = Pipeline(_source, _stages(tmp_path, fmt)).run(spark)
    written = _source(spark).schema
    assert {f.name: f.dataType for f in out.schema} == {
        f.name: f.dataType for f in written
    }
    assert _rows(out) == _rows(_source(spark))


@pytest.mark.parametrize("fmt", ["delta", "delta-lite"])
def test_resume_skips_committed_table_format_stage(spark, tmp_path, fmt):
    calls = {"n": 0}

    def counted(df):
        calls["n"] += 1
        return df

    stages = [Stage("silver", counted, path=str(tmp_path / "s"), fmt=fmt),
              Stage("gold", lambda df: df.where(F.col("bucket") == 3),
                    path=str(tmp_path / "g"), fmt=fmt)]
    Pipeline(_source, stages).run(spark)
    report: list[StageResult] = []
    out = Pipeline(_source, stages).run(spark, resume=True, report=report)
    # a TxnTable writes no _SUCCESS: its committed log version counts
    assert [r.action for r in report] == ["skipped", "skipped"]
    assert calls["n"] == 1
    assert _rows(out) == _rows(_source(spark).where(F.col("bucket") == 3))


def test_delta_lite_stage_refuses_catalog_registration(tmp_path):
    with pytest.raises(ValueError, match="delta-lite"):
        Stage("gold", lambda df: df, path=str(tmp_path / "g"),
              fmt="delta-lite", register_as=("db", "t"))


@pytest.mark.parametrize("fmt", ["parquet", "delta-lite"])
def test_verify_reports_each_written_stage_row_count(spark, tmp_path, fmt):
    stages = [
        Stage("all", lambda df: df, path=str(tmp_path / "a"), fmt=fmt),
        Stage("odd", lambda df: df.where(F.col("id") % 2 == 1)),
        Stage("three", lambda df: df.where(F.col("bucket") == 3),
              path=str(tmp_path / "t"), fmt=fmt),
    ]
    report: list[StageResult] = []
    Pipeline(_source, stages).run(spark, verify=True, report=report)
    three = _source(spark).where("id % 2 = 1 AND bucket = 3").count()
    assert [(r.name, r.rows) for r in report] == [
        ("all", 60), ("odd", None), ("three", three)
    ]
    # without verify no stage is counted
    report.clear()
    Pipeline(_source, stages).run(spark, report=report)
    assert [r.rows for r in report] == [None, None, None]
