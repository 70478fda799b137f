"""Sinks — SURVEY §2.2 (K1-K3, K6), scale-hardened.

Ref semantics: parquet overwrite (``mysql_bronze_ingestion.py:
103-113``), ``partitionBy`` (``silver_transformation.py:61-64``),
``coalesce(1)`` small-gold consolidation (``gold_aggregation.py:111``),
post-write verification count (``mysql_bronze_ingestion.py:117-120``).

Codec: the reference writes snappy parquet; the engine writes
``session.PARQUET_CODEC`` (zstd). Every medallion layer and every
copy-on-write table version is kept as parquet, so the codec multiplies
into storage, PUT and scan cost: zstd writes about a third fewer bytes
on this engine's layers at a CPU cost that does not show end to end
(the trade Apache Iceberg made its default in 1.4.0). A caller who
needs the reference's bytes passes ``compression="snappy"`` to
``write_table``; other formats (csv, json, orc, ...) keep snappy.

Scale posture: ``single_file`` is an explicit opt-in (the reference
hard-codes coalesce(1) for gold — fatal at 100 TB); the default lets AQE
coalescing pick output partition counts. Delta/Iceberg formats pass
straight through ``fmt`` per BASELINE.json's north star; when the package
isn't on the classpath the engine falls back to parquet with identical
call semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from data_lakehouse_project_spark.session import PARQUET_CODEC, delta_available

# file formats read_table reads with the written schema
_SCHEMA_ON_READ = ("parquet", "orc", "json", "csv")


def resolve_format(fmt: str) -> str:
    """'delta' degrades to 'parquet' when delta-spark isn't installed."""
    if fmt == "delta" and not delta_available():
        return "parquet"
    return fmt


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    single_file: bool = False,
    compression: str | None = None,
    verify: bool = False,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
) -> int | None:
    """Write a layer table; returns the verification count when verify=True.

    - overwrite mode == idempotent rerun (the reference's contract, K1/K7)
    - ``compression=None`` writes parquet (and ``delta``) with
      ``PARQUET_CODEC`` and other formats with snappy; a caller's codec
      wins, e.g. ``"snappy"`` for byte parity with the reference
    - ``bucket_by=(n, cols)`` enables shuffle-free co-located joins for
      repeatedly-joined fact tables (requires ``table_name`` / saveAsTable)
    - ``fmt="delta-lite"`` routes through the homegrown ACID commit log
      (operators/txnlog.py): atomic publish, time travel, stats pruning —
      the offline stand-in for the real Delta/Iceberg packages.
    """
    if fmt == "delta-lite":
        from data_lakehouse_project_spark.operators.txnlog import TxnTable

        TxnTable(path).write(df, mode=mode, partition_by=partition_by)
    else:
        out = df.coalesce(1) if single_file else df
        sink = resolve_format(fmt)
        if compression is None:
            compression = (
                PARQUET_CODEC if sink in ("parquet", "delta") else "snappy"
            )
        writer = out.write.mode(mode).format(sink).option("compression", compression)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if bucket_by:
            if not table_name:
                raise ValueError("bucket_by requires table_name (saveAsTable)")
            n, cols = bucket_by
            writer.bucketBy(n, *cols).sortBy(*cols).option(
                "path", path
            ).saveAsTable(table_name)
        else:
            writer.save(path)
    if verify:
        return read_table(
            df.sparkSession, path, fmt, df.schema, partition_by
        ).count()
    return None


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Read back a table ``write_table`` wrote.

    ``schema`` is the schema of the DataFrame that was written. With it,
    parquet/orc/json/csv skip schema inference, a Spark job of its own,
    and are laid out as inference would lay them out: data columns in
    written order, then the ``partition_by`` columns in partition order.
    Partition columns keep their written types, where inference turns a
    ``bigint`` or a numeric-looking ``string`` partition value into
    ``int``. ``schema=None`` infers, for files that may come from an
    older write. ``delta-lite`` reads through its log, which holds the
    schema; ``delta`` without delta-spark reads as the parquet it
    degraded to.
    """
    if fmt == "delta-lite":
        from data_lakehouse_project_spark.operators.txnlog import TxnTable

        return TxnTable(path).read(spark)
    fmt = resolve_format(fmt)
    reader = spark.read.format(fmt)
    if schema is not None and fmt in _SCHEMA_ON_READ:
        parts = list(partition_by or [])
        by_name = {f.name: f for f in schema.fields}
        reader = reader.schema(
            StructType(
                [f for f in schema.fields if f.name not in parts]
                + [by_name[p] for p in parts]
            )
        )
    return reader.load(path)


def observed_write(
    df: DataFrame,
    path: str,
    metrics: dict[str, Column],
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict:
    """Write a table and collect inline metrics in the SAME pass via the
    Observation API — replaces the reference's post-write verification
    re-read (K6, mysql_bronze_ingestion.py:117-120) with zero extra
    scans: the metrics accumulate on the executors while rows stream to
    the sink. Returns the observed metric dict.
    """
    from pyspark.sql import Observation

    obs = Observation("write_metrics")
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    writer = observed.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    return obs.get
