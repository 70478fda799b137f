"""SparkSession factory.

The reference builds a session per job with AQE + partition coalescing and
S3A/Glue wiring (``spark/jobs/mysql_bronze_ingestion.py:17-27``,
``spark/conf/hive-site.xml:4-15``). We keep the semantics (AQE on, explicit
shuffle sizing, optional external-catalog/table-format extensions) and drop
the infra-specific S3/Glue endpoint plumbing, which is deployment config,
not engine semantics.

Scale posture (100 TB design, tested on local[32]):

- AQE on with partition coalescing and skew-join handling: runtime re-plan
  is the single highest-leverage knob at 1000-executor scale.
- ``spark.sql.shuffle.partitions`` defaults from ``SPARK_GRAFT_CPUS``
  locally; on a real cluster AQE's coalescing makes the initial number a
  ceiling, not a tuning hazard.
- Arrow enabled so any unavoidable Python stage (Pandas UDFs in ``ext/``)
  pays batch-transfer cost, not per-row pickling.
- Session timezone pinned to UTC so date/timestamp functions are
  deterministic across driver environments (and match the DuckDB oracle).
- Parquet is written with ``PARQUET_CODEC`` (zstd), where the reference
  writes snappy: about a third fewer bytes written and kept per layer
  and per table version, the trade Apache Iceberg made its default in
  1.4.0.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The Parquet codec of every file the engine writes: the session default
# for Spark's writers and the codec of the engine's pyarrow writers.
PARQUET_CODEC = "zstd"

# Optional table-format extensions (Delta / Iceberg). Config-only per
# SURVEY §4: no custom Catalyst code. Applied when the packages are
# importable; silently skipped offline.
_DELTA_CONF = {
    "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
    "spark.sql.catalog.spark_catalog": "org.apache.spark.sql.delta.catalog.DeltaCatalog",
}


def delta_available() -> bool:
    """True when the delta-spark python bindings are importable."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def default_parallelism() -> int:
    """Local core budget: $SPARK_GRAFT_CPUS, else all cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = False,
    magic_committer: bool = True,
    session_token: str | None = None,
) -> dict[str, str]:
    """Object-store (S3A) configuration block — pass as ``extra_conf``.

    Mirrors the reference's S3A wiring (``mysql_bronze_ingestion.py:
    22-26``: endpoint, access/secret key, path-style access for
    MinIO-style endpoints) and adds the two settings any real S3
    deployment needs that the reference lacks:

    - **magic committer** (``fs.s3a.committer.name=magic``): S3 has no
      atomic rename, so the default FileOutputCommitter's
      rename-into-place is both slow (copy+delete per file) and unsafe
      (partial results visible on failure). The S3A "magic" committer
      stages multipart uploads and completes them only at job commit —
      atomic publish semantics at object-store scale.
    - credentials left UNSET default to the provider chain (instance
      profile / env / config), which is what production clusters use;
      explicit keys are for dev endpoints.
    """
    conf = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.path.style.access": str(
            path_style_access
        ).lower(),
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    if session_token:
        conf["spark.hadoop.fs.s3a.session.token"] = session_token
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
        )
    if magic_committer:
        conf.update(
            {
                "spark.hadoop.fs.s3a.committer.name": "magic",
                "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
                "spark.sql.sources.commitProtocolClass": (
                    "org.apache.spark.internal.io.cloud."
                    "PathOutputCommitProtocol"
                ),
                "spark.sql.parquet.output.committer.class": (
                    "org.apache.spark.internal.io.cloud."
                    "BindingParquetOutputCommitter"
                ),
            }
        )
    return conf


def get_spark(
    app_name: str = "data-lakehouse-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    enable_delta: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Matches the reference's session shape (AQE + coalescing) while adding
    scale-safe defaults the reference lacks (skew-join handling, Arrow,
    UTC session timezone, ``PARQUET_CODEC`` parquet where the reference
    writes snappy).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: reference sets these explicitly (mysql_bronze_ingestion.py:20-21)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python data sources (the foreign readers' arrow fast
        # path) see the query's filters for row-group pruning; the
        # source returns them all so Spark still re-applies (advisory)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", PARQUET_CODEC)
        # keep scans right-sized so a 100 TB table splits into sane tasks
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # TIMESTAMP(NANOS) parquet (e.g. pandas-written event streams) is
        # unreadable by Spark natively; surface as long and convert in the
        # reader (sources.readers.load_testdata)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if enable_delta and delta_available():
        for k, v in _DELTA_CONF.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def glue_catalog_conf(
    region: str | None = None,
    catalog_id: str | None = None,
    warehouse: str | None = None,
) -> dict[str, str]:
    """AWS-Glue-as-Hive-metastore configuration block — pass as
    ``extra_conf`` alongside ``enable_hive=True``.

    The reference wires Glue two ways: ``spark/conf/hive-site.xml:4-15``
    sets the Glue Hive-client factory + region (the path this helper
    reproduces as session conf, no XML file needed — any ``hive.*`` key
    is accepted under ``spark.hadoop.``), and
    ``mysql_gold_aggregation.py:15-56`` registers tables via boto3
    directly (subsumed here by Spark DDL through the metastore — one
    write path instead of two that can drift; see operators/catalog.py).

    The factory class ships in the ``aws-glue-datacatalog-hive3-client``
    jar (EMR/Glue images have it preinstalled; plain clusters add it to
    ``spark.jars``). Config-shape only in this harness — no AWS — which
    is exactly what the Derby-backed Hive-metastore tests cover
    semantically (``tests/test_hive_catalog.py``): Glue IS a Hive
    metastore implementation behind the same client interface.

    ``catalog_id`` selects a cross-account catalog; ``warehouse`` sets
    the default database location for managed tables.
    """
    conf = {
        "spark.hadoop.hive.metastore.client.factory.class": (
            "com.amazonaws.glue.catalog.metastore."
            "AWSGlueDataCatalogHiveClientFactory"
        ),
    }
    if region:
        conf["spark.hadoop.hive.metastore.glue.aws.region"] = region
    if catalog_id:
        conf["spark.hadoop.hive.metastore.glue.catalogid"] = catalog_id
    if warehouse:
        conf["spark.sql.warehouse.dir"] = warehouse
    return conf
