"""DataFrame reader for Delta-protocol transaction logs.

Any ``_delta_log`` reads here — one written by a protocol-compliant
writer (delta-spark, delta-rs, ...) or by the engine's own
``operators/txnlog.py``, deletion vectors included: both replay
through the one log core, ``operators/delta_log.py``, and this module
turns the replayed snapshot into a DataFrame.  It follows the
published delta-io PROTOCOL.md reader rules — no reference-repo code
is involved (the reference, Noureddineblbli/data-lakehouse-project,
has no table format at all; this is part of the SURVEY §2.8 "modern
lakehouse" north star).

Reader semantics implemented
----------------------------
* **Snapshot reconstruction**: newest checkpoint at or before the
  target version (discovered via ``_last_checkpoint``, falling back
  to a log-dir listing) + contiguous JSON commits after it.  All
  three published checkpoint layouts replay: classic single-part
  (``V.checkpoint.parquet``), classic multi-part
  (``%020d.checkpoint.%010d.%010d.parquet``), and **V2 UUID-named
  manifests** (``V.checkpoint.<uuid>.parquet|json``) whose
  ``sidecar`` actions pull file state from
  ``_delta_log/_sidecars/*.parquet``.  ``add`` minus ``remove`` by
  path, last ``metaData`` / ``protocol`` wins, ``txn`` high-water
  marks kept.
* **Protocol gating** (the spec's hard rule — readers MUST refuse
  tables they cannot read correctly): ``minReaderVersion`` 1 is
  accepted; 2 requires column mapping to be absent/none; 3 requires
  every ``readerFeatures`` entry to be in ``SUPPORTED_READER_FEATURES``.
  Column-mapping mode ``name``/``id`` is rejected with
  ``UnsupportedDeltaFeature`` rather than silently mis-read.
* **Deletion vectors**: ``add.deletionVector`` descriptors (inline
  ``i``, UUID-derived ``u``, absolute-path ``p`` storage) are decoded
  from the protocol's Z85 + RoaringBitmapArray portable format
  (``operators/dv.py``) and applied as a ``_metadata.row_index``
  anti-join, so CoW-free deletes written by modern Delta writers read
  back correctly.
* **Partition columns from the LOG, not the directory layout**: Delta
  data files do not contain partition columns; their values live only
  in ``add.partitionValues`` (string-serialized per spec).  The scan
  reads files with the physical (non-partition) schema and joins the
  partition values back over ``_metadata.file_path`` via a broadcast
  map — one row per file, the same driver-side file-level metadata
  Delta itself holds, so no reliance on hive-style dir names.
* **Time travel**: by version, or by timestamp over
  ``commitInfo.timestamp`` (commit-file mtime fallback, as the spec
  prescribes for logs without in-commit timestamps).

Scale posture: state reconstruction is O(active files) on the driver —
identical to OSS Delta / delta-rs, whose drivers also materialize the
file list; the checkpoint bounds JSON replay to
``CHECKPOINT_INTERVAL``-ish commits, and file-skipping ``prune``
reuses the same stats/partition pruning as the internal reader so
Spark never lists pruned files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

# the log core: replay, protocol gating and the DV anti-join live in
# delta_log; the names other modules import from here are re-exported
from .delta_log import (  # noqa: F401
    CorruptDeltaLog,
    UnsupportedDeltaFeature,
    _check_protocol,
    _commit_timestamp_ms,
    _commit_versions,
    _read_commit_actions,
    _read_v2_checkpoint_state,
    _spark_path_key,
    drop_deleted_rows,
    read_delta_snapshot,
    sniff_commit_meta_protocol,
)
from .txnlog import _file_may_match, _schema_from_json

# --------------------------------------------------------------- DataFrame


_PHYS_NAME_KEY = "delta.columnMapping.physicalName"
_FIELD_ID_KEY = "delta.columnMapping.id"


def _field_ids(schema_json: str) -> dict[str, int]:
    """Column-mapping ``id`` mode: logical field name -> parquet field
    id from the per-field schemaString metadata.  A field without an
    id cannot be resolved — refuse, never guess by name."""
    out: dict[str, int] = {}
    for f in json.loads(schema_json).get("fields", []):
        fid = (f.get("metadata") or {}).get(_FIELD_ID_KEY)
        if fid is None:
            raise UnsupportedDeltaFeature(
                f"column mapping mode 'id' but field '{f['name']}' "
                "carries no delta.columnMapping.id"
            )
        out[f["name"]] = int(fid)
    return out


def _physical_names(schema_json: str) -> dict[str, str]:
    """Column-mapping ``name`` mode: TOP-LEVEL logical field name ->
    physical parquet column name, from the per-field ``schemaString``
    metadata (``delta.columnMapping.physicalName``, the spec's
    carrier).  Nested mapping is handled by ``_map_schema_json`` (batch
    reader); callers that only resolve top-level names (the streaming
    executor) must gate on ``has_nested_mapping`` themselves."""
    out: dict[str, str] = {}
    for f in json.loads(schema_json).get("fields", []):
        out[f["name"]] = (f.get("metadata") or {}).get(
            _PHYS_NAME_KEY, f["name"]
        )
    return out


def has_nested_mapping(schema_json: str) -> bool:
    """True when any NESTED struct field (any depth, incl. through
    array/map element types) carries a physicalName different from its
    logical name — the case a top-level-only resolver would silently
    mis-read."""

    def _t(t) -> bool:
        if isinstance(t, dict):
            typ = t.get("type")
            if typ == "struct":
                return any(
                    (f.get("metadata") or {}).get(_PHYS_NAME_KEY, f["name"])
                    != f["name"]
                    or _t(f.get("type"))
                    for f in t.get("fields", [])
                )
            if typ == "array":
                return _t(t.get("elementType"))
            if typ == "map":
                return _t(t.get("keyType")) or _t(t.get("valueType"))
        return False

    return any(
        _t(f.get("type"))
        for f in json.loads(schema_json).get("fields", [])
    )


def _map_schema_json(schema_json: str, mode: str) -> dict:
    """schemaString JSON -> the PHYSICAL scan schema (StructType JSON),
    applying column mapping recursively through struct fields at any
    depth (including through array element / map key+value types):

    * ``name``: every struct field renamed to its
      ``delta.columnMapping.physicalName``; other metadata dropped.
    * ``id``: logical names kept, ``parquet.field.id`` metadata stamped
      from ``delta.columnMapping.id`` so Spark's field-id read path
      resolves parquet columns by id at every nesting level.  A field
      without an id cannot be resolved — refuse, never guess by name.
    * ``phys_id``: physical names AND ``parquet.field.id`` metadata at
      every level — the WRITE shape for id-mode tables (delta-spark
      writes physical column names with nested field ids; readers
      resolve by id regardless).
    """

    def _field(f: dict) -> dict:
        f = dict(f)
        md = f.get("metadata") or {}
        if mode == "name":
            f["name"] = md.get(_PHYS_NAME_KEY, f["name"])
            f["metadata"] = {}
        else:
            fid = md.get(_FIELD_ID_KEY)
            if fid is None:
                raise UnsupportedDeltaFeature(
                    f"column mapping mode 'id' but field '{f['name']}' "
                    "carries no delta.columnMapping.id"
                )
            if mode == "phys_id":
                f["name"] = md.get(_PHYS_NAME_KEY, f["name"])
            f["metadata"] = {"parquet.field.id": int(fid)}
        f["type"] = _type(f["type"])
        return f

    def _type(t):
        if isinstance(t, dict):
            typ = t.get("type")
            if typ == "struct":
                return {
                    "type": "struct",
                    "fields": [_field(x) for x in t.get("fields", [])],
                }
            if typ == "array":
                return {**t, "elementType": _type(t["elementType"])}
            if typ == "map":
                return {
                    **t,
                    "keyType": _type(t["keyType"]),
                    "valueType": _type(t["valueType"]),
                }
        return t

    top = json.loads(schema_json)
    return {
        "type": "struct",
        "fields": [_field(f) for f in top.get("fields", [])],
    }


def _delta_arrow_scan(
    spark: SparkSession, table_path: str, files: list[dict], schema,
    _abs,
) -> DataFrame:
    """Per-file arrow scan plan for a foreign Delta snapshot (no
    column mapping): deletion vectors decode driver-side into dead
    positions (the same O(total cardinality) budget the JVM path's
    anti-join build pays), partitionValues attach as per-file
    consts."""
    import json as _json

    from data_lakehouse_project_spark.sources.arrow_scan import (
        register_arrow_scan,
        write_scan_plan,
    )

    from .dv import resolve_dv_positions

    register_arrow_scan(spark)
    plan_files = []
    for f in files:
        p = _abs(f["path"])
        dead: list[int] = []
        if f.get("foreign_dv"):
            dead = sorted(
                resolve_dv_positions(f["foreign_dv"], table_path)
            )
        consts = {
            k: v
            for k, v in (f.get("partition_values") or {}).items()
            if k in schema.names and v is not None
        }
        plan_files.append(
            {
                "path": p,
                "consts": consts,
                "dead": dead,
                "size": int(f.get("size") or 0),
            }
        )
    plan = write_scan_plan(_json.loads(schema.json()), {}, plan_files)
    return (
        spark.read.format("graft_arrow_scan")
        .option("plan", plan)
        .load()
    )


def read_delta_table(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    prune: list[tuple[str, str, object]] | None = None,
    row_ids: bool = False,
    columns: list[str] | None = None,
) -> DataFrame:
    """DataFrame over a foreign Delta table at ``table_path``.

    ``columns`` projects to the named table columns and — unlike a
    ``.select`` AFTER the read — narrows the arrow fast path's
    DECLARED schema so only those parquet columns are read (Spark
    does not push column pruning into Python data sources).  On the
    JVM path it is a plain select Catalyst prunes anyway.  Prune
    columns are scanned as needed and dropped after the re-apply.

    ``prune`` is the same ``(column, op, value)`` file-skipping list
    the internal reader takes: files whose add-action stats or
    partition values cannot satisfy every predicate are dropped
    driver-side, and the predicates are re-applied as real filters so
    skipping is an IO optimization, never a correctness dependency.

    ``row_ids=True`` surfaces the ROW TRACKING metadata columns
    ``_row_id`` / ``_row_commit_version`` (spec: Row Tracking):
    materialized values from the table's hidden
    ``delta.rowTracking.materialized*ColumnName`` physical columns
    when non-null, else the fresh values ``add.baseRowId + position``
    / ``add.defaultRowCommitVersion``.  A table with no row-tracking
    metadata at all is refused rather than given invented ids.
    """
    from pyspark.sql import functions as F

    snap = read_delta_snapshot(
        table_path, version=version, timestamp_ms=timestamp_ms
    )
    schema = (
        _schema_from_json(spark, snap.schema_json)
        if snap.schema_json
        else None
    )
    if schema is None:
        raise CorruptDeltaLog("metaData carries no schemaString")
    if columns is not None:
        unknown = [c for c in columns if c not in schema.names]
        if unknown:
            raise ValueError(
                f"columns not in table schema: {unknown} "
                f"(have {schema.names})"
            )

    # column mapping "name": the log (stats keys, partitionValues
    # keys) and the parquet columns use PHYSICAL names; the DataFrame
    # exposes logical ones.  phys_of is identity when mapping is off.
    mapping_mode = snap.configuration.get("delta.columnMapping.mode", "none")
    phys_of = {f.name: f.name for f in schema.fields}
    if mapping_mode in ("name", "id"):
        # both modes key partitionValues/stats by PHYSICAL name; "id"
        # additionally resolves parquet columns by field id
        phys_of = _physical_names(snap.schema_json)

    files = snap.files
    if prune:
        prune_phys = [
            (phys_of.get(c, c), op, v) for c, op, v in prune
        ]
        files = [f for f in files if _file_may_match(f, prune_phys)]
    if not files:
        empty = spark.createDataFrame([], schema)
        return empty.select(*columns) if columns is not None else empty

    part_cols = [c for c in snap.partition_columns if c in schema.names]
    from pyspark.sql.types import StructField, StructType

    if mapping_mode == "id":
        # field-id resolution: the scan schema carries LOGICAL names +
        # parquet.field.id metadata AT EVERY NESTING LEVEL; Spark
        # matches file columns by id (probed: names are ignored
        # entirely, nested group fields included), and a data file
        # WITHOUT field ids fails LOUDLY (ignoreMissing stays false —
        # id-mode writers are required to stamp ids).  The conf only
        # affects schemas that carry field-id metadata, so enabling it
        # session-wide is inert for every other scan.
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        mapped = StructType.fromJson(
            _map_schema_json(snap.schema_json, "id")
        )
        physical = StructType(
            [
                mf
                for lf, mf in zip(schema.fields, mapped.fields)
                if lf.name not in part_cols
            ]
        )
    elif mapping_mode == "name":
        # physical names applied recursively (struct members at any
        # depth, through array/map element types); logical names are
        # restored after the scan
        mapped = StructType.fromJson(
            _map_schema_json(snap.schema_json, "name")
        )
        physical = StructType(
            [
                mf
                for lf, mf in zip(schema.fields, mapped.fields)
                if lf.name not in part_cols
            ]
        )
    else:
        physical = StructType(
            [f for f in schema.fields if f.name not in part_cols]
        )

    def _abs(p: str) -> str:
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    mat_id = mat_ver = None
    if row_ids:
        mat_id = snap.configuration.get(
            "delta.rowTracking.materializedRowIdColumnName"
        )
        mat_ver = snap.configuration.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        )
        if not (
            mat_id
            or mat_ver
            or any(f.get("base_row_id") is not None for f in files)
        ):
            raise UnsupportedDeltaFeature(
                "row_ids=True but the table carries no row-tracking "
                "metadata (no baseRowId on any add, no materialized "
                "row-id columns) — refusing to invent row ids"
            )
        from pyspark.sql.types import LongType

        # the hidden materialized columns are PHYSICAL names outside
        # the logical schema; scan them when configured (files written
        # before materialization surface them as null)
        physical = StructType(
            list(physical.fields)
            + [
                StructField(c, LongType(), True)
                for c in (mat_id, mat_ver)
                if c
            ]
        )

    # high-file-count fast path: the add-action file list is already
    # materialized from the log, so skip Spark's O(files) driver
    # InMemoryFileIndex and scan via per-file arrow partitions
    # (sources/arrow_scan.py) — deletion vectors become per-file dead
    # positions, partition columns per-file consts.  Gated to the
    # plain configuration (no column mapping, no row-id surfacing,
    # coercible partition types); everything else keeps the JVM path.
    from pyspark.sql import types as _T

    from data_lakehouse_project_spark.sources.arrow_scan import (
        arrow_scan_threshold,
    )

    _simple_parts = all(
        isinstance(
            schema[c].dataType,
            (
                _T.StringType, _T.IntegerType, _T.LongType,
                _T.ShortType, _T.DateType, _T.DoubleType,
                _T.FloatType, _T.BooleanType,
            ),
        )
        for c in part_cols
    )
    if (
        mapping_mode == "none"
        and not row_ids
        and _simple_parts
        and len(files) >= arrow_scan_threshold()
    ):
        scan_schema_n = schema
        if columns is not None:
            keep = set(columns) | {
                c for c, _, _ in (prune or []) if c in schema.names
            }
            scan_schema_n = StructType(
                [f for f in schema.fields if f.name in keep]
            )
        df = _delta_arrow_scan(
            spark, table_path, files, scan_schema_n, _abs
        )
        if prune:
            for col, op, val in prune:
                if col not in df.columns:
                    continue
                c = F.col(col)
                df = df.where(
                    {
                        "=": c == val, "<": c < val, "<=": c <= val,
                        ">": c > val, ">=": c >= val,
                        "isnull": c.isNull(),
                        "isnotnull": c.isNotNull(),
                    }[op]
                )
        if columns is not None:
            df = df.select(*columns)
        return df

    paths = [_abs(f["path"]) for f in files]
    df = spark.read.schema(physical).parquet(*paths)

    # _metadata is only resolvable on the raw file scan — materialize
    # the path key (and row index, when DVs exist) as plain columns
    # NOW, before any join rewrites the plan root.
    dv_adds = [f for f in files if f.get("foreign_dv")]
    meta_cols = {"__delta_path": _spark_path_key()}
    if dv_adds:
        meta_cols["__dv_pos"] = F.col("_metadata.row_index")
    if row_ids:
        meta_cols["__rt_pos"] = F.col("_metadata.row_index")
    df = df.withColumns(meta_cols)

    if mapping_mode == "name":
        # restore LOGICAL names: top-level via alias, nested via a
        # positional struct cast (Spark casts struct fields by
        # POSITION, so casting the physical struct to the logical
        # field's dataType renames members at every depth; a
        # same-type cast on flat columns folds away in Catalyst)
        df = df.select(
            *[
                F.col(f"`{phys_of[f.name]}`").cast(f.dataType)
                .alias(f.name)
                for f in schema.fields
                if f.name not in part_cols
            ],
            *[F.col(f"`{c}`") for c in (mat_id, mat_ver) if c],
            *meta_cols.keys(),
        )

    # -- deletion vectors: (file, row_index) anti-join (delta_log)
    if dv_adds:
        df = drop_deleted_rows(
            spark, df, dv_adds, table_path, _abs, "__delta_path", "__dv_pos"
        )

    if part_cols:
        # partition values live ONLY in the log (spec: data files do
        # not store partition columns). One row per file, broadcast —
        # the same O(files) metadata the driver already holds.
        rows = [
            tuple(
                [os.path.abspath(_abs(f["path"]))]
                + [
                    # partitionValues keys are PHYSICAL names under
                    # column mapping (spec: stats + partition values
                    # are tracked by physical name)
                    (f.get("partition_values") or {}).get(phys_of[c])
                    for c in part_cols
                ]
            )
            for f in files
        ]
        pmap = spark.createDataFrame(
            rows,
            ["__delta_path"] + [f"__pv_{c}" for c in part_cols],
        )
        df = df.join(F.broadcast(pmap), "__delta_path", "left")
        for c in part_cols:
            # spec string serialization (ISO dates, plain decimals,
            # "true"/"false") casts cleanly to the declared type
            df = df.withColumn(
                c, F.col(f"__pv_{c}").cast(schema[c].dataType)
            ).drop(f"__pv_{c}")
    if row_ids:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        rt_rows = [
            (
                os.path.abspath(_abs(f["path"])),
                f.get("base_row_id"),
                f.get("default_row_commit_version"),
            )
            for f in files
        ]
        rtmap = spark.createDataFrame(
            rt_rows,
            StructType(
                [
                    StructField("__delta_path", StringType()),
                    StructField("__rt_base", LongType()),
                    StructField("__rt_ver", LongType()),
                ]
            ),
        )
        df = df.join(F.broadcast(rtmap), "__delta_path", "left")
        rid = F.col("__rt_base") + F.col("__rt_pos")
        if mat_id:
            rid = F.coalesce(F.col(f"`{mat_id}`"), rid)
        rver = F.col("__rt_ver")
        if mat_ver:
            rver = F.coalesce(F.col(f"`{mat_ver}`"), rver)
        df = df.select(
            *schema.names,
            rid.alias("_row_id"),
            rver.alias("_row_commit_version"),
        )
    else:
        df = df.select(*schema.names)

    if prune:
        for col, op, val in prune:
            if col not in df.columns:
                continue
            c = F.col(col)
            cond = {
                "=": c == val, "<": c < val, "<=": c <= val,
                ">": c > val, ">=": c >= val,
                "isnull": c.isNull(), "isnotnull": c.isNotNull(),
            }[op]
            df = df.where(cond)
    if columns is not None:
        extra = (
            ["_row_id", "_row_commit_version"] if row_ids else []
        )
        df = df.select(*columns, *extra)
    return df


def delta_file_details(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
) -> DataFrame:
    """Metadata table over the snapshot's active files (the
    delta-spark ``DESCRIBE DETAIL`` / files-view shape): one row per
    add with path, size, row count, partition values, and
    deletion-vector cardinality — driver metadata only, no data
    scan."""
    from pyspark.sql.types import (
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    snap = read_delta_snapshot(table_path, version=version)
    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("size_bytes", LongType()),
            StructField("num_records", LongType()),
            StructField(
                "partition_values", MapType(StringType(), StringType())
            ),
            StructField("dv_cardinality", LongType()),
        ]
    )
    rows = [
        (
            f["path"],
            int(f.get("size_bytes", 0)),
            int(f.get("stats", {}).get("num_rows", 0)),
            {
                k: (None if v is None else str(v))
                for k, v in (f.get("partition_values") or {}).items()
            },
            int((f.get("foreign_dv") or {}).get("cardinality", 0)),
        )
        for f in snap.files
    ]
    return spark.createDataFrame(rows, schema)


def delta_describe_detail(
    table_path: str, version: int | None = None
) -> dict:
    """DESCRIBE DETAIL for a foreign Delta table: format, file/byte
    totals, logical row count (DV-adjusted), partition columns,
    protocol, table properties — driver metadata only."""
    snap = read_delta_snapshot(table_path, version=version)
    return {
        "format": "delta",
        "location": os.path.abspath(table_path),
        "version": snap.version,
        "numFiles": len(snap.files),
        "sizeInBytes": sum(
            int(f.get("size_bytes", 0)) for f in snap.files
        ),
        "numRows": snap.num_rows,
        "numFilesWithDeletionVectors": sum(
            1 for f in snap.files if f.get("foreign_dv")
        ),
        "partitionColumns": list(snap.partition_columns),
        "properties": dict(snap.configuration),
        "minReaderVersion": int(
            snap.protocol.get("minReaderVersion", 1)
        ),
        "minWriterVersion": int(
            snap.protocol.get("minWriterVersion", 2)
        ),
        "lastModified": snap.timestamp_ms,
    }


def delta_history(table_path: str) -> list[dict]:
    """commitInfo of every surviving commit file, oldest first."""
    out = []
    for v in _commit_versions(table_path):
        _, _, info, _, _, _, _ = _read_commit_actions(table_path, v)
        out.append(
            {"version": v, **(info or {})}
            if info is not None
            else {"version": v}
        )
    return out
