"""APPEND writer for FOREIGN spec-Delta tables: commit new rows into
a ``_delta_log`` some other engine (delta-spark, delta-rs, …) created
— the write-side completion of the interop surface (read →
``delta_reader``, stream → ``delta_stream``, CDF → ``delta_cdf``,
maintain → ``foreign_maintenance``, mirror/export → ``delta_export``).

The Delta protocol's WRITER requirements are version/feature gated the
same refuse-don't-corrupt way the readers gate:

* minWriterVersion 1-2 (``appendOnly`` is a no-op for appends);
  3 enforces CHECK constraints (``delta.constraints.*`` evaluated
  against the incoming rows; one violating row fails the write);
  4-6 legacy features refuse when actually PRESENT (generated-column
  expressions, legacy invariants, identity columns) and pass when the
  version is advertised but unused — exactly delta-spark's rule;
  7 gates on ``writerFeatures`` against ``SUPPORTED_WRITER_FEATURES``.
* Column mapping: ``name`` mode writes parquet under the physical
  column names; ``id`` mode additionally stamps ``parquet.field.id``
  on every written file; ``partitionValues`` are keyed physically.
* Partitioned tables: the data files must NOT contain the partition
  columns (spec), so the staging write uses ``partitionBy`` into a
  hidden temp dir and the committed adds carry the hive-decoded
  ``partitionValues``.
* Stats come from the written files' parquet footers — foreign
  readers file-skip the appended data immediately.
* Every commit is published by ``delta_log.publish_commit`` (one
  fsynced temp file hard-linked into the free version slot): a writer
  killed mid-commit leaves no torn version, and a concurrent writer
  racing to the same version gets ``ConcurrentCommitError`` with its
  staged files removed instead of clobbering (no retry loop — callers
  own the retry policy, ``concurrency.commit_with_retries``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid as _uuid
from urllib.parse import unquote as _unq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .delta_reader import (
    UnsupportedDeltaFeature,
    _field_ids,
    _physical_names,
    _spark_path_key,
    read_delta_snapshot,
)
from .delta_log import (
    _commit_file,
    _dv_pair_actions,
    _serialize_add,
    publish_commit,
)
from .txnlog import _file_stats

# Writer-version-7 table features appends are implemented for.
# appendOnly: appends are exactly what it allows.
# invariants / checkConstraints: enforced below (legacy invariant
#   EXPRESSIONS refuse; delta.constraints.* are evaluated).
# columnMapping: physical-name (and field-id) writes implemented.
# deletionVectors / v2Checkpoint / vacuumProtocolCheck / timestampNtz /
#   variantType / typeWidening: impose no append-path obligations
#   beyond what the snapshot reader already validated.
# changeDataFeed: appends need no cdc files (readers synthesize
#   insert rows from the adds); DELETE/UPDATE/MERGE write spec
#   _change_data cdc files (_stage_cdc_actions) so the feed stays
#   row-level correct.
# rowTracking: IMPLEMENTED — appends assign fresh baseRowIds /
#   defaultRowCommitVersions and advance the delta.rowTracking
#   domain's rowIdHighWaterMark; DV re-adds preserve the file's
#   original ids (row-id stability across merge-on-read deletes);
#   UPDATE/MERGE rewrites PRESERVE ids by materializing them into the
#   new files (delta.rowTracking.materializedRowIdColumnName,
#   generated + committed on first use), with the rewritten rows'
#   commit version moving to the new commit (last-modified);
#   OPTIMIZE materializes both id and commit version (no logical
#   change — versions must survive).
# generatedColumns / identityColumns: the LISTED feature imposes
#   nothing unless a column actually uses it — _gate_writer refuses on
#   the schema metadata (delta.generationExpression / delta.identity.*)
#   either way, so the feature names are accepted (legacy writer 4/6
#   upgrades enumerate them).
# Everything else (icebergCompat*; clustering) must REFUSE, not
# silently skip.
SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "columnMapping",
    "deletionVectors",
    "v2Checkpoint",
    "vacuumProtocolCheck",
    "timestampNtz",
    "variantType",
    "typeWidening",
    "typeWidening-preview",
    "changeDataFeed",
    "domainMetadata",
    "rowTracking",
    "generatedColumns",
    "identityColumns",
}

_ROW_TRACKING_DOMAIN = "delta.rowTracking"


def _row_tracking_state(table_path: str, snap) -> tuple[bool, int]:
    """(row tracking active?, current rowIdHighWaterMark).

    The watermark lives in the newest ``domainMetadata`` action with
    domain ``delta.rowTracking`` (spec: Row Tracking); when no domain
    action survives in the JSON log, fall back to the max assigned
    row id derivable from the snapshot's adds, else -1."""
    enabled = "rowTracking" in (
        snap.protocol.get("writerFeatures") or []
    ) or snap.configuration.get(
        "delta.enableRowTracking", ""
    ).lower() == "true"
    if not enabled:
        return False, -1
    from .delta_reader import _commit_versions

    for v in reversed(_commit_versions(table_path)):
        try:
            with open(_commit_file(table_path, v)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line or '"domainMetadata"' not in line:
                        continue
                    act = json.loads(line).get("domainMetadata") or {}
                    if (
                        act.get("domain") == _ROW_TRACKING_DOMAIN
                        and not act.get("removed")
                    ):
                        cfg = act.get("configuration") or "{}"
                        if isinstance(cfg, str):
                            cfg = json.loads(cfg)
                        return True, int(
                            cfg.get("rowIdHighWaterMark", -1)
                        )
        except OSError:
            break  # log-cleaned below here
    hwm = -1
    for f in snap.files:
        base = f.get("base_row_id")
        if base is None:
            continue
        n = (f.get("stats") or {}).get("num_rows")
        if not n:
            # stats-less add: the PHYSICAL row count bounds the ids
            # this file consumed — one cheap footer read beats an
            # underestimated watermark (which would mint COLLIDING
            # row ids)
            import pyarrow.parquet as pq

            p = f["path"]
            if not os.path.isabs(p):
                p = os.path.join(table_path, p)
            n = pq.ParquetFile(p).metadata.num_rows
        hwm = max(hwm, base + max(int(n), 1) - 1)
    return True, hwm


def _row_tracking_actions(
    adds: list[dict], hwm: int, version: int
) -> tuple[list[dict], int]:
    """Stamp fresh ``baseRowId`` / ``defaultRowCommitVersion`` onto
    raw adds (spec: non-overlapping ranges from the watermark) and
    return the advanced-watermark domainMetadata action."""
    for a in adds:
        st = a.get("stats")
        n = (
            json.loads(st).get("numRecords", 0)
            if isinstance(st, str)
            else 0
        )
        a["baseRowId"] = hwm + 1
        a["defaultRowCommitVersion"] = version
        hwm += max(n, 1)
    return (
        [
            {
                "domainMetadata": {
                    "domain": _ROW_TRACKING_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": hwm}
                    ),
                    "removed": False,
                }
            }
        ],
        hwm,
    )


def _rt_materialized_cols(
    table_path: str, snap, want_ver: bool = True
) -> tuple[str, str | None, list[dict]]:
    """The table's materialized row-id (and optionally commit-version)
    PHYSICAL column names from ``delta.rowTracking.materialized*``,
    generating fresh names + the config-updating metaData action on
    first materialization (delta-spark's own behavior)."""
    mat_id = snap.configuration.get(
        "delta.rowTracking.materializedRowIdColumnName"
    )
    mat_ver = snap.configuration.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName"
    )
    new_conf: dict[str, str] = {}
    if not mat_id:
        mat_id = f"_row_id_mat_{_uuid.uuid4().hex[:8]}"
        new_conf[
            "delta.rowTracking.materializedRowIdColumnName"
        ] = mat_id
    if want_ver and not mat_ver:
        mat_ver = f"_rcv_mat_{_uuid.uuid4().hex[:8]}"
        new_conf[
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        ] = mat_ver
    meta_action: list[dict] = []
    if new_conf:
        meta_raw = dict(_latest_meta_raw(table_path))
        meta_raw["configuration"] = {
            **(meta_raw.get("configuration") or {}),
            **new_conf,
        }
        meta_action = [{"metaData": meta_raw}]
    return mat_id, mat_ver, meta_action


def _latest_meta_raw(table_path: str) -> dict:
    """The newest RAW metaData action in the JSON log — schema
    evolution must preserve the table id / partition columns /
    configuration verbatim, so the evolved action derives from it."""
    from .delta_reader import (
        _commit_versions,
        sniff_commit_meta_protocol,
    )

    for v in reversed(_commit_versions(table_path)):
        m, _ = sniff_commit_meta_protocol(table_path, v)
        if m is not None:
            return m
    raise UnsupportedDeltaFeature(
        "no metaData action in the JSON log (log-cleaned?); cannot "
        "evolve the schema"
    )


def _gate_writer(protocol: dict, schema_json: str) -> None:
    writer = int(protocol.get("minWriterVersion", 1))
    if writer >= 7:
        missing = [
            f
            for f in protocol.get("writerFeatures") or []
            if f not in SUPPORTED_WRITER_FEATURES
        ]
        if missing:
            raise UnsupportedDeltaFeature(
                f"table requires writer features {missing}; supported: "
                f"{sorted(SUPPORTED_WRITER_FEATURES)}"
            )
    # legacy writer versions imply features without listing them; the
    # obligations only bind when the feature is actually USED, so gate
    # on presence in the schema metadata (delta-spark's own rule)
    fields = json.loads(schema_json)["fields"]
    for f in fields:
        md = f.get("metadata") or {}
        if "delta.generationExpression" in md:
            raise UnsupportedDeltaFeature(
                f"column {f['name']} carries a generated-column "
                "expression; this writer cannot honor it"
            )
        if "delta.invariants" in md:
            raise UnsupportedDeltaFeature(
                f"column {f['name']} carries a legacy invariant; "
                "this writer cannot honor it"
            )
        if any(k.startswith("delta.identity.") for k in md):
            raise UnsupportedDeltaFeature(
                f"column {f['name']} is an identity column; this "
                "writer cannot allocate its values"
            )


def _stage_parquet_adds(
    spark: SparkSession,
    staged: DataFrame,
    table_path: str,
    phys_parts: list[str],
    ts: int,
    field_ids: bool = False,
) -> tuple[list[dict], int]:
    """Write ``staged`` into the table via a hidden temp dir (spec:
    data files exclude partition columns — ``partitionBy`` handles
    that), move each part file to a uuid name at the table root, and
    return (raw spec add actions with footer stats, row count)."""
    tmp = os.path.join(table_path, f".tmp-append-{_uuid.uuid4()}")
    try:
        if field_ids:
            spark.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
        w = staged.write.mode("overwrite")
        if phys_parts:
            w = w.partitionBy(*phys_parts)
        w.parquet(tmp)

        adds: list[dict] = []
        n_rows = 0
        for dirpath, dirnames, filenames in os.walk(tmp):
            # keep hive k=v partition dirs even when a physical column
            # name starts with an underscore; drop true hidden dirs
            dirnames[:] = [
                d
                for d in dirnames
                if "=" in d or not d.startswith(("_", "."))
            ]
            for fn in sorted(filenames):
                if not fn.endswith(".parquet") or fn.startswith(
                    ("_", ".")
                ):
                    continue
                src = os.path.join(dirpath, fn)
                pv: dict[str, str | None] = {}
                for seg in os.path.relpath(src, tmp).split(os.sep)[:-1]:
                    k, _, v = seg.partition("=")
                    pv[_unq(k)] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else _unq(v)
                    )
                stats = _file_stats(src)
                if stats.get("num_rows", 0) == 0:
                    continue  # Spark emits empty part files for idle
                    # partitions — never commit a 0-row add (it would
                    # also consume a row-tracking id)
                rel = f"part-{_uuid.uuid4()}.parquet"
                os.replace(src, os.path.join(table_path, rel))
                n_rows += stats.get("num_rows", 0)
                adds.append(
                    _serialize_add(
                        {
                            "path": rel,
                            "partition_values": {
                                p: pv.get(p) for p in phys_parts
                            },
                            "size_bytes": os.path.getsize(
                                os.path.join(table_path, rel)
                            ),
                            "stats": stats,
                        },
                        ts,
                    )
                )
        return adds, n_rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stage_cdc_actions(
    spark: SparkSession,
    change_df: DataFrame,
    table_path: str,
    phys_parts: list[str],
    field_ids: bool = False,
) -> tuple[list[dict], list[str]]:
    """Write CDF change rows (table columns + ``_change_type``) as
    spec ``_change_data/`` parquet files and return (``cdc`` actions,
    absolute written paths for rollback).  Layout mirrors data files:
    partition columns live in the hive dirs / partitionValues, not in
    the parquet, so the CDF reader's cdc branch (physical schema +
    ``_change_type``) reads them directly.  ``dataChange=false`` per
    spec — cdc files are change metadata, not table data."""
    tmp = os.path.join(table_path, f".tmp-cdc-{_uuid.uuid4()}")
    actions: list[dict] = []
    written: list[str] = []
    try:
        if field_ids:
            spark.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
        w = change_df.write.mode("overwrite")
        if phys_parts:
            w = w.partitionBy(*phys_parts)
        w.parquet(tmp)
        for dirpath, dirnames, filenames in os.walk(tmp):
            dirnames[:] = [
                d
                for d in dirnames
                if "=" in d or not d.startswith(("_", "."))
            ]
            for fn in sorted(filenames):
                if not fn.endswith(".parquet") or fn.startswith(
                    ("_", ".")
                ):
                    continue
                src = os.path.join(dirpath, fn)
                if _file_stats(src).get("num_rows", 0) == 0:
                    continue
                rel_dirs = os.path.relpath(src, tmp).split(os.sep)[:-1]
                pv: dict[str, str | None] = {}
                for seg in rel_dirs:
                    k, _, v = seg.partition("=")
                    pv[_unq(k)] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else _unq(v)
                    )
                dst_rel = "/".join(
                    ["_change_data", *rel_dirs,
                     f"cdc-{_uuid.uuid4().hex}.parquet"]
                )
                dst = os.path.join(table_path, dst_rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)
                written.append(dst)
                actions.append(
                    {
                        "cdc": {
                            "path": dst_rel,
                            "partitionValues": {
                                p: pv.get(p) for p in phys_parts
                            },
                            "size": os.path.getsize(dst),
                            "dataChange": False,
                        }
                    }
                )
        return actions, written
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def append_to_delta(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    merge_schema: bool = False,
) -> dict:
    """Append ``df``'s rows to the foreign Delta table as one commit.

    Returns ``{"version", "files", "rows"}``.  The DataFrame must
    match the table schema by NAME (order-insensitive); each column is
    cast to the declared type — an incompatible cast fails the write,
    never writes garbage.

    ``merge_schema=True`` is delta-spark's ``mergeSchema``: DataFrame
    columns NOT in the table schema are appended as nullable fields
    and the commit carries the evolved metaData; existing files read
    the new columns as null.  Column-mapped tables refuse the merge
    (new fields would need physical names + maxColumnId bookkeeping);
    type changes to EXISTING columns stay refused either way.
    """
    table_path = os.path.abspath(table_path)
    snap = read_delta_snapshot(table_path)  # reader+mapping gated
    if snap.schema_json is None:
        raise UnsupportedDeltaFeature("table carries no schemaString")
    _gate_writer(snap.protocol, snap.schema_json)

    from .txnlog import _schema_from_json

    schema = _schema_from_json(spark, snap.schema_json)
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    extra = [c for c in df.columns if c not in schema.names]
    new_meta_action: list[dict] = []
    if extra and merge_schema:
        mapping0 = snap.configuration.get(
            "delta.columnMapping.mode", "none"
        )
        if mapping0 in ("name", "id"):
            raise UnsupportedDeltaFeature(
                "mergeSchema on a column-mapped table needs physical "
                "names + maxColumnId bookkeeping — not supported"
            )
        evolved = json.loads(snap.schema_json)
        for c in extra:
            fld = df.schema[c].jsonValue()
            fld["nullable"] = True
            fld.setdefault("metadata", {})
            evolved["fields"].append(fld)
        new_schema_json = json.dumps(evolved)
        # the evolved metaData commits ALONGSIDE the adds (one commit)
        meta_raw = _latest_meta_raw(table_path)
        meta_raw = dict(meta_raw)
        meta_raw["schemaString"] = new_schema_json
        new_meta_action = [{"metaData": meta_raw}]
        schema = _schema_from_json(spark, new_schema_json)
        missing = [
            f.name for f in schema.fields if f.name not in df.columns
        ]
        extra = []
    if missing or extra:
        raise ValueError(
            f"schema mismatch: table needs {missing or 'nothing'} "
            f"extra in DataFrame: {extra or 'nothing'}"
        )
    df = df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name)
          for f in schema.fields]
    )

    # CHECK constraints: a row violates when the expression is FALSE
    # (null passes, SQL CHECK semantics)
    for key, sql in sorted(snap.configuration.items()):
        if not key.startswith("delta.constraints."):
            continue
        bad = df.where(F.expr(sql) == F.lit(False)).limit(1).count()
        if bad:
            raise ValueError(
                f"CHECK constraint {key[len('delta.constraints.'):]} "
                f"({sql}) violated by the appended rows"
            )

    mapping = snap.configuration.get("delta.columnMapping.mode", "none")
    part_cols = list(snap.partition_columns)
    phys_of = {c: c for c in schema.names}
    if mapping in ("name", "id"):
        phys_of = _physical_names(snap.schema_json)
    ids_of = _field_ids(snap.schema_json) if mapping == "id" else {}

    out_cols = []
    for f in schema.fields:
        md = {"parquet.field.id": ids_of[f.name]} if ids_of else None
        out_cols.append(
            F.col(f.name).alias(phys_of[f.name], metadata=md or {})
        )
    staged = df.select(*out_cols)
    ts = int(time.time() * 1000)
    adds, n_rows = _stage_parquet_adds(
        spark,
        staged,
        table_path,
        [phys_of[c] for c in part_cols],
        ts,
        field_ids=bool(ids_of),
    )

    version = snap.version + 1
    rt_enabled, hwm = _row_tracking_state(table_path, snap)
    rt_actions: list[dict] = []
    if rt_enabled:
        rt_actions, _ = _row_tracking_actions(adds, hwm, version)
    publish_commit(
        table_path,
        version,
        [*new_meta_action, *rt_actions, *({"add": a} for a in adds)],
        "WRITE",
        {"mode": "Append", "partitionBy": json.dumps(part_cols)},
        _staged(table_path, adds),
        ts_ms=ts,
    )
    return {"version": version, "files": len(adds), "rows": n_rows}


def delete_from_delta(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    allow_protocol_upgrade: bool = False,
) -> dict:
    """Row-level DELETE from a foreign Delta table via DELETION
    VECTORS — the merge-on-read path modern delta-spark uses by
    default: no data file is rewritten; each touched file's add is
    re-committed with a roaring-bitmap DV covering the old positions
    plus the newly-matched ones, paired with a remove of the previous
    (path, DV) version, exactly the commit shape this repo's CDF
    DV-diff reconstructs.

    Requires the ``deletionVectors`` table feature; when the table
    does not advertise it, ``allow_protocol_upgrade=True`` commits the
    reader-3/writer-7 upgrade first (delta-spark's own behavior when
    DVs are first enabled) — default False refuses, because the
    upgrade changes what OTHER readers need to support.

    Column-mapped tables refuse (the predicate would need physical-
    name translation); the matched (file, position) set is collected
    to the driver grouped per file — the same O(deleted rows) budget
    class as DV decode on the read side.

    Returns ``{"version", "files_updated", "rows_deleted"}``.
    """
    ctx = _dml_prepare(
        spark, table_path, "delete", allow_protocol_upgrade
    )
    snap, schema, part_cols, _abs = ctx[:4]
    mapping = ctx[6]
    table_path = os.path.abspath(table_path)
    df = _keyed_scan(spark, snap, schema, part_cols, _abs, mapping)
    matched_df = df.where(F.expr(predicate))
    matched = (
        matched_df
        .groupBy("__dfd_path")
        .agg(F.sort_array(F.collect_list("__dfd_pos")).alias("__pos"))
        .collect()
    )
    by_path = {r["__dfd_path"]: list(r["__pos"]) for r in matched}
    if not by_path:
        return {"version": snap.version, "files_updated": 0,
                "rows_deleted": 0}
    ts = int(time.time() * 1000)
    cdc_actions: list[dict] = []
    cdc_paths: list[str] = []
    if ctx[5]:  # CDF enabled: spec _change_data files with the
        # deleted rows (delta-spark's DV-DELETE-on-CDF shape); the
        # commit's cdc actions make readers ignore the DV pair below
        change = matched_df.select(*schema.names).withColumn(
            "_change_type", F.lit("delete")
        )
        change = _to_physical_df(
            change, schema, snap.schema_json, mapping,
            extra=("_change_type",),
        )
        phys_of = (
            _physical_names(snap.schema_json)
            if mapping in ("name", "id")
            else {c: c for c in part_cols}
        )
        cdc_actions, cdc_paths = _stage_cdc_actions(
            spark, change, table_path,
            [phys_of[c] for c in part_cols],
            field_ids=(mapping == "id"),
        )
    dv_actions, dv_path, rows_deleted = _dv_pair_actions(
        table_path, snap, by_path, _abs, ts
    )
    version = snap.version + 1
    publish_commit(
        table_path,
        version,
        [*_protocol_upgrade_actions(snap, ctx[4]), *cdc_actions,
         *dv_actions],
        "DELETE",
        {"predicate": predicate},
        _staged(table_path, [], dv_path, *cdc_paths),
        ts_ms=ts,
    )
    return {
        "version": version,
        "files_updated": len(by_path),
        "rows_deleted": rows_deleted,
    }


def _dml_prepare(
    spark: SparkSession,
    table_path: str,
    op: str,
    allow_protocol_upgrade: bool,
    needs_dv: bool = True,
):
    """Shared DML gating: snapshot + writer-feature gate, appendOnly
    refusal, DV-feature check.  CDF-enabled tables are SUPPORTED —
    the flag is returned and DML paths emit spec ``_change_data`` cdc
    files.  Column-mapped tables are SUPPORTED — the scan renames
    physical parquet columns to logical so user predicates just work,
    and rewrites go back out with physical names (+ field ids in id
    mode).  Returns (snap, schema, part_cols, _abs, has_dv_feature,
    cdf_enabled, mapping_mode)."""
    from .txnlog import _schema_from_json

    table_path = os.path.abspath(table_path)
    snap = read_delta_snapshot(table_path)
    if snap.schema_json is None:
        raise UnsupportedDeltaFeature("table carries no schemaString")
    _gate_writer(snap.protocol, snap.schema_json)
    mapping = snap.configuration.get("delta.columnMapping.mode", "none")
    if mapping not in ("none", "", "name", "id"):
        raise UnsupportedDeltaFeature(
            f"unknown delta.columnMapping.mode {mapping!r}"
        )
    if mapping == "":
        mapping = "none"
    if snap.configuration.get("delta.appendOnly", "").lower() == "true":
        raise UnsupportedDeltaFeature(
            f"table is delta.appendOnly=true; {op}s are forbidden"
        )
    cdf_enabled = (
        snap.configuration.get("delta.enableChangeDataFeed", "")
        .lower()
        == "true"
    )
    has_dv_feature = int(
        snap.protocol.get("minReaderVersion", 1)
    ) >= 3 and "deletionVectors" in (
        snap.protocol.get("readerFeatures") or []
    )
    if needs_dv and not has_dv_feature and not allow_protocol_upgrade:
        raise UnsupportedDeltaFeature(
            "table protocol does not advertise deletionVectors; pass "
            "allow_protocol_upgrade=True to commit the reader-3/"
            "writer-7 upgrade (it changes what other readers need to "
            "support)"
        )
    schema = _schema_from_json(spark, snap.schema_json)
    part_cols = [c for c in snap.partition_columns if c in schema.names]

    def _abs(p: str) -> str:
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    return snap, schema, part_cols, _abs, has_dv_feature, cdf_enabled, \
        mapping


def _scan_schema(schema, schema_json, part_cols, mapping):
    """Non-partition scan StructType for the table's data files:
    physical names (name mode) or logical names + parquet.field.id
    metadata (id mode, resolved by id)."""
    from pyspark.sql.types import StructType

    if mapping in ("name", "id"):
        from .delta_reader import _map_schema_json

        mapped = StructType.fromJson(_map_schema_json(schema_json, mapping))
        return StructType(
            [
                mf
                for lf, mf in zip(schema.fields, mapped.fields)
                if lf.name not in part_cols
            ]
        )
    return StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )


def _to_physical_df(
    df: DataFrame, schema, schema_json: str, mapping: str, extra=()
) -> DataFrame:
    """Logical-column DataFrame -> the physical WRITE shape: physical
    aliases + ``parquet.field.id`` metadata (id mode) AT EVERY
    NESTING LEVEL — nested renames AND nested ids ride the positional
    struct cast (Spark's field-id writer stamps ids from the target
    StructType's nested field metadata; probed in
    ``test_id_mapping_nested_struct_dml``).  Identity when mapping is
    off.  ``extra`` columns (e.g. ``_change_type``) pass through."""
    if mapping not in ("name", "id"):
        return df.select(
            *[F.col(f"`{f.name}`") for f in schema.fields],
            *[F.col(c) for c in extra],
        )
    from pyspark.sql.types import StructType

    from .delta_reader import _map_schema_json

    mapped = StructType.fromJson(
        _map_schema_json(
            schema_json, "phys_id" if mapping == "id" else "name"
        )
    )
    cols = []
    for lf, mf in zip(schema.fields, mapped.fields):
        cols.append(
            F.col(f"`{lf.name}`").cast(mf.dataType)
            .alias(mf.name, metadata=dict(mf.metadata or {}))
        )
    return df.select(*cols, *[F.col(c) for c in extra])


def _keyed_scan(
    spark, snap, schema, part_cols, _abs, mapping: str = "none",
    rt_id_col: str | None = None,
) -> DataFrame:
    """Raw scan of the snapshot's files with ``__dfd_path`` /
    ``__dfd_pos`` materialized and partition values attached, so DML
    predicates can reference every table column.  Existing DV
    positions ARE excluded — an UPDATE/MERGE rewrite of a matched set
    that included already-deleted rows would RESURRECT them as fresh
    copies (caught by the merge re-apply test).  Under column mapping
    the files are scanned physically (by name or field id) and
    exposed with LOGICAL names.  With ``rt_id_col`` (a rowTracking
    table's materialized row-id physical column) each row also gets
    ``__rt_id`` — the materialized value when non-null, else
    ``add.baseRowId + row_index`` — so DML rewrites can PRESERVE row
    ids."""
    from pyspark.sql.types import LongType, StructField, StructType

    if mapping == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    physical = _scan_schema(schema, snap.schema_json, part_cols, mapping)
    if rt_id_col:
        physical = StructType(
            list(physical.fields)
            + [StructField(rt_id_col, LongType(), True)]
        )
    paths = [_abs(f["path"]) for f in snap.files]
    from data_lakehouse_project_spark.sources.arrow_scan import (
        arrow_scan_threshold,
        register_arrow_scan,
        write_scan_plan,
    )

    if (
        mapping not in ("name", "id")
        and len(paths) >= arrow_scan_threshold()
    ):
        # high-file-count fast path: skip the O(files) driver file
        # index (the same shape as the batch readers); the provenance
        # columns feed the same downstream joins, name resolution
        # matches because the scan schema IS the files' shape here
        register_arrow_scan(spark)
        plan = write_scan_plan(
            json.loads(physical.json()),
            {},
            [{"path": os.path.abspath(p)} for p in paths],
            emit_meta=True,
        )
        df = (
            spark.read.format("graft_arrow_scan")
            .option("plan", plan)
            .load()
            .withColumnRenamed("__ice_path", "__dfd_path")
            .withColumnRenamed("__ice_pos", "__dfd_pos")
        )
    else:
        df = spark.read.schema(physical).parquet(*paths)
        df = df.withColumns(
            {
                "__dfd_path": _spark_path_key(),
                "__dfd_pos": F.col("_metadata.row_index"),
            }
        )
    rt_keep = [f"`{rt_id_col}`"] if rt_id_col else []
    if mapping == "name":
        phys_of = _physical_names(snap.schema_json)
        df = df.select(
            *[
                F.col(f"`{phys_of[f.name]}`").cast(f.dataType)
                .alias(f.name)
                for f in schema.fields
                if f.name not in part_cols
            ],
            *rt_keep,
            "__dfd_path",
            "__dfd_pos",
        )
    elif mapping == "id":
        # id-mode scan schema already carries logical names; fold the
        # field-id metadata away and restore clean logical types
        df = df.select(
            *[
                F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
                for f in schema.fields
                if f.name not in part_cols
            ],
            *rt_keep,
            "__dfd_path",
            "__dfd_pos",
        )
    if rt_id_col:
        base_rows = [
            (
                os.path.abspath(_abs(f["path"])),
                f.get("base_row_id"),
            )
            for f in snap.files
        ]
        bmap = spark.createDataFrame(
            base_rows, "__dfd_path string, __rt_base long"
        )
        df = (
            df.join(F.broadcast(bmap), "__dfd_path", "left")
            .withColumn(
                "__rt_id",
                F.coalesce(
                    F.col(f"`{rt_id_col}`"),
                    F.col("__rt_base") + F.col("__dfd_pos"),
                ),
            )
            .drop(rt_id_col, "__rt_base")
        )
    dv_fs = [f for f in snap.files if f.get("foreign_dv")]
    if dv_fs:
        from .dv import resolve_dv_positions

        # DV descriptors resolve against the TABLE root = the dir of
        # any resolved relative add path's join base
        table_root = os.path.abspath(_abs("."))
        pairs = [
            (os.path.abspath(_abs(f["path"])), int(p))
            for f in dv_fs
            for p in resolve_dv_positions(f["foreign_dv"], table_root)
        ]
        if pairs:
            dead = spark.createDataFrame(
                pairs, ["__dfd_path", "__dfd_pos"]
            )
            df = df.join(
                F.broadcast(dead),
                ["__dfd_path", "__dfd_pos"],
                "left_anti",
            )
    if part_cols:
        # partitionValues keys are PHYSICAL names under column mapping
        pv_of = (
            _physical_names(snap.schema_json)
            if mapping in ("name", "id")
            else {c: c for c in part_cols}
        )
        rows = [
            tuple(
                [os.path.abspath(_abs(f["path"]))]
                + [
                    (f.get("partition_values") or {}).get(pv_of[c])
                    for c in part_cols
                ]
            )
            for f in snap.files
        ]
        pmap = spark.createDataFrame(
            rows, ["__dfd_path"] + [f"__pv_{c}" for c in part_cols]
        )
        df = df.join(F.broadcast(pmap), "__dfd_path", "left")
        for c in part_cols:
            df = df.withColumn(
                c, F.col(f"__pv_{c}").cast(schema[c].dataType)
            ).drop(f"__pv_{c}")
    return df


# Legacy protocol versions imply features without listing them; a
# features-upgrade must ENUMERATE them (spec: "the resulting protocol
# must support everything the previous one did").
_LEGACY_WRITER_IMPLIES = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}
_LEGACY_READER_IMPLIES = {2: {"columnMapping"}}


def _protocol_upgrade_actions(snap, has_dv_feature: bool) -> list[dict]:
    if has_dv_feature:
        return []
    rv = int(snap.protocol.get("minReaderVersion", 1))
    wv = int(snap.protocol.get("minWriterVersion", 1))
    r_implied = set().union(
        *(f for v, f in _LEGACY_READER_IMPLIES.items() if rv >= v and rv < 3)
    ) if rv < 3 else set()
    w_implied = set().union(
        *(f for v, f in _LEGACY_WRITER_IMPLIES.items() if wv >= v)
    ) if wv < 7 else set()
    return [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(
                    set(snap.protocol.get("readerFeatures") or [])
                    | r_implied
                    | {"deletionVectors"}
                ),
                "writerFeatures": sorted(
                    set(snap.protocol.get("writerFeatures") or [])
                    | w_implied
                    | {"deletionVectors"}
                ),
            }
        }
    ]


def _staged(table_path: str, adds: list[dict], *paths: str | None):
    """Files a commit created before publishing — the data files of
    its raw ``adds`` plus DV / cdc files — removed if the commit loses
    its version race."""
    return [p for p in paths if p] + [
        os.path.join(table_path, _unq(a["path"])) for a in adds
    ]


def update_from_delta(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    set_map: dict[str, str],
    allow_protocol_upgrade: bool = False,
) -> dict:
    """Row-level UPDATE of a foreign Delta table in ONE commit:
    matched rows are DV-deleted from their files (remove(path, oldDV)
    + add(path, newDV), the merge-on-read shape) and their rewritten
    versions appended as new data files — exactly delta-spark's
    DV-enabled UPDATE.  ``set_map`` maps column name -> SQL expression
    (evaluated over the matched rows; other columns carry through).

    Gating as ``delete_from_delta`` (DV feature / upgrade opt-in,
    column mapping and appendOnly refusals; CDF-enabled tables get
    spec ``_change_data`` pre/post-image files) plus CHECK
    constraints evaluated over the REWRITTEN rows before anything
    commits.  Returns ``{"version", "rows_updated", "files"}``."""
    ctx = _dml_prepare(
        spark, table_path, "update", allow_protocol_upgrade
    )
    snap, schema, part_cols, _abs = ctx[:4]
    mapping = ctx[6]
    phys_of = (
        _physical_names(snap.schema_json)
        if mapping in ("name", "id")
        else {c: c for c in schema.names}
    )
    table_path = os.path.abspath(table_path)
    unknown = [c for c in set_map if c not in schema.names]
    if unknown:
        raise ValueError(f"SET references unknown columns {unknown}")
    rt_enabled, rt_hwm = _row_tracking_state(table_path, snap)
    mat_id = None
    rt_meta_action: list[dict] = []
    if rt_enabled:
        # row-id STABILITY: matched rows keep their ids through the
        # rewrite by materializing them into the new files (the
        # commit-version column is unnecessary — the rewritten rows'
        # defaultRowCommitVersion IS this commit, the spec's
        # last-modified semantics)
        mat_id, _, rt_meta_action = _rt_materialized_cols(
            table_path, snap, want_ver=False
        )
    df = _keyed_scan(
        spark, snap, schema, part_cols, _abs, mapping,
        rt_id_col=mat_id,
    )
    matched = df.where(F.expr(predicate))
    new_rows = matched.select(
        *[
            (
                F.expr(set_map[f.name]).cast(f.dataType)
                if f.name in set_map
                else F.col(f.name)
            ).alias(f.name)
            for f in schema.fields
        ],
        *(
            [F.col("__rt_id").alias(mat_id)] if rt_enabled else []
        ),
    )
    # CHECK constraints over the rewritten rows (SQL semantics)
    for key, sql in sorted(snap.configuration.items()):
        if not key.startswith("delta.constraints."):
            continue
        if new_rows.where(F.expr(sql) == F.lit(False)).limit(1).count():
            raise ValueError(
                f"CHECK constraint {key[len('delta.constraints.'):]} "
                f"({sql}) violated by the updated rows"
            )
    hit = (
        matched.groupBy("__dfd_path")
        .agg(F.sort_array(F.collect_list("__dfd_pos")).alias("__pos"))
        .collect()
    )
    by_path = {r["__dfd_path"]: list(r["__pos"]) for r in hit}
    if not by_path:
        return {"version": snap.version, "rows_updated": 0, "files": 0}

    ts = int(time.time() * 1000)
    # rewritten rows FIRST (a failed stage leaves only a temp dir);
    # DV positions exclude them from their old files in the same commit
    adds, n_rows = _stage_parquet_adds(
        spark,
        _to_physical_df(
            new_rows.select(
                *schema.names, *([mat_id] if rt_enabled else [])
            ),
            schema,
            snap.schema_json,
            mapping,
            extra=([mat_id] if rt_enabled else []),
        ),
        table_path,
        [phys_of[c] for c in part_cols],
        ts,
        field_ids=(mapping == "id"),
    )
    cdc_actions: list[dict] = []
    cdc_paths: list[str] = []
    if ctx[5]:  # CDF enabled: update_preimage + update_postimage
        # change rows; their presence makes CDF readers skip the DV
        # pair and rewritten-file adds below
        change = matched.select(*schema.names).withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            new_rows.select(*schema.names).withColumn(
                "_change_type", F.lit("update_postimage")
            )
        )
        change = _to_physical_df(
            change, schema, snap.schema_json, mapping,
            extra=("_change_type",),
        )
        cdc_actions, cdc_paths = _stage_cdc_actions(
            spark, change, table_path,
            [phys_of[c] for c in part_cols],
            field_ids=(mapping == "id"),
        )
    dv_actions, dv_path, _ = _dv_pair_actions(
        table_path, snap, by_path, _abs, ts
    )
    version = snap.version + 1
    rt_actions: list[dict] = []
    if rt_enabled:
        # fresh baseRowId ranges per spec; the MATERIALIZED ids above
        # override them on read, so the matched rows' ids are stable
        rt_actions, _ = _row_tracking_actions(adds, rt_hwm, version)
    actions = [
        *_protocol_upgrade_actions(snap, ctx[4]),
        *rt_meta_action,
        *rt_actions,
        *cdc_actions,
        *dv_actions,
        *({"add": a} for a in adds),
    ]
    publish_commit(
        table_path,
        version,
        actions,
        "UPDATE",
        {"predicate": predicate},
        _staged(table_path, adds, dv_path, *cdc_paths),
        ts_ms=ts,
    )
    return {
        "version": version,
        "rows_updated": n_rows,
        "files": len(adds),
    }


def optimize_delta(
    spark: SparkSession,
    table_path: str,
    target_size_bytes: int = 128 << 20,
    zorder_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE (bin-packing compaction) of a foreign Delta table:
    partitions holding more than one data file — or any DV-bearing
    file — are rewritten into ~``target_size_bytes`` files with the
    deletion vectors APPLIED (the compacted files carry no DVs), and
    the commit marks every remove/add ``dataChange=false`` per the
    Delta contract, so streams and CDF treat it as a no-op and never
    re-ship compacted rows.

    Column-mapped tables compact physically (files are scanned by
    physical name / field id and written back the same way — the
    mapping never changes).  rowTracking tables preserve row ids by
    MATERIALIZING them: each input row's id (materialized column if
    non-null, else ``add.baseRowId + row_index``) and commit version
    are written into the compacted files under the table's
    ``delta.rowTracking.materialized*ColumnName`` physical columns
    (generated + committed in the table config on first
    materialization, delta-spark's own behavior), so ids survive the
    rewrite and the commit stays ``dataChange=false``.
    ``delta.appendOnly`` is fine: compaction changes no data.  Old
    files stay on disk for time travel until ``vacuum_delta`` retires
    them.

    ``zorder_by``: 1-2 column names — the compacted output is
    range-partitioned by the Z-curve interleave
    (``maintenance.zorder_key``) of the named columns before the
    size split, so per-file min/max ranges narrow on BOTH dimensions
    and stats-pruning skips more files (delta-spark's
    ``OPTIMIZE ... ZORDER BY``).  When given, EVERY partition
    compacts (clustering is the point, not just file count).

    Returns ``{"version", "files_removed", "files_added",
    "partitions_compacted"}``."""
    from pyspark.sql.types import StructType

    table_path = os.path.abspath(table_path)
    snap = read_delta_snapshot(table_path)
    if snap.schema_json is None:
        raise UnsupportedDeltaFeature("table carries no schemaString")
    _gate_writer(snap.protocol, snap.schema_json)
    mapping = snap.configuration.get(
        "delta.columnMapping.mode", "none"
    ) or "none"
    if mapping not in ("none", "name", "id"):
        raise UnsupportedDeltaFeature(
            f"unknown delta.columnMapping.mode {mapping!r}"
        )
    rt_enabled, rt_hwm = _row_tracking_state(table_path, snap)

    from .txnlog import _schema_from_json

    schema = _schema_from_json(spark, snap.schema_json)
    part_cols = [c for c in snap.partition_columns if c in schema.names]
    if mapping == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    physical = _scan_schema(schema, snap.schema_json, part_cols, mapping)
    pv_of = (
        _physical_names(snap.schema_json)
        if mapping in ("name", "id")
        else {c: c for c in schema.names}
    )
    # row tracking: materialized physical column names from the table
    # config, generated + committed on first materialization
    mat_id = mat_ver = None
    rt_meta_action: list[dict] = []
    if rt_enabled:
        from pyspark.sql.types import LongType, StructField

        mat_id, mat_ver, rt_meta_action = _rt_materialized_cols(
            table_path, snap, want_ver=True
        )
        # scan the materialized columns too (null in files written
        # before materialization — the fresh formula covers them)
        physical = StructType(
            list(physical.fields)
            + [
                StructField(c, LongType(), True)
                for c in (mat_id, mat_ver)
            ]
        )

    def _abs(p: str) -> str:
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    groups: dict[tuple, list[dict]] = {}
    for f in snap.files:
        key = tuple(
            (f.get("partition_values") or {}).get(pv_of[c])
            for c in part_cols
        )
        groups.setdefault(key, []).append(f)
    if zorder_by:
        bad = [
            c
            for c in zorder_by
            if c not in schema.names or c in part_cols
        ]
        if bad or not 1 <= len(zorder_by) <= 2:
            raise ValueError(
                "zorder_by needs 1-2 non-partition table columns; "
                f"got {zorder_by}"
            )
        todo = dict(groups)  # re-clustering touches every partition
    else:
        todo = {
            k: fs
            for k, fs in groups.items()
            if len(fs) > 1 or any(f.get("foreign_dv") for f in fs)
        }
    if not todo:
        return {"version": snap.version, "files_removed": 0,
                "files_added": 0, "partitions_compacted": 0}

    from .dv import resolve_dv_positions

    ts = int(time.time() * 1000)
    all_adds: list[dict] = []
    all_removes: list[dict] = []
    for key, fs in sorted(todo.items(), key=lambda kv: str(kv[0])):
        paths = [_abs(f["path"]) for f in fs]
        df = spark.read.schema(physical).parquet(*paths)
        dv_fs = [f for f in fs if f.get("foreign_dv")]
        if dv_fs or rt_enabled:
            df = df.withColumns(
                {
                    "__opt_path": _spark_path_key(),
                    "__opt_pos": F.col("_metadata.row_index"),
                }
            )
        if rt_enabled:
            # preserve each row's id: materialized column when
            # non-null, else baseRowId + row_index (the read-side
            # formula) — written OUT as the materialized columns
            base_rows = [
                (
                    os.path.abspath(_abs(f["path"])),
                    f.get("base_row_id"),
                    f.get("default_row_commit_version"),
                )
                for f in fs
            ]
            bmap = spark.createDataFrame(
                base_rows, "__opt_path string, __base long, __dcv long"
            )
            df = (
                df.join(F.broadcast(bmap), "__opt_path", "left")
                .withColumn(
                    mat_id,
                    F.coalesce(
                        F.col(f"`{mat_id}`"),
                        F.col("__base") + F.col("__opt_pos"),
                    ),
                )
                .withColumn(
                    mat_ver,
                    F.coalesce(F.col(f"`{mat_ver}`"), F.col("__dcv")),
                )
                .drop("__base", "__dcv")
            )
        if dv_fs:
            pairs = [
                (os.path.abspath(_abs(f["path"])), int(p))
                for f in dv_fs
                for p in resolve_dv_positions(
                    f["foreign_dv"], table_path
                )
            ]
            if pairs:
                deleted = spark.createDataFrame(
                    pairs, ["__opt_path", "__opt_pos"]
                )
                df = df.join(
                    F.broadcast(deleted),
                    ["__opt_path", "__opt_pos"],
                    "left_anti",
                )
        if dv_fs or rt_enabled:
            df = df.drop("__opt_path", "__opt_pos")
        total = sum(f.get("size_bytes", 0) for f in fs)
        n_out = int(max(1, -(-total // max(target_size_bytes, 1))))
        if zorder_by:
            # range-partition on the Z-curve key: rows close on the
            # curve land in the same file, so per-file min/max narrow
            # on BOTH dimensions and stats-pruning bites
            from .maintenance import zorder_key

            # the scan exposes PHYSICAL names in name mode
            zc = [
                pv_of[c] if mapping == "name" else c
                for c in zorder_by
            ]
            zk = (
                zorder_key(F.col(f"`{zc[0]}`"), F.col(f"`{zc[1]}`"))
                if len(zc) == 2
                else F.col(f"`{zc[0]}`")
            )
            staged = (
                df.withColumn("__zk", zk)
                .repartitionByRange(n_out, "__zk")
                .sortWithinPartitions("__zk")
                .drop("__zk")
            )
        else:
            staged = df.coalesce(n_out)
        adds, _n = _stage_parquet_adds(
            spark, staged, table_path, [], ts,
            field_ids=(mapping == "id"),
        )
        pv = {pv_of[c]: v for c, v in zip(part_cols, key)}
        for a in adds:
            a["partitionValues"] = pv
            a["dataChange"] = False  # the Delta OPTIMIZE contract
        all_adds.extend(adds)
        for f in fs:
            rm = {
                "path": _serialize_add(
                    {"path": f["path"]}, ts
                )["path"],
                "deletionTimestamp": ts,
                "dataChange": False,
            }
            if f.get("foreign_dv"):
                rm["deletionVector"] = f["foreign_dv"]
            all_removes.append(rm)

    version = snap.version + 1
    rt_actions: list[dict] = []
    if rt_enabled:
        # spec: every add on a rowTracking table carries a fresh
        # baseRowId range; the MATERIALIZED columns written above
        # override them on read, preserving the original ids
        rt_actions, _ = _row_tracking_actions(all_adds, rt_hwm, version)
    actions = [
        *rt_meta_action,
        *rt_actions,
        *({"remove": r} for r in all_removes),
        *({"add": a} for a in all_adds),
    ]
    publish_commit(
        table_path,
        version,
        actions,
        "OPTIMIZE",
        {"targetSize": str(target_size_bytes)},
        _staged(table_path, all_adds),
        ts_ms=ts,
    )
    return {
        "version": version,
        "files_removed": len(all_removes),
        "files_added": len(all_adds),
        "partitions_compacted": len(todo),
    }


def merge_into_delta(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: str,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: bool = True,
    allow_protocol_upgrade: bool = False,
) -> dict:
    """MERGE INTO a foreign Delta table in ONE commit — the upsert
    delta-spark runs, on someone else's ``_delta_log``:

    * ``on``: SQL join condition over ``t`` (target) and ``s``
      (source) aliases, e.g. ``"t.id = s.id"``.
    * ``when_matched_update``: target column -> SQL expression over
      ``t``/``s`` (e.g. ``{"v": "s.v"}``); matched rows are DV-deleted
      from their files and their updated versions appended (the
      merge-on-read shape, like ``update_from_delta``).
    * ``when_matched_delete=True`` deletes matched rows instead
      (mutually exclusive with the update clause).
    * ``when_not_matched_insert``: source rows matching no target row
      append (schema-matched by name, declared-type casts).

    Per the Delta MERGE contract, a target row matched by MORE THAN
    ONE source row is ambiguous and fails the merge before anything
    commits.  Gating, constraints, row tracking, and the
    exclusive-create commit follow the shared DML primitives.
    Returns ``{"version", "rows_updated", "rows_deleted",
    "rows_inserted"}``."""
    if when_matched_update and when_matched_delete:
        raise ValueError(
            "when_matched_update and when_matched_delete are mutually "
            "exclusive"
        )
    ctx = _dml_prepare(
        spark,
        table_path,
        "merge",
        allow_protocol_upgrade,
        needs_dv=bool(when_matched_update or when_matched_delete),
    )
    snap, schema, part_cols, _abs = ctx[:4]
    mapping = ctx[6]
    phys_of = (
        _physical_names(snap.schema_json)
        if mapping in ("name", "id")
        else {c: c for c in schema.names}
    )
    table_path = os.path.abspath(table_path)
    if when_matched_update:
        unknown = [
            c for c in when_matched_update if c not in schema.names
        ]
        if unknown:
            raise ValueError(
                f"UPDATE SET references unknown columns {unknown}"
            )

    rt_enabled, rt_hwm = _row_tracking_state(table_path, snap)
    mat_id = None
    rt_meta_action: list[dict] = []
    if rt_enabled:
        # row-id stability for matched rewrites (see update_from_delta)
        mat_id, _, rt_meta_action = _rt_materialized_cols(
            table_path, snap, want_ver=False
        )
    tgt = _keyed_scan(
        spark, snap, schema, part_cols, _abs, mapping,
        rt_id_col=mat_id,
    ).alias("t")
    src = source.alias("s")
    cond = F.expr(on)

    # matched pairs (inner join); the spec's ambiguity rule: a target
    # row hit by >1 source row fails a merge with a MATCHED clause
    matched = tgt.join(src, cond, "inner")
    if when_matched_update or when_matched_delete:
        dup = (
            matched.groupBy("t.__dfd_path", "t.__dfd_pos")
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "MERGE is ambiguous: a target row is matched by more "
                "than one source row (the Delta MERGE contract "
                "forbids this)"
            )

    rows_updated = rows_deleted = rows_inserted = 0
    new_rows = None
    if when_matched_update:
        new_rows = matched.select(
            *[
                (
                    F.expr(when_matched_update[f.name]).cast(f.dataType)
                    if f.name in when_matched_update
                    else F.col(f"t.{f.name}")
                ).alias(f.name)
                for f in schema.fields
            ],
            *(
                [F.col("t.__rt_id").alias(mat_id)]
                if rt_enabled else []
            ),
        )
    inserts = None
    if when_not_matched_insert:
        missing = [
            f.name for f in schema.fields if f.name not in source.columns
        ]
        if missing:
            raise ValueError(
                f"INSERT needs source columns {missing} (schema match "
                "by name)"
            )
        inserts = src.join(tgt, cond, "left_anti").select(
            *[
                F.col(f"s.{f.name}").cast(f.dataType).alias(f.name)
                for f in schema.fields
            ],
            *(
                # inserted rows have no prior id: null materialized
                # value -> the fresh baseRowId + position formula
                [F.lit(None).cast("long").alias(mat_id)]
                if rt_enabled else []
            ),
        )
    staged_new = None
    if new_rows is not None and inserts is not None:
        staged_new = new_rows.unionByName(inserts)
    else:
        staged_new = new_rows if new_rows is not None else inserts

    # CHECK constraints over everything that will be WRITTEN
    if staged_new is not None:
        for key, sql in sorted(snap.configuration.items()):
            if not key.startswith("delta.constraints."):
                continue
            if (
                staged_new.where(F.expr(sql) == F.lit(False))
                .limit(1)
                .count()
            ):
                raise ValueError(
                    "CHECK constraint "
                    f"{key[len('delta.constraints.'):]} ({sql}) "
                    "violated by the merged rows"
                )

    hit = []
    if when_matched_update or when_matched_delete:
        hit = (
            matched.groupBy("t.__dfd_path")
            .agg(
                F.sort_array(
                    F.collect_list("t.__dfd_pos")
                ).alias("__pos")
            )
            .collect()
        )
    by_path = {r["__dfd_path"]: list(r["__pos"]) for r in hit}
    n_matched = sum(len(v) for v in by_path.values())
    if when_matched_delete:
        rows_deleted = n_matched
    else:
        rows_updated = n_matched

    ts = int(time.time() * 1000)
    adds: list[dict] = []
    if staged_new is not None:
        adds, n_staged = _stage_parquet_adds(
            spark,
            _to_physical_df(
                staged_new.select(
                    *schema.names, *([mat_id] if rt_enabled else [])
                ),
                schema,
                snap.schema_json,
                mapping,
                extra=([mat_id] if rt_enabled else []),
            ),
            table_path,
            [phys_of[c] for c in part_cols],
            ts,
            field_ids=(mapping == "id"),
        )
        rows_inserted = n_staged - rows_updated
    if not by_path and not adds:
        return {
            "version": snap.version,
            "rows_updated": 0,
            "rows_deleted": 0,
            "rows_inserted": 0,
        }
    cdc_actions: list[dict] = []
    cdc_paths: list[str] = []
    if ctx[5] and by_path:
        # CDF enabled with matched changes: cdc actions suppress the
        # add/remove fallback for the whole commit, so the change set
        # must be COMPLETE — matched images AND insert rows.  An
        # insert-only merge (no matched rows) writes no cdc; the spec
        # fallback labels its adds as inserts.
        t_cols = [F.col(f"t.{c}").alias(c) for c in schema.names]
        parts: list[DataFrame] = []
        if when_matched_delete:
            parts.append(
                matched.select(*t_cols).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
        elif when_matched_update:
            parts.append(
                matched.select(*t_cols).withColumn(
                    "_change_type", F.lit("update_preimage")
                )
            )
            parts.append(
                new_rows.select(*schema.names).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        if inserts is not None:
            parts.append(
                inserts.select(*schema.names).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        change = parts[0]
        for p in parts[1:]:
            change = change.unionByName(p)
        change = _to_physical_df(
            change, schema, snap.schema_json, mapping,
            extra=("_change_type",),
        )
        cdc_actions, cdc_paths = _stage_cdc_actions(
            spark, change, table_path,
            [phys_of[c] for c in part_cols],
            field_ids=(mapping == "id"),
        )
    dv_actions: list[dict] = []
    dv_path = None
    if by_path:
        dv_actions, dv_path, _ = _dv_pair_actions(
            table_path, snap, by_path, _abs, ts
        )
    version = snap.version + 1
    rt_actions: list[dict] = []
    if rt_enabled and adds:
        rt_actions, _ = _row_tracking_actions(adds, rt_hwm, version)
    actions = [
        *(
            _protocol_upgrade_actions(snap, ctx[4]) if by_path else []
        ),
        *(rt_meta_action if adds else []),
        *rt_actions,
        *cdc_actions,
        *dv_actions,
        *({"add": a} for a in adds),
    ]
    publish_commit(
        table_path,
        version,
        actions,
        "MERGE",
        {"predicate": on},
        _staged(table_path, adds, dv_path, *cdc_paths),
        ts_ms=ts,
    )
    return {
        "version": version,
        "rows_updated": rows_updated,
        "rows_deleted": rows_deleted,
        "rows_inserted": rows_inserted,
    }
