"""APPEND writer for FOREIGN Iceberg v2 tables: commit a new snapshot
into a table some other engine (spark-iceberg, pyiceberg, …) created —
the Iceberg twin of ``delta_writer.append_to_delta``, completing the
two-format interop symmetry (read / stream / incremental / maintain /
export / append).

Spec obligations, gated refuse-don't-corrupt:

* ``format-version`` 2 only (v1 tables have no data sequence numbers;
  mixing this writer's v2-shaped manifests into one would corrupt the
  ordering — refuse, don't guess).
* Identity partition transforms only (same bound as the exporter);
  data files CONTAIN the partition columns (Iceberg, unlike Delta/
  hive, stores them in the files) AND the manifest entries carry the
  typed partition struct — staging duplicates the partition columns
  into hidden ``__part_*`` twins for ``partitionBy`` so the real
  columns stay in the parquet.
* Every written file is stamped with ``parquet.field.id`` (spec:
  "Columns in Iceberg data files are selected by field id").
* Column bounds from the written footers encode as the spec's binary
  single-values, so foreign readers file-skip the appended data.
* The new manifest list re-lists the current snapshot's manifests
  verbatim (original ``added_snapshot_id`` / sequence attribution —
  the spec's manifest-inheritance rule) plus one new ADDED manifest
  at ``last-sequence-number + 1``; existing position/equality delete
  manifests carry forward and, per the sequence rule, do NOT apply to
  the strictly-newer appended rows.
* The new ``v{N+1}.metadata.json`` is created with ``open(..., 'x')``
  — a concurrent committer racing to the same metadata version fails
  cleanly (callers own retries).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid as _uuid

from .concurrency import ConcurrentCommitError

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import PARQUET_CODEC
from .iceberg_export import (
    _AVRO_OF,
    _AvroWriter,
    _encode_bound,
    _partition_value,
)
from .iceberg_reader import (
    UnsupportedIcebergFeature,
    _current_schema,
    _latest_metadata_file,
    _spark_schema,
    avro_records,
    load_iceberg_metadata,
)
from .txnlog import _file_stats

_MANIFEST_FILE_AVRO = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {
                "name": "min_sequence_number",
                "type": "long",
                "field-id": 516,
            },
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {
                "name": "existing_files_count",
                "type": "int",
                "field-id": 505,
            },
            {"name": "deleted_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {
                "name": "existing_rows_count",
                "type": "long",
                "field-id": 513,
            },
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
            {
                # v3 row lineage: the first row id assigned to the
                # manifest's files (optional — null on v2 lists and
                # delete manifests)
                "name": "first_row_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 520,
            },
        ],
    }
)


def _entry_avro_schema(
    part_fields: list[dict], v3_fields: bool = False
) -> str:
    """manifest_entry avro schema (spec shape shared with
    iceberg_export) for the given identity partition fields — bounds
    arrays included.  ``v3_fields=True`` adds the v3 row-lineage /
    deletion-vector columns (first_row_id 142, referenced_data_file
    143, content_offset 144, content_size_in_bytes 145)."""
    partition_avro = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                # transform RESULT type (int for bucket/temporal,
                # source type for identity/truncate)
                "type": [
                    "null",
                    pf.get(
                        "_result_avro",
                        _AVRO_OF.get(pf["_src_type"], "string"),
                    ),
                ],
                "default": None,
                "field-id": pf["field-id"],
            }
            for pf in part_fields
        ],
    }
    data_file_avro = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_avro,
             "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long",
             "field-id": 104},
            {
                "name": "lower_bounds",
                "type": ["null", {"type": "array", "items": {
                    "type": "record", "name": "k126_v127",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": 126},
                        {"name": "value", "type": "bytes",
                         "field-id": 127},
                    ]}}],
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": ["null", {"type": "array", "items": {
                    "type": "record", "name": "k129_v130",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": 129},
                        {"name": "value", "type": "bytes",
                         "field-id": 130},
                    ]}}],
                "default": None,
                "field-id": 128,
            },
            {
                # spec field 135: the field ids an EQUALITY delete
                # file's rows match on; null for data/pos-delete files
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int",
                                  "element-id": 136}],
                "default": None,
                "field-id": 135,
            },
        ],
    }
    if v3_fields:
        data_file_avro["fields"] += [
            {"name": "first_row_id", "type": ["null", "long"],
             "default": None, "field-id": 142},
            {"name": "referenced_data_file",
             "type": ["null", "string"], "default": None,
             "field-id": 143},
            {"name": "content_offset", "type": ["null", "long"],
             "default": None, "field-id": 144},
            {"name": "content_size_in_bytes",
             "type": ["null", "long"], "default": None,
             "field-id": 145},
        ]
    return json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int", "field-id": 0},
                {"name": "snapshot_id", "type": ["null", "long"],
                 "default": None, "field-id": 1},
                {"name": "sequence_number", "type": ["null", "long"],
                 "default": None, "field-id": 3},
                {"name": "file_sequence_number",
                 "type": ["null", "long"], "default": None,
                 "field-id": 4},
                {"name": "data_file", "type": data_file_avro,
                 "field-id": 2},
            ],
        }
    )


def _open_manifest_writer(
    spark: SparkSession,
    md: dict,
    part_fields: list[dict],
    manifest_path: str,
    v3_fields: bool = False,
) -> _AvroWriter:
    return _AvroWriter(
        spark,
        _entry_avro_schema(part_fields, v3_fields=v3_fields),
        manifest_path,
        {
            "schema": json.dumps(_current_schema(md)),
            "partition-spec": json.dumps(
                [
                    {k: v for k, v in pf.items()
                     if not k.startswith("_")}
                    for pf in part_fields
                ]
            ),
            "partition-spec-id": str(md.get("default-spec-id", 0)),
            "format-version": "2",
            "content": "data",
        },
    )


_TRANSFORM_RESULT_AVRO = {
    "year": "int", "month": "int", "day": "int", "hour": "int",
}


def _resolve_part_fields(md: dict, schema_fields: list[dict]) -> list[dict]:
    """Default partition spec resolved to source fields, each
    annotated with the source column's name/type and the transform's
    avro RESULT type.  Supports the spec's hidden transforms
    (identity, bucket[N], truncate[W], year/month/day/hour, void) —
    transform values are computed at staging via
    ``functions.ice_transforms`` (spec-exact murmur3 bucket)."""
    specs = {s["spec-id"]: s for s in md.get("partition-specs", [])}
    spec = specs.get(md.get("default-spec-id", 0), {"fields": []})
    by_id = {f["id"]: f for f in schema_fields}
    part_fields = []
    for pf in spec.get("fields", []):
        tr = pf.get("transform", "identity")
        if not (
            tr in ("identity", "void", "year", "month", "day", "hour")
            or tr.startswith(("bucket[", "truncate["))
        ):
            raise UnsupportedIcebergFeature(
                f"partition transform {tr!r} is not supported by "
                "this writer"
            )
        src = by_id.get(pf["source-id"])
        if src is None:
            raise UnsupportedIcebergFeature(
                f"partition source field id {pf['source-id']} not in "
                "the current schema"
            )
        if tr.startswith("bucket[") or tr == "void":
            ravro = "int"
        elif tr.startswith("truncate["):
            ravro = _AVRO_OF.get(src["type"], "string")
        else:
            ravro = _TRANSFORM_RESULT_AVRO.get(
                tr, _AVRO_OF.get(src["type"], "string")
            )
        part_fields.append(
            pf
            | {
                "_src_name": src["name"],
                "_src_type": src["type"],
                "_result_avro": ravro,
            }
        )
    return part_fields


def _stage_iceberg_data(
    spark: SparkSession,
    df: DataFrame,
    md: dict,
    schema_fields: list[dict],
    part_fields: list[dict],
    table_path: str,
    prefix: str,
) -> tuple[list[tuple[str, dict, dict]], int]:
    """Write ``df`` as field-id-stamped parquet under ``data/`` —
    source columns stay IN the files; the partition layout comes from
    hidden ``__part_`` twins carrying the TRANSFORM value (identity:
    the source value; bucket/truncate/temporal: computed spec-exactly
    via ``functions.ice_transforms``) — returning ``[(abs path, raw
    partition values, footer stats)]`` and the row count."""
    from urllib.parse import unquote as _unq

    from data_lakehouse_project_spark.functions.ice_transforms import (
        transform_col,
    )

    spark_schema = _spark_schema(spark, md, field_ids=True)
    ids_of = {f["name"]: int(f["id"]) for f in schema_fields}
    staged = df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(
                f.name, metadata={"parquet.field.id": ids_of[f.name]}
            )
            for f in spark_schema.fields
        ],
        *[
            transform_col(
                pf.get("transform", "identity"),
                F.col(pf["_src_name"]),
                pf["_src_type"],
            )
            .cast("string")
            .alias(f"__part_{pf['name']}")
            for pf in part_fields
        ],
    )
    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    tmp = os.path.join(table_path, f".tmp-{prefix}-{_uuid.uuid4()}")
    files: list[tuple[str, dict, dict]] = []
    n_rows = 0
    try:
        spark.conf.set(
            "spark.sql.parquet.fieldId.write.enabled", "true"
        )
        w = staged.write.mode("overwrite")
        if part_fields:
            w = w.partitionBy(
                *[f"__part_{pf['name']}" for pf in part_fields]
            )
        w.parquet(tmp)
        for dirpath, dirnames, filenames in os.walk(tmp):
            # keep hive k=v partition dirs (the __part_ twins start
            # with an underscore); drop true hidden/marker dirs
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
                raw_pv: dict[str, str | None] = {}
                for seg in os.path.relpath(src, tmp).split(os.sep)[:-1]:
                    k, _, v = seg.partition("=")
                    raw_pv[_unq(k)[len("__part_"):]] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else _unq(v)
                    )
                st = _file_stats(src)
                if st.get("num_rows", 0) == 0:
                    continue  # idle partitions emit empty part files
                dst = os.path.join(
                    data_dir, f"{prefix}-{_uuid.uuid4()}.parquet"
                )
                os.replace(src, dst)
                n_rows += st.get("num_rows", 0)
                files.append((dst, raw_pv, st))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return files, n_rows


def _staged_partition_value(pf: dict, raw: str | None):
    """Typed manifest partition value from a staged hive-dir string.
    The ``__part_`` twin already carries the transform RESULT, so
    bucket/temporal values are plain ints here; identity/truncate
    keep the source-type conversion."""
    if raw is None:
        return None
    tr = pf.get("transform", "identity")
    if tr == "void":
        return None
    if tr.startswith("bucket[") or tr in ("year", "month", "day",
                                          "hour"):
        return int(raw)
    if tr.startswith("truncate["):
        if pf["_src_type"] in ("int", "long"):
            return int(raw)
        return raw
    return _partition_value("identity", raw, pf["_src_type"])


def _write_added_manifest(
    spark: SparkSession,
    md: dict,
    schema_fields: list[dict],
    part_fields: list[dict],
    files: list[tuple[str, dict, dict]],
    snapshot_id: int,
    seq: int,
    table_path: str,
    first_row_base: int | None = None,
) -> str:
    """One data manifest of ADDED entries (footer-stat binary bounds,
    typed partition struct) for freshly-staged files; returns its
    path.  ``first_row_base`` (v3 row lineage) stamps each entry's
    ``first_row_id`` sequentially from the table's ``next-row-id``."""
    manifest_path = os.path.join(
        table_path, "metadata", f"{_uuid.uuid4().hex}-m0.avro"
    )
    wm = _open_manifest_writer(
        spark, md, part_fields, manifest_path,
        v3_fields=first_row_base is not None,
    )
    row_base = first_row_base
    for dst, raw_pv, st in files:
        lower: list[dict] = []
        upper: list[dict] = []
        for fld in schema_fields:
            cst = st.get("columns", {}).get(fld["name"])
            if not cst:
                continue
            for key, dest in (("min", lower), ("max", upper)):
                if key in cst and cst[key] is not None:
                    b = _encode_bound(cst[key], fld["type"])
                    if b is not None:
                        dest.append(
                            {"key": fld["id"],
                             "value": b.decode("latin-1")}
                        )
        part_vals = {
            pf["name"]: _staged_partition_value(pf, raw_pv.get(pf["name"]))
            for pf in part_fields
        }
        data_file = {
            "content": 0,
            "file_path": dst,
            "file_format": "PARQUET",
            "partition": part_vals,
            "record_count": st.get("num_rows", 0),
            "file_size_in_bytes": os.path.getsize(dst),
            "lower_bounds": lower or None,
            "upper_bounds": upper or None,
        }
        if row_base is not None:
            data_file["first_row_id"] = row_base
            row_base += int(st.get("num_rows", 0))
        wm.append_dict(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": data_file,
            }
        )
    wm.close()
    return manifest_path


_ICE_OF_SPARK = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
    "binary": "binary",
}


def append_to_iceberg(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    merge_schema: bool = False,
) -> dict:
    """Append ``df``'s rows to the foreign Iceberg table as one
    ``append`` snapshot; returns ``{"snapshot_id", "files", "rows",
    "metadata"}``.

    ``merge_schema=True`` is the spec's ADD-COLUMN evolution:
    DataFrame columns not in the current schema join it as optional
    fields with FRESH field ids (``last-column-id`` advances, a new
    entry lands in ``schemas`` and ``current-schema-id`` bumps in the
    same commit); pre-evolution files read the new columns as null
    via field-id resolution."""
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    if md.get("format-version") not in (2, 3):
        raise UnsupportedIcebergFeature(
            f"format-version {md.get('format-version')} append is not "
            "supported (v2/v3 only — v1 has no data sequence numbers)"
        )
    schema_fields = _current_schema(md)["fields"]
    spark_schema = _spark_schema(spark, md, field_ids=True)
    missing = [
        f.name for f in spark_schema.fields if f.name not in df.columns
    ]
    extra = [c for c in df.columns if c not in spark_schema.names]
    if extra and merge_schema:
        md = dict(md)
        last_id = int(md.get("last-column-id", 0))
        new_fields = list(schema_fields)
        for c in extra:
            st = df.schema[c].dataType.simpleString()
            import re as _re

            dm = _re.fullmatch(r"decimal\((\d+),(\d+)\)", st)
            if st in _ICE_OF_SPARK:
                ice_t = _ICE_OF_SPARK[st]
            elif dm:
                ice_t = f"decimal({dm.group(1)}, {dm.group(2)})"
            else:
                raise UnsupportedIcebergFeature(
                    f"mergeSchema: column {c} type {st} has no "
                    "iceberg mapping in this writer"
                )
            last_id += 1
            new_fields.append(
                {
                    "id": last_id,
                    "name": c,
                    "required": False,
                    "type": ice_t,
                }
            )
        new_schema_id = (
            max(
                (s.get("schema-id", 0) for s in md.get("schemas", [])),
                default=0,
            )
            + 1
        )
        md["schemas"] = list(md.get("schemas", [])) + [
            {
                "type": "struct",
                "schema-id": new_schema_id,
                "fields": new_fields,
            }
        ]
        md["current-schema-id"] = new_schema_id
        md["last-column-id"] = last_id
        schema_fields = new_fields
        spark_schema = _spark_schema(spark, md, field_ids=True)
        missing = [
            f.name
            for f in spark_schema.fields
            if f.name not in df.columns
        ]
        extra = []
    if missing or extra:
        raise ValueError(
            f"schema mismatch: table needs {missing or 'nothing'}, "
            f"extra in DataFrame: {extra or 'nothing'}"
        )

    part_fields = _resolve_part_fields(md, schema_fields)

    ts = int(time.time() * 1000)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snap_ids = [s["snapshot-id"] for s in md.get("snapshots", [])]
    snapshot_id = (max(snap_ids) + 1) if snap_ids else 1
    meta_dir = os.path.join(table_path, "metadata")
    files, n_rows = _stage_iceberg_data(
        spark, df, md, schema_fields, part_fields, table_path, "append"
    )

    # v3 row lineage: allocate first_row_id from the table counter
    frb = (
        int(md.get("next-row-id", 0))
        if md.get("format-version") == 3
        else None
    )
    manifest_path = _write_added_manifest(
        spark, md, schema_fields, part_fields, files, snapshot_id,
        seq, table_path, first_row_base=frb,
    )

    new_path = _commit_snapshot(
        spark,
        table_path,
        md,
        md_file,
        manifest_row={
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": md.get("default-spec-id", 0),
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
            "first_row_id": frb,
        },
        snapshot_id=snapshot_id,
        seq=seq,
        ts=ts,
        operation="append",
        first_row_id=frb,
        next_row_id=None if frb is None else frb + n_rows,
        summary_extra={
            "added-data-files": str(len(files)),
            "added-records": str(n_rows),
        },
        rollback_paths=[dst for dst, _, _ in files] + [manifest_path],
    )
    return {
        "snapshot_id": snapshot_id,
        "files": len(files),
        "rows": n_rows,
        "metadata": new_path,
    }


def _commit_snapshot(
    spark: SparkSession,
    table_path: str,
    md: dict,
    md_file: str,
    manifest_row: dict | list[dict],
    snapshot_id: int,
    seq: int,
    ts: int,
    operation: str,
    summary_extra: dict,
    rollback_paths: list[str],
    include_prior: bool = True,
    skip_manifests: set[str] | None = None,
    first_row_id: int | None = None,
    next_row_id: int | None = None,
) -> str:
    """Shared commit tail: new manifest list (prior manifests re-listed
    verbatim — original snapshot/sequence attribution — plus one new
    manifest; ``include_prior=False`` lists ONLY the new manifest, the
    rewrite shape; ``skip_manifests`` drops named prior manifests —
    the caller re-lists their REWRITTEN replacements, the v3
    DV-supersession shape), new metadata version with a
    synthesized-complete snapshot-log, exclusive-create commit with
    rollback.  v3 row lineage: ``first_row_id`` stamps the snapshot
    entry, ``next_row_id`` advances the table counter."""
    meta_dir = os.path.join(table_path, "metadata")
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    parent = md.get("current-snapshot-id")
    prior: list[dict] = []
    if include_prior and parent in snaps:
        mlist = snaps[parent]["manifest-list"]
        if not os.path.isabs(mlist):
            mlist = os.path.join(table_path, mlist)
        prior, _ = avro_records(spark, mlist)
    list_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{_uuid.uuid4().hex}.avro"
    )
    wl = _AvroWriter(
        spark, _MANIFEST_FILE_AVRO, list_path, {"format-version": "2"}
    )
    for m in prior:
        if skip_manifests and m["manifest_path"] in skip_manifests:
            continue  # superseded: caller re-lists its rewrite
        wl.append_dict(
            {
                "manifest_path": m["manifest_path"],
                "manifest_length": m.get("manifest_length", 0),
                "partition_spec_id": m.get("partition_spec_id", 0),
                "content": m.get("content", 0),
                "sequence_number": m.get("sequence_number", 0),
                "min_sequence_number": m.get("min_sequence_number", 0),
                "added_snapshot_id": m.get("added_snapshot_id", 0),
                "added_files_count": m.get("added_files_count", 0),
                "existing_files_count": m.get(
                    "existing_files_count", 0
                ),
                "deleted_files_count": m.get("deleted_files_count", 0),
                "added_rows_count": m.get("added_rows_count", 0),
                "existing_rows_count": m.get("existing_rows_count", 0),
                "deleted_rows_count": m.get("deleted_rows_count", 0),
                "first_row_id": m.get("first_row_id"),
            }
        )
    rows_new = (
        manifest_row if isinstance(manifest_row, list) else [manifest_row]
    )
    for r in rows_new:
        wl.append_dict(r)
    wl.close()

    # ---- new metadata version (exclusive create = commit point) ----
    new_md = dict(md)
    snap_entry = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": ts,
        "sequence-number": seq,
        "manifest-list": list_path,
        "summary": {"operation": operation, **summary_extra},
        "schema-id": md.get("current-schema-id", 0),
    }
    if parent is not None and parent in snaps:
        snap_entry["parent-snapshot-id"] = parent
    if first_row_id is not None:
        snap_entry["first-row-id"] = int(first_row_id)
    new_md["snapshots"] = list(md.get("snapshots", [])) + [snap_entry]
    # snapshot-log is optional in the prior metadata, but once WE
    # write one it becomes authoritative for ordering — so a partial
    # log would shadow the older snapshots.  Synthesize the full
    # chain from the prior ordering (the same rule _snapshot_order
    # applies), then append the new head.
    prior_log = list(md.get("snapshot-log", []))
    if len(prior_log) < len(snaps):
        from .iceberg_reader import _snapshot_order

        prior_log = [
            {
                "snapshot-id": sid,
                "timestamp-ms": snaps[sid]["timestamp-ms"],
            }
            for sid in _snapshot_order(md)
            if sid in snaps
        ]
    new_md["snapshot-log"] = prior_log + [
        {"snapshot-id": snapshot_id, "timestamp-ms": ts}
    ]
    new_md["current-snapshot-id"] = snapshot_id
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = ts
    if next_row_id is not None:
        new_md["next-row-id"] = int(next_row_id)
    cur_v = int(os.path.basename(md_file)[1:].split(".")[0])
    new_path = os.path.join(meta_dir, f"v{cur_v + 1}.metadata.json")
    try:
        with open(new_path, "x") as fh:
            json.dump(new_md, fh)
    except FileExistsError:
        for p in [*rollback_paths, list_path]:
            try:
                os.remove(p)
            except OSError:
                pass
        raise ConcurrentCommitError(
            f"concurrent commit detected at metadata v{cur_v + 1}; "
            "retry against the new snapshot"
        ) from None
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(cur_v + 1))
    return new_path


def _iceberg_keyed_scan(spark: SparkSession, table_path: str, md: dict):
    """Raw scan of the current snapshot's live data files with
    ``__dfi_path`` / ``__dfi_pos`` materialized, identity-partition
    constants attached (partition-column predicates work), and
    EXISTING deletes applied (position deletes/DVs anti-joined;
    EQUALITY deletes via the reader's shared sequence-ruled,
    partition-scoped anti-join — already-deleted rows never match,
    so DML works on upserted/streaming-CDC tables).  The new
    position deletes / DVs a DML commit writes carry the table's
    next sequence number, so per the spec they apply to every
    current row regardless of the equality history.  Returns
    ``(df, live, pos_deletes, _abs)`` or ``None`` when the table
    has no live files."""
    from .delta_reader import _spark_path_key
    from .iceberg_reader import (
        _file_has_field_ids,
        _spark_schema,
        iceberg_live_files,
    )

    _, live, pos_deletes, eq_deletes = iceberg_live_files(
        spark, table_path
    )
    if not live:
        return None

    def _abs(p: str) -> str:
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    paths = [_abs(f["file_path"]) for f in live]
    from data_lakehouse_project_spark.sources.arrow_scan import (
        arrow_scan_threshold,
        register_arrow_scan,
        write_scan_plan,
    )

    if len(paths) >= arrow_scan_threshold():
        # high-file-count fast path (same shape as the batch readers):
        # per-file arrow partitions with field-id resolution, emitting
        # the provenance columns the DML joins consume
        from .iceberg_reader import _field_names_by_id

        register_arrow_scan(spark)
        scan_schema = _spark_schema(spark, md)
        name2id = {
            v: k for k, v in _field_names_by_id(md).items()
        }
        plan = write_scan_plan(
            json.loads(scan_schema.json()),
            name2id,
            [{"path": os.path.abspath(p)} for p in paths],
            emit_meta=True,
        )
        df = (
            spark.read.format("graft_arrow_scan")
            .option("plan", plan)
            .load()
            .withColumnRenamed("__ice_path", "__dfi_path")
            .withColumnRenamed("__ice_pos", "__dfi_pos")
        )
    else:
        scan_schema = _spark_schema(spark, md)
        if _file_has_field_ids(paths[0]):
            spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true"
            )
            scan_schema = _spark_schema(spark, md, field_ids=True)
        df = spark.read.schema(scan_schema).parquet(*paths)
        df = df.withColumns(
            {
                "__dfi_path": _spark_path_key(),
                "__dfi_pos": F.col("_metadata.row_index"),
            }
        )
    # identity partition constants (absent source columns)
    from .iceberg_reader import (
        _coerce_partition_value,
        _field_names_by_id,
        _identity_partition_sources,
        _identity_sources_by_spec,
    )

    name_of = _field_names_by_id(md)
    by_spec = _identity_sources_by_spec(md)
    default_ident = _identity_partition_sources(md)
    ident_cols = sorted(
        {
            name_of.get(fid)
            for m_ in by_spec.values()
            for fid in m_
        }
        - {None}
    )
    ident_cols = [c for c in ident_cols if c in scan_schema.names]
    if ident_cols:
        from pyspark.sql.types import StringType as _Str
        from pyspark.sql.types import StructField as _SF
        from pyspark.sql.types import StructType as _STy

        name2id = {v: k for k, v in name_of.items()}
        rows = []
        for f in live:
            ident = by_spec.get(f.get("__spec_id"), default_ident)
            part = f.get("partition") or {}
            vals = [
                _coerce_partition_value(
                    part.get(ident.get(name2id[c])),
                    scan_schema[c].dataType,
                )
                for c in ident_cols
            ]
            rows.append(
                [os.path.abspath(_abs(f["file_path"]))] + vals
            )
        pmap = spark.createDataFrame(
            rows,
            _STy(
                [_SF("__dfi_path", _Str())]
                + [
                    _SF(f"__ipv_{c}", scan_schema[c].dataType)
                    for c in ident_cols
                ]
            ),
        )
        df = df.join(F.broadcast(pmap), "__dfi_path", "left")
        for c in ident_cols:
            df = df.withColumn(
                c, F.coalesce(F.col(c), F.col(f"__ipv_{c}"))
            )
    # v3 initial-defaults: files physically lacking a defaulted
    # column read the default (same per-file footer check the
    # snapshot reader does), so DML predicates see spec values
    from .iceberg_reader import _initial_defaults

    defaults_dml = _initial_defaults(md)
    if defaults_dml:
        import pyarrow.parquet as _pqd
        from pyspark.sql.types import StringType as _Strd
        from pyspark.sql.types import StructField as _SFd
        from pyspark.sql.types import StructType as _STyd

        id_of_name = {v: k for k, v in _field_names_by_id(md).items()}
        dfl_rows = []
        for p in paths:
            fsch = _pqd.read_schema(p)
            fids = {
                int((af.metadata or {}).get(b"PARQUET:field_id"))
                for af in fsch
                if (af.metadata or {}).get(b"PARQUET:field_id")
                is not None
            }
            vals = []
            for c, dv in defaults_dml.items():
                present = (
                    id_of_name.get(c) in fids
                    if fids
                    else c in fsch.names
                )
                if not present:
                    from .iceberg_reader import (
                        UNSUPPORTED_DEFAULT,
                        _raise_unsupported_default,
                    )

                    if dv == UNSUPPORTED_DEFAULT:
                        _raise_unsupported_default(c)
                vals.append(
                    None
                    if present
                    else _coerce_partition_value(
                        dv, scan_schema[c].dataType
                    )
                )
            dfl_rows.append([os.path.abspath(p)] + vals)
        if any(any(v is not None for v in r[1:]) for r in dfl_rows):
            dmap = spark.createDataFrame(
                dfl_rows,
                _STyd(
                    [_SFd("__dfi_path", _Strd())]
                    + [
                        _SFd(f"__dfl_{c}", scan_schema[c].dataType)
                        for c in defaults_dml
                    ]
                ),
            )
            df = df.join(F.broadcast(dmap), "__dfi_path", "left")
            for c in defaults_dml:
                df = df.withColumn(
                    c, F.coalesce(F.col(c), F.col(f"__dfl_{c}"))
                )

    # existing position deletes: already-deleted rows never re-match.
    # v3 puffin deletion vectors decode driver-side (the same
    # O(deleted rows) budget the readers pay); position-delete
    # parquet anti-joins executor-side.
    dv_entries = [f for f in pos_deletes if f.get("__is_dv")]
    pd_files = [f for f in pos_deletes if not f.get("__is_dv")]
    if dv_entries:
        from .puffin import dv_positions_of_entry

        rows = []
        for f in dv_entries:
            tgt = os.path.abspath(_abs(f["referenced_data_file"]))
            rows.extend(
                (tgt, int(p))
                for p in dv_positions_of_entry(table_path, f)
            )
        if rows:
            dvdf = spark.createDataFrame(
                rows, ["__dfi_path", "__dfi_pos"]
            )
            df = df.join(
                F.broadcast(dvdf),
                ["__dfi_path", "__dfi_pos"],
                "left_anti",
            )
    if pd_files:
        from pyspark.sql.types import LongType, StringType
        from pyspark.sql.types import StructField, StructType

        del_schema = StructType(
            [
                StructField("file_path", StringType()),
                StructField("pos", LongType()),
            ]
        )
        raw = F.regexp_replace(
            F.col("file_path"), "^file:(//)?", ""
        )
        dels = (
            spark.read.schema(del_schema)
            .parquet(*[_abs(f["file_path"]) for f in pd_files])
            .select(
                F.when(raw.startswith("/"), raw)
                .otherwise(F.concat(F.lit(table_path + "/"), raw))
                .alias("__dfi_path"),
                F.col("pos").alias("__dfi_pos"),
            )
        )
        df = df.join(dels, ["__dfi_path", "__dfi_pos"], "left_anti")

    if eq_deletes:
        from .iceberg_reader import _apply_equality_deletes

        df = (
            _apply_equality_deletes(
                spark,
                df.withColumnRenamed("__dfi_path", "__ice_path"),
                md,
                live,
                eq_deletes,
                scan_schema,
                _abs,
                key_of=lambda f: os.path.abspath(
                    _abs(f["file_path"])
                ),
            )
            .withColumnRenamed("__ice_path", "__dfi_path")
        )

    return df, live, pos_deletes, _abs


def _write_pos_delete_manifest(
    spark: SparkSession,
    table_path: str,
    md: dict,
    pairs: list[tuple[str, int]],
    snapshot_id: int,
    seq: int,
) -> tuple[dict, list[str]]:
    """Write the sorted position-delete parquet + its delete manifest
    (spec: one ADDED content=1 entry) and return the manifest-list row
    and the rollback paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    # uuid-named (like data files/manifests): snapshot_id is max+1 so
    # two writers racing from the same snapshot would otherwise target
    # the SAME path — the loser's write would clobber the winner's
    # committed delete file and its rollback would then delete it.
    del_path = os.path.join(
        data_dir,
        f"pos-deletes-{snapshot_id}-{_uuid.uuid4().hex}.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array(
                    [p for p, _ in pairs], pa.string()
                ),
                "pos": pa.array([p for _, p in pairs], pa.int64()),
            }
        ),
        del_path,
        compression=PARQUET_CODEC,
    )
    meta_dir = os.path.join(table_path, "metadata")
    delete_manifest = os.path.join(
        meta_dir, f"{_uuid.uuid4().hex}-d0.avro"
    )
    wd = _AvroWriter(
        spark,
        _entry_avro_schema([]),
        delete_manifest,
        {
            "schema": json.dumps(_current_schema(md)),
            "partition-spec": "[]",
            "partition-spec-id": str(md.get("default-spec-id", 0)),
            "format-version": "2",
            "content": "deletes",
        },
    )
    wd.append_dict(
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 1,  # position deletes
                "file_path": del_path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": len(pairs),
                "file_size_in_bytes": os.path.getsize(del_path),
            },
        }
    )
    wd.close()
    row = {
        "manifest_path": delete_manifest,
        "manifest_length": os.path.getsize(delete_manifest),
        "partition_spec_id": md.get("default-spec-id", 0),
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": 1,
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": len(pairs),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    return row, [del_path, delete_manifest]


def _avro_header(path: str) -> tuple[str, dict[str, bytes]]:
    """An avro container file's writer-schema JSON string + metadata
    map, header-only (no block decode) — manifest REWRITES reuse the
    source file's exact schema so partition structs and any
    engine-specific extra fields carry over untouched."""
    import struct as _struct

    def _vlong(buf, pos):
        shift = n = 0
        while True:
            b = buf[pos]
            pos += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (n >> 1) ^ -(n & 1), pos

    with open(path, "rb") as fh:
        buf = fh.read()
    if buf[:4] != b"Obj\x01":
        raise UnsupportedIcebergFeature(
            f"{path} is not an avro container file"
        )
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _vlong(buf, pos)
        if n == 0:
            break
        if n < 0:
            n = -n
            _, pos = _vlong(buf, pos)  # block byte size: skip
        for _ in range(n):
            klen, pos = _vlong(buf, pos)
            k = buf[pos:pos + klen].decode()
            pos += klen
            vlen, pos = _vlong(buf, pos)
            meta[k] = buf[pos:pos + vlen]
            pos += vlen
    del _struct
    return meta["avro.schema"].decode(), meta


def _sanitize_avro_values(v):
    """read-back entry dict -> append_dict-safe values: avro BYTES
    round-trip as latin-1 strings in the JSON encoding."""
    if isinstance(v, bytes):
        return v.decode("latin-1")
    if isinstance(v, dict):
        return {k: _sanitize_avro_values(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_sanitize_avro_values(x) for x in v]
    return v


def _rewrite_manifest_drop_dvs(
    spark: SparkSession,
    table_path: str,
    mpath: str,
    superseded: set[tuple[str, str]],
    prior_row: dict,
    snapshot_id: int,
) -> tuple[str, dict]:
    """Rewrite one delete manifest, flipping the superseded DV entries
    (matched on ``(file_path, referenced_data_file)``) to DELETED and
    re-emitting the rest as EXISTING with explicit snapshot/sequence
    attribution (spec: rewritten ADDED entries become EXISTING) — the
    v3 one-DV-per-data-file invariant after a new DV replaces an old
    one.  Returns (new manifest path, its manifest-list row)."""
    from .iceberg_reader import avro_records

    schema_json, meta = _avro_header(mpath)
    entries, _ = avro_records(spark, mpath)
    new_path = os.path.join(
        table_path, "metadata", f"{_uuid.uuid4().hex}-dvr.avro"
    )
    w = _AvroWriter(
        spark,
        schema_json,
        new_path,
        {
            k: v.decode()
            for k, v in meta.items()
            if not k.startswith("avro.")
        },
    )
    kept = flipped = 0
    kept_rows = flipped_rows = 0
    min_seq = None
    for e in entries:
        if e.get("status") == 2:
            continue  # recorded at its own deleting commit; drop
        df_ = e["data_file"]
        seq_e = e.get("sequence_number")
        if seq_e is None:
            seq_e = prior_row.get("sequence_number")
        snap_e = e.get("snapshot_id")
        if snap_e is None:
            snap_e = prior_row.get("added_snapshot_id")
        key = (df_.get("file_path"), df_.get("referenced_data_file"))
        is_sup = key in superseded
        if is_sup:
            flipped += 1
            flipped_rows += int(df_.get("record_count") or 0)
        else:
            kept += 1
            kept_rows += int(df_.get("record_count") or 0)
            if seq_e is not None:
                min_seq = (
                    seq_e if min_seq is None else min(min_seq, seq_e)
                )
        w.append_dict(
            _sanitize_avro_values(
                {
                    "status": 2 if is_sup else 0,
                    "snapshot_id": snapshot_id if is_sup else snap_e,
                    "sequence_number": seq_e,
                    "file_sequence_number": e.get(
                        "file_sequence_number", seq_e
                    ),
                    "data_file": df_,
                }
            )
        )
    w.close()
    row = {
        "manifest_path": new_path,
        "manifest_length": os.path.getsize(new_path),
        "partition_spec_id": prior_row.get("partition_spec_id", 0),
        "content": 1,
        "sequence_number": prior_row.get("sequence_number", 0),
        "min_sequence_number": (
            min_seq
            if min_seq is not None
            else prior_row.get("min_sequence_number", 0)
        ),
        "added_snapshot_id": snapshot_id,
        "added_files_count": 0,
        "existing_files_count": kept,
        "deleted_files_count": flipped,
        "added_rows_count": 0,
        "existing_rows_count": kept_rows,
        "deleted_rows_count": flipped_rows,
    }
    return new_path, row


def _write_delete_artifacts(
    spark: SparkSession,
    table_path: str,
    md: dict,
    pairs: list[tuple[str, int]],
    snapshot_id: int,
    seq: int,
    pos_deletes: list[dict] | None = None,
    _abs=None,
) -> tuple[list[dict], list[str], set[str]]:
    """Delete-side artifacts for one DML commit, format-versioned:

    * v2 — the spec's position-delete parquet + manifest
      (``_write_pos_delete_manifest``).
    * v3 — PUFFIN deletion vectors (v3 forbids new position-delete
      files): one puffin file holding a ``deletion-vector-v1`` blob
      per target data file, each MERGED with the file's existing DV
      (the spec's one-DV-per-file invariant), the superseded DV
      entries flipped to DELETED via manifest rewrite.

    Returns (manifest-list rows, rollback paths, prior-manifest paths
    to skip when re-listing)."""
    if md.get("format-version") != 3:
        row, rollback = _write_pos_delete_manifest(
            spark, table_path, md, pairs, snapshot_id, seq
        )
        return [row], rollback, set()

    from .puffin import dv_positions_of_entry, write_puffin_dv_file

    kills: dict[str, set[int]] = {}
    for target, pos in pairs:
        kills.setdefault(target, set()).add(int(pos))
    abs_of = {}
    if _abs is not None:
        abs_of = {t: os.path.abspath(_abs(t)) for t in kills}
    superseded_by_manifest: dict[str, set[tuple[str, str]]] = {}
    for f in pos_deletes or []:
        if not f.get("__is_dv"):
            continue  # v2-legacy position deletes stay live (readers
            # union them; the DV already contains their positions)
        ref = f.get("referenced_data_file")
        ref_abs = os.path.abspath(_abs(ref)) if _abs else ref
        hit = [
            t
            for t in kills
            if abs_of.get(t, t) == ref_abs or t == ref
        ]
        if not hit:
            continue
        # merge the old DV into the new one (spec requirement)
        kills[hit[0]].update(
            int(x) for x in dv_positions_of_entry(table_path, f)
        )
        superseded_by_manifest.setdefault(
            f.get("__manifest"), set()
        ).add((f.get("file_path"), ref))
    # v2-legacy pos-delete parquet for the same files: merge their
    # positions too (the new DV supersedes; the parquet entries stay
    # live and readers union — idempotent because DV ⊇ parquet)
    if _abs is not None:
        import pyarrow.parquet as _pqq

        abs2target = {v: k for k, v in abs_of.items()}
        for f in pos_deletes or []:
            if f.get("__is_dv"):
                continue
            t = _pqq.read_table(
                _abs(f["file_path"]), columns=["file_path", "pos"]
            )
            for tgt, pos in zip(
                t.column("file_path").to_pylist(),
                t.column("pos").to_pylist(),
            ):
                tgt_abs = os.path.abspath(_abs(tgt))
                if tgt_abs in abs2target:
                    kills[abs2target[tgt_abs]].add(int(pos))

    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    puffin = os.path.join(
        data_dir, f"dv-{snapshot_id}-{_uuid.uuid4().hex}.puffin"
    )
    metas = write_puffin_dv_file(
        puffin,
        [(t, sorted(kills[t])) for t in sorted(kills)],
        snapshot_id,
        seq,
    )
    meta_dir = os.path.join(table_path, "metadata")
    mpath = os.path.join(meta_dir, f"{_uuid.uuid4().hex}-dv0.avro")
    w = _AvroWriter(
        spark,
        _entry_avro_schema([], v3_fields=True),
        mpath,
        {
            "schema": json.dumps(_current_schema(md)),
            "partition-spec": "[]",
            "partition-spec-id": str(md.get("default-spec-id", 0)),
            "format-version": "2",
            "content": "deletes",
        },
    )
    n = 0
    for m in metas:
        n += m["cardinality"]
        w.append_dict(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,
                    "file_path": puffin,
                    "file_format": "PUFFIN",
                    "partition": {},
                    "record_count": m["cardinality"],
                    "file_size_in_bytes": os.path.getsize(puffin),
                    "referenced_data_file": m["referenced_data_file"],
                    "content_offset": m["content_offset"],
                    "content_size_in_bytes": m[
                        "content_size_in_bytes"
                    ],
                },
            }
        )
    w.close()
    rows = [
        {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": md.get("default-spec-id", 0),
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(metas),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": n,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    rollback = [puffin, mpath]
    skip: set[str] = set()
    if superseded_by_manifest:
        # the prior manifest-list rows give inheritance defaults
        snaps = {
            sn["snapshot-id"]: sn for sn in md.get("snapshots", [])
        }
        parent = md.get("current-snapshot-id")
        prior_rows: dict[str, dict] = {}
        if parent in snaps:
            from .iceberg_reader import avro_records

            mlist = snaps[parent]["manifest-list"]
            if not os.path.isabs(mlist):
                mlist = os.path.join(table_path, mlist)
            for r in avro_records(spark, mlist)[0]:
                prior_rows[r["manifest_path"]] = r
        for old_mpath, keys in sorted(superseded_by_manifest.items()):
            new_mp, row = _rewrite_manifest_drop_dvs(
                spark, table_path, old_mpath, keys,
                prior_rows.get(old_mpath, {}), snapshot_id,
            )
            rows.append(row)
            rollback.append(new_mp)
            skip.add(old_mpath)
    return rows, rollback, skip


def _ensure_unpartitioned_spec(md: dict) -> int:
    """Spec id of an unpartitioned spec, appending one to the
    metadata when the table has none (propagated by
    _commit_snapshot's metadata copy) — the spec's GLOBAL
    equality-delete route for partitioned tables: delete files
    stored under an unpartitioned spec apply to all data."""
    specs = md.setdefault("partition-specs", [])
    for sp in specs:
        if not sp.get("fields"):
            return int(sp.get("spec-id", 0))
    sid = max(
        (int(sp.get("spec-id", 0)) for sp in specs), default=-1
    ) + 1
    specs.append({"spec-id": sid, "fields": []})
    return sid


def _eq_scoped_part_fields(
    md: dict, part_fields: list[dict], equality_columns: list[str]
) -> list[dict] | None:
    """The table's partition fields when EVERY one's source column is
    among the equality columns — the condition under which each key
    row determines its partition tuple exactly, so the delete files
    can be PARTITION-SCOPED (Flink's upsert-sink shape) instead of
    taking the spec's global unpartitioned route.  None otherwise.

    Scoping additionally requires the metadata to carry ONLY the
    default spec: per the spec a partitioned delete applies to data
    files of the SAME spec + partition value, so after partition
    evolution a delete scoped to the new spec would silently skip
    matching rows in live files still stored under an older spec —
    the global route is the correct (conservative) choice there.
    Metadata-only check: inspecting which specs actually hold live
    files would cost an O(files) manifest walk on an otherwise
    O(keys) verb."""
    if not part_fields:
        return None
    specs = md.get("partition-specs", [])
    if len(specs) != 1:
        return None  # evolution (or a prior global-route
        # unpartitioned spec): older-spec files may be live
    eq = set(equality_columns)
    for pf in part_fields:
        if pf.get("transform") == "void":
            continue  # void is constant-null; no source needed
        if pf["_src_name"] not in eq:
            return None
    return part_fields


def _stage_eq_delete_files(
    spark: SparkSession,
    md: dict,
    schema_fields: list[dict],
    keys: DataFrame,
    equality_columns: list[str],
    table_path: str,
    snapshot_id: int,
    part_fields: list[dict] | None = None,
) -> tuple[list[tuple[str, int, dict]], int]:
    """Write the deduped key rows as field-id-stamped equality-delete
    parquet under ``data/``; returns ([(abs path, rows, raw partition
    values)], total).  With ``part_fields`` the keys stage
    PARTITIONED by hidden ``__part_`` transform twins (the same
    staging the data path uses), one file set per partition tuple —
    the raw values feed the manifest's typed partition structs."""
    from urllib.parse import unquote as _unq

    from data_lakehouse_project_spark.functions.ice_transforms import (
        transform_col,
    )

    spark_schema = _spark_schema(spark, md)
    ids_of = {f["name"]: int(f["id"]) for f in schema_fields}
    staged = keys.select(
        *[
            F.col(c).cast(spark_schema[c].dataType).alias(
                c, metadata={"parquet.field.id": ids_of[c]}
            )
            for c in equality_columns
        ]
    ).dropDuplicates()
    if part_fields:
        staged = staged.select(
            "*",
            *[
                transform_col(
                    pf.get("transform", "identity"),
                    F.col(pf["_src_name"]),
                    pf["_src_type"],
                )
                .cast("string")
                .alias(f"__part_{pf['name']}")
                for pf in part_fields
            ],
        )
    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    tmp = os.path.join(table_path, f".tmp-eqdel-{_uuid.uuid4()}")
    files: list[tuple[str, int, dict]] = []
    n_rows = 0
    try:
        spark.conf.set(
            "spark.sql.parquet.fieldId.write.enabled", "true"
        )
        w = staged.write.mode("overwrite")
        if part_fields:
            w = w.partitionBy(
                *[f"__part_{pf['name']}" for pf in part_fields]
            )
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
                raw_pv: dict[str, str | None] = {}
                for seg in os.path.relpath(src, tmp).split(os.sep)[:-1]:
                    k, _, v = seg.partition("=")
                    raw_pv[_unq(k)[len("__part_"):]] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else _unq(v)
                    )
                st = _file_stats(src)
                if st.get("num_rows", 0) == 0:
                    continue
                dst = os.path.join(
                    data_dir,
                    f"eq-deletes-{snapshot_id}-"
                    f"{_uuid.uuid4().hex}.parquet",
                )
                os.replace(src, dst)
                files.append((dst, st.get("num_rows", 0), raw_pv))
                n_rows += st.get("num_rows", 0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return files, n_rows


def _write_eq_delete_manifest(
    spark: SparkSession,
    md: dict,
    schema_fields: list[dict],
    files: list[tuple[str, int, dict]],
    equality_columns: list[str],
    table_path: str,
    snapshot_id: int,
    seq: int,
    spec_id: int | None = None,
    part_fields: list[dict] | None = None,
) -> dict:
    """One delete manifest (content=1) of ADDED equality-delete
    entries; returns its manifest-list row.  With ``part_fields`` the
    manifest declares the TABLE's spec and each entry carries its
    typed partition tuple — the spec then scopes each delete file to
    its own partition (readers skip delete application entirely for
    untouched partitions); without, the unpartitioned GLOBAL shape."""
    ids_of = {f["name"]: int(f["id"]) for f in schema_fields}
    eq_ids = sorted(ids_of[c] for c in equality_columns)
    meta_dir = os.path.join(table_path, "metadata")
    delete_manifest = os.path.join(
        meta_dir, f"{_uuid.uuid4().hex}-eqd.avro"
    )
    if spec_id is None:
        spec_id = md.get("default-spec-id", 0)
    wd = _AvroWriter(
        spark,
        _entry_avro_schema(part_fields or []),
        delete_manifest,
        {
            "schema": json.dumps(_current_schema(md)),
            "partition-spec": json.dumps(
                [
                    {k: v for k, v in pf.items()
                     if not k.startswith("_")}
                    for pf in (part_fields or [])
                ]
            ),
            "partition-spec-id": str(spec_id),
            "format-version": "2",
            "content": "deletes",
        },
    )
    n_rows = 0
    for dst, rc, raw_pv in files:
        n_rows += rc
        part_vals = {
            pf["name"]: _staged_partition_value(
                pf, raw_pv.get(pf["name"])
            )
            for pf in (part_fields or [])
        }
        wd.append_dict(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 2,  # equality deletes
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "partition": part_vals,
                    "record_count": rc,
                    "file_size_in_bytes": os.path.getsize(dst),
                    "equality_ids": eq_ids,
                },
            }
        )
    wd.close()
    return {
        "manifest_path": delete_manifest,
        "manifest_length": os.path.getsize(delete_manifest),
        "partition_spec_id": spec_id,
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(files),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }


def write_equality_deletes(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    equality_columns: list[str],
) -> dict:
    """EQUALITY-delete commit on a foreign Iceberg v2 table — the
    streaming-CDC delete shape (Flink's upsert sink): one ``delete``
    snapshot whose equality-delete file(s) carry the KEY ROWS
    (``keys`` projected to ``equality_columns``, declared-type casts,
    parquet field ids stamped) and whose manifest entries carry the
    spec's ``equality_ids``.  Per the sequence rule the deletes apply
    to every data file with a STRICTLY smaller data sequence number —
    matching rows disappear WITHOUT scanning or rewriting any data
    (O(keys) total cost); rows appended AFTER this snapshot are
    untouched even if they match.

    Partitioned tables: when EVERY partition field's source column
    is among ``equality_columns`` (the common CDC shape — Flink's
    upsert sink does the same), the delete files stage PER PARTITION
    and the manifest carries the table's spec with typed partition
    tuples, so per the spec each delete file scopes to its own
    partition and readers skip delete application entirely for
    untouched partitions.  Otherwise the spec's GLOBAL route: the
    delete manifest declares an UNPARTITIONED spec (appended to the
    metadata in this same commit when absent) and applies to all
    data.  The snapshot reader applies both shapes exactly
    (null-safe anti-join, spec-scoped); the changelog and stream
    REPLAY them via ``iceberg_reader.equality_kill_positions``.
    Returns ``{"snapshot_id", "delete_files", "key_rows",
    "metadata"}``."""
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    if md.get("format-version") not in (2, 3):
        raise UnsupportedIcebergFeature(
            f"format-version {md.get('format-version')} equality "
            "deletes are not supported (v2/v3 only)"
        )
    schema_fields = _current_schema(md)["fields"]
    part_fields = _resolve_part_fields(md, schema_fields)
    # PARTITION-SCOPED route when every partition field's source is
    # among the keys (each key row determines its partition tuple):
    # delete files stage per partition and the manifest carries the
    # table's spec, so readers skip untouched partitions.  Otherwise
    # the spec's GLOBAL route: the delete manifest declares an
    # UNPARTITIONED spec (added in this same commit when absent).
    eq_part_fields = _eq_scoped_part_fields(
        md, part_fields, equality_columns
    )
    eq_spec_id = (
        md.get("default-spec-id", 0)
        if eq_part_fields or not part_fields
        else _ensure_unpartitioned_spec(md)
    )
    spark_schema = _spark_schema(spark, md)
    unknown = [c for c in equality_columns if c not in spark_schema.names]
    if not equality_columns or unknown:
        raise ValueError(
            f"equality_columns must name table columns; unknown: "
            f"{unknown}"
        )
    missing = [c for c in equality_columns if c not in keys.columns]
    if missing:
        raise ValueError(f"keys is missing columns {missing}")
    ts = int(time.time() * 1000)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snap_ids = [s["snapshot-id"] for s in md.get("snapshots", [])]
    snapshot_id = (max(snap_ids) + 1) if snap_ids else 1
    files, n_rows = _stage_eq_delete_files(
        spark, md, schema_fields, keys, equality_columns, table_path,
        snapshot_id, part_fields=eq_part_fields,
    )
    if not files:
        return {"snapshot_id": None, "delete_files": 0,
                "key_rows": 0, "metadata": md_file}
    manifest_row = _write_eq_delete_manifest(
        spark, md, schema_fields, files, equality_columns, table_path,
        snapshot_id, seq, spec_id=eq_spec_id,
        part_fields=eq_part_fields,
    )
    new_path = _commit_snapshot(
        spark,
        table_path,
        md,
        md_file,
        manifest_row=[manifest_row],
        snapshot_id=snapshot_id,
        seq=seq,
        ts=ts,
        operation="delete",
        summary_extra={"equality-deletes": str(n_rows)},
        rollback_paths=[dst for dst, *_ in files]
        + [manifest_row["manifest_path"]],
    )
    return {
        "snapshot_id": snapshot_id,
        "delete_files": len(files),
        "key_rows": n_rows,
        "metadata": new_path,
    }


def upsert_into_iceberg(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    key_columns: list[str],
    delete_keys: DataFrame | None = None,
) -> dict:
    """Keyed UPSERT on a foreign Iceberg v2 table — the streaming-CDC
    commit shape (Flink's upsert sink): ONE snapshot carrying an
    EQUALITY-delete manifest (the source's key rows) plus a data
    manifest (the source rows appended).  Both share the snapshot's
    data sequence number, so per the spec's strictly-older rule the
    deletes kill every PRIOR row with a matching key while the rows
    appended in this same snapshot survive — matching rows are
    replaced and new keys insert, at O(source) cost with no scan or
    rewrite of existing data files.

    The CDC surfaces replay it exactly: the snapshot reader applies
    the equality deletes by sequence, and the changelog / streaming
    ``readChangeFeed`` reduce them to position kills
    (``iceberg_reader.equality_kill_positions``), emitting a
    ``delete`` pre-image + ``insert`` post-image per replaced key.

    Partitioned tables work: data files stage under the table's spec
    (hidden transforms included); the delete manifest is
    PARTITION-SCOPED when the keys cover every partition source
    (per-partition delete files + typed manifest tuples — readers
    skip untouched partitions), else it takes the GLOBAL
    unpartitioned-spec route.  ``source`` must carry every
    table column and at most one row per key (enforced — duplicate
    keys in one batch would make the surviving row undefined).

    ``delete_keys`` (optional, key columns only) are keys to KILL
    WITHOUT re-inserting — the full CDC-batch shape (a changelog
    stream's -D rows): they join the same equality-delete manifest,
    in the same ONE snapshot; a key may not appear in both frames.
    Returns
    ``{"snapshot_id", "rows_upserted", "keys_deleted",
    "delete_files", "data_files", "metadata"}``."""
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    if md.get("format-version") not in (2, 3):
        raise UnsupportedIcebergFeature(
            f"format-version {md.get('format-version')} upsert is "
            "not supported (v2/v3 only)"
        )
    schema_fields = _current_schema(md)["fields"]
    part_fields = _resolve_part_fields(md, schema_fields)
    # partitioned tables: the data manifest keeps the default spec
    # (transform staging included); the delete manifest is
    # PARTITION-SCOPED when the keys cover every partition source
    # (Flink's upsert-sink shape — readers skip untouched
    # partitions), else the spec's GLOBAL unpartitioned-spec route
    eq_part_fields = _eq_scoped_part_fields(
        md, part_fields, key_columns
    )
    eq_spec_id = (
        md.get("default-spec-id", 0)
        if eq_part_fields or not part_fields
        else _ensure_unpartitioned_spec(md)
    )
    spark_schema = _spark_schema(spark, md)
    unknown = [c for c in key_columns if c not in spark_schema.names]
    if not key_columns or unknown:
        raise ValueError(
            f"key_columns must name table columns; unknown: {unknown}"
        )
    missing = [c for c in spark_schema.names if c not in source.columns]
    if missing:
        raise ValueError(f"source is missing table columns {missing}")
    from pyspark.sql import functions as _F

    key_frames = source.select(*key_columns)
    n_del_keys = 0
    if delete_keys is not None:
        missing_dk = [
            c for c in key_columns if c not in delete_keys.columns
        ]
        if missing_dk:
            raise ValueError(
                f"delete_keys is missing key columns {missing_dk}"
            )
        dk = delete_keys.select(*key_columns).dropDuplicates()
        n_del_keys = dk.count()
        both = (
            source.select(*key_columns)
            .join(dk, key_columns, "inner")
            .limit(1)
            .collect()
        )
        if both:
            raise ValueError(
                f"key {tuple(both[0][c] for c in key_columns)} is in "
                "both source and delete_keys — a key may only be "
                "upserted OR deleted in one batch"
            )
        key_frames = key_frames.unionByName(dk)
    dup = (
        source.groupBy(*key_columns)
        .count()
        .where(_F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"source has duplicate keys (e.g. "
            f"{tuple(dup[0][c] for c in key_columns)}); dedupe to one "
            "row per key before upserting"
        )

    ts = int(time.time() * 1000)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snap_ids = [s["snapshot-id"] for s in md.get("snapshots", [])]
    snapshot_id = (max(snap_ids) + 1) if snap_ids else 1

    del_files, n_keys = _stage_eq_delete_files(
        spark, md, schema_fields, key_frames,
        key_columns, table_path, snapshot_id,
        part_fields=eq_part_fields,
    )
    data_files, n_rows = _stage_iceberg_data(
        spark, source, md, schema_fields, part_fields, table_path,
        "upsert",
    )
    if not data_files and not del_files:
        return {"snapshot_id": None, "rows_upserted": 0,
                "keys_deleted": 0, "delete_files": 0,
                "data_files": 0, "metadata": md_file}
    rows: list[dict] = []
    rollback: list[str] = [p for p, *_ in data_files] + [
        p for p, *_ in del_files
    ]
    frb = (
        int(md.get("next-row-id", 0))
        if md.get("format-version") == 3
        else None
    )
    if data_files:
        data_manifest = _write_added_manifest(
            spark, md, schema_fields, part_fields, data_files,
            snapshot_id, seq, table_path, first_row_base=frb,
        )
        rollback.append(data_manifest)
        rows.append(
            {
                "manifest_path": data_manifest,
                "manifest_length": os.path.getsize(data_manifest),
                "partition_spec_id": md.get("default-spec-id", 0),
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(data_files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "first_row_id": frb,
            }
        )
    if del_files:
        del_row = _write_eq_delete_manifest(
            spark, md, schema_fields, del_files, key_columns,
            table_path, snapshot_id, seq, spec_id=eq_spec_id,
            part_fields=eq_part_fields,
        )
        rollback.append(del_row["manifest_path"])
        rows.append(del_row)
    new_path = _commit_snapshot(
        spark,
        table_path,
        md,
        md_file,
        manifest_row=rows,
        snapshot_id=snapshot_id,
        seq=seq,
        ts=ts,
        operation="overwrite",
        summary_extra={
            "added-records": str(n_rows),
            "equality-deletes": str(n_keys),
        },
        rollback_paths=rollback,
        first_row_id=frb if data_files else None,
        next_row_id=(
            None if frb is None or not data_files else frb + n_rows
        ),
    )
    return {
        "snapshot_id": snapshot_id,
        "rows_upserted": n_rows,
        "keys_deleted": n_del_keys,
        "delete_files": len(del_files),
        "data_files": len(data_files),
        "metadata": new_path,
    }


def upgrade_iceberg_to_v3(
    spark: SparkSession, table_path: str
) -> dict:
    """Upgrade a foreign Iceberg v2 table to FORMAT VERSION 3 with
    row lineage initialized: every live data manifest is rewritten
    with its entries re-emitted as EXISTING (original snapshot /
    sequence attribution, spec rule for rewrites) plus an explicit
    ``first_row_id`` assigned sequentially in manifest-list order —
    the deterministic assignment the spec's inheritance would
    produce — committed as ONE ``replace`` snapshot (no logical data
    change; streams and incremental scans skip it).  The new
    metadata carries ``format-version: 3`` and ``next-row-id``;
    subsequent appends/upserts/DML continue the counter and emit
    puffin deletion vectors instead of position-delete parquet.
    Returns ``{"snapshot_id", "rows_assigned", "metadata"}``."""
    from .iceberg_reader import avro_records

    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    if md.get("format-version") != 2:
        raise UnsupportedIcebergFeature(
            f"format-version {md.get('format-version')}: only v2 "
            "tables upgrade to v3"
        )
    snaps = {sn["snapshot-id"]: sn for sn in md.get("snapshots", [])}
    parent = md.get("current-snapshot-id")
    if parent not in snaps:
        # empty table: flip the version and initialize the counter
        ts = int(time.time() * 1000)
        md2 = dict(md)
        md2["format-version"] = 3
        md2["next-row-id"] = 0
        md2["last-updated-ms"] = ts
        cur_v = int(os.path.basename(md_file)[1:].split(".")[0])
        meta_dir = os.path.join(table_path, "metadata")
        new_path = os.path.join(
            meta_dir, f"v{cur_v + 1}.metadata.json"
        )
        with open(new_path, "x") as fh:
            json.dump(md2, fh)
        with open(
            os.path.join(meta_dir, "version-hint.text"), "w"
        ) as fh:
            fh.write(str(cur_v + 1))
        return {"snapshot_id": None, "rows_assigned": 0,
                "metadata": new_path}

    mlist = snaps[parent]["manifest-list"]
    if not os.path.isabs(mlist):
        mlist = os.path.join(table_path, mlist)
    prior_rows, _ = avro_records(spark, mlist)
    ts = int(time.time() * 1000)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snapshot_id = max(snaps) + 1
    base = 0
    rows_new: list[dict] = []
    rollback: list[str] = []
    skip: set[str] = set()
    for prow in prior_rows:
        if prow.get("content", 0) != 0:
            continue  # delete manifests re-list untouched
        mpath = prow["manifest_path"]
        if not os.path.isabs(mpath):
            mpath = os.path.join(table_path, mpath)
        schema_json, meta = _avro_header(mpath)
        # widen the entry schema with the v3 lineage field when the
        # source manifest predates it
        sj = json.loads(schema_json)
        for fld in sj.get("fields", []):
            if fld.get("name") != "data_file":
                continue
            dff = fld["type"].get("fields", [])
            if not any(x.get("name") == "first_row_id" for x in dff):
                dff.append(
                    {
                        "name": "first_row_id",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 142,
                    }
                )
        entries, _ = avro_records(spark, mpath)
        new_mp = os.path.join(
            table_path, "metadata", f"{_uuid.uuid4().hex}-v3u.avro"
        )
        w = _AvroWriter(
            spark,
            json.dumps(sj),
            new_mp,
            {
                k: v.decode()
                for k, v in meta.items()
                if not k.startswith("avro.")
            },
        )
        manifest_base = base
        kept = kept_rows = 0
        min_seq = None
        for e in entries:
            if e.get("status") == 2:
                continue
            df_ = dict(e["data_file"])
            seq_e = e.get("sequence_number")
            if seq_e is None:
                seq_e = prow.get("sequence_number")
            snap_e = e.get("snapshot_id")
            if snap_e is None:
                snap_e = prow.get("added_snapshot_id")
            df_["first_row_id"] = base
            base += int(df_.get("record_count") or 0)
            kept += 1
            kept_rows += int(df_.get("record_count") or 0)
            if seq_e is not None:
                min_seq = (
                    seq_e if min_seq is None else min(min_seq, seq_e)
                )
            w.append_dict(
                _sanitize_avro_values(
                    {
                        "status": 0,  # EXISTING, explicit attribution
                        "snapshot_id": snap_e,
                        "sequence_number": seq_e,
                        "file_sequence_number": e.get(
                            "file_sequence_number", seq_e
                        ),
                        "data_file": df_,
                    }
                )
            )
        w.close()
        rollback.append(new_mp)
        skip.add(prow["manifest_path"])
        rows_new.append(
            {
                "manifest_path": new_mp,
                "manifest_length": os.path.getsize(new_mp),
                "partition_spec_id": prow.get("partition_spec_id", 0),
                "content": 0,
                "sequence_number": prow.get("sequence_number", 0),
                "min_sequence_number": (
                    min_seq
                    if min_seq is not None
                    else prow.get("min_sequence_number", 0)
                ),
                "added_snapshot_id": snapshot_id,
                "added_files_count": 0,
                "existing_files_count": kept,
                "deleted_files_count": 0,
                "added_rows_count": 0,
                "existing_rows_count": kept_rows,
                "deleted_rows_count": 0,
                "first_row_id": manifest_base,
            }
        )
    md = dict(md)
    md["format-version"] = 3
    new_path = _commit_snapshot(
        spark,
        table_path,
        md,
        md_file,
        manifest_row=rows_new,
        snapshot_id=snapshot_id,
        seq=seq,
        ts=ts,
        operation="replace",
        summary_extra={"upgraded-to": "format-version 3"},
        rollback_paths=rollback,
        skip_manifests=skip,
        first_row_id=0,
        next_row_id=base,
    )
    return {
        "snapshot_id": snapshot_id,
        "rows_assigned": base,
        "metadata": new_path,
    }


def delete_from_iceberg(
    spark: SparkSession, table_path: str, predicate: str
) -> dict:
    """Row-level DELETE from a foreign Iceberg table via the spec's
    merge-on-read route: no data file is rewritten — one new
    ``delete`` snapshot adds a delete manifest.  v2 tables get the
    sorted position-delete parquet; v3 tables get PUFFIN deletion
    vectors (one per target file, MERGED with any existing DV — the
    spec's one-DV-per-file invariant — the superseded entry flipped
    to DELETED by manifest rewrite).  Prior delete files stay
    active (overlapping deletes are spec-legal; readers union them),
    so nothing is merged or rewritten.

    The matched set comes from a ``_metadata.row_index`` scan of the
    LIVE data files with identity-partition constants attached (so
    partition-column predicates work) and EXISTING deletes applied
    (already-deleted rows never re-match).  Returns
    ``{"snapshot_id", "rows_deleted", "metadata"}``."""
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    if md.get("format-version") not in (2, 3):
        raise UnsupportedIcebergFeature(
            f"format-version {md.get('format-version')} row-level "
            "deletes are not supported (v2/v3 only)"
        )
    scan = _iceberg_keyed_scan(spark, table_path, md)
    if scan is None:
        return {"snapshot_id": None, "rows_deleted": 0,
                "metadata": md_file}
    df, live, pos_deletes, _abs = scan
    # manifests spell each path their own way — map the decoded scan
    # key back to the manifest string so the delete file matches
    abs2manifest = {
        os.path.abspath(_abs(f["file_path"])): f["file_path"]
        for f in live
    }
    matched = (
        df.where(F.expr(predicate))
        .select("__dfi_path", "__dfi_pos")
        .collect()
    )
    if not matched:
        return {"snapshot_id": None, "rows_deleted": 0,
                "metadata": md_file}
    pairs = sorted(
        (abs2manifest[r["__dfi_path"]], int(r["__dfi_pos"]))
        for r in matched
    )

    ts = int(time.time() * 1000)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snap_ids = [s["snapshot-id"] for s in md.get("snapshots", [])]
    snapshot_id = (max(snap_ids) + 1) if snap_ids else 1
    del_rows, rollback, skip = _write_delete_artifacts(
        spark, table_path, md, pairs, snapshot_id, seq,
        pos_deletes=pos_deletes, _abs=_abs,
    )
    new_path = _commit_snapshot(
        spark,
        table_path,
        md,
        md_file,
        manifest_row=del_rows,
        snapshot_id=snapshot_id,
        seq=seq,
        ts=ts,
        operation="delete",
        summary_extra={"deleted-records": str(len(pairs))},
        rollback_paths=rollback,
        skip_manifests=skip,
    )
    return {
        "snapshot_id": snapshot_id,
        "rows_deleted": len(pairs),
        "metadata": new_path,
    }


def rewrite_data_files(
    spark: SparkSession,
    table_path: str,
    target_size_bytes: int = 128 << 20,
) -> dict:
    """Iceberg compaction (``rewrite_data_files`` +
    remove-dangling-deletes): partitions holding more than one data
    file — and every file targeted by a position delete — are
    rewritten into ~``target_size_bytes`` files with the deletes
    APPLIED, committed as ONE ``replace`` snapshot (streams and
    incremental scans skip it; time travel keeps the old snapshots
    until ``expire_iceberg_snapshots``).

    The new snapshot's manifest list holds a single data manifest:
    untouched files re-emit as EXISTING with their ORIGINAL
    snapshot/sequence attribution, compacted-away files as DELETED,
    and the new files as ADDED at the new sequence number; all prior
    delete manifests drop (every target was compacted).  EQUALITY
    deletes compact too (round 11): they reduce to exact per-file
    position kills under the spec's sequence rule
    (``equality_kill_positions`` — the changelog's machinery), every
    file with a killed row joins the rewrite set, and dropping the
    delete manifests is then exact.  Refusals: live files under more
    than one partition spec (the single output manifest declares one
    spec), non-v2 tables (v3 compaction must preserve row lineage)."""
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    if md.get("format-version") != 2:
        raise UnsupportedIcebergFeature(
            f"format-version {md.get('format-version')} rewrite is "
            "not supported: compaction must PRESERVE per-row lineage "
            "ids (v3 spec), which requires materializing _row_id into "
            "the rewritten files — not implemented; v2 only"
        )
    from .iceberg_reader import (
        _coerce_partition_value,
        _field_names_by_id,
        _file_has_field_ids,
        _identity_partition_sources,
        _spark_schema,
        iceberg_live_files,
    )

    _, live, pos_deletes, eq_deletes = iceberg_live_files(
        spark, table_path
    )
    if not live:
        return {"snapshot_id": None, "files_rewritten": 0}
    default_spec = md.get("default-spec-id", 0)
    if any(
        f.get("__spec_id") not in (None, default_spec) for f in live
    ):
        raise UnsupportedIcebergFeature(
            "live files span multiple partition specs; the single "
            "output manifest declares one spec — refusing"
        )

    def _abs(p: str) -> str:
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    # group by the manifest partition struct; pull in every group a
    # position delete touches, so ALL delete manifests can drop
    def _gkey(f: dict) -> tuple:
        return tuple(sorted((f.get("partition") or {}).items()))

    groups: dict[tuple, list[dict]] = {}
    for f in live:
        groups.setdefault(_gkey(f), []).append(f)
    del_targets: set[str] = set()
    if pos_deletes:
        import pyarrow.parquet as pq

        for pf in pos_deletes:
            tbl = pq.read_table(
                _abs(pf["file_path"]), columns=["file_path"]
            )
            del_targets |= {
                os.path.abspath(_abs(p))
                for p in tbl.column("file_path").to_pylist()
            }
    # equality deletes reduce to EXACT per-file position kills under
    # the spec's strictly-older sequence rule (the changelog's
    # machinery, partition-scoped, with identity-constant
    # substitution); every file with a killed row must be rewritten,
    # after which dropping every delete manifest is exact
    eq_kills: dict[str, list[int]] = {}
    if eq_deletes:
        from .iceberg_reader import (
            _eq_partition_key,
            _identity_sources_by_spec,
            equality_kill_positions,
        )

        id2name_eq = _field_names_by_id(md)
        n2id_eq = {v: k for k, v in id2name_eq.items()}
        spec_part_eq = {
            int(sp.get("spec-id", 0)): bool(sp.get("fields"))
            for sp in md.get("partition-specs", [])
        }
        eq_groups: dict[tuple, list[tuple]] = {}
        for d in eq_deletes:
            dspec = int(d.get("__spec_id") or 0)
            eq_groups.setdefault(
                tuple(
                    sorted(int(i) for i in d.get("equality_ids"))
                ),
                [],
            ).append(
                (
                    _abs(d["file_path"]),
                    int(d["__seq"]) if d.get("__seq") is not None
                    else None,
                    _eq_partition_key(dspec, d.get("partition"))
                    if spec_part_eq.get(dspec)
                    else None,
                )
            )
        sch_eq = _spark_schema(spark, md)
        ident_by_spec_eq = _identity_sources_by_spec(md)
        default_ident_eq = _identity_partition_sources(md)
        live_seq_eq: dict[str, int | None] = {}
        live_pkey_eq: dict[str, str] = {}
        consts_eq: dict[str, dict] = {}
        for f in live:
            ap = os.path.abspath(_abs(f["file_path"]))
            live_seq_eq[ap] = (
                int(f["__seq"]) if f.get("__seq") is not None
                else None
            )
            live_pkey_eq[ap] = _eq_partition_key(
                f.get("__spec_id"), f.get("partition")
            )
            ident_m = ident_by_spec_eq.get(
                f.get("__spec_id"), default_ident_eq
            )
            part_m = f.get("partition") or {}
            cvals = {}
            for col in sch_eq.names:
                pfname = ident_m.get(n2id_eq.get(col))
                if pfname is None:
                    continue
                cvals[col] = _coerce_partition_value(
                    part_m.get(pfname), sch_eq[col].dataType
                )
            if cvals:
                consts_eq[ap] = cvals
        eq_kills = equality_kill_positions(
            sorted(eq_groups.items()),
            live_seq_eq,
            {},
            id2name_eq,
            consts=consts_eq,
            live_pkey=live_pkey_eq,
        )
        del_targets |= set(eq_kills)

    todo_keys = {
        k
        for k, fs in groups.items()
        if len(fs) > 1
        or any(
            os.path.abspath(_abs(f["file_path"])) in del_targets
            for f in fs
        )
    }
    if not todo_keys and not pos_deletes and not eq_kills:
        return {"snapshot_id": None, "files_rewritten": 0}
    # a delete may target a file in a 1-file group: pull those in too
    for k, fs in groups.items():
        if any(
            os.path.abspath(_abs(f["file_path"])) in del_targets
            for f in fs
        ):
            todo_keys.add(k)

    schema_fields = _current_schema(md)["fields"]
    ident = _identity_partition_sources(md)  # source fid -> part name
    name_of = _field_names_by_id(md)
    ids_of = {f["name"]: int(f["id"]) for f in schema_fields}
    spark_schema = _spark_schema(spark, md)
    part_fields = _resolve_part_fields(md, schema_fields)

    ts = int(time.time() * 1000)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snap_ids = [s["snapshot-id"] for s in md.get("snapshots", [])]
    snapshot_id = (max(snap_ids) + 1) if snap_ids else 1
    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)

    from .delta_reader import _spark_path_key
    from .txnlog import _file_stats

    new_files: list[tuple[str, dict, dict]] = []  # (abs, pv, stats)
    rewritten: list[dict] = []
    for key in sorted(todo_keys, key=str):
        fs = groups[key]
        rewritten.extend(fs)
        paths = [_abs(f["file_path"]) for f in fs]
        scan_schema = spark_schema
        if _file_has_field_ids(paths[0]):
            spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true"
            )
            scan_schema = _spark_schema(spark, md, field_ids=True)
        df = spark.read.schema(scan_schema).parquet(*paths)
        grp_eq_rows = [
            (ap, int(pos))
            for ap in (
                os.path.abspath(p_) for p_ in paths
            )
            for pos in eq_kills.get(ap, ())
        ] if eq_kills else []
        if pos_deletes or grp_eq_rows:
            from pyspark.sql.types import LongType, StringType
            from pyspark.sql.types import StructField, StructType

            df = df.withColumns(
                {
                    "__rw_path": _spark_path_key(),
                    "__rw_pos": F.col("_metadata.row_index"),
                }
            )
            del_schema = StructType(
                [
                    StructField("__rw_path", StringType()),
                    StructField("__rw_pos", LongType()),
                ]
            )
            dels = None
            if pos_deletes:
                pd_schema = StructType(
                    [
                        StructField("file_path", StringType()),
                        StructField("pos", LongType()),
                    ]
                )
                raw = F.regexp_replace(
                    F.col("file_path"), "^file:(//)?", ""
                )
                dels = (
                    spark.read.schema(pd_schema)
                    .parquet(
                        *[_abs(f["file_path"]) for f in pos_deletes]
                    )
                    .select(
                        F.when(raw.startswith("/"), raw)
                        .otherwise(
                            F.concat(F.lit(table_path + "/"), raw)
                        )
                        .alias("__rw_path"),
                        F.col("pos").alias("__rw_pos"),
                    )
                )
            if grp_eq_rows:
                kdf = spark.createDataFrame(grp_eq_rows, del_schema)
                dels = (
                    kdf if dels is None else dels.unionByName(kdf)
                )
            df = df.join(
                dels, ["__rw_path", "__rw_pos"], "left_anti"
            ).drop("__rw_path", "__rw_pos")
        # identity partition columns must exist IN the output files;
        # source files lacking them get the group's constant (hidden
        # transforms never substitute for a source column — the spec's
        # replacement rule is identity-only)
        kv = dict(key)
        for pf in part_fields:
            if pf.get("transform", "identity") != "identity":
                continue
            c = pf["_src_name"]
            val = _coerce_partition_value(
                kv.get(pf["name"]), spark_schema[c].dataType
            )
            df = df.withColumn(
                c,
                F.coalesce(
                    F.col(c),
                    F.lit(val).cast(spark_schema[c].dataType),
                ),
            )
        out = df.select(
            *[
                F.col(f.name).alias(
                    f.name,
                    metadata={"parquet.field.id": ids_of[f.name]},
                )
                for f in spark_schema.fields
            ]
        )
        total = sum(
            int(f.get("file_size_in_bytes") or 0) for f in fs
        )
        n_out = max(1, -(-total // max(target_size_bytes, 1)))
        tmp = os.path.join(table_path, f".tmp-rewrite-{_uuid.uuid4()}")
        try:
            spark.conf.set(
                "spark.sql.parquet.fieldId.write.enabled", "true"
            )
            out.coalesce(int(n_out)).write.mode("overwrite").parquet(
                tmp
            )
            for dirpath, dirnames, filenames in os.walk(tmp):
                dirnames[:] = [
                    d for d in dirnames if not d.startswith(("_", "."))
                ]
                for fn in sorted(filenames):
                    if not fn.endswith(".parquet") or fn.startswith(
                        ("_", ".")
                    ):
                        continue
                    st = _file_stats(os.path.join(dirpath, fn))
                    if st.get("num_rows", 0) == 0:
                        continue
                    dst = os.path.join(
                        data_dir, f"rewrite-{_uuid.uuid4()}.parquet"
                    )
                    os.replace(os.path.join(dirpath, fn), dst)
                    new_files.append((dst, kv, st))
        finally:
            import shutil as _shutil

            _shutil.rmtree(tmp, ignore_errors=True)

    # ---- ONE data manifest: EXISTING + ADDED + DELETED ----
    meta_dir = os.path.join(table_path, "metadata")
    manifest_path = os.path.join(
        meta_dir, f"{_uuid.uuid4().hex}-m0.avro"
    )
    wm = _open_manifest_writer(spark, md, part_fields, manifest_path)

    def _bounds(raw):
        if not raw:
            return None
        out = []
        for kvp in raw:
            v = kvp.get("value")
            if isinstance(v, bytes):
                v = v.decode("latin-1")
            out.append({"key": kvp["key"], "value": v})
        return out or None

    n_existing = n_deleted = 0
    existing_rows = deleted_rows = added_rows = 0
    compacted = {id(f) for g in todo_keys for f in groups[g]}
    for f in live:
        is_rewritten = id(f) in compacted
        entry = {
            "status": 2 if is_rewritten else 0,
            "snapshot_id": (
                snapshot_id if is_rewritten else f.get("__snap_id")
            ),
            "sequence_number": f.get("__seq"),
            "file_sequence_number": f.get("__seq"),
            "data_file": {
                "content": 0,
                "file_path": f["file_path"],
                "file_format": "PARQUET",
                "partition": dict(f.get("partition") or {}),
                "record_count": int(f.get("record_count") or 0),
                "file_size_in_bytes": int(
                    f.get("file_size_in_bytes") or 0
                ),
                "lower_bounds": _bounds(f.get("lower_bounds")),
                "upper_bounds": _bounds(f.get("upper_bounds")),
            },
        }
        wm.append_dict(entry)
        if is_rewritten:
            n_deleted += 1
            deleted_rows += entry["data_file"]["record_count"]
        else:
            n_existing += 1
            existing_rows += entry["data_file"]["record_count"]
    for dst, kv, st in new_files:
        lower: list[dict] = []
        upper: list[dict] = []
        for fld in schema_fields:
            cst = st.get("columns", {}).get(fld["name"])
            if not cst:
                continue
            for kname, dest in (("min", lower), ("max", upper)):
                if kname in cst and cst[kname] is not None:
                    b = _encode_bound(cst[kname], fld["type"])
                    if b is not None:
                        dest.append(
                            {"key": fld["id"],
                             "value": b.decode("latin-1")}
                        )
        added_rows += st.get("num_rows", 0)
        wm.append_dict(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "partition": dict(kv),
                    "record_count": st.get("num_rows", 0),
                    "file_size_in_bytes": os.path.getsize(dst),
                    "lower_bounds": lower or None,
                    "upper_bounds": upper or None,
                },
            }
        )
    wm.close()

    min_seq = min(
        [seq]
        + [
            int(f["__seq"])
            for f in live
            if f.get("__seq") is not None
        ]
    )
    new_path = _commit_snapshot(
        spark,
        table_path,
        md,
        md_file,
        manifest_row={
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": default_spec,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": min_seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(new_files),
            "existing_files_count": n_existing,
            "deleted_files_count": n_deleted,
            "added_rows_count": added_rows,
            "existing_rows_count": existing_rows,
            "deleted_rows_count": deleted_rows,
        },
        snapshot_id=snapshot_id,
        seq=seq,
        ts=ts,
        operation="replace",
        summary_extra={
            "added-data-files": str(len(new_files)),
            "deleted-data-files": str(n_deleted),
        },
        rollback_paths=[dst for dst, _, _ in new_files]
        + [manifest_path],
        include_prior=False,
    )
    return {
        "snapshot_id": snapshot_id,
        "files_rewritten": n_deleted,
        "files_added": len(new_files),
        "metadata": new_path,
    }


def update_from_iceberg(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    set_map: dict[str, str],
) -> dict:
    """Row-level UPDATE of a foreign Iceberg v2 table in ONE
    ``overwrite`` snapshot (the merge-on-read shape): the matched rows
    are position-deleted from their files AND their rewritten versions
    — ``set_map`` column -> SQL expression, cast to the declared types
    — appended as new data files; both the delete manifest and the new
    data manifest commit atomically in the same snapshot's manifest
    list alongside the carried-forward prior manifests.

    Matching uses the same keyed scan as ``delete_from_iceberg``
    (identity-partition constants attached, existing deletes applied).
    Returns ``{"snapshot_id", "rows_updated", "metadata"}``."""
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    if md.get("format-version") not in (2, 3):
        raise UnsupportedIcebergFeature(
            f"format-version {md.get('format-version')} row-level "
            "updates are not supported (v2/v3 only)"
        )
    schema_fields = _current_schema(md)["fields"]
    spark_schema = _spark_schema(spark, md)
    unknown = [c for c in set_map if c not in spark_schema.names]
    if unknown:
        raise ValueError(f"SET references unknown columns {unknown}")
    # partition-moving SETs are fine: the rewrite is delete+insert in
    # the same overwrite snapshot, and _stage_iceberg_data derives
    # each output row's partition from its REWRITTEN values, so moved
    # rows land in (and prune from) their new partition
    part_fields = _resolve_part_fields(md, schema_fields)

    scan = _iceberg_keyed_scan(spark, table_path, md)
    if scan is None:
        return {"snapshot_id": None, "rows_updated": 0,
                "metadata": md_file}
    df, live, pos_deletes, _abs = scan
    matched = df.where(F.expr(predicate))
    abs2manifest = {
        os.path.abspath(_abs(f["file_path"])): f["file_path"]
        for f in live
    }
    hit = matched.select("__dfi_path", "__dfi_pos").collect()
    if not hit:
        return {"snapshot_id": None, "rows_updated": 0,
                "metadata": md_file}
    pairs = sorted(
        (abs2manifest[r["__dfi_path"]], int(r["__dfi_pos"]))
        for r in hit
    )

    new_rows = matched.select(
        *[
            (
                F.expr(set_map[f.name]).cast(f.dataType)
                if f.name in set_map
                else F.col(f.name)
            ).alias(f.name)
            for f in spark_schema.fields
        ]
    )
    ts = int(time.time() * 1000)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snap_ids = [s["snapshot-id"] for s in md.get("snapshots", [])]
    snapshot_id = (max(snap_ids) + 1) if snap_ids else 1
    files, n_rows = _stage_iceberg_data(
        spark, new_rows, md, schema_fields, part_fields, table_path,
        "update",
    )
    frb = (
        int(md.get("next-row-id", 0))
        if md.get("format-version") == 3
        else None
    )
    data_manifest = _write_added_manifest(
        spark, md, schema_fields, part_fields, files, snapshot_id,
        seq, table_path, first_row_base=frb,
    )
    del_rows, del_rollback, skip = _write_delete_artifacts(
        spark, table_path, md, pairs, snapshot_id, seq,
        pos_deletes=pos_deletes, _abs=_abs,
    )
    new_path = _commit_snapshot(
        spark,
        table_path,
        md,
        md_file,
        manifest_row=[
            {
                "manifest_path": data_manifest,
                "manifest_length": os.path.getsize(data_manifest),
                "partition_spec_id": md.get("default-spec-id", 0),
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "first_row_id": frb,
            },
            *del_rows,
        ],
        snapshot_id=snapshot_id,
        seq=seq,
        ts=ts,
        operation="overwrite",
        summary_extra={
            "deleted-records": str(len(pairs)),
            "added-records": str(n_rows),
        },
        rollback_paths=[dst for dst, _, _ in files]
        + [data_manifest, *del_rollback],
        skip_manifests=skip,
        first_row_id=frb,
        next_row_id=None if frb is None else frb + n_rows,
    )
    return {
        "snapshot_id": snapshot_id,
        "rows_updated": n_rows,
        "metadata": new_path,
    }


def merge_into_iceberg(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: str,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: bool = True,
) -> dict:
    """MERGE INTO a foreign Iceberg v2 table in ONE ``overwrite``
    snapshot — the Iceberg twin of ``delta_writer.merge_into_delta``:
    ``on`` joins target (``t``) and source (``s``) aliases; matched
    rows position-delete from their files and (with an update clause)
    their rewritten versions append; unmatched source rows insert.
    A target row matched by more than one source row fails the merge
    pre-commit (the standard MERGE ambiguity rule).  Returns
    ``{"snapshot_id", "rows_updated", "rows_deleted",
    "rows_inserted"}``."""
    if when_matched_update and when_matched_delete:
        raise ValueError(
            "when_matched_update and when_matched_delete are mutually "
            "exclusive"
        )
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    if md.get("format-version") not in (2, 3):
        raise UnsupportedIcebergFeature(
            f"format-version {md.get('format-version')} merge is not "
            "supported (v2/v3 only)"
        )
    schema_fields = _current_schema(md)["fields"]
    spark_schema = _spark_schema(spark, md)
    part_fields = _resolve_part_fields(md, schema_fields)
    if when_matched_update:
        unknown = [
            c for c in when_matched_update
            if c not in spark_schema.names
        ]
        if unknown:
            raise ValueError(
                f"UPDATE SET references unknown columns {unknown}"
            )
        # partition-moving SETs route through the same delete+insert
        # overwrite shape; staged rows partition by REWRITTEN values

    scan = _iceberg_keyed_scan(spark, table_path, md)
    if scan is None:
        live = []
        tgt = None
    else:
        tgt, live, _pos, _abs = scan
        tgt = tgt.alias("t")
    src = source.alias("s")
    cond = F.expr(on)

    rows_updated = rows_deleted = rows_inserted = 0
    pairs: list[tuple[str, int]] = []
    new_rows = None
    inserts = None
    if tgt is not None:
        matched = tgt.join(src, cond, "inner")
        if when_matched_update or when_matched_delete:
            dup = (
                matched.groupBy("t.__dfi_path", "t.__dfi_pos")
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "MERGE is ambiguous: a target row is matched by "
                    "more than one source row"
                )
            abs2manifest = {
                os.path.abspath(_abs(f["file_path"])): f["file_path"]
                for f in live
            }
            hit = matched.select(
                "t.__dfi_path", "t.__dfi_pos"
            ).collect()
            pairs = sorted(
                (abs2manifest[r["__dfi_path"]], int(r["__dfi_pos"]))
                for r in hit
            )
            if when_matched_delete:
                rows_deleted = len(pairs)
            else:
                rows_updated = len(pairs)
        if when_matched_update:
            new_rows = matched.select(
                *[
                    (
                        F.expr(when_matched_update[f.name]).cast(
                            f.dataType
                        )
                        if f.name in when_matched_update
                        else F.col(f"t.{f.name}")
                    ).alias(f.name)
                    for f in spark_schema.fields
                ]
            )
        if when_not_matched_insert:
            missing = [
                f.name
                for f in spark_schema.fields
                if f.name not in source.columns
            ]
            if missing:
                raise ValueError(
                    f"INSERT needs source columns {missing}"
                )
            inserts = src.join(tgt, cond, "left_anti").select(
                *[
                    F.col(f"s.{f.name}").cast(f.dataType).alias(f.name)
                    for f in spark_schema.fields
                ]
            )
    elif when_not_matched_insert:
        # Empty table (no live data files): every source row is
        # unmatched — stage them all as inserts, mirroring
        # merge_into_delta's empty-target behavior.
        missing = [
            f.name
            for f in spark_schema.fields
            if f.name not in source.columns
        ]
        if missing:
            raise ValueError(f"INSERT needs source columns {missing}")
        inserts = src.select(
            *[
                F.col(f"s.{f.name}").cast(f.dataType).alias(f.name)
                for f in spark_schema.fields
            ]
        )
    staged_new = None
    if new_rows is not None and inserts is not None:
        staged_new = new_rows.unionByName(inserts)
    else:
        staged_new = new_rows if new_rows is not None else inserts

    ts = int(time.time() * 1000)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snap_ids = [s["snapshot-id"] for s in md.get("snapshots", [])]
    snapshot_id = (max(snap_ids) + 1) if snap_ids else 1
    files: list[tuple[str, dict, dict]] = []
    n_staged = 0
    if staged_new is not None:
        files, n_staged = _stage_iceberg_data(
            spark, staged_new, md, schema_fields, part_fields,
            table_path, "merge",
        )
    rows_inserted = n_staged - rows_updated
    if not pairs and not files:
        return {
            "snapshot_id": None, "rows_updated": 0,
            "rows_deleted": 0, "rows_inserted": 0,
        }
    manifest_rows: list[dict] = []
    rollback: list[str] = [dst for dst, _, _ in files]
    frb = (
        int(md.get("next-row-id", 0))
        if md.get("format-version") == 3
        else None
    )
    if files:
        data_manifest = _write_added_manifest(
            spark, md, schema_fields, part_fields, files, snapshot_id,
            seq, table_path, first_row_base=frb,
        )
        manifest_rows.append(
            {
                "manifest_path": data_manifest,
                "manifest_length": os.path.getsize(data_manifest),
                "partition_spec_id": md.get("default-spec-id", 0),
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n_staged,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "first_row_id": frb,
            }
        )
        rollback.append(data_manifest)
    skip: set[str] = set()
    if pairs:
        del_rows, del_rb, skip = _write_delete_artifacts(
            spark, table_path, md, pairs, snapshot_id, seq,
            pos_deletes=_pos if scan is not None else None,
            _abs=_abs if scan is not None else None,
        )
        manifest_rows.extend(del_rows)
        rollback.extend(del_rb)
    op = "overwrite" if pairs else "append"
    new_path = _commit_snapshot(
        spark,
        table_path,
        md,
        md_file,
        manifest_row=manifest_rows,
        snapshot_id=snapshot_id,
        seq=seq,
        ts=ts,
        operation=op,
        summary_extra={
            "added-records": str(n_staged),
            "deleted-records": str(len(pairs)),
        },
        rollback_paths=rollback,
        skip_manifests=skip,
        first_row_id=frb if files else None,
        next_row_id=(
            None if frb is None or not files else frb + n_staged
        ),
    )
    return {
        "snapshot_id": snapshot_id,
        "rows_updated": rows_updated,
        "rows_deleted": rows_deleted,
        "rows_inserted": rows_inserted,
        "metadata": new_path,
    }
