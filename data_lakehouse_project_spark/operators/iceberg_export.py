"""Iceberg table-spec metadata export for delta-lite tables (round 5).

The north star (BASELINE.json) names "Delta/Iceberg format support". The
commit log itself now speaks the Delta protocol (txnlog.py); this module
covers the OTHER format family: it emits Apache Iceberg table-spec
metadata — ``metadata/vN.metadata.json``, an avro manifest list
(``snap-*.avro``) and an avro manifest (``*-m0.avro``) — describing a
delta-lite table's snapshot, so an Iceberg catalog/reader pointed at the
table location sees a spec-shaped v2 table.

Why this maps cleanly: delta-lite's hidden partition transforms
(``day(ts)``, ``bucket(8, id)``, ``truncate(4, s)``, ...) ARE Iceberg's
partition transforms — the export declares them with their native
Iceberg names and a field-id'd schema, instead of flattening to
identity partitioning.

Format notes (all public spec, iceberg.apache.org/spec):
- v2 metadata.json: format-version, table-uuid, schemas (field ids),
  partition-specs (source-id/field-id/transform), snapshots,
  current-snapshot-id, refs.
- manifest list + manifest are AVRO container files — written through
  the Java avro library already on Spark's driver classpath
  (avro-1.12.1.jar) via py4j; no Python avro package exists offline.
- partition values in manifests are TYPED per transform result type
  (day → days-from-epoch int, month → months-from-epoch, hour →
  hours-from-epoch, year → years-from-1970, bucket/truncate → int /
  source type).

Neither pyiceberg nor duckdb's iceberg extension is installable in this
container (probes in tests/test_delta_protocol.py and
tests/test_iceberg_export.py), so conformance is pinned by an
independent spec-replay reader in the test that parses metadata.json
and decodes the avro manifests, then scans the manifest's data files
with DuckDB against ``TxnTable.read``.
"""

from __future__ import annotations

import datetime
import json
import os
import uuid

from pyspark.sql import SparkSession

from data_lakehouse_project_spark.operators.iceberg_reader import (
    publish_metadata,
)
from data_lakehouse_project_spark.operators.txnlog import (
    TxnTable,
    _parse_partition_spec,
)
from data_lakehouse_project_spark.session import PARQUET_CODEC

_EPOCH = datetime.date(1970, 1, 1)

_ICEBERG_TYPES = {
    "integer": "int",
    "int": "int",
    "long": "long",
    "short": "int",
    "byte": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def _iceberg_type(spark_type: str) -> str:
    if spark_type.startswith("decimal"):
        return spark_type  # decimal(p,s) spells identically
    return _ICEBERG_TYPES.get(spark_type, "string")


def _schema_fields(schema_json: str) -> list[dict]:
    """Spark schema JSON → Iceberg field list with stable field ids
    (1-based positional — append-only schema evolution keeps them
    stable because delta-lite only ever adds columns at the end)."""
    fields = json.loads(schema_json)["fields"]
    return [
        {
            "id": i + 1,
            "name": f["name"],
            "required": not f.get("nullable", True),
            "type": _iceberg_type(
                f["type"] if isinstance(f["type"], str) else "string"
            ),
        }
        for i, f in enumerate(fields)
    ]


def _partition_spec_fields(
    partition_by: list[str] | None, fields: list[dict]
) -> list[dict]:
    """delta-lite partition_by → Iceberg partition-spec fields with the
    spec's native transform names. Field ids start at 1000 (Iceberg's
    convention for partition field ids)."""
    ids = {f["name"]: f["id"] for f in fields}
    physical, transforms = _parse_partition_spec(partition_by)
    out = []
    fid = 1000
    for col in physical:
        out.append(
            {
                "name": col,
                "transform": "identity",
                "source-id": ids[col],
                "field-id": fid,
            }
        )
        fid += 1
    for t in transforms:
        name = t["transform"]
        if name == "bucket":
            transform = f"bucket[{t['n']}]"
        elif name == "truncate":
            transform = f"truncate[{t['n']}]"
        else:
            transform = name  # year / month / day / hour
        out.append(
            {
                "name": t["hidden"].lstrip("_"),
                "transform": transform,
                "source-id": ids[t["col"]],
                "field-id": fid,
            }
        )
        fid += 1
    return out


def _partition_result_type(transform: str, source_type: str) -> str:
    """Iceberg result type of a transform (spec table: year/month/day/
    hour → int; bucket → int; truncate/identity → source type)."""
    if transform in ("year", "month", "day", "hour") or transform.startswith(
        "bucket"
    ):
        return "int"
    return source_type


def _partition_value(transform: str, raw: str | None, source_type: str):
    """Typed partition value for the manifest's partition struct from
    the hive-dir string delta-lite records."""
    if raw is None:
        return None
    if transform == "year":
        return int(raw[:4]) - 1970
    if transform == "month":
        y, m = int(raw[:4]), int(raw[5:7])
        return (y - 1970) * 12 + (m - 1)
    if transform == "day":
        d = datetime.date(int(raw[:4]), int(raw[5:7]), int(raw[8:10]))
        return (d - _EPOCH).days
    if transform == "hour":
        d = datetime.date(int(raw[:4]), int(raw[5:7]), int(raw[8:10]))
        return (d - _EPOCH).days * 24 + int(raw[11:13])
    if transform.startswith("bucket"):
        return int(raw)
    if source_type in ("int", "long"):
        return int(raw)
    if source_type == "double":
        return float(raw)
    return raw


_AVRO_OF = {"int": "int", "long": "long", "double": "double", "string": "string"}


def _encode_bound(value, iceberg_type: str) -> bytes | None:
    """Spec §Binary single-value serialization for the bound types the
    foreign reader's prune path decodes; None skips the column (pruning
    treats missing bounds as "may match")."""
    import datetime
    import struct as _struct

    try:
        if iceberg_type == "int":
            return _struct.pack("<i", int(value))
        if iceberg_type == "long":
            return _struct.pack("<q", int(value))
        if iceberg_type == "float":
            return _struct.pack("<f", float(value))
        if iceberg_type == "double":
            return _struct.pack("<d", float(value))
        if iceberg_type == "string":
            return str(value).encode("utf-8")
        if iceberg_type == "date":
            d = (
                datetime.date.fromisoformat(value)
                if isinstance(value, str)
                else value
            )
            return _struct.pack("<i", (d - datetime.date(1970, 1, 1)).days)
    except Exception:
        return None
    return None


class _AvroWriter:
    """Minimal avro container-file writer over the Java avro library on
    Spark's driver classpath (py4j) — metadata-sized payloads only."""

    def __init__(self, spark: SparkSession, schema_json: str, path: str,
                 meta: dict[str, str]):
        jvm = spark._jvm
        self._jvm = jvm
        self.schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
        datum = jvm.org.apache.avro.generic.GenericDatumWriter(self.schema)
        self.writer = jvm.org.apache.avro.file.DataFileWriter(datum)
        for k, v in meta.items():
            self.writer.setMeta(k, v)
        self.writer.create(self.schema, jvm.java.io.File(path))

    def _avro_json(self, schema, v):
        """Python value → avro JSON-encoding shape (unions wrapped with
        their branch name). Needed because py4j cannot hold boxed Java
        numerics — it auto-converts Long returns back to Python int —
        so records are materialized Java-side via jsonDecoder instead
        of field-by-field puts."""
        t = schema.getType().getName()
        if t == "union":
            if v is None:
                return None
            for i in range(schema.getTypes().size()):
                b = schema.getTypes().get(i)
                if b.getType().getName() != "null":
                    name = (
                        b.getFullName()
                        if b.getType().getName() == "record"
                        else b.getType().getName()
                    )
                    return {name: self._avro_json(b, v)}
        if t == "record":
            out = {}
            for i in range(schema.getFields().size()):
                f = schema.getFields().get(i)
                out[str(f.name())] = self._avro_json(
                    f.schema(), (v or {}).get(str(f.name()))
                )
            return out
        return v

    def append_dict(self, values: dict) -> None:
        jvm = self._jvm
        payload = json.dumps(self._avro_json(self.schema, values))
        decoder = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
            self.schema, payload
        )
        rec = jvm.org.apache.avro.generic.GenericDatumReader(
            self.schema
        ).read(None, decoder)
        self.writer.append(rec)

    def close(self) -> None:
        self.writer.close()


def export_iceberg_metadata(
    table: TxnTable, spark: SparkSession, version: int | None = None
) -> str:
    """Emit Iceberg v2 metadata for the table's snapshot under
    ``<table>/metadata/``; returns the metadata.json path. Re-export
    after new commits appends a new snapshot + metadata version."""
    snap = table.snapshot(version=version)
    meta_dir = os.path.join(table.path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    fields = _schema_fields(snap.schema_json)
    meta = table._current_meta()
    partition_by = meta.get("partition_by") or []
    _, _transforms = _parse_partition_spec(partition_by)
    if (
        any(t["transform"] == "bucket" for t in _transforms)
        and meta.get("bucket_hash") != "murmur3"
    ):
        # a bucket[N] spec promises the Iceberg murmur3 hash to every
        # foreign engine; tables laid out by the legacy md5 bucket (or
        # a mixed history) would make them mis-prune — rewrite first
        raise ValueError(
            "table's bucket layout predates the spec murmur3 hash "
            "(bucket_hash != 'murmur3'); rewrite the table (full "
            "overwrite) before exporting Iceberg metadata"
        )
    spec_fields = _partition_spec_fields(partition_by, fields)
    src_type = {f["id"]: f["type"] for f in fields}

    snapshot_id = snap.version + 1  # spec: any unique long
    seq = snap.version + 1
    location = os.path.abspath(table.path)

    # ---- manifest (avro): one entry per live data file ----
    part_fields_avro = []
    for pf in spec_fields:
        rtype = _partition_result_type(
            pf["transform"], src_type[pf["source-id"]]
        )
        part_fields_avro.append(
            {
                "name": pf["name"],
                "type": ["null", _AVRO_OF.get(rtype, "string")],
                "default": None,
                "field-id": pf["field-id"],
            }
        )
    partition_avro = {
        "type": "record",
        "name": "r102",
        "fields": part_fields_avro,
    }
    data_file_avro = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_avro, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
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
        ],
    }
    manifest_entry_avro = json.dumps(
        {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int", "field-id": 0},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 1,
                },
                {
                    "name": "sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 3,
                },
                {
                    "name": "file_sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                    "field-id": 4,
                },
                {"name": "data_file", "type": data_file_avro, "field-id": 2},
            ],
        }
    )
    manifest_name = f"{uuid.uuid4().hex}-m0.avro"
    manifest_path = os.path.join(meta_dir, manifest_name)
    iceberg_schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": fields,
    }
    spec_json = json.dumps(spec_fields)

    # ---- incremental statuses (r8): files live in the PREVIOUS
    # exported snapshot re-emit as EXISTING with their original
    # snapshot/sequence attribution; files gone since then emit as
    # DELETED — so the export's own history is spec-truthful (the
    # incremental append scan attributes adds to the right snapshot,
    # and a snapshot that dropped files stops claiming "append").
    prev_live: dict[str, dict] = {}
    try:
        from .iceberg_reader import (
            CorruptIcebergMetadata,
            _select_snapshot,
            avro_records,
            load_iceberg_metadata,
        )

        prev_md = load_iceberg_metadata(table.path)
        prev_snap = _select_snapshot(prev_md, None, None)
        mlist = prev_snap["manifest-list"]
        if not os.path.isabs(mlist):
            mlist = os.path.join(table.path, mlist)
        for m in avro_records(spark, mlist)[0]:
            if m.get("content", 0) != 0:
                continue
            mp = m["manifest_path"]
            if not os.path.isabs(mp):
                mp = os.path.join(table.path, mp)
            for e in avro_records(spark, mp)[0]:
                if e.get("status") == 2:
                    continue
                df_ = e["data_file"]
                prev_live[df_["file_path"]] = {
                    "snapshot_id": e.get("snapshot_id"),
                    "sequence_number": e.get("sequence_number")
                    or m.get("sequence_number"),
                    "record_count": df_.get("record_count", 0),
                    "file_size_in_bytes": df_.get(
                        "file_size_in_bytes", 0
                    ),
                    "partition": df_.get("partition") or {},
                }
    except (FileNotFoundError, CorruptIcebergMetadata):
        pass  # first export — everything is ADDED
    except Exception:
        # unreadable previous metadata: fall back to a full ADDED
        # snapshot (correct, just without incremental attribution)
        prev_live = {}
    w = _AvroWriter(
        spark,
        manifest_entry_avro,
        manifest_path,
        {
            "schema": json.dumps(iceberg_schema),
            "partition-spec": spec_json,
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )
    total_rows = 0
    n_added = n_existing = 0
    added_rows = existing_rows = 0
    cur_paths: set[str] = set()
    by_hidden = {
        pf["name"]: pf for pf in spec_fields
    }
    for f in snap.files:
        rows = f.get("stats", {}).get("num_rows", 0)
        total_rows += rows
        part_vals = {}
        for raw_name, raw_val in (f.get("partition_values") or {}).items():
            pf = by_hidden.get(raw_name.lstrip("_")) or by_hidden.get(raw_name)
            if pf is None:
                continue
            part_vals[pf["name"]] = _partition_value(
                pf["transform"], raw_val, src_type[pf["source-id"]]
            )
        fpath = f["path"]
        if not os.path.isabs(fpath):
            fpath = os.path.join(location, fpath)
        # column bounds from the internal footer stats -> spec binary
        # single-values, so foreign readers can FILE-SKIP this export
        lower: list[dict] = []
        upper: list[dict] = []
        stat_cols = f.get("stats", {}).get("columns", {})
        for fld in fields:
            st = stat_cols.get(fld["name"])
            if not st:
                continue
            for key, dest in (("min", lower), ("max", upper)):
                if key in st and st[key] is not None:
                    b = _encode_bound(st[key], fld["type"])
                    if b is not None:
                        dest.append(
                            {
                                "key": fld["id"],
                                "value": b.decode("latin-1"),
                            }
                        )
        cur_paths.add(fpath)
        prev = prev_live.get(fpath)
        if prev is None:
            n_added += 1
            added_rows += rows
        else:
            n_existing += 1
            existing_rows += rows
        w.append_dict(
            {
                # EXISTING entries keep the snapshot/sequence that
                # originally added the file (spec inheritance rules)
                "status": 0 if prev else 1,
                "snapshot_id": (
                    prev["snapshot_id"] if prev else snapshot_id
                ),
                "sequence_number": (
                    prev["sequence_number"] if prev else seq
                ),
                "file_sequence_number": (
                    prev["sequence_number"] if prev else seq
                ),
                "data_file": {
                    "content": 0,
                    "file_path": fpath,
                    "file_format": "PARQUET",
                    "partition": part_vals,
                    "record_count": rows,
                    "file_size_in_bytes": f.get("size_bytes", 0),
                    "lower_bounds": lower or None,
                    "upper_bounds": upper or None,
                },
            }
        )
    n_deleted = 0
    for gone, prev in sorted(prev_live.items()):
        if gone in cur_paths:
            continue
        n_deleted += 1
        w.append_dict(
            {
                "status": 2,  # DELETED — removed by THIS snapshot
                "snapshot_id": snapshot_id,
                "sequence_number": prev["sequence_number"],
                "file_sequence_number": prev["sequence_number"],
                "data_file": {
                    "content": 0,
                    "file_path": gone,
                    "file_format": "PARQUET",
                    "partition": prev.get("partition") or {},
                    "record_count": prev.get("record_count", 0),
                    "file_size_in_bytes": prev.get(
                        "file_size_in_bytes", 0
                    ),
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            }
        )
    w.close()

    # ---- deletion vectors -> v2 POSITION DELETE file + manifest ----
    # A DV-bearing snapshot exported as bare data files would
    # RESURRECT deleted rows in every Iceberg reader (caught by a
    # round-7 probe); each spec DV decodes (driver-side, the reader's
    # O(deleted rows) budget) into the position-delete layout, sorted
    # by (file_path, pos) as the spec requires.
    dv_files = [f for f in snap.files if f.get("foreign_dv")]
    delete_manifest_path = None
    n_pos_deletes = 0
    if dv_files:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_lakehouse_project_spark.operators.dv import (
            resolve_dv_positions,
        )

        deletes = sorted(
            (
                f["path"]
                if os.path.isabs(f["path"])
                else os.path.join(location, f["path"]),
                pos,
            )
            for f in dv_files
            for pos in resolve_dv_positions(f["foreign_dv"], table.path)
        )
        del_path = os.path.join(location, "data")
        os.makedirs(del_path, exist_ok=True)
        del_path = os.path.join(del_path, f"pos-deletes-{snapshot_id}.parquet")
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([d[0] for d in deletes], pa.string()),
                    "pos": pa.array([d[1] for d in deletes], pa.int64()),
                }
            ),
            del_path,
            compression=PARQUET_CODEC,
        )
        n_pos_deletes = len(deletes)
        delete_manifest_path = os.path.join(
            meta_dir, f"{uuid.uuid4().hex}-d0.avro"
        )
        wd = _AvroWriter(
            spark,
            manifest_entry_avro,
            delete_manifest_path,
            {
                "schema": json.dumps(iceberg_schema),
                "partition-spec": spec_json,
                "partition-spec-id": "0",
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
                    "record_count": n_pos_deletes,
                    "file_size_in_bytes": os.path.getsize(del_path),
                },
            }
        )
        wd.close()

    # ---- manifest list (avro) ----
    manifest_file_avro = json.dumps(
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
            ],
        }
    )
    list_name = f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    list_path = os.path.join(meta_dir, list_name)
    wl = _AvroWriter(
        spark,
        manifest_file_avro,
        list_path,
        {"format-version": "2"},
    )
    min_seq = min(
        [seq]
        + [
            p["sequence_number"]
            for p in prev_live.values()
            if p.get("sequence_number") is not None
        ]
    )
    wl.append_dict(
        {
            "manifest_path": manifest_path,
            "manifest_length": os.path.getsize(manifest_path),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": min_seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": n_added,
            "existing_files_count": n_existing,
            "deleted_files_count": n_deleted,
            "added_rows_count": added_rows,
            "existing_rows_count": existing_rows,
            "deleted_rows_count": 0,
        }
    )
    if delete_manifest_path is not None:
        wl.append_dict(
            {
                "manifest_path": delete_manifest_path,
                "manifest_length": os.path.getsize(delete_manifest_path),
                "partition_spec_id": 0,
                "content": 1,  # delete manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n_pos_deletes,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )
    wl.close()

    # ---- metadata.json ----
    existing = sorted(
        int(n[1:].split(".")[0])
        for n in os.listdir(meta_dir)
        if n.startswith("v") and n.endswith(".metadata.json")
    )
    prev = None
    if existing:
        with open(
            os.path.join(meta_dir, f"v{existing[-1]}.metadata.json")
        ) as fh:
            prev = json.load(fh)
    mv = (existing[-1] + 1) if existing else 1
    # truthful operation: a snapshot that dropped files or carries a
    # delete manifest is not an "append" — incremental readers rely
    # on this to refuse ranges they cannot replay as pure adds
    # a snapshot that ADDS a delete manifest is never an "append",
    # even on a first export (a DV-bearing snapshot's position
    # deletes remove rows) — append-only readers rely on the label
    if (prev_live and n_deleted) or delete_manifest_path is not None:
        operation = "delete" if n_added == 0 else "overwrite"
        # compaction detection: when every internal commit between the
        # two exports moved files with dataChange=false only (OPTIMIZE
        # / clustering rewrites), the snapshot is a 'replace' — the
        # data did not logically change, so incremental/streaming
        # readers SKIP it instead of refusing (Iceberg's rewrite
        # contract).  prev snapshot-id = prev internal version + 1,
        # so the uncovered commits are [prev-snapshot-id, version].
        prev_sid = (prev or {}).get("current-snapshot-id")
        if prev_sid is not None and n_added:
            try:
                flags: list[bool] = []
                for v in range(int(prev_sid), snap.version + 1):
                    adds_v, removes_v, *_ = table._read_commit(v)
                    flags.extend(
                        a.get("data_change", True) for a in adds_v
                    )
                    flags.extend(
                        r.get("data_change", True) for r in removes_v
                    )
                if flags and not any(flags):
                    operation = "replace"
            except OSError:
                pass  # commit json gone (vacuumed) — keep the
                # conservative overwrite/delete label
    else:
        operation = "append"
    snapshot_entry = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": snap.timestamp_ms,
        "sequence-number": seq,
        "manifest-list": list_path,
        "summary": {
            "operation": operation,
            "added-data-files": str(n_added),
            "deleted-data-files": str(n_deleted),
            "added-records": str(added_rows),
            "total-records": str(total_rows),
        },
        "schema-id": 0,
    }
    snapshots = (prev or {}).get("snapshots", [])
    snapshots = [
        s for s in snapshots if s["snapshot-id"] != snapshot_id
    ] + [snapshot_entry]
    metadata = {
        "format-version": 2,
        "table-uuid": (prev or {}).get("table-uuid", str(uuid.uuid4())),
        "location": location,
        "last-sequence-number": seq,
        "last-updated-ms": snap.timestamp_ms,
        "last-column-id": len(fields),
        "schemas": [iceberg_schema],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": max(
            (pf["field-id"] for pf in spec_fields), default=999
        ),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {"write.format.default": "parquet"},
        "snapshots": snapshots,
        "current-snapshot-id": snapshot_id,
        "refs": {
            "main": {"snapshot-id": snapshot_id, "type": "branch"}
        },
    }
    return publish_metadata(table.path, mv, metadata)
