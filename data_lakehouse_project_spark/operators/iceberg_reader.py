"""Reader for EXTERNAL Apache Iceberg v2 metadata trees.

``operators/iceberg_export.py`` emits spec-shaped Iceberg metadata;
this module closes the read direction: given ANY table location whose
``metadata/`` dir follows the public Iceberg table spec
(iceberg.apache.org/spec) — regardless of which engine wrote it —
walk version-hint → ``vN.metadata.json`` → snapshot → avro manifest
list → avro manifests → data files, and expose the snapshot as a
DataFrame.  Proven against HAND-BUILT foreign fixtures in
tests/test_iceberg_reader.py (two snapshots, a shared manifest, a
DELETED manifest entry, field ids unlike the export's), so the decode
path is not self-consistent-only.

Reader rules implemented:

* **Snapshot selection**: ``current-snapshot-id`` by default; by
  explicit ``snapshot_id``; or time travel via the newest snapshot at
  or before ``as_of_ms`` (``snapshot-log`` when present, else the
  snapshots' own ``timestamp-ms``).
* **Manifest evaluation**: every data manifest in the snapshot's
  manifest list; entries with status DELETED (2) are dropped — they
  record removal, not membership.  ``existing_files_count``/shared
  manifests across snapshots are handled naturally because membership
  is decided per entry, not per manifest.
* **Refusal over silent mis-reads** (the spec's reader rule): unknown
  ``format-version``, delete manifests (``content`` 1), delete files
  (``data_file.content`` != 0), and non-parquet file formats raise
  ``UnsupportedIcebergFeature`` — ignoring any of them would
  resurrect deleted rows or drop data.
* **Schema**: the current Iceberg schema (primitive types + decimal)
  converts to Spark types; the explicit-schema parquet read makes
  pre-evolution files surface added columns as null.  Identity
  partition source columns live IN Iceberg data files (unlike
  Delta/Hive), so nothing needs reattaching; hidden-transform
  partition fields are metadata-only and never surface.

Avro container files are decoded with the Java avro library already on
Spark's driver classpath (the same library the export writes through —
metadata-sized payloads only, never row data).

Scale posture: like the Delta reader, state reconstruction is
O(manifest entries) on the driver — the same file-level metadata every
Iceberg client materializes; row data flows only through Spark's
parquet scan.
"""

from __future__ import annotations

import json
import os
import re
import struct

from pyspark.sql import DataFrame, SparkSession

from .concurrency import publish_exclusive, replace_atomic


class UnsupportedIcebergFeature(ValueError):
    """The table requires a reader capability this engine lacks."""


class CorruptIcebergMetadata(ValueError):
    """The metadata tree violates table-spec invariants."""


# ------------------------------------------------------------------- avro


def avro_records(spark: SparkSession, path: str):
    """Decode an avro container file into (records, file_metadata).

    Primary path: the pure-Python spec decoder
    (``operators/avro_decode.py``) — one pass over local bytes, no
    py4j round trips (the JVM path costs a round trip per FIELD;
    at a 10k-entry manifest that is ~10^5 driver calls, probed ~100×
    slower in ``tools/probe_foreign_readers.py``).  The JVM generic
    reader remains as a fallback for schema corners the Python
    decoder refuses."""
    from .avro_decode import AvroDecodeError, read_avro_file

    try:
        return read_avro_file(path)
    except (
        AvroDecodeError,
        IndexError,  # out-of-range enum symbol / bad offsets
        KeyError,  # record field lookup on a malformed schema
        UnicodeDecodeError,  # non-UTF8 bytes where a string is declared
        ValueError,  # AvroDecodeError's base; int() coercions
        struct.error,
        EOFError,
    ):
        pass  # fall through to the reference JVM decoder
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )

    def _py(v):
        if v is None:
            return None
        cls = v.getClass().getName() if hasattr(v, "getClass") else None
        if cls == "org.apache.avro.util.Utf8":
            return str(v)
        if cls and cls.startswith(
            "org.apache.avro.generic.GenericData$Record"
        ):
            s = v.getSchema()
            return {
                str(s.getFields().get(i).name()): _py(
                    v.get(str(s.getFields().get(i).name()))
                )
                for i in range(s.getFields().size())
            }
        if cls and cls.startswith(
            "org.apache.avro.generic.GenericData$Array"
        ):
            return [_py(v.get(i)) for i in range(v.size())]
        return v

    schema = reader.getSchema()
    names = [
        str(schema.getFields().get(i).name())
        for i in range(schema.getFields().size())
    ]
    records = []
    while reader.hasNext():
        rec = reader.next()
        records.append({n: _py(rec.get(n)) for n in names})
    meta = {}
    it = reader.getMetaKeys().iterator()
    while it.hasNext():
        k = str(it.next())
        if not k.startswith("avro."):
            meta[k] = bytes(reader.getMeta(k)).decode()
    reader.close()
    return records, meta


# ---------------------------------------------------------------- metadata


def publish_metadata(
    table_path: str, version: int, metadata: dict, staged=()
) -> str:
    """Commit ``metadata`` as ``metadata/v{version}.metadata.json``
    through ``concurrency.publish_exclusive`` (whole file or nothing;
    a lost race removes ``staged`` and raises
    ``ConcurrentCommitError``), then point ``version-hint.text`` at it
    by atomic replace.  Every Iceberg commit in this package ends
    here; returns the new metadata path."""
    meta_dir = os.path.join(table_path, "metadata")
    path = os.path.join(meta_dir, f"v{version}.metadata.json")
    publish_exclusive(path, json.dumps(metadata), staged)

    def _hint(p: str) -> None:
        with open(p, "w") as fh:
            fh.write(str(version))

    replace_atomic(os.path.join(meta_dir, "version-hint.text"), _hint)
    return path


def _latest_metadata_file(table_path: str) -> str:
    meta_dir = os.path.join(table_path, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = int(fh.read().strip())
        p = os.path.join(meta_dir, f"v{v}.metadata.json")
        if os.path.exists(p):
            return p
    cands = sorted(
        (
            int(m.group(1)),
            os.path.join(meta_dir, n),
        )
        for n in os.listdir(meta_dir)
        if (m := re.fullmatch(r"v(\d+)\.metadata\.json", n))
    )
    if not cands:
        raise CorruptIcebergMetadata(
            f"no vN.metadata.json under {meta_dir}"
        )
    return cands[-1][1]


def load_iceberg_metadata(
    table_path: str, metadata_file: str | None = None
) -> dict:
    path = metadata_file or _latest_metadata_file(table_path)
    with open(path) as fh:
        md = json.load(fh)
    fv = md.get("format-version")
    if fv not in (1, 2, 3):
        raise UnsupportedIcebergFeature(
            f"format-version {fv} is not supported (v1/v2/v3 only)"
        )
    return md


def _select_snapshot(
    md: dict, snapshot_id: int | None, as_of_ms: int | None
) -> dict:
    snapshots = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    if not snapshots:
        raise CorruptIcebergMetadata("metadata has no snapshots")
    if snapshot_id is not None:
        if snapshot_id not in snapshots:
            raise ValueError(f"snapshot-id {snapshot_id} not in metadata")
        return snapshots[snapshot_id]
    if as_of_ms is not None:
        log = md.get("snapshot-log") or [
            {
                "snapshot-id": s["snapshot-id"],
                "timestamp-ms": s["timestamp-ms"],
            }
            for s in snapshots.values()
        ]
        best = None
        for e in sorted(log, key=lambda e: e["timestamp-ms"]):
            if e["timestamp-ms"] <= as_of_ms:
                best = e["snapshot-id"]
        if best is None:
            raise ValueError(f"no snapshot at or before {as_of_ms}")
        return snapshots[best]
    cur = md.get("current-snapshot-id")
    if cur in (None, -1):
        raise CorruptIcebergMetadata("metadata has no current snapshot")
    return snapshots[cur]


# ------------------------------------------------------------------ schema


_SPARK_OF = {
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
    "binary": "binary",
    "uuid": "string",
}


def _spark_ddl_of(iceberg_type) -> str:
    if isinstance(iceberg_type, str):
        if iceberg_type in _SPARK_OF:
            return _SPARK_OF[iceberg_type]
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", iceberg_type)
        if m:
            return f"decimal({m.group(1)},{m.group(2)})"
        m = re.fullmatch(r"fixed\[\d+\]", iceberg_type)
        if m:
            return "binary"
    raise UnsupportedIcebergFeature(
        f"iceberg type {iceberg_type!r} is not supported by this reader"
    )


_DEFAULT_OK_TYPES = {
    "int", "long", "float", "double", "string", "boolean", "date"
}

# sentinel default value for columns whose initial-default TYPE this
# reader cannot coerce: carried through the per-file presence-gated
# fill machinery so the refusal fires ONLY when a file actually lacks
# the column (a table whose every live file carries it reads fine —
# the default is never consulted).  JSON-safe, never a real value.
UNSUPPORTED_DEFAULT = "__graft_unsupported_initial_default__"


def _raise_unsupported_default(col: str):
    raise UnsupportedIcebergFeature(
        f"column {col!r} carries a non-primitive initial-default "
        f"(supported: {sorted(_DEFAULT_OK_TYPES)}) and is physically "
        "absent from a data file — refusing rather than surfacing "
        "nulls where the spec requires the default"
    )


def _initial_defaults(md: dict) -> dict[str, object]:
    """v3 ``initial-default`` values by column name (spec "Default
    values"): rows of data files written BEFORE the field existed
    read the initial default, not null.  Non-primitive defaults map
    to ``UNSUPPORTED_DEFAULT`` — the fill sites refuse if (and only
    if) such a column is actually absent from a scanned file."""
    out: dict[str, object] = {}
    for f in _current_schema(md).get("fields", []):
        if "initial-default" not in f:
            continue
        t = f.get("type")
        if not isinstance(t, str) or t not in _DEFAULT_OK_TYPES:
            out[f["name"]] = UNSUPPORTED_DEFAULT
            continue
        out[f["name"]] = f["initial-default"]
    return out


def _spark_schema(spark: SparkSession, md: dict, field_ids: bool = False):
    from pyspark.sql.types import StructField, StructType

    schema = _current_schema(md)
    ddl = ", ".join(
        f"`{f['name']}` {_spark_ddl_of(f['type'])}"
        for f in schema["fields"]
    )
    st = StructType.fromDDL(ddl)
    if field_ids:
        # Iceberg resolves parquet columns by FIELD ID (spec: "Columns
        # in Iceberg data files are selected by field id") — carry the
        # ids so Spark's fieldId.read path does the same; renamed
        # columns then read their pre-rename files correctly
        st = StructType(
            [
                StructField(
                    f.name, f.dataType, f.nullable,
                    metadata={"parquet.field.id": int(fld["id"])},
                )
                for f, fld in zip(st.fields, schema["fields"])
            ]
        )
    return st


def _file_has_field_ids(path: str) -> bool:
    """Sniff ONE footer: Iceberg writers stamp parquet field ids on
    every file, so the first live file decides the resolution mode
    (files without ids — e.g. migrated Hive data under a name-mapping
    — fall back to name resolution, the spec's fallback)."""
    import pyarrow.parquet as pq

    try:
        sch = pq.read_schema(path)
    except Exception:
        return False
    return any(
        f.metadata and b"PARQUET:field_id" in f.metadata for f in sch
    )


# ---------------------------------------------------------------- snapshot


def _decode_bound(raw: bytes, iceberg_type: str):
    """Spec §Binary single-value serialization — the subset the prune
    path compares; undecodable types return None (never prune blind)."""
    import datetime
    import struct as _struct

    if raw is None:
        return None
    if isinstance(raw, str):  # json-manifest convenience
        raw = raw.encode("latin-1")
    try:
        if iceberg_type == "int":
            return _struct.unpack("<i", raw)[0]
        if iceberg_type == "long":
            return _struct.unpack("<q", raw)[0]
        if iceberg_type == "float":
            return _struct.unpack("<f", raw)[0]
        if iceberg_type == "double":
            return _struct.unpack("<d", raw)[0]
        if iceberg_type == "string":
            return raw.decode("utf-8")
        if iceberg_type == "date":
            return datetime.date(1970, 1, 1) + datetime.timedelta(
                days=_struct.unpack("<i", raw)[0]
            )
    except Exception:  # short buffer, bad utf8 — treat as no stats
        return None
    return None


def _bounds_map(raw) -> dict[int, bytes]:
    """lower/upper_bounds arrive as an avro array of (key,value)
    records or a map; normalize to {field_id: bytes}."""
    if not raw:
        return {}
    if isinstance(raw, dict):
        return {int(k): v for k, v in raw.items()}
    out = {}
    for item in raw:
        if isinstance(item, dict):
            out[int(item["key"])] = item["value"]
        else:  # (key, value) pair
            out[int(item[0])] = item[1]
    return out


def _identity_sources_by_spec(md: dict) -> dict[int, dict[int, str]]:
    """spec-id -> {source field id: partition field NAME} for identity
    transforms, covering EVERY spec in the metadata (after partition
    evolution, each manifest declares which spec its entries' partition
    tuples follow — files written under older specs must prune with
    THEIR spec, not the default's).  Hidden transforms like bucket/day
    cannot answer value predicates and are skipped."""
    specs = md.get("partition-specs") or []
    if not specs and md.get("partition-spec"):
        # v1 legacy single-spec field
        specs = [{"spec-id": 0, "fields": md["partition-spec"]}]
    return {
        int(s.get("spec-id", 0)): {
            int(f["source-id"]): f["name"]
            for f in s.get("fields", [])
            if f.get("transform") == "identity"
        }
        for s in specs
    }


def _identity_partition_sources(md: dict) -> dict[int, str]:
    """Default spec's identity map (see _identity_sources_by_spec)."""
    by_spec = _identity_sources_by_spec(md)
    return by_spec.get(
        md.get("default-spec-id", 0),
        next(iter(by_spec.values()), {}),
    )


def _transform_sources_by_spec(
    md: dict,
) -> dict[int, list[tuple[int, str, str]]]:
    """spec-id -> [(source field id, partition field name, transform)]
    for NON-identity transforms (bucket[N] / truncate[W] / year /
    month / day / hour) — the hidden-partition pruning map.  Identity
    is handled by _identity_sources_by_spec; unknown transforms are
    skipped (never prune on what we can't compute)."""
    specs = md.get("partition-specs") or []
    if not specs and md.get("partition-spec"):
        specs = [{"spec-id": 0, "fields": md["partition-spec"]}]
    out: dict[int, list[tuple[int, str, str]]] = {}
    for s in specs:
        rows = []
        for f in s.get("fields", []):
            tr = f.get("transform", "identity")
            if tr in ("year", "month", "day", "hour") or tr.startswith(
                ("bucket[", "truncate[")
            ):
                rows.append((int(f["source-id"]), f["name"], tr))
        out[int(s.get("spec-id", 0))] = rows
    return out


def _coerce_partition_value(v, dt):
    """Manifest partition-struct value -> the Python value Spark's
    createDataFrame expects for the column's type.  Avro decoders hand
    back ints/floats/strings; dates may arrive as epoch days (spec
    avro encoding) or ISO strings (this engine's export)."""
    if v is None:
        return None
    import datetime

    from pyspark.sql import types as T

    if isinstance(dt, T.DateType):
        if isinstance(v, int):
            return datetime.date(1970, 1, 1) + datetime.timedelta(
                days=v
            )
        if isinstance(v, str):
            return datetime.date.fromisoformat(v)
        return v
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType)):
        return int(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dt, T.StringType):
        return str(v)
    if isinstance(dt, T.BooleanType):
        return v if isinstance(v, bool) else str(v).lower() == "true"
    return v


def _eq_partition_key(spec_id, part: dict | None) -> str:
    """Canonical string for a delete/data file's (spec id, partition
    tuple) — the unit the spec scopes PARTITIONED equality deletes
    to: a delete stored with a partition applies only to data files
    of the same spec and partition value (Iceberg spec, Scan
    Planning).  str() is stable within a spec because a given
    partition field always carries one type."""
    return json.dumps(
        [
            int(spec_id or 0),
            sorted(
                (str(k), str(v)) for k, v in (part or {}).items()
            ),
        ]
    )


def equality_kill_positions(
    groups: list[tuple[tuple[int, ...], list[tuple]]],
    live_seq: dict[str, int | None],
    dead: dict[str, set[int]],
    id2name: dict[int, str],
    consts: dict[str, dict[str, object]] | None = None,
    live_pkey: dict[str, str] | None = None,
) -> dict[str, list[int]]:
    """Reduce EQUALITY deletes to exact row positions — the planning
    step that lets both CDC surfaces (batch changelog and the
    streaming source) reuse their position-delete machinery verbatim.

    ``groups`` is ``[(equality_ids tuple, [(abs eq-file path,
    delete data-sequence-number[, partition-key-or-None]), ...])]``;
    ``live_seq`` maps each LIVE data file (at this point of the
    snapshot walk) to its data sequence number; ``dead`` holds
    positions already dead (NOT mutated here).  Returns fresh kills
    per data file, sorted.

    ``consts`` maps data-file path -> {column: value} for identity-
    partition source columns physically ABSENT from the parquet
    (spec: manifest partition values replace them) — the same
    substitution the snapshot reader does, so CDC replay of a delete
    keyed on a partition source column works.  A key column that is
    neither in the file nor in ``consts`` is refused, never compared
    against nulls.

    A delete entry may carry a PARTITION KEY (``_eq_partition_key``)
    as its third element: the spec scopes such deletes to data files
    of the same spec + partition value (``live_pkey`` maps data files
    to their keys).  Entries without one (or with None) are GLOBAL —
    stored under an unpartitioned spec, applied to all data.

    Mechanics: per ids-group, the (small) eq delete files' key columns
    load driver-side; each candidate data file reads ONLY those key
    columns via pyarrow (column-pruned — bytes ~ rows x key width, the
    same budget class as reading position-delete files) and rows whose
    key tuple appears in any delete file with a STRICTLY NEWER
    sequence number (the spec rule) are killed.  Null-safe equality
    falls out of Python tuple comparison (None == None).
    """
    import pyarrow.parquet as _pq

    out: dict[str, list[int]] = {}
    for ids, files in groups:
        try:
            cols = [id2name[int(i)] for i in ids]
        except KeyError as exc:
            raise UnsupportedIcebergFeature(
                f"equality_ids reference unknown field id {exc}"
            ) from None
        keysets: list[tuple[int, str | None, set]] = []
        for entry in files:
            eq_path, del_seq = entry[0], entry[1]
            pkey = entry[2] if len(entry) > 2 else None
            if del_seq is None:
                raise UnsupportedIcebergFeature(
                    "equality delete file without a data sequence "
                    f"number: {eq_path}"
                )
            if pkey is not None and live_pkey is None:
                raise UnsupportedIcebergFeature(
                    "partition-scoped equality delete entry given "
                    "without live_pkey — caller must supply data-file "
                    "partition keys"
                )
            tbl = _pq.read_table(eq_path, columns=cols)
            keysets.append(
                (
                    int(del_seq),
                    pkey,
                    set(
                        zip(*[tbl.column(c).to_pylist() for c in cols])
                    ),
                )
            )
        max_del_seq = max(s for s, _, _ in keysets)
        for path, dseq in live_seq.items():
            if dseq is None:
                raise UnsupportedIcebergFeature(
                    "equality deletes require data sequence numbers "
                    f"on every live entry; missing for {path}"
                )
            if int(dseq) >= max_del_seq:
                # NO delete file in the group is strictly newer than
                # this data file.  (MAX, not min: a group can span
                # sequence numbers — e.g. rewrite_data_files
                # aggregates every live delete across snapshots —
                # and a file newer than the OLDEST delete may still
                # be older than a later one; the per-delete seq
                # check below does the exact filtering.)
                continue
            eff: set = set()
            for del_seq, pkey, ks in keysets:
                if int(dseq) >= del_seq:
                    continue
                if pkey is not None and pkey != (live_pkey or {}).get(
                    path
                ):
                    continue  # scoped delete: other partition
                eff |= ks
            if not eff:
                continue
            have = set(_pq.read_schema(path).names)
            cfile = (consts or {}).get(path) or {}
            missing_cols = [
                c for c in cols if c not in have and c not in cfile
            ]
            if missing_cols:
                # a key column neither in the parquet nor available
                # as a manifest partition constant — refuse rather
                # than compare against nulls
                raise UnsupportedIcebergFeature(
                    f"equality delete keyed on {missing_cols} which "
                    f"are absent from the parquet of {path} and not "
                    "identity-partition constants — refusing to "
                    "compare against nulls"
                )
            present = [c for c in cols if c in have]
            dt = _pq.read_table(path, columns=present)
            n = dt.num_rows
            col_lists = [
                dt.column(c).to_pylist()
                if c in have
                else [cfile[c]] * n
                for c in cols
            ]
            already = dead.get(path, ())
            kills = [
                pos
                for pos, key in enumerate(zip(*col_lists))
                if key in eff and pos not in already
            ]
            if kills:
                out.setdefault(path, []).extend(kills)
    return {p: sorted(set(v)) for p, v in out.items()}


def _iceberg_file_may_match(
    f: dict,
    prune: list[tuple[int, str, object, str]],
    part_of: dict[int, str],
    transforms: list[tuple[int, str, str]] | None = None,
) -> bool:
    """Conservative: False only when the file PROVABLY has no matching
    row (same contract as the Delta reader's `_file_may_match`).
    ``prune`` items are (field_id, op, value, iceberg_type);
    ``transforms`` lists the file's spec's NON-identity partition
    fields (see _transform_sources_by_spec) — a value predicate on a
    transform's source column prunes through the transform (bucket:
    equality only; truncate/temporal: order-preserving but non-strict,
    so strict ops weaken to inclusive on the transformed value)."""
    lowers = _bounds_map(f.get("lower_bounds"))
    uppers = _bounds_map(f.get("upper_bounds"))
    parts = f.get("partition") or {}
    for fid, op, val, ityp in prune:
        lo = hi = None
        pname = part_of.get(fid)
        if pname is not None and parts.get(pname) is not None:
            lo = hi = parts[pname]
        else:
            lo = _decode_bound(lowers.get(fid), ityp)
            hi = _decode_bound(uppers.get(fid), ityp)
        if lo is not None and hi is not None:
            try:
                if op == "=" and not (lo <= val <= hi):
                    return False
                if op == "<" and not (lo < val):
                    return False
                if op == "<=" and not (lo <= val):
                    return False
                if op == ">" and not (hi > val):
                    return False
                if op == ">=" and not (hi >= val):
                    return False
            except TypeError:
                pass  # incomparable — may match
        for tfid, tname, tr in transforms or ():
            if tfid != fid:
                continue
            pv = parts.get(tname)
            if pv is None:
                continue  # null/absent partition value — keep
            try:
                from data_lakehouse_project_spark.functions import (
                    ice_transforms as _ice,
                )

                lit = _ice.transform_literal(tr, val, ityp)
            except (ValueError, TypeError):
                continue  # uncomputable literal — keep the file
            if lit is None:
                continue
            is_bucket = tr.startswith("bucket[")
            try:
                if op == "=":
                    if pv != lit:
                        return False
                elif is_bucket:
                    continue  # buckets answer equality only
                elif op in ("<", "<=") and not (pv <= lit):
                    return False
                elif op in (">", ">=") and not (pv >= lit):
                    return False
            except TypeError:
                continue
    return True


def iceberg_live_files(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    metadata_file: str | None = None,
) -> tuple[dict, list[dict], list[dict], list[dict]]:
    """(metadata, live data_file dicts, live POSITION-delete file
    dicts, live EQUALITY-delete file dicts) for the selected snapshot.

    v2 row-level deletes: delete manifests (``manifest_file.content``
    == 1) list delete files.  POSITION deletes (``data_file.content``
    == 1, parquet of ``(file_path, pos)`` rows per spec §Position
    Delete Files) and EQUALITY deletes (content == 2, parquet of the
    ``equality_ids`` columns' values) are returned for the scan to
    anti-join.  Equality application needs the spec's sequence-number
    rule (a delete applies only to data files with a STRICTLY OLDER
    data sequence number), so each dict carries ``__seq`` — the
    entry's ``sequence_number``, inherited from the manifest's when
    the entry was ADDED with a null (the spec's inheritance rule).  A
    delete that cannot be sequenced is refused, never guessed."""
    md = load_iceberg_metadata(table_path, metadata_file)
    snap = _select_snapshot(md, snapshot_id, as_of_ms)
    mlist_path = snap["manifest-list"]
    if not os.path.isabs(mlist_path):
        mlist_path = os.path.join(table_path, mlist_path)
    manifests, _ = avro_records(spark, mlist_path)
    live: list[dict] = []
    pos_deletes: list[dict] = []
    eq_deletes: list[dict] = []
    for m in manifests:
        m_content = m.get("content", 0)
        if m_content not in (0, 1):
            raise UnsupportedIcebergFeature(
                f"manifest_file.content {m_content} is not supported"
            )
        m_seq = m.get("sequence_number")
        m_spec = m.get("partition_spec_id")
        mpath = m["manifest_path"]
        if not os.path.isabs(mpath):
            mpath = os.path.join(table_path, mpath)
        entries, _ = avro_records(spark, mpath)
        for e in entries:
            if e.get("status") == 2:  # DELETED — records removal
                continue
            df_ = e["data_file"]
            f_content = df_.get("content", 0)
            fmt = str(df_.get("file_format", "")).upper()
            is_dv = (
                fmt == "PUFFIN"
                and f_content == 1
                and df_.get("referenced_data_file") is not None
            )
            if fmt != "PARQUET" and not is_dv:
                raise UnsupportedIcebergFeature(
                    f"file format {df_.get('file_format')!r} is not "
                    "supported"
                )
            if is_dv:
                df_ = dict(df_)
                df_["__is_dv"] = True
            seq = e.get("sequence_number")
            if seq is None and e.get("status") == 1:
                seq = m_seq  # spec: ADDED entries inherit manifest seq
            df_ = dict(df_)
            df_["__seq"] = seq
            # the partition tuple follows the MANIFEST's declared spec
            # (partition evolution: older manifests keep older specs)
            df_["__spec_id"] = m_spec
            # owning manifest (v3 DV supersession rewrites it)
            df_["__manifest"] = mpath
            # original adding snapshot (manifest-inherited when null) —
            # rewrites re-emit untouched files as EXISTING with this
            esid = e.get("snapshot_id")
            if esid is None:
                esid = m.get("added_snapshot_id")
            df_["__snap_id"] = esid
            if m_content == 0:
                if f_content != 0:
                    raise UnsupportedIcebergFeature(
                        f"delete file (content={f_content}) inside a "
                        "DATA manifest violates the spec"
                    )
                live.append(df_)
            elif f_content == 1:
                pos_deletes.append(df_)
            elif f_content == 2:
                if not df_.get("equality_ids"):
                    raise UnsupportedIcebergFeature(
                        "equality delete file carries no equality_ids"
                    )
                eq_deletes.append(df_)
            else:
                raise UnsupportedIcebergFeature(
                    f"delete file content {f_content} is not supported"
                )
    return md, live, pos_deletes, eq_deletes


def _arrow_batch_scan(
    spark: SparkSession,
    md: dict,
    live: list[dict],
    pos_deletes: list[dict],
    _abs,
    schema,
    table_path: str,
    emit_meta: bool = False,
) -> DataFrame:
    """Build the per-file arrow scan plan (identity-partition consts
    + dead positions from position-delete files, read driver-side —
    the same O(deleted rows) budget class as the changelog) and hand
    it to the ``graft_arrow_scan`` batch source.  ``emit_meta`` adds
    the ``__ice_path``/``__ice_pos`` provenance columns (the equality
    anti-join keys)."""
    import json as _json

    from data_lakehouse_project_spark.sources.arrow_scan import (
        register_arrow_scan,
        write_scan_plan,
    )

    register_arrow_scan(spark)
    name2id_all = {v: k for k, v in _field_names_by_id(md).items()}
    by_spec_ident = _identity_sources_by_spec(md)
    default_ident = _identity_partition_sources(md)
    ident_cols = [
        c
        for c in schema.names
        if any(
            name2id_all.get(c) in m_ for m_ in by_spec_ident.values()
        )
    ]
    dead: dict[str, list[int]] = {}
    if pos_deletes:
        import pyarrow.parquet as _pq

        from .puffin import dv_positions_of_entry

        for f in pos_deletes:
            if f.get("__is_dv"):  # v3 puffin deletion vector
                tgt = _abs(f["referenced_data_file"])
                dead.setdefault(tgt, []).extend(
                    dv_positions_of_entry(table_path, f)
                )
                continue
            t = _pq.read_table(
                _abs(f["file_path"]), columns=["file_path", "pos"]
            )
            for tgt, pos in zip(
                t.column("file_path").to_pylist(),
                t.column("pos").to_pylist(),
            ):
                dead.setdefault(_abs(tgt), []).append(int(pos))
    # v3 initial-defaults ride the same per-file consts mechanism:
    # the executor fills a const only when the column is PHYSICALLY
    # absent from the file — exactly the spec's "written before the
    # field existed" condition (partition consts take precedence)
    default_fill = _initial_defaults(md)
    files = []
    for f in live:
        p = _abs(f["file_path"])
        consts = dict(default_fill)
        if ident_cols:
            ident = by_spec_ident.get(
                f.get("__spec_id"), default_ident
            )
            part = f.get("partition") or {}
            for c in ident_cols:
                v = part.get(ident.get(name2id_all[c]))
                if v is not None:
                    consts[c] = v
        files.append(
            {
                "path": p,
                "consts": consts,
                "dead": sorted(set(dead.get(p, ()))),
                "size": int(f.get("file_size_in_bytes") or 0),
            }
        )
    plan = write_scan_plan(
        _json.loads(schema.json()), name2id_all, files,
        emit_meta=emit_meta,
    )
    return (
        spark.read.format("graft_arrow_scan")
        .option("plan", plan)
        .load()
    )


def _attach_row_lineage(
    spark: SparkSession, df: DataFrame, live: list[dict], key_of
) -> DataFrame:
    """Attach the v3 row-lineage columns to a scan carrying
    ``__ice_path``/``__ice_pos`` (file-absolute row position):
    ``_row_id = first_row_id + position``, ``_last_updated_sequence_
    number`` = the entry's data sequence number.  Refuses when any
    live file lacks lineage metadata — never invents ids."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType as _Lt,
        StringType as _St2,
        StructField as _Sf2,
        StructType as _Sty2,
    )

    missing = [
        f["file_path"]
        for f in live
        if f.get("first_row_id") is None or f.get("__seq") is None
    ]
    if missing:
        raise UnsupportedIcebergFeature(
            "row_lineage=True but these files carry no "
            f"first_row_id / sequence number: {missing[:3]} — "
            "refusing to invent row ids"
        )
    lmap = spark.createDataFrame(
        [
            (key_of(f), int(f["first_row_id"]), int(f["__seq"]))
            for f in live
        ],
        _Sty2(
            [
                _Sf2("__ice_path", _St2()),
                _Sf2("__frid", _Lt()),
                _Sf2("__lseq", _Lt()),
            ]
        ),
    )
    df = df.join(F.broadcast(lmap), "__ice_path", "left")
    return df.withColumn(
        "_row_id", F.col("__frid") + F.col("__ice_pos")
    ).withColumn(
        "_last_updated_sequence_number", F.col("__lseq")
    ).drop("__frid", "__lseq")


def _apply_equality_deletes(
    spark: SparkSession,
    df: DataFrame,
    md: dict,
    live: list[dict],
    eq_deletes: list[dict],
    schema,
    _abs,
    key_of,
) -> DataFrame:
    """Apply live EQUALITY deletes to a scan carrying ``__ice_path``
    (whose values are ``key_of(file)`` per data file) — the null-safe
    anti-join under the spec's strictly-older sequence rule with
    partition scoping.  Shared by the JVM scan and the arrow fast
    path (the eq anti-join never needed the JVM scan, only the path
    key — so high-file-count tables with live equality deletes keep
    executor-side planning)."""
    from pyspark.sql import functions as F

    unseq = [
        f["file_path"]
        for f in (*eq_deletes, *live)
        if f.get("__seq") is None
    ]
    if unseq:
        raise UnsupportedIcebergFeature(
            "equality deletes require data sequence numbers on "
            f"every live entry; missing for {unseq[:3]}"
        )
    id2name = _field_names_by_id(md)
    # per-row data sequence number via a broadcast path->seq map
    seq_map = spark.createDataFrame(
        [
            (
                key_of(f),
                int(f["__seq"]),
                _eq_partition_key(
                    f.get("__spec_id"), f.get("partition")
                ),
            )
            for f in live
        ],
        ["__ice_path", "__data_seq", "__data_pkey"],
    )
    df = df.join(F.broadcast(seq_map), "__ice_path", "left")
    _spec_part2 = {
        int(sp.get("spec-id", 0)): bool(sp.get("fields"))
        for sp in md.get("partition-specs", [])
    }

    def _del_pkey(f: dict) -> str | None:
        dspec = int(f.get("__spec_id") or 0)
        if not _spec_part2.get(dspec):
            return None  # unpartitioned spec: GLOBAL delete
        return _eq_partition_key(dspec, f.get("partition"))

    groups: dict[tuple, list[dict]] = {}
    for f in eq_deletes:
        groups.setdefault(
            tuple(sorted(int(i) for i in f["equality_ids"])), []
        ).append(f)
    for ids, files in groups.items():
        try:
            cols = [id2name[i] for i in ids]
        except KeyError as exc:
            raise UnsupportedIcebergFeature(
                f"equality_ids reference unknown field id {exc}"
            ) from None
        branches = [
            spark.read.parquet(_abs(f["file_path"]))
            .select(
                *[
                    F.col(c).cast(schema[c].dataType).alias(f"__eq_{c}")
                    for c in cols
                ]
            )
            .withColumn("__del_seq", F.lit(int(f["__seq"])))
            .withColumn(
                "__del_pkey",
                F.lit(_del_pkey(f)).cast("string"),
            )
            for f in files
        ]
        del_df = branches[0]
        for b in branches[1:]:
            del_df = del_df.unionByName(b)
        total = sum(
            int(f.get("file_size_in_bytes") or 0) for f in files
        )
        if total and total <= 32 << 20:
            del_df = F.broadcast(del_df)
        cond = F.col("__del_seq") > F.col("__data_seq")
        # spec scoping: partitioned delete applies only within
        # its own partition; NULL __del_pkey means GLOBAL
        cond = cond & (
            F.col("__del_pkey").isNull()
            | (F.col("__del_pkey") == F.col("__data_pkey"))
        )
        for c in cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
        df = df.join(del_df, cond, "left_anti")
    return df.drop("__data_seq", "__data_pkey")


def read_iceberg_table(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    metadata_file: str | None = None,
    prune: list[tuple[str, str, object]] | None = None,
    row_lineage: bool = False,
    columns: list[str] | None = None,
) -> DataFrame:
    """DataFrame over a foreign Iceberg table's selected snapshot,
    with v2 row-level deletes applied:

    ``columns`` projects the result to the named table columns — and,
    unlike a ``.select`` AFTER the read, narrows the arrow fast path's
    DECLARED schema, so only those parquet columns are read (Spark
    does not push column pruning into Python data sources; the
    declared schema is the only projection the source sees).  On the
    JVM path it is a plain select that Catalyst pushes into the scan
    either way.  Prune columns are scanned as needed and dropped
    after the re-apply.

    * POSITION deletes: a ``(file, row_index)`` anti-join — the same
      mechanism the Delta reader uses for deletion vectors.
    * EQUALITY deletes: a null-safe anti-join on the ``equality_ids``
      columns, gated by the spec's sequence rule (the delete applies
      only to rows of data files with a strictly OLDER data sequence
      number, so a row re-inserted after the delete survives).

    Delete parquet is read by EXECUTORS through a normal scan (never
    materialized on the driver), so 10^8-row delete files are a
    shuffle, not an OOM.

    v3 surfaces: PUFFIN deletion vectors apply exactly (decoded
    driver-side, the same budget class as Delta DVs), and
    ``row_lineage=True`` adds the spec's ``_row_id`` /
    ``_last_updated_sequence_number`` columns (``first_row_id +
    position`` / the entry's data sequence number) — refused when any
    live file lacks a ``first_row_id`` rather than inventing ids."""
    from pyspark.sql import functions as F

    md, live, pos_deletes, eq_deletes = iceberg_live_files(
        spark, table_path, snapshot_id, as_of_ms, metadata_file
    )
    schema = _spark_schema(spark, md)
    if columns is not None:
        unknown = [c for c in columns if c not in schema.names]
        if unknown:
            raise ValueError(
                f"columns not in table schema: {unknown} "
                f"(have {schema.names})"
            )

    if prune:  # noqa: SIM102 — kept flat for the re-apply below
        # driver-side file skipping over manifest column bounds and
        # identity partition values; predicates are RE-APPLIED as real
        # filters below, so skipping is an IO optimization, never a
        # correctness dependency (same contract as the Delta reader)
        name2id = {v: k for k, v in _field_names_by_id(md).items()}
        id2type = _field_types_by_id(md)
        by_spec = _identity_sources_by_spec(md)
        default_part_of = _identity_partition_sources(md)
        tr_by_spec = _transform_sources_by_spec(md)
        default_tr = tr_by_spec.get(md.get("default-spec-id", 0), [])
        typed = [
            (name2id[c], op, v, id2type[name2id[c]])
            for c, op, v in prune
            if c in name2id and op not in ("isnull", "isnotnull")
        ]
        live = [
            f
            for f in live
            if _iceberg_file_may_match(
                f,
                typed,
                # each file prunes under ITS manifest's spec —
                # post-evolution, old-spec files keep full coverage
                by_spec.get(f.get("__spec_id"), default_part_of),
                tr_by_spec.get(f.get("__spec_id"), default_tr),
            )
        ]

    if not live:
        empty = spark.createDataFrame([], schema)
        return empty.select(*columns) if columns is not None else empty

    if eq_deletes:
        # spec scoping: an equality delete stored with a PARTITION
        # applies only to data files of the same spec + partition
        # value; one stored under an unpartitioned spec is GLOBAL.
        # Drop deletes that can touch NO live file (wrong partition,
        # or nothing strictly older) driver-side — partition-scoped
        # delete manifests let untouched partitions skip delete
        # application entirely, and a fully-pruned set re-enables the
        # arrow fast path below.
        _spec_part = {
            int(sp.get("spec-id", 0)): bool(sp.get("fields"))
            for sp in md.get("partition-specs", [])
        }
        _all_seqs = [f.get("__seq") for f in live]
        if all(x is not None for x in _all_seqs) and all(
            d.get("__seq") is not None for d in eq_deletes
        ):
            _min_all = min(int(x) for x in _all_seqs)
            _min_by_pkey: dict[str, int] = {}
            for f in live:
                pk = _eq_partition_key(
                    f.get("__spec_id"), f.get("partition")
                )
                sq = int(f["__seq"])
                if pk not in _min_by_pkey or sq < _min_by_pkey[pk]:
                    _min_by_pkey[pk] = sq
            kept = []
            for d in eq_deletes:
                dspec = int(d.get("__spec_id") or 0)
                if _spec_part.get(dspec):
                    ms = _min_by_pkey.get(
                        _eq_partition_key(dspec, d.get("partition"))
                    )
                else:
                    ms = _min_all
                if ms is not None and ms < int(d["__seq"]):
                    kept.append(d)
            eq_deletes = kept
        # (None sequence numbers fall through to the apply block's
        # refusal — pruning never masks that error)

    def _abs(p: str) -> str:
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    # high-file-count fast path: the snapshot's file list is already
    # materialized from the manifests, so skip Spark's O(files) driver
    # InMemoryFileIndex entirely and scan via per-file arrow
    # partitions (sources/arrow_scan.py — the shape the streaming
    # sources plan in ~0.2 s where the JVM path takes 18-25 s at 10k
    # files).  Equality deletes keep the JVM anti-join path.
    from data_lakehouse_project_spark.sources.arrow_scan import (
        arrow_scan_threshold,
    )

    if len(live) >= arrow_scan_threshold():
        scan_schema_n = schema
        if columns is not None:
            from pyspark.sql.types import StructType as _Sty

            keep = set(columns) | {
                c for c, _, _ in (prune or []) if c in schema.names
            }
            if eq_deletes:
                # the equality anti-join compares the key columns —
                # scan them even when projected out (dropped below)
                id2name_eq = _field_names_by_id(md)
                for d in eq_deletes:
                    for i in d.get("equality_ids") or ():
                        c = id2name_eq.get(int(i))
                        if c is not None:
                            keep.add(c)
            scan_schema_n = _Sty(
                [f for f in schema.fields if f.name in keep]
            )
        df = _arrow_batch_scan(
            spark, md, live, pos_deletes, _abs, scan_schema_n,
            table_path, emit_meta=bool(eq_deletes) or row_lineage,
        )
        lineage_n: list[str] = []
        if eq_deletes:
            # the anti-join never needed the JVM scan — only the
            # per-row path key the source emits; live equality
            # deletes no longer force O(files) driver planning
            df = _apply_equality_deletes(
                spark, df, md, live, eq_deletes, schema, _abs,
                key_of=lambda f: _abs(f["file_path"]),
            )
        if row_lineage:
            # same story for lineage: first_row_id + position over
            # the source's provenance columns
            df = _attach_row_lineage(
                spark, df, live,
                key_of=lambda f: _abs(f["file_path"]),
            )
            lineage_n = ["_row_id", "_last_updated_sequence_number"]
        if eq_deletes or row_lineage:
            df = df.select(*scan_schema_n.names, *lineage_n)
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
            df = df.select(*columns, *lineage_n)
        return df

    paths = [_abs(f["file_path"]) for f in live]
    # explicit current schema: pre-evolution files surface added
    # columns as null; column order follows the Iceberg schema.
    # When the files carry parquet field ids (every spec-conformant
    # writer stamps them), resolve by FIELD ID so renamed columns read
    # their pre-rename files; id-less files (migrated data) resolve by
    # name, the spec's name-mapping fallback.
    scan_schema = schema
    if _file_has_field_ids(paths[0]):
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        scan_schema = _spark_schema(spark, md, field_ids=True)
    df = spark.read.schema(scan_schema).parquet(*paths)

    # identity-partition source columns may be ABSENT from the data
    # files (spec: "Partition values for identity transforms can be
    # used to replace the source column") — they surface from the
    # manifests' partition structs below, which needs the path key
    name2id_all = {v: k for k, v in _field_names_by_id(md).items()}
    by_spec_ident = _identity_sources_by_spec(md)
    ident_cols = [
        c
        for c in schema.names
        if any(name2id_all.get(c) in m for m in by_spec_ident.values())
    ]

    # v3 deletion vectors (puffin) split off: their positions decode
    # driver-side (the same O(deleted rows) budget class as Delta DVs)
    dv_entries = [f for f in pos_deletes if f.get("__is_dv")]
    pos_deletes = [f for f in pos_deletes if not f.get("__is_dv")]

    # v3 initial-defaults (spec "Default values"): per-file footer
    # check — ONLY files physically lacking the field read the
    # default; files carrying it keep genuine nulls.  O(files) footer
    # reads, paid only when defaults exist (the JVM path's low-file-
    # count regime; the arrow path does this executor-side via consts)
    defaults_jvm = _initial_defaults(md)
    dfl_rows: list[list] = []
    if defaults_jvm:
        import pyarrow.parquet as _pqd

        id_of_name = {
            v: k for k, v in _field_names_by_id(md).items()
        }
        for p in paths:
            fsch = _pqd.read_schema(p)
            fids = set()
            for af in fsch:
                fid = (af.metadata or {}).get(b"PARQUET:field_id")
                if fid is not None:
                    fids.add(int(fid))
            vals = []
            for c, dv in defaults_jvm.items():
                present = (
                    id_of_name.get(c) in fids
                    if fids
                    else c in fsch.names
                )
                if not present and dv == UNSUPPORTED_DEFAULT:
                    _raise_unsupported_default(c)
                vals.append(
                    None
                    if present
                    else _coerce_partition_value(
                        dv, schema[c].dataType
                    )
                )
            dfl_rows.append([os.path.abspath(p)] + vals)
        if all(all(v is None for v in r[1:]) for r in dfl_rows):
            dfl_rows = []  # every file carries every default field

    if pos_deletes or dv_entries or eq_deletes or ident_cols or \
            row_lineage or dfl_rows:
        # _metadata is only resolvable on the raw scan — materialize
        # the decoded path key (and row index) before any join.
        from .delta_reader import _spark_path_key

        meta_cols = {"__ice_path": _spark_path_key()}
        if pos_deletes or dv_entries or row_lineage:
            meta_cols["__ice_pos"] = F.col("_metadata.row_index")
        df = df.withColumns(meta_cols)

    if pos_deletes:
        # Position-delete rows carry the TARGET file path exactly as
        # the manifests spell it (raw location string, not URI-
        # encoded); _metadata.file_path IS Hadoop-URI-encoded, so the
        # scan side decodes (shared helper) and both sides resolve
        # relative paths against the table root.  Iceberg never
        # reuses a data-file path across sequence numbers, so a pure
        # path match equals the spec's sequence-number rule.
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        del_schema = StructType(
            [
                StructField("file_path", StringType()),
                StructField("pos", LongType()),
            ]
        )
        del_paths = [_abs(f["file_path"]) for f in pos_deletes]
        raw = F.regexp_replace(F.col("file_path"), "^file:(//)?", "")
        deletes = (
            spark.read.schema(del_schema)
            .parquet(*del_paths)
            .select(
                F.when(raw.startswith("/"), raw)
                .otherwise(F.concat(F.lit(table_path + "/"), raw))
                .alias("__ice_path"),
                F.col("pos").alias("__ice_pos"),
            )
        )
        total_del_bytes = sum(
            int(f.get("file_size_in_bytes") or 0) for f in pos_deletes
        )
        if total_del_bytes and total_del_bytes <= 32 << 20:
            deletes = F.broadcast(deletes)
        df = df.join(
            deletes, ["__ice_path", "__ice_pos"], "left_anti"
        )

    if dv_entries:
        from .puffin import dv_positions_of_entry

        pairs = [
            (os.path.abspath(_abs(f["referenced_data_file"])), int(p))
            for f in dv_entries
            for p in dv_positions_of_entry(table_path, f)
        ]
        if pairs:
            dvdel = F.broadcast(
                spark.createDataFrame(
                    pairs, ["__ice_path", "__ice_pos"]
                )
            )
            df = df.join(
                dvdel, ["__ice_path", "__ice_pos"], "left_anti"
            )

    if ident_cols:
        # per-file identity partition values, each file under ITS
        # manifest's spec; COALESCE keeps file-carried values when the
        # writer stored the column physically (both are spec-legal)
        from pyspark.sql.types import StructField as _SF
        from pyspark.sql.types import StructType as _STy
        from pyspark.sql.types import StringType as _Str

        default_ident = _identity_partition_sources(md)
        rows = []
        for f in live:
            ident = by_spec_ident.get(
                f.get("__spec_id"), default_ident
            )
            part = f.get("partition") or {}
            vals = [
                _coerce_partition_value(
                    part.get(ident.get(name2id_all[c])),
                    schema[c].dataType,
                )
                for c in ident_cols
            ]
            rows.append([os.path.abspath(_abs(f["file_path"]))] + vals)
        pmap = spark.createDataFrame(
            rows,
            _STy(
                [_SF("__ice_path", _Str())]
                + [
                    _SF(f"__ipv_{c}", schema[c].dataType)
                    for c in ident_cols
                ]
            ),
        )
        df = df.join(F.broadcast(pmap), "__ice_path", "left")
        for c in ident_cols:
            df = df.withColumn(
                c, F.coalesce(F.col(c), F.col(f"__ipv_{c}"))
            )

    if dfl_rows:
        from pyspark.sql.types import StructField as _SFd
        from pyspark.sql.types import StructType as _STyd
        from pyspark.sql.types import StringType as _Strd

        dmap = spark.createDataFrame(
            dfl_rows,
            _STyd(
                [_SFd("__ice_path", _Strd())]
                + [
                    _SFd(f"__dfl_{c}", schema[c].dataType)
                    for c in defaults_jvm
                ]
            ),
        )
        df = df.join(F.broadcast(dmap), "__ice_path", "left")
        for c in defaults_jvm:
            df = df.withColumn(
                c, F.coalesce(F.col(c), F.col(f"__dfl_{c}"))
            )

    if eq_deletes:
        df = _apply_equality_deletes(
            spark, df, md, live, eq_deletes, schema, _abs,
            key_of=lambda f: os.path.abspath(_abs(f["file_path"])),
        )

    lineage_cols: list[str] = []
    if row_lineage:
        missing = [
            f["file_path"]
            for f in live
            if f.get("first_row_id") is None or f.get("__seq") is None
        ]
        if missing:
            raise UnsupportedIcebergFeature(
                "row_lineage=True but these files carry no "
                f"first_row_id / sequence number: {missing[:3]} — "
                "refusing to invent row ids"
            )
        df = _attach_row_lineage(
            spark, df, live,
            key_of=lambda f: os.path.abspath(_abs(f["file_path"])),
        )
        lineage_cols = ["_row_id", "_last_updated_sequence_number"]

    df = df.select(*schema.names, *lineage_cols)
    if prune:
        from pyspark.sql import functions as F

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
        df = df.select(*columns, *lineage_cols)
    return df


def _current_schema(md: dict) -> dict:
    schemas = md.get("schemas")
    if schemas is not None:
        return next(
            (
                s
                for s in schemas
                if s.get("schema-id") == md.get("current-schema-id")
            ),
            schemas[0],
        )
    return md["schema"]


def _field_types_by_id(md: dict) -> dict[int, str]:
    return {
        int(f["id"]): f["type"] for f in _current_schema(md)["fields"]
    }


def _field_names_by_id(md: dict) -> dict[int, str]:
    return {
        int(f["id"]): f["name"] for f in _current_schema(md)["fields"]
    }


def iceberg_snapshot_ids(table_path: str) -> list[tuple[int, int]]:
    """(snapshot-id, timestamp-ms) pairs, oldest first."""
    md = load_iceberg_metadata(table_path)
    return sorted(
        (s["snapshot-id"], s["timestamp-ms"])
        for s in md.get("snapshots", [])
    )


def iceberg_metadata_df(
    spark: SparkSession,
    table_path: str,
    kind: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Metadata tables (the Spark-Iceberg ``table.snapshots`` /
    ``table.files`` / ``table.manifests`` / ``table.history`` shapes)
    as DataFrames — driver metadata only, no data scan.

    ``kind``: ``snapshots`` (id, parent, timestamp, operation,
    manifest list), ``history`` (timestamp, id, is_current),
    ``manifests`` (path, length, spec id, content, sequence numbers,
    counts), ``files`` (live data files of the selected snapshot with
    record counts, sizes, delete-file split).
    """
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    md = load_iceberg_metadata(table_path)
    if kind == "snapshots":
        schema = StructType(
            [
                StructField("snapshot_id", LongType()),
                StructField("parent_id", LongType()),
                StructField("committed_at", LongType()),
                StructField("operation", StringType()),
                StructField("manifest_list", StringType()),
            ]
        )
        rows = [
            (
                int(s["snapshot-id"]),
                (
                    int(s["parent-snapshot-id"])
                    if s.get("parent-snapshot-id") is not None
                    else None
                ),
                int(s["timestamp-ms"]),
                (s.get("summary") or {}).get("operation"),
                s["manifest-list"],
            )
            for s in md.get("snapshots", [])
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "history":
        cur = md.get("current-snapshot-id")
        schema = StructType(
            [
                StructField("made_current_at", LongType()),
                StructField("snapshot_id", LongType()),
                StructField("is_current_ancestor", BooleanType()),
            ]
        )
        log = md.get("snapshot-log") or [
            {"snapshot-id": s["snapshot-id"],
             "timestamp-ms": s["timestamp-ms"]}
            for s in md.get("snapshots", [])
        ]
        rows = [
            (
                int(e["timestamp-ms"]),
                int(e["snapshot-id"]),
                e["snapshot-id"] == cur,
            )
            for e in log
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "manifests":
        snap = _select_snapshot(md, snapshot_id, None)
        mlist = snap["manifest-list"]
        if not os.path.isabs(mlist):
            mlist = os.path.join(table_path, mlist)
        manifests, _ = avro_records(spark, mlist)
        schema = StructType(
            [
                StructField("path", StringType()),
                StructField("length", LongType()),
                StructField("partition_spec_id", IntegerType()),
                StructField("content", IntegerType()),
                StructField("sequence_number", LongType()),
                StructField("added_snapshot_id", LongType()),
                StructField("added_files_count", IntegerType()),
                StructField("existing_files_count", IntegerType()),
                StructField("deleted_files_count", IntegerType()),
            ]
        )
        rows = [
            (
                m["manifest_path"],
                int(m.get("manifest_length", 0)),
                int(m.get("partition_spec_id", 0)),
                int(m.get("content", 0)),
                (
                    int(m["sequence_number"])
                    if m.get("sequence_number") is not None
                    else None
                ),
                (
                    int(m["added_snapshot_id"])
                    if m.get("added_snapshot_id") is not None
                    else None
                ),
                int(m.get("added_files_count") or 0),
                int(m.get("existing_files_count") or 0),
                int(m.get("deleted_files_count") or 0),
            )
            for m in manifests
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "files":
        _, live, pos_del, eq_del = iceberg_live_files(
            spark, table_path, snapshot_id=snapshot_id
        )
        schema = StructType(
            [
                StructField("content", IntegerType()),
                StructField("file_path", StringType()),
                StructField("record_count", LongType()),
                StructField("file_size_in_bytes", LongType()),
                StructField("sequence_number", LongType()),
            ]
        )
        rows = [
            (
                int(f.get("content", 0)),
                f["file_path"],
                int(f.get("record_count", 0)),
                int(f.get("file_size_in_bytes", 0)),
                (
                    int(f["__seq"])
                    if f.get("__seq") is not None
                    else None
                ),
            )
            for f in live + pos_del + eq_del
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "partitions":
        # per-partition rollup of the selected snapshot's LIVE data
        # files (the Spark-Iceberg `table.partitions` shape): the
        # manifest partition tuple serialized as a sorted JSON string
        # (specs can evolve — a stringly key is honest across specs),
        # plus spec id, file/record/byte counts
        _, live, _, _ = iceberg_live_files(
            spark, table_path, snapshot_id=snapshot_id
        )
        agg: dict[tuple, list] = {}
        for f in live:
            key = (
                json.dumps(
                    sorted(
                        (str(k), str(v))
                        for k, v in (f.get("partition") or {}).items()
                    )
                ),
                int(f.get("__spec_id") or 0),
            )
            a = agg.setdefault(key, [0, 0, 0])
            a[0] += 1
            a[1] += int(f.get("record_count") or 0)
            a[2] += int(f.get("file_size_in_bytes") or 0)
        schema = StructType(
            [
                StructField("partition", StringType()),
                StructField("spec_id", IntegerType()),
                StructField("file_count", LongType()),
                StructField("record_count", LongType()),
                StructField("total_size_in_bytes", LongType()),
            ]
        )
        rows = [
            (k, sid, int(a[0]), int(a[1]), int(a[2]))
            for (k, sid), a in sorted(agg.items())
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "refs":
        # branch/tag references (`table.refs`): filesystem tables
        # usually carry only the implicit main branch; explicit refs
        # in the metadata surface verbatim
        schema = StructType(
            [
                StructField("name", StringType()),
                StructField("type", StringType()),
                StructField("snapshot_id", LongType()),
                StructField("max_reference_age_ms", LongType()),
                StructField("min_snapshots_to_keep", IntegerType()),
                StructField("max_snapshot_age_ms", LongType()),
            ]
        )
        refs = dict(md.get("refs") or {})
        cur = md.get("current-snapshot-id")
        if "main" not in refs and cur is not None and cur != -1:
            refs["main"] = {"snapshot-id": cur, "type": "branch"}
        rows = [
            (
                name,
                r.get("type"),
                (
                    int(r["snapshot-id"])
                    if r.get("snapshot-id") is not None
                    else None
                ),
                r.get("max-ref-age-ms"),
                r.get("min-snapshots-to-keep"),
                r.get("max-snapshot-age-ms"),
            )
            for name, r in sorted(refs.items())
        ]
        return spark.createDataFrame(rows, schema)
    raise ValueError(
        f"unknown metadata table {kind!r} "
        "(snapshots | history | manifests | files | partitions | "
        "refs)"
    )


def _snapshot_order(md: dict) -> list[int]:
    """Snapshot ids in commit order: the ``snapshot-log`` when present
    (the spec's authoritative history), else the snapshots sorted by
    ``sequence-number`` then ``timestamp-ms``."""
    log = md.get("snapshot-log")
    if log:
        # rollbacks APPEND a log entry for an older snapshot (Iceberg's
        # shape) — keep the FIRST occurrence so ancestry order and
        # stream offsets stay stable across a rollback
        seen: set[int] = set()
        out = []
        for e in log:
            sid = e["snapshot-id"]
            if sid not in seen:
                seen.add(sid)
                out.append(sid)
        return out
    return [
        s["snapshot-id"]
        for s in sorted(
            md.get("snapshots", []),
            key=lambda s: (
                s.get("sequence-number", 0), s["timestamp-ms"]
            ),
        )
    ]


def read_iceberg_changes(
    spark: SparkSession,
    table_path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Iceberg INCREMENTAL APPEND SCAN (the spec's changelog subset
    Spark exposes as ``start-snapshot-id``/``end-snapshot-id``): the
    rows ADDED by each snapshot in ``(from, to]``, stamped with
    ``_snapshot_id`` and ``_committed_at`` (epoch ms).

    ``from_snapshot_id`` is EXCLUSIVE (None = table start);
    ``to_snapshot_id`` inclusive (None = current).  Pure ``append``
    snapshots replay directly from their ADDED manifest entries
    (``entry.snapshot_id``, inherited from the manifest's
    ``added_snapshot_id`` when null, per the spec's inheritance
    rule); ``replace`` (compaction) contributes nothing.  A range
    containing delete/overwrite/upsert snapshots DELEGATES to the
    exact changelog (``read_iceberg_changelog``) and returns its
    ``insert`` rows — each snapshot's added rows with the same
    stamps — instead of refusing (round 11; Spark's own incremental
    read still errors on this shape)."""
    from pyspark.sql import functions as F

    md = load_iceberg_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    order = [s for s in _snapshot_order(md) if s in snaps]
    if to_snapshot_id is None:
        to_snapshot_id = md.get("current-snapshot-id")
    if to_snapshot_id not in snaps:
        raise ValueError(f"snapshot {to_snapshot_id} not in metadata")
    hi = order.index(to_snapshot_id)
    if from_snapshot_id is None:
        lo = -1
    else:
        if from_snapshot_id not in order[: hi + 1]:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_snapshot_id}"
            )
        lo = order.index(from_snapshot_id)
    wanted = order[lo + 1 : hi + 1]

    def _delegate() -> DataFrame:
        # mixed history: the changelog computes exact per-snapshot
        # diffs; its insert rows ARE the incremental adds
        ch = read_iceberg_changelog(
            spark,
            table_path,
            from_snapshot_id=from_snapshot_id,
            to_snapshot_id=to_snapshot_id,
        )
        return ch.where(F.col("_change_type") == "insert").drop(
            "_change_type"
        )

    if any(
        (snaps[sid].get("summary") or {}).get("operation", "append")
        not in ("append", "replace")
        for sid in wanted
    ):
        return _delegate()

    schema = _spark_schema(spark, md)
    specs: list[tuple[str, int, int]] = []  # (abs path, snap id, ts)
    for sid in wanted:
        snap = snaps[sid]
        op = (snap.get("summary") or {}).get("operation", "append")
        if op == "replace":
            # compaction/rewrite: no logical data change — skipped,
            # exactly like the streaming source (and Iceberg's own
            # incremental scan)
            continue
        mlist = snap["manifest-list"]
        if not os.path.isabs(mlist):
            mlist = os.path.join(table_path, mlist)
        manifests, _ = avro_records(spark, mlist)
        for m in manifests:
            if m.get("content", 0) != 0:
                # carried-forward delete manifests (re-listed from an
                # older snapshot) don't make THIS snapshot non-append;
                # only a delete manifest it ADDED does (an
                # append-labeled snapshot carrying one is a mixed
                # history in disguise — delegate)
                if m.get("added_snapshot_id") == sid:
                    return _delegate()
                continue
            mpath = m["manifest_path"]
            if not os.path.isabs(mpath):
                mpath = os.path.join(table_path, mpath)
            entries, _ = avro_records(spark, mpath)
            for e in entries:
                if e.get("status") != 1:  # ADDED only
                    continue
                esid = e.get("snapshot_id")
                if esid is None:
                    esid = m.get("added_snapshot_id")
                if esid != sid:
                    continue
                df_ = e["data_file"]
                if str(df_.get("file_format", "")).upper() != "PARQUET":
                    raise UnsupportedIcebergFeature(
                        f"file format {df_.get('file_format')!r} is "
                        "not supported"
                    )
                p = df_["file_path"]
                for pref in ("file://", "file:"):
                    if p.startswith(pref):
                        p = p[len(pref):]
                if not os.path.isabs(p):
                    p = os.path.join(table_path, p)
                specs.append((p, sid, snap["timestamp-ms"]))

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(schema.fields)
        + [
            StructField("_snapshot_id", LongType()),
            StructField("_committed_at", LongType()),
        ]
    )
    if not specs:
        return spark.createDataFrame([], out_schema)
    scan_schema = schema
    if _file_has_field_ids(specs[0][0]):
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        scan_schema = _spark_schema(spark, md, field_ids=True)
    paths = [p for p, *_ in specs]
    if len(set(paths)) == len(paths):
        from .delta_reader import _spark_path_key

        df = spark.read.schema(scan_schema).parquet(*paths)
        fmap = F.broadcast(
            spark.createDataFrame(
                [
                    (os.path.abspath(p), int(sid), int(ts))
                    for p, sid, ts in specs
                ],
                ["__ice_path", "_snapshot_id", "_committed_at"],
            )
        )
        df = (
            df.withColumn("__ice_path", _spark_path_key())
            .join(fmap, "__ice_path")
            .drop("__ice_path")
        )
        return df.select(*out_schema.names)
    # a file re-added across snapshots (spec-legal for replace chains):
    # per-spec scans keep each (row, snapshot) attribution exact
    outs = []
    for p, sid, ts in specs:
        d = (
            spark.read.schema(scan_schema).parquet(p)
            .withColumn("_snapshot_id", F.lit(int(sid)).cast("long"))
            .withColumn("_committed_at", F.lit(int(ts)).cast("long"))
        )
        outs.append(d)
    out = outs[0]
    for d in outs[1:]:
        out = out.unionByName(d)
    return out.select(*out_schema.names)


def read_iceberg_changelog(
    spark: SparkSession,
    table_path: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    from_timestamp_ms: int | None = None,
    to_timestamp_ms: int | None = None,
) -> DataFrame:
    """Iceberg CHANGELOG over ``(from, to]`` — the CDF equivalent the
    append-only incremental scan (``read_iceberg_changes``) refuses:
    ``delete`` and ``overwrite`` snapshots emit ``delete`` rows
    reconstructed from their POSITION-DELETE files and whole-file
    DELETED manifest entries, appends emit ``insert`` rows, and
    ``replace`` snapshots (compaction) contribute nothing — closing
    the changelog asymmetry with ``delta_cdf.read_delta_changes``.

    Output: table columns + ``_change_type`` (``insert``/``delete``)
    + ``_snapshot_id`` + ``_committed_at`` (epoch ms).

    Mechanics: snapshots are walked IN ORDER from the table start so
    per-file deleted positions accumulate — a position re-deleted by
    a later overlapping delete file emits exactly once, at the
    snapshot that first killed it (the same O(deleted rows) driver
    budget class as the Delta CDF DV-diff).  EQUALITY-delete
    snapshots reduce to exact position kills at planning time
    (``equality_kill_positions``: column-pruned pyarrow read of
    candidate files' key columns under the spec's strictly-older
    sequence rule) and then flow through the same position-delete
    branches — pre-images emit once, at the killing snapshot.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    md = load_iceberg_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    order = [s for s in _snapshot_order(md) if s in snaps]
    # timestamp bounds (the Delta CDF symmetry): from = snapshots
    # committed strictly AFTER the timestamp; to = at or before it.
    if from_timestamp_ms is not None:
        if from_snapshot_id is not None:
            raise ValueError(
                "pass from_snapshot_id OR from_timestamp_ms, not both"
            )
        older = [
            s for s in order
            if snaps[s]["timestamp-ms"] <= from_timestamp_ms
        ]
        from_snapshot_id = older[-1] if older else None
    if to_timestamp_ms is not None:
        if to_snapshot_id is not None:
            raise ValueError(
                "pass to_snapshot_id OR to_timestamp_ms, not both"
            )
        upto = [
            s for s in order
            if snaps[s]["timestamp-ms"] <= to_timestamp_ms
        ]
        if not upto:
            raise ValueError(
                f"no snapshot committed at or before {to_timestamp_ms}"
            )
        to_snapshot_id = upto[-1]
    schema = _spark_schema(spark, md)
    out_schema = StructType(
        list(schema.fields)
        + [
            StructField("_change_type", StringType()),
            StructField("_snapshot_id", LongType()),
            StructField("_committed_at", LongType()),
        ]
    )
    if to_snapshot_id is None:
        to_snapshot_id = md.get("current-snapshot-id")
        if to_snapshot_id is None or to_snapshot_id not in snaps:
            # empty table (no snapshots yet, or a -1 sentinel): an
            # empty changelog, not an error — only an EXPLICIT
            # to_snapshot_id may name a missing snapshot
            return spark.createDataFrame([], out_schema)
    if to_snapshot_id not in snaps:
        raise ValueError(f"snapshot {to_snapshot_id} not in metadata")
    hi = order.index(to_snapshot_id)
    if from_snapshot_id is None:
        lo = -1
    else:
        if from_snapshot_id not in order[: hi + 1]:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_snapshot_id}"
            )
        lo = order.index(from_snapshot_id)
    wanted = set(order[lo + 1 : hi + 1])

    def _abs(p: str) -> str:
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        return p if os.path.isabs(p) else os.path.join(table_path, p)

    import pyarrow.parquet as _pq

    # accumulated per-data-file deleted positions (table start -> hi)
    deleted_so_far: dict[str, set[int]] = {}
    # per-data-file manifest identity (spec id, partition struct) —
    # recorded for EVERY added file (not just wanted snapshots) so
    # delete rows targeting pre-window files still surface identity
    # partition source columns absent from the parquet (the
    # migrated-file case the snapshot reader fills via per-file
    # consts at the ident_cols join above)
    file_parts: dict[str, tuple[int, dict]] = {}
    # LIVE data files at this point of the walk -> data sequence
    # number (the equality-delete strictly-older rule's input)
    live_seq: dict[str, int | None] = {}
    insert_specs: list[tuple[str, int, int]] = []
    # (sid, ts) -> {data path -> [newly deleted positions]}
    del_by_snap: dict[tuple[int, int], dict[str, list[int]]] = {}
    # whole-file removals: (path, sid, ts, positions dead BEFORE)
    removed_specs: list[tuple[str, int, int, list[int]]] = []

    id2name_all = _field_names_by_id(md)
    # identity-source + spec-shape machinery needed DURING the walk
    # for equality-delete replay (consts for physically-absent key
    # columns; partition keys for spec-scoped deletes)
    _n2id = {v: k for k, v in id2name_all.items()}
    _ident_by_spec = _identity_sources_by_spec(md)
    _default_ident2 = _identity_partition_sources(md)
    _spec_partitioned = {
        int(sp.get("spec-id", 0)): bool(sp.get("fields"))
        for sp in md.get("partition-specs", [])
    }

    def _eq_consts_and_pkeys():
        """(consts, live_pkey) over the CURRENT file_parts state."""
        consts: dict[str, dict[str, object]] = {}
        pkeys: dict[str, str] = {}
        for p_, (sp_id, part) in file_parts.items():
            pkeys[p_] = _eq_partition_key(sp_id, part)
            ident = _ident_by_spec.get(sp_id, _default_ident2)
            cvals = {}
            for col in schema.names:
                pf_id = ident.get(_n2id.get(col))
                if pf_id is None:
                    continue
                cvals[col] = _coerce_partition_value(
                    part.get(pf_id), schema[col].dataType
                )
            if cvals:
                consts[p_] = cvals
        return consts, pkeys

    for sid in order[: hi + 1]:
        snap = snaps[sid]
        op = (snap.get("summary") or {}).get("operation", "append")
        if op == "replace":
            continue
        ts = int(snap["timestamp-ms"])
        mlist = snap["manifest-list"]
        if not os.path.isabs(mlist):
            mlist = os.path.join(table_path, mlist)
        manifests, _ = avro_records(spark, mlist)
        # this snapshot's EQUALITY delete files, grouped by ids:
        # processed after the manifest walk (strictly-older rule)
        # (path, seq, partition-key-or-None) per delete file
        eq_groups: dict[tuple[int, ...], list[tuple]] = {}
        for m in manifests:
            if m.get("added_snapshot_id") != sid:
                continue  # re-listed manifest: already processed at
                # the snapshot that added it
            mpath = m["manifest_path"]
            if not os.path.isabs(mpath):
                mpath = os.path.join(table_path, mpath)
            entries, _ = avro_records(spark, mpath)
            for e in entries:
                st = e.get("status")
                df_ = e["data_file"]
                esid = e.get("snapshot_id")
                if esid is None:
                    esid = sid
                p = _abs(df_["file_path"])
                if m.get("content", 0) == 0:  # data manifest
                    if st == 1 and esid == sid:
                        if str(
                            df_.get("file_format", "")
                        ).upper() != "PARQUET":
                            raise UnsupportedIcebergFeature(
                                "file format "
                                f"{df_.get('file_format')!r} is not "
                                "supported"
                            )
                        file_parts[p] = (
                            int(m.get("partition_spec_id") or 0),
                            df_.get("partition") or {},
                        )
                        seq_e = e.get("sequence_number")
                        if seq_e is None:
                            seq_e = m.get("sequence_number")
                        live_seq[p] = (
                            int(seq_e) if seq_e is not None else None
                        )
                        if sid in wanted:
                            insert_specs.append((p, sid, ts))
                    elif st == 2:
                        prior = sorted(deleted_so_far.get(p, ()))
                        if sid in wanted:
                            removed_specs.append((p, sid, ts, prior))
                        # later deletes against a removed file are
                        # spec-illegal; drop its state
                        deleted_so_far.pop(p, None)
                        live_seq.pop(p, None)
                    continue
                # delete manifest (content == 1)
                if st != 1 or esid != sid:
                    continue
                fcontent = df_.get("content", 1)
                if fcontent == 2 or df_.get("equality_ids"):
                    seq_e = e.get("sequence_number")
                    if seq_e is None:
                        seq_e = m.get("sequence_number")
                    _dspec = int(m.get("partition_spec_id") or 0)
                    eq_groups.setdefault(
                        tuple(
                            sorted(
                                int(i)
                                for i in df_.get("equality_ids") or ()
                            )
                        ),
                        [],
                    ).append(
                        (
                            p,
                            int(seq_e) if seq_e is not None else None,
                            _eq_partition_key(
                                _dspec, df_.get("partition")
                            )
                            if _spec_partitioned.get(_dspec)
                            else None,
                        )
                    )
                    continue
                if (
                    str(df_.get("file_format", "")).upper() == "PUFFIN"
                    and df_.get("referenced_data_file") is not None
                ):
                    # v3 deletion vector: exact positions; newly-dead
                    # = DV minus already-dead (a DV supersedes the
                    # file's previous DV, so the diff IS the change)
                    from .puffin import dv_positions_of_entry

                    tp = _abs(df_["referenced_data_file"])
                    seen = deleted_so_far.setdefault(tp, set())
                    fresh = [
                        int(x)
                        for x in dv_positions_of_entry(table_path, df_)
                        if int(x) not in seen
                    ]
                    seen.update(fresh)
                    if sid in wanted and fresh:
                        del_by_snap.setdefault(
                            (sid, ts), {}
                        ).setdefault(tp, []).extend(fresh)
                    continue
                tbl = _pq.read_table(p, columns=["file_path", "pos"])
                targets = tbl.column("file_path").to_pylist()
                poss = tbl.column("pos").to_pylist()
                for tgt, pos in zip(targets, poss):
                    tp = _abs(tgt)
                    seen = deleted_so_far.setdefault(tp, set())
                    if int(pos) in seen:
                        continue  # already dead at an older snapshot
                    seen.add(int(pos))
                    if sid in wanted:
                        del_by_snap.setdefault(
                            (sid, ts), {}
                        ).setdefault(tp, []).append(int(pos))
        if eq_groups:
            # EQUALITY deletes reduce to exact position kills (the
            # spec's strictly-older sequence rule), then flow through
            # the position-delete branches below unchanged
            _consts, _pkeys = _eq_consts_and_pkeys()
            kills = equality_kill_positions(
                sorted(eq_groups.items()),
                live_seq,
                deleted_so_far,
                id2name_all,
                consts=_consts,
                live_pkey=_pkeys,
            )
            for tp, positions in kills.items():
                seen = deleted_so_far.setdefault(tp, set())
                seen.update(positions)
                if sid in wanted:
                    del_by_snap.setdefault(
                        (sid, ts), {}
                    ).setdefault(tp, []).extend(positions)

    if not insert_specs and not del_by_snap and not removed_specs:
        return spark.createDataFrame([], out_schema)

    from .delta_reader import _spark_path_key

    # identity-partition source columns may be physically absent from
    # the data files (spec: manifest partition values replace them) —
    # every scanned branch fills them from file_parts below
    name2id_all = {v: k for k, v in _field_names_by_id(md).items()}
    by_spec_ident = _identity_sources_by_spec(md)
    default_ident = _identity_partition_sources(md)
    ident_cols = [
        c
        for c in schema.names
        if any(name2id_all.get(c) in mp for mp in by_spec_ident.values())
    ]

    def _ident_value(path: str, col: str):
        spec_id, part = file_parts.get(path, (None, {}))
        ident = by_spec_ident.get(spec_id, default_ident)
        return _coerce_partition_value(
            part.get(ident.get(name2id_all.get(col))),
            schema[col].dataType,
        )

    # v3 initial-defaults: change rows of files written before a
    # defaulted column existed surface the default (the snapshot
    # reader's semantics, applied per branch)
    _dflt = _initial_defaults(md)
    _dflt_absent: dict[str, set[str]] = {}

    def _default_value(path: str, col: str):
        if col not in _dflt:
            return None
        absent = _dflt_absent.get(path)
        if absent is None:
            import pyarrow.parquet as _pqd

            fsch = _pqd.read_schema(path)
            fids = {
                int((af.metadata or {}).get(b"PARQUET:field_id"))
                for af in fsch
                if (af.metadata or {}).get(b"PARQUET:field_id")
                is not None
            }
            absent = {
                c
                for c in _dflt
                if (
                    name2id_all.get(c) not in fids
                    if fids
                    else c not in fsch.names
                )
            }
            _dflt_absent[path] = absent
        if col not in absent:
            return None  # physically present: keep genuine values
        if _dflt[col] == UNSUPPORTED_DEFAULT:
            _raise_unsupported_default(col)
        return _coerce_partition_value(
            _dflt[col], schema[col].dataType
        )

    id_schema: list = []  # lazily built field-id scan schema

    def _scan(paths: list[str], with_meta: bool) -> DataFrame:
        """Scan a mixed file set: files WITH parquet field ids resolve
        by id, files without resolve by name (a table can hold both —
        e.g. exporter-written files next to this writer's).  Footer
        probes run on a thread pool — serial probing dominated the
        plan cost at 10k files (I/O bound, ~3 ms each).  Metadata
        columns materialize per branch, before the union.

        High file counts route through the arrow batch source (the
        same escape from Spark's O(files) driver file index the
        snapshot reader takes) — per-file partitions carrying the
        identity consts and emitting the provenance columns
        (__ice_path/__ice_pos) the branches join against."""
        from data_lakehouse_project_spark.sources.arrow_scan import (
            arrow_scan_threshold,
            register_arrow_scan,
            write_scan_plan,
        )

        if len(paths) >= arrow_scan_threshold():
            register_arrow_scan(spark)
            plan_files = [
                {
                    "path": os.path.abspath(p),
                    # the source fills a const ONLY when the column
                    # is physically absent — defaults are safe to
                    # pass unconditionally, ident values win
                    "consts": dict(_dflt) | {
                        c: v
                        for c in ident_cols
                        if (v := _ident_value(p, c)) is not None
                    },
                }
                for p in paths
            ]
            plan = write_scan_plan(
                json.loads(schema.json()),
                name2id_all,
                plan_files,
                emit_meta=with_meta,
            )
            out = (
                spark.read.format("graft_arrow_scan")
                .option("plan", plan)
                .load()
            )
            return out

        from concurrent.futures import ThreadPoolExecutor

        by_ids: dict[bool, list[str]] = {True: [], False: []}
        if len(paths) > 8:
            with ThreadPoolExecutor(max_workers=32) as pool:
                flags = list(pool.map(_file_has_field_ids, paths))
        else:
            flags = [_file_has_field_ids(p) for p in paths]
        for p, has in zip(paths, flags):
            by_ids[has].append(p)
        outs = []
        for has_ids, grp in by_ids.items():
            if not grp:
                continue
            if has_ids:
                spark.conf.set(
                    "spark.sql.parquet.fieldId.read.enabled", "true"
                )
                if not id_schema:
                    id_schema.append(
                        _spark_schema(spark, md, field_ids=True)
                    )
                d = spark.read.schema(id_schema[0]).parquet(*grp)
            else:
                d = spark.read.schema(schema).parquet(*grp)
            if with_meta:
                d = d.withColumns(
                    {
                        "__ice_path": _spark_path_key(),
                        "__ice_pos": F.col("_metadata.row_index"),
                    }
                )
            outs.append(d)
        out = outs[0]
        for d in outs[1:]:
            out = out.unionByName(d)
        fill_cols = list(ident_cols) + [
            c for c in _dflt if c not in ident_cols
        ]
        if fill_cols:
            # fill identity partition source columns from the
            # manifests' partition structs and defaulted columns for
            # files that predate them (COALESCE keeps values the
            # writer stored physically — both are spec-legal; the
            # default fill is per-file presence-gated, so genuine
            # nulls in carrying files stay null)
            def _fill(p_, c_):
                return (
                    _ident_value(p_, c_)
                    if c_ in ident_cols
                    else _default_value(p_, c_)
                )

            if len(paths) == 1:
                for c in fill_cols:
                    v = _fill(paths[0], c)
                    if v is not None:
                        out = out.withColumn(
                            c,
                            F.coalesce(
                                F.col(c),
                                F.lit(v).cast(schema[c].dataType),
                            ),
                        )
            elif with_meta:  # every multi-path call site passes meta
                from pyspark.sql.types import StructField as _SF
                from pyspark.sql.types import StructType as _STy

                pmap = spark.createDataFrame(
                    [
                        [os.path.abspath(p)]
                        + [_fill(p, c) for c in fill_cols]
                        for p in paths
                    ],
                    _STy(
                        [_SF("__ice_path", StringType())]
                        + [
                            _SF(f"__ipv_{c}", schema[c].dataType)
                            for c in fill_cols
                        ]
                    ),
                )
                out = out.join(F.broadcast(pmap), "__ice_path", "left")
                for c in fill_cols:
                    out = out.withColumn(
                        c, F.coalesce(F.col(c), F.col(f"__ipv_{c}"))
                    )
                out = out.drop(*[f"__ipv_{c}" for c in fill_cols])
        return out

    branches: list[DataFrame] = []

    def _stamp(d: DataFrame, label: str, sid: int, ts: int) -> DataFrame:
        return (
            d.withColumn("_change_type", F.lit(label))
            .withColumn("_snapshot_id", F.lit(int(sid)).cast("long"))
            .withColumn("_committed_at", F.lit(int(ts)).cast("long"))
            .select(*out_schema.names)
        )

    # inserts: one scan over all added files, snapshot stamped by path
    # (falls back to per-file scans when a path repeats across snaps)
    if insert_specs:
        ipaths = [p for p, *_ in insert_specs]
        if len(set(ipaths)) == len(ipaths):
            d = _scan(ipaths, with_meta=True)
            fmap = F.broadcast(
                spark.createDataFrame(
                    [
                        (os.path.abspath(p), int(sid), int(ts))
                        for p, sid, ts in insert_specs
                    ],
                    ["__ice_path", "_snapshot_id", "_committed_at"],
                )
            )
            d = (
                d.join(fmap, "__ice_path")
                .withColumn("_change_type", F.lit("insert"))
                .select(*out_schema.names)
            )
            branches.append(d)
        else:
            for p, sid, ts in insert_specs:
                branches.append(
                    _stamp(_scan([p], False), "insert", sid, ts)
                )

    # position deletes: per snapshot, ONE scan of the touched files
    # inner-joined against the exact newly-dead (path, pos) pairs
    for (sid, ts), by_file in sorted(del_by_snap.items()):
        if not by_file:
            continue
        pairs = [
            (os.path.abspath(p), int(pos))
            for p, poss in by_file.items()
            for pos in poss
        ]
        d = _scan(sorted(by_file), with_meta=True)
        hits = F.broadcast(
            spark.createDataFrame(pairs, ["__ice_path", "__ice_pos"])
        )
        branches.append(
            _stamp(
                d.join(hits, ["__ice_path", "__ice_pos"])
                .drop("__ice_path", "__ice_pos"),
                "delete", sid, ts,
            )
        )

    # whole-file removals: every row still LIVE before this snapshot
    for p, sid, ts, prior in removed_specs:
        d = _scan([p], with_meta=bool(prior))
        if prior:
            dead = F.broadcast(
                spark.createDataFrame(
                    [(int(x),) for x in prior], ["__ice_pos"]
                )
            )
            d = (
                d.join(dead, "__ice_pos", "left_anti")
                .drop("__ice_path", "__ice_pos")
            )
        branches.append(_stamp(d, "delete", sid, ts))

    if not branches:
        return spark.createDataFrame([], out_schema)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out
