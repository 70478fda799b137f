"""The Delta log core: one action codec, one commit publish, one
snapshot replay, one classic-checkpoint writer and one deletion-vector
(DV) encoding for every ``_delta_log`` this engine touches.

The engine's own tables (``operators/txnlog.py``), the reader for
foreign logs (``operators/delta_reader.py``), the spec export/mirror
(``operators/delta_export.py``) and the foreign DML writer
(``operators/delta_writer.py``) all build on this module, which imports
none of them — so the format decisions of the published delta-io
PROTOCOL.md live here once:

* **Actions** — ``add`` / ``remove`` / ``metaData`` convert between
  the spec's JSON shape and the engine's compact dicts (path /
  size_bytes / partition_values / stats{num_rows, columns} /
  foreign_dv / bloom) in ``_serialize_*`` / ``_parse_*`` /
  ``_intake_add``.  Deletion vectors are the spec's descriptors
  (``deletionVector``: inline ``i``, uuid-relative ``u``, absolute
  ``p``), decoded by ``operators/dv.py``.  Per-file bloom indexes ride
  in ``add.tags``.
* **Replay** — ``read_delta_snapshot``: newest usable checkpoint at or
  before the target (classic single/multi-part, or V2 UUID manifests
  with sidecars) plus the contiguous JSON commits after it; add minus
  remove by path, removes of one commit reconciled before its adds,
  protocol-gated.  A torn checkpoint falls back to an older one, then
  to the JSON commits.  The parsed state of a classic checkpoint is
  memoized by file identity, so the ~50 snapshots an ingest episode
  takes parse each checkpoint once.
* **Commits** — ``publish_commit`` builds the ``commitInfo`` line and
  publishes version N through ``concurrency.publish_exclusive``; every
  writer of every log here (``TxnTable``, the foreign DML writers,
  export, sync, RESTORE, CONVERT) commits through it.
* **Checkpoints** — ``_write_classic_checkpoint`` writes the spec's
  columnar ``V.checkpoint.parquet`` (protocol, metaData, txn, add with
  tags and DV descriptors) and the ``_last_checkpoint`` pointer.
* **Deletion vectors** — ``_dv_pair_actions`` turns matched (file,
  row position) sets into remove(path, oldDV) + add(path, newDV)
  pairs backed by one ``deletion_vector_<uuid>.bin`` per commit;
  ``drop_deleted_rows`` applies DVs to a scan as an anti-join on
  ``_metadata.row_index``.
"""

from __future__ import annotations

import functools
import json
import os
import uuid as _uuid
from collections.abc import Iterable
from dataclasses import dataclass, field
from urllib.parse import quote, unquote

from ..session import PARQUET_CODEC
from .concurrency import publish_exclusive, replace_atomic
from .dv import resolve_dv_positions, write_dv_file, z85_encode

LOG_DIR = "_delta_log"
_VERSION_DIGITS = 20
# commitInfo.engineInfo of every commit this engine publishes
ENGINE_INFO = "data_lakehouse_project_spark"

# engine extensions ride in spec-sanctioned extension points: CHECK
# constraints where Delta itself stores them, the (hidden-)partition
# spec and bucket-hash lineage under ``lakehouse.*`` configuration
# keys, per-file bloom indexes in ``add.tags``
_CONSTRAINT_CONF_PREFIX = "delta.constraints."
_PARTITION_SPEC_CONF_KEY = "lakehouse.partitionBy"
_BUCKET_HASH_CONF_KEY = "lakehouse.bucketHash"
_TAG_BLOOM = "lakehouse.bloom"

# Reader-version-3 table features this reader implements correctly.
# timestampNtz: Spark reads TIMESTAMP_NTZ parquet natively.
# vacuumProtocolCheck: imposes no read-path behavior by design.
# deletionVectors: honored — roaring-bitmap DVs are decoded
#   (operators/dv.py) and applied as a _metadata.row_index anti-join.
# v2Checkpoint: UUID-named checkpoint manifests (parquet or json)
#   with sidecar files are replayed by _read_v2_checkpoint_state.
# variantType: Spark 4 reads the variant parquet encoding natively
#   through the explicit-schema scan (probed + pinned in
#   test_variant_column_reads); SHREDDED variants advertise a
#   separate feature (variantShredding) and stay refused.
# typeWidening: the explicit-schema scan upcasts EVERY widening the
#   spec allows (int->long/double, float->double, decimal precision
#   AND scale widening, date->timestamp_ntz — full matrix probed and
#   pinned in test_type_widening_reads), so files written with the
#   pre-widening type read back as the current schema's type.
# Everything else (variantShredding, catalogManaged, ...) must be
# REFUSED, not ignored.
SUPPORTED_READER_FEATURES = {
    # columnMapping: "name" and "id" modes are implemented (physical
    # names / parquet field-id resolution); the mode-specific gate in
    # _check_protocol still refuses any OTHER mode, so advertising the
    # feature here is consistent with the minReaderVersion=2 path.
    "columnMapping",
    "timestampNtz",
    "vacuumProtocolCheck",
    "deletionVectors",
    "v2Checkpoint",
    "variantType",
    "typeWidening",
    "typeWidening-preview",
}


class UnsupportedDeltaFeature(ValueError):
    """The table requires a reader capability this engine lacks; per
    the Delta protocol the reader must refuse rather than mis-read."""


class CorruptDeltaLog(ValueError):
    """The log violates protocol invariants (gap in versions, no
    commits, missing protocol/metaData)."""


# ------------------------------------------------------------ action codec


def _serialize_add(a: dict, ts_ms: int) -> dict:
    st = a.get("stats")
    out = {
        "path": quote(a["path"]),
        "partitionValues": a.get("partition_values", {}),
        "size": a.get("size_bytes", 0),
        "modificationTime": ts_ms,
        # compaction/clustering rewrites mark dataChange=false (the
        # Delta contract: streams and CDF must treat them as no-ops)
        "dataChange": bool(a.get("data_change", True)),
    }
    if st is not None:
        cols = st.get("columns", {})
        out["stats"] = json.dumps(
            {
                "numRecords": st.get("num_rows", 0),
                "minValues": {
                    c: v["min"] for c, v in cols.items() if "min" in v
                },
                "maxValues": {
                    c: v["max"] for c, v in cols.items() if "max" in v
                },
                "nullCount": {
                    c: v["null_count"]
                    for c, v in cols.items()
                    if "null_count" in v
                },
            }
        )
    if a.get("foreign_dv"):
        out["deletionVector"] = a["foreign_dv"]
    if a.get("bloom"):
        out["tags"] = {_TAG_BLOOM: json.dumps(a["bloom"])}
    return out


def _parse_add(d: dict) -> dict:
    a = {
        "path": unquote(d["path"]),
        "partition_values": d.get("partitionValues", {}),
        "size_bytes": d.get("size", 0),
        "data_change": bool(d.get("dataChange", True)),
    }
    raw = d.get("stats")
    if raw:
        st = json.loads(raw) if isinstance(raw, str) else raw
        cols: dict[str, dict] = {}
        for c, v in (st.get("minValues") or {}).items():
            cols.setdefault(c, {})["min"] = v
        for c, v in (st.get("maxValues") or {}).items():
            cols.setdefault(c, {})["max"] = v
        for c, v in (st.get("nullCount") or {}).items():
            cols.setdefault(c, {})["null_count"] = v
        a["stats"] = {"num_rows": st.get("numRecords", 0), "columns": cols}
    tags = d.get("tags") or {}
    if _TAG_BLOOM in tags:
        a["bloom"] = json.loads(tags[_TAG_BLOOM])
    return a


def _serialize_remove(r: dict, ts_ms: int) -> dict:
    out = {
        "path": quote(r["path"]),
        "deletionTimestamp": ts_ms,
        "dataChange": bool(r.get("data_change", True)),
    }
    if r.get("foreign_dv"):
        # the removed file's DV: CDF pre-images exclude its rows
        out["deletionVector"] = r["foreign_dv"]
    return out


def _parse_remove(d: dict) -> dict:
    r = {
        "path": unquote(d["path"]),
        "data_change": bool(d.get("dataChange", True)),
    }
    if d.get("partitionValues") is not None:
        r["partition_values"] = d["partitionValues"]
    if d.get("deletionVector"):
        r["foreign_dv"] = d["deletionVector"]
    return r


def _parse_meta(m: dict) -> dict:
    conf = m.get("configuration") or {}
    spec = conf.get(_PARTITION_SPEC_CONF_KEY)
    partition_by = (
        json.loads(spec) if spec else list(m.get("partitionColumns") or [])
    )
    constraints = {
        k[len(_CONSTRAINT_CONF_PREFIX):]: v
        for k, v in conf.items()
        if k.startswith(_CONSTRAINT_CONF_PREFIX)
    }
    return {
        "schema_json": m.get("schemaString"),
        "partition_by": partition_by,
        "constraints": constraints,
        "bucket_hash": conf.get(_BUCKET_HASH_CONF_KEY),
    }


def _intake_add(raw: dict) -> dict:
    """Spec ``add`` -> internal dict.  ``deletionVector`` descriptors
    are kept as ``foreign_dv`` (decoded at scan time by
    ``operators/dv.py``).  The legacy engine DV layout — parquet
    position tables behind a ``lakehouse.dv`` tag, written by engine
    versions before the spec DVs — is refused: it is not roaring data,
    and ignoring it would resurrect deleted rows."""
    if "lakehouse.dv" in (raw.get("tags") or {}):
        raise UnsupportedDeltaFeature(
            "add action carries a legacy lakehouse.dv deletion vector; "
            "rewrite the table with an engine version that wrote it "
            "(optimize(purge_dv=True)) before reading it here"
        )
    parsed = _parse_add(raw)
    if raw.get("deletionVector"):
        dv = {
            k: v for k, v in raw["deletionVector"].items() if v is not None
        }
        if not dv.get("storageType") or "pathOrInlineDv" not in dv:
            raise UnsupportedDeltaFeature(
                f"malformed deletionVector descriptor {dv!r}"
            )
        parsed["foreign_dv"] = dv
    # row tracking (writer feature): fresh row ids / commit versions
    # derive from these per-add fields; surfaced by
    # read_delta_table(row_ids=True)
    for src, dst in (
        ("baseRowId", "base_row_id"),
        ("defaultRowCommitVersion", "default_row_commit_version"),
    ):
        if raw.get(src) is not None:
            parsed[dst] = int(raw[src])
    return parsed


# -------------------------------------------------------------- log layout


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, LOG_DIR)


def _list_log(table_path: str):
    """ONE listing of the log dir: (JSON commit versions ascending,
    {version: sorted CLASSIC checkpoint parts}, {version: sorted V2
    UUID-named manifests}).  Classic parts are single-part
    ``V.checkpoint.parquet`` and multi-part
    ``V.checkpoint.NNNNNNNNNN.MMMMMMMMMM.parquet``; a V2 manifest
    (``V.checkpoint.<uuid>.parquet|json``) is complete on its own and
    must never mix into a classic part list (its sidecar state would
    silently drop)."""
    log = _log_dir(table_path)
    try:
        names = os.listdir(log)
    except FileNotFoundError:
        return [], {}, {}
    versions: list[int] = []
    classic: dict[int, list[str]] = {}
    v2: dict[int, list[str]] = {}
    for name in names:
        bits = name.split(".")
        if not (len(bits[0]) == _VERSION_DIGITS and bits[0].isdigit()):
            continue
        v = int(bits[0])
        if len(bits) == 2 and bits[1] == "json":
            versions.append(v)
        elif len(bits) < 3 or bits[1] != "checkpoint":
            continue
        elif bits[-1] == "parquet" and all(b.isdigit() for b in bits[2:-1]):
            classic.setdefault(v, []).append(os.path.join(log, name))
        elif len(bits) == 4 and bits[-1] in ("parquet", "json"):
            v2.setdefault(v, []).append(os.path.join(log, name))
    return (
        sorted(versions),
        {v: sorted(ps) for v, ps in classic.items()},
        {v: sorted(ps) for v, ps in v2.items()},
    )


def _commit_versions(table_path: str) -> list[int]:
    """Versions with a JSON commit file, ascending."""
    return _list_log(table_path)[0]


def _last_checkpoint_version(table_path: str) -> int | None:
    """The ``_last_checkpoint`` pointer, if present and readable. Only
    an accelerator — a corrupt pointer falls back to listing."""
    p = os.path.join(_log_dir(table_path), "_last_checkpoint")
    try:
        with open(p) as fh:
            return int(json.load(fh)["version"])
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _commit_file(table_path: str, version: int) -> str:
    return os.path.join(
        _log_dir(table_path), f"{version:0{_VERSION_DIGITS}d}.json"
    )


def publish_commit(
    table_path: str,
    version: int,
    actions: list[dict],
    operation: str,
    params: dict | None = None,
    staged: Iterable[str] = (),
    *,
    ts_ms: int,
    extra: dict | None = None,
) -> None:
    """Publish commit ``version``: a ``commitInfo`` line (``ts_ms``,
    ``operation``, ``operationParameters``, ``engineInfo``, then the
    caller's ``extra`` keys) and one line per action, made visible all
    at once and only if the slot is free
    (``concurrency.publish_exclusive``).  A lost race removes the
    ``staged`` files and raises ``ConcurrentCommitError``."""
    info = {
        "timestamp": ts_ms,
        "operation": operation,
        "operationParameters": params or {},
        "engineInfo": ENGINE_INFO,
        **(extra or {}),
    }
    publish_exclusive(
        _commit_file(table_path, version),
        "".join(
            json.dumps(a) + "\n" for a in [{"commitInfo": info}, *actions]
        ),
        staged,
    )


def _write_last_checkpoint(table_path: str, version: int, size: int) -> None:
    def _pointer(p: str) -> None:
        with open(p, "w") as fh:
            json.dump({"version": version, "size": size}, fh)

    replace_atomic(
        os.path.join(_log_dir(table_path), "_last_checkpoint"), _pointer
    )


# --------------------------------------------------------------- snapshot


@dataclass
class DeltaSnapshot:
    version: int
    files: list[dict]  # internal add dicts (path/stats/partition_values)
    schema_json: str | None
    partition_columns: list[str]
    configuration: dict
    protocol: dict
    timestamp_ms: int
    txns: dict = field(default_factory=dict)

    @property
    def num_rows(self) -> int:
        """LOGICAL row count: physical stats minus each file's
        deletion-vector cardinality (stats.numRecords counts rows the
        DV has already deleted)."""
        return sum(
            f.get("stats", {}).get("num_rows", 0)
            - int((f.get("foreign_dv") or {}).get("cardinality", 0))
            for f in self.files
        )

    @property
    def constraints(self) -> dict:
        """CHECK constraints by name (``delta.constraints.<name>``)."""
        return _parse_meta({"configuration": self.configuration})[
            "constraints"
        ]


def _check_protocol(protocol: dict, configuration: dict) -> None:
    reader = int(protocol.get("minReaderVersion", 1))
    if reader > 3:
        raise UnsupportedDeltaFeature(
            f"minReaderVersion {reader} exceeds the supported protocol"
        )
    mapping = (configuration or {}).get("delta.columnMapping.mode", "none")
    if mapping not in ("none", "", "name", "id"):
        # "name": physical names from schemaString metadata; "id":
        # parquet field-id resolution (Spark's fieldId.read path).
        raise UnsupportedDeltaFeature(
            f"column mapping mode '{mapping}' is not supported"
        )
    if reader >= 3:
        missing = [
            f
            for f in protocol.get("readerFeatures") or []
            if f not in SUPPORTED_READER_FEATURES
        ]
        if missing:
            raise UnsupportedDeltaFeature(
                f"table requires reader features {missing}; supported: "
                f"{sorted(SUPPORTED_READER_FEATURES)}"
            )


class _CheckpointState:
    __slots__ = ("adds", "meta_raw", "protocol_raw", "txns")

    def __init__(self):
        self.adds: dict[str, dict] = {}
        self.meta_raw = None
        self.protocol_raw = None
        self.txns: dict[str, int] = {}

    def intake(self, row: dict) -> None:
        """One checkpoint row/action into the state. ``remove`` rows in
        any checkpoint are expired-tombstone bookkeeping only and never
        contribute to the snapshot."""
        if row.get("add"):
            a = {k: v for k, v in row["add"].items() if v is not None}
            for m in ("partitionValues", "tags"):
                if isinstance(a.get(m), list):  # pa map -> dict
                    a[m] = dict(a[m])
            parsed = _intake_add(a)
            self.adds[parsed["path"]] = parsed
        elif row.get("metaData"):
            m = {
                k: v for k, v in row["metaData"].items() if v is not None
            }
            for mm in ("configuration",):
                if isinstance(m.get(mm), list):
                    m[mm] = dict(m[mm])
            if isinstance(m.get("format"), dict) and isinstance(
                m["format"].get("options"), list
            ):
                m["format"]["options"] = dict(m["format"]["options"])
            self.meta_raw = m
        elif row.get("protocol"):
            self.protocol_raw = {
                k: v for k, v in row["protocol"].items() if v is not None
            }
        elif row.get("txn"):
            t = row["txn"]
            self.txns[t["appId"]] = max(
                self.txns.get(t["appId"], -1), t["version"]
            )

    def result(self):
        return self.adds, self.meta_raw, self.protocol_raw, self.txns


@functools.lru_cache(maxsize=32)
def _parse_checkpoint_parts(identity: tuple):
    import pyarrow.parquet as pq

    st = _CheckpointState()
    for part, *_ in identity:
        for row in pq.read_table(part).to_pylist():
            st.intake(row)
    return st.result()


def _read_checkpoint_state(part_files: list[str]):
    """Replay state from a classic parquet checkpoint (all parts):
    returns (adds_by_path, meta_raw, protocol_raw, txns).

    Memoized by each part's (path, inode, size, mtime_ns): checkpoints
    are published by rename, so a rewritten or corrupted file never
    matches a stale entry.  Callers get fresh top-level copies — they
    pop and assign freely during replay."""
    identity = []
    for p in part_files:
        st = os.stat(p)
        identity.append((p, st.st_ino, st.st_size, st.st_mtime_ns))
    adds, meta_raw, protocol_raw, txns = _parse_checkpoint_parts(
        tuple(identity)
    )
    return (
        {p: dict(a) for p, a in adds.items()},
        dict(meta_raw) if meta_raw is not None else None,
        dict(protocol_raw) if protocol_raw is not None else None,
        dict(txns),
    )


def _read_v2_checkpoint_state(manifest_path: str, table_path: str):
    """Replay state from a V2 UUID-named checkpoint (spec: V2 Spec
    Checkpoints): the manifest (parquet or json) carries
    ``checkpointMetadata``, protocol/metaData/txn, optionally inline
    add/remove, and ``sidecar`` actions pointing at parquet files under
    ``_delta_log/_sidecars/`` that hold the file actions.  A missing
    sidecar is a hard error — silently skipping one would drop live
    files from the snapshot."""
    import pyarrow.parquet as pq

    st = _CheckpointState()
    sidecars: list[str] = []
    expect_version = int(os.path.basename(manifest_path).split(".")[0])

    def _row(row: dict) -> None:
        cm = row.get("checkpointMetadata")
        if cm:
            v = cm.get("version")
            if v is not None and int(v) != expect_version:
                raise CorruptDeltaLog(
                    f"v2 checkpoint {manifest_path} declares version "
                    f"{v}, file name says {expect_version}"
                )
            return
        sc = row.get("sidecar")
        if sc:
            p = sc["path"]
            if not os.path.isabs(p):
                p = os.path.join(_log_dir(table_path), "_sidecars", p)
            sidecars.append(p)
            return
        st.intake(row)

    if manifest_path.endswith(".json"):
        with open(manifest_path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    _row(json.loads(line))
    else:
        for row in pq.read_table(manifest_path).to_pylist():
            _row(row)
    for sc in sidecars:
        if not os.path.exists(sc):
            raise CorruptDeltaLog(
                f"v2 checkpoint sidecar missing: {sc}"
            )
        for row in pq.read_table(sc).to_pylist():
            st.intake(row)
    return st.result()


def _read_commit_actions(table_path: str, version: int):
    """One JSON commit -> (adds, removes, commit_info_raw, meta_raw,
    protocol_raw, txns, cdc)."""
    adds, removes, txns, cdc = [], [], [], []
    info = meta_raw = protocol_raw = None
    with open(_commit_file(table_path, version)) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "add" in action:
                adds.append(_intake_add(action["add"]))
            elif "remove" in action:
                removes.append(_parse_remove(action["remove"]))
            elif "commitInfo" in action:
                info = action["commitInfo"]
            elif "metaData" in action:
                meta_raw = action["metaData"]
            elif "protocol" in action:
                protocol_raw = action["protocol"]
            elif "txn" in action:
                txns.append(action["txn"])
            elif "cdc" in action:
                cdc.append(action["cdc"])
    return adds, removes, info, meta_raw, protocol_raw, txns, cdc


def sniff_commit_meta_protocol(
    table_path: str, version: int
) -> tuple[dict | None, dict | None]:
    """Parse ONLY the ``metaData`` and ``protocol`` actions of one
    commit file — the pair routing and writer gating need, without
    decoding every add line."""
    meta_raw = protocol_raw = None
    with open(_commit_file(table_path, version)) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "metaData" in action:
                meta_raw = action["metaData"]
            elif "protocol" in action:
                protocol_raw = action["protocol"]
            if meta_raw is not None and protocol_raw is not None:
                break
    return meta_raw, protocol_raw


def _commit_timestamp_ms(table_path: str, version: int) -> int:
    """``commitInfo.inCommitTimestamp`` when present (the ICT table
    feature's authoritative, monotonic clock — the spec says readers
    MUST prefer it for time travel), else ``commitInfo.timestamp``,
    else commit-file mtime (the spec's fallback ordering clock).
    Reads only the commitInfo line."""
    fname = _commit_file(table_path, version)
    info = None
    with open(fname) as fh:
        for line in fh:
            if '"commitInfo"' in line:
                info = json.loads(line).get("commitInfo")
                if info is not None:
                    break
    if info and isinstance(info.get("inCommitTimestamp"), (int, float)):
        return int(info["inCommitTimestamp"])
    if info and isinstance(info.get("timestamp"), (int, float)):
        return int(info["timestamp"])
    return int(os.path.getmtime(fname) * 1000)


def read_delta_snapshot(
    table_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DeltaSnapshot:
    """Reconstruct the table state at ``version`` / ``timestamp_ms``
    (default: latest) from a ``_delta_log``."""
    versions, classic_cp, v2_cp = _list_log(table_path)
    checkpoints = set(classic_cp) | set(v2_cp)
    if not versions and not checkpoints:
        raise CorruptDeltaLog(f"no _delta_log commits at {table_path}")

    latest = max(versions[-1] if versions else -1, max(checkpoints, default=-1))
    if timestamp_ms is not None:
        best = None
        for v in versions:
            if _commit_timestamp_ms(table_path, v) <= timestamp_ms:
                best = v
            else:
                break
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp_ms={timestamp_ms}"
            )
        version = best
    elif version is None:
        version = latest
    elif version > latest or (
        version not in versions and version not in checkpoints
    ):
        raise ValueError(f"version {version} not present in the log")

    # -- bootstrap from the newest usable checkpoint <= version
    active: dict[str, dict] = {}
    meta_raw = protocol_raw = None
    txns: dict[str, int] = {}
    start = 0  # without a usable checkpoint, replay needs every commit
    hinted = _last_checkpoint_version(table_path)
    candidates = sorted(
        (c for c in checkpoints if c <= version), reverse=True
    )
    if hinted is not None and hinted in checkpoints and hinted <= version:
        candidates.remove(hinted)
        candidates.insert(0, hinted)
    done = False
    for c in candidates:
        # classic parts first, then each self-complete v2 manifest
        attempts = []
        if c in classic_cp:
            attempts.append(("classic", classic_cp[c]))
        for m in v2_cp.get(c, []):
            attempts.append(("v2", m))
        for kind, ref in attempts:
            try:
                if kind == "classic":
                    active, meta_raw, protocol_raw, txns = (
                        _read_checkpoint_state(ref)
                    )
                else:
                    active, meta_raw, protocol_raw, txns = (
                        _read_v2_checkpoint_state(ref, table_path)
                    )
            except UnsupportedDeltaFeature:
                raise
            except Exception:  # torn file, schema drift: next candidate
                continue
            start = c + 1
            done = True
            break
        if done:
            break

    # -- contiguous JSON replay after the bootstrap point
    replay = [v for v in versions if start <= v <= version]
    expected = list(range(start, version + 1))
    if replay != expected:
        raise CorruptDeltaLog(
            f"commit gap: need versions {start}..{version}, have {replay}"
        )
    ts = 0
    for v in replay:
        adds, removes, info, m_raw, p_raw, vtxns, _ = _read_commit_actions(
            table_path, v
        )
        # file actions within one commit are a set: a DV update's
        # remove(path, oldDV) + add(path, newDV) keeps the add
        for r in removes:
            active.pop(r["path"], None)
        for a in adds:
            active[a["path"]] = a
        if m_raw is not None:
            meta_raw = m_raw
        if p_raw is not None:
            protocol_raw = p_raw
        for t in vtxns:
            txns[t["appId"]] = max(txns.get(t["appId"], -1), t["version"])
        if info and isinstance(info.get("inCommitTimestamp"), (int, float)):
            ts = int(info["inCommitTimestamp"])
        elif info and isinstance(info.get("timestamp"), (int, float)):
            ts = int(info["timestamp"])
    if not replay and version in versions:
        # bootstrapped AT the target: the checkpoint carries no clock
        ts = _commit_timestamp_ms(table_path, version)

    if meta_raw is None or protocol_raw is None:
        raise CorruptDeltaLog(
            "log replay produced no metaData/protocol action"
        )
    _check_protocol(protocol_raw, meta_raw.get("configuration") or {})
    return DeltaSnapshot(
        version=version,
        files=list(active.values()),
        schema_json=meta_raw.get("schemaString"),
        partition_columns=list(meta_raw.get("partitionColumns") or []),
        configuration=dict(meta_raw.get("configuration") or {}),
        protocol=protocol_raw,
        timestamp_ms=ts,
        txns=txns,
    )


# ------------------------------------------------------------ checkpoints


def _checkpoint_action_types():
    """Arrow types for the spec's columnar checkpoint action layout:
    string->string maps for map fields (an empty dict would otherwise
    infer an EMPTY STRUCT, which parquet cannot serialize), nullable
    structs per action.  Shared by the classic and v2 writers."""
    import pyarrow as pa

    smap = pa.map_(pa.string(), pa.string())
    slist = pa.list_(pa.string())
    protocol_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", slist),
            ("writerFeatures", slist),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", smap)])),
            ("schemaString", pa.string()),
            ("partitionColumns", slist),
            ("configuration", smap),
            ("createdTime", pa.int64()),
        ]
    )
    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", smap),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("tags", smap),
            ("deletionVector", dv_t),
            # row tracking rides through checkpoints (spec: add fields)
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ]
    )
    txn_t = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ]
    )
    return protocol_t, meta_t, add_t, txn_t


def _txn_rows(txns: dict | None, ts_ms: int) -> list[dict]:
    """One checkpoint ``txn`` row per app id (last updated at
    ``ts_ms``): omitting one would break idempotent-writer dedup."""
    return [
        {"txn": {"appId": app, "version": v, "lastUpdated": ts_ms}}
        for app, v in sorted((txns or {}).items())
    ]


def _write_classic_checkpoint(
    table_path: str,
    protocol: dict,
    meta: dict,
    adds: list[dict],
    version: int = 0,
    txns: dict | None = None,
    ts_ms: int = 0,
) -> None:
    """Classic single-part checkpoint (``V.checkpoint.parquet``) +
    ``_last_checkpoint`` pointer, one action per row in the spec's
    columnar action layout (absent actions null per row): protocol,
    metaData, one ``txn`` row per app id in ``txns`` (last updated at
    ``ts_ms``), then the raw ``adds``.  No parquet column statistics:
    every reader loads a checkpoint whole, and min/max of the stats
    JSON strings were a fifth of the file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    protocol_t, meta_t, add_t, txn_t = _checkpoint_action_types()
    rows: list[dict] = [{"protocol": protocol}, {"metaData": meta}]
    rows += _txn_rows(txns, ts_ms)
    rows += [{"add": a} for a in adds]
    table = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [("protocol", protocol_t), ("metaData", meta_t),
             ("txn", txn_t), ("add", add_t)]
        ),
    )
    log = _log_dir(table_path)
    replace_atomic(
        os.path.join(log, f"{version:0{_VERSION_DIGITS}d}.checkpoint.parquet"),
        lambda p: pq.write_table(
            table, p, compression=PARQUET_CODEC, write_statistics=False
        ),
    )
    _write_last_checkpoint(table_path, version, len(rows))


# -------------------------------------------------------- deletion vectors


def _dv_pair_actions(
    table_path: str,
    snap,
    by_path: dict[str, list[int]],
    _abs,
    ts: int,
) -> tuple[list[dict], str, int]:
    """remove(path, oldDV) + add(path, newDV) action pairs for the
    matched (absolute file path -> positions) map; one shared DV file
    per commit under the table root.  The re-add keeps the file's
    stats, bloom tags and row-tracking ids.  Returns (actions, dv file
    path, newly-deleted row count)."""
    adds_by_abs = {
        os.path.abspath(_abs(f["path"])): f for f in snap.files
    }
    touched: list[tuple[dict, list[int]]] = []
    rows_deleted = 0
    for ap, new_pos in sorted(by_path.items()):
        f = adds_by_abs.get(ap)
        if f is None:
            raise UnsupportedDeltaFeature(
                f"matched rows in unknown file {ap}"
            )
        old_pos: list[int] = []
        if f.get("foreign_dv"):
            old_pos = resolve_dv_positions(f["foreign_dv"], table_path)
        # a row index can never be deleted twice
        merged = sorted(set(old_pos) | set(new_pos))
        rows_deleted += len(merged) - len(old_pos)
        touched.append((f, merged))

    u = _uuid.uuid4()
    dv_path = os.path.join(table_path, f"deletion_vector_{u}.bin")
    frags = write_dv_file(dv_path, [m for _, m in touched])
    enc = z85_encode(u.bytes)
    actions: list[dict] = []
    for (f, _merged), frag in zip(touched, frags):
        raw = _serialize_add(
            {
                "path": f["path"],
                "partition_values": f.get("partition_values") or {},
                "size_bytes": f.get("size_bytes", 0),
                "stats": f.get("stats"),
                "bloom": f.get("bloom"),
                "data_change": True,
                "foreign_dv": {
                    "storageType": "u",
                    "pathOrInlineDv": enc,
                    "offset": frag["offset"],
                    "sizeInBytes": frag["sizeInBytes"],
                    "cardinality": frag["cardinality"],
                },
            },
            ts,
        )
        actions.append(
            {
                "remove": _serialize_remove(
                    {"path": f["path"], "foreign_dv": f.get("foreign_dv")},
                    ts,
                )
            }
        )
        # row-id STABILITY: a DV re-add is the same physical file —
        # its original baseRowId / defaultRowCommitVersion must ride
        # along, or surviving rows would get invented ids
        if f.get("base_row_id") is not None:
            raw["baseRowId"] = f["base_row_id"]
        if f.get("default_row_commit_version") is not None:
            raw["defaultRowCommitVersion"] = f[
                "default_row_commit_version"
            ]
        actions.append({"add": raw})
    return actions, dv_path, rows_deleted


def _spark_path_key():
    """``_metadata.file_path`` -> plain absolute filesystem path.

    Spark renders file_path as a Hadoop URI (``file:/...``) with space
    and ``%`` percent-encoded but literal ``+`` and non-ASCII kept raw
    (probed empirically) — so comparing against driver-side strings
    needs a DECODE on this side, not an encode on the driver side
    (``Path.as_uri()`` quotes ``+``/non-ASCII and would mismatch).
    ``url_decode`` is form-decoding (``+`` -> space), so literal ``+``
    is pre-protected as ``%2B``; the scheme is stripped only as a
    leading anchor, never mid-string."""
    from pyspark.sql import functions as F

    fp = F.regexp_replace(
        F.col("_metadata.file_path"), "^file:(//)?", ""
    )
    return F.url_decode(F.replace(fp, F.lit("+"), F.lit("%2B")))


def drop_deleted_rows(
    spark, df, files: list[dict], table_path: str, _abs,
    path_col: str, pos_col: str,
):
    """Drop the rows the files' deletion vectors mark deleted.

    ``df`` must carry each row's absolute file path (``_spark_path_key``)
    in ``path_col`` and its ``_metadata.row_index`` in ``pos_col``.
    Each DV decodes driver-side (the same O(total cardinality) state
    the reference reader broadcasts); file paths are dictionary-encoded
    to small int ids, so the positions side carries two ints per
    deleted row (arrow-built, never Python tuples — 10^8 deletions stay
    ~1.2 GB, not an OOM of duplicated path strings).  Broadcast is
    gated on estimated BYTES; at large cardinality it degrades to a
    shuffled anti-join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    fid_rows: list[tuple[str, int]] = []
    id_chunks, pos_chunks = [], []
    for i, f in enumerate(files):
        if not f.get("foreign_dv"):
            continue
        positions = resolve_dv_positions(f["foreign_dv"], table_path)
        if not positions:
            continue
        fid_rows.append((os.path.abspath(_abs(f["path"])), i))
        id_chunks.append(np.full(len(positions), i, dtype=np.int32))
        pos_chunks.append(np.asarray(positions, dtype=np.int64))
    if not fid_rows:
        return df
    ids = np.concatenate(id_chunks)
    poss = np.concatenate(pos_chunks)
    deleted = spark.createDataFrame(
        pd.DataFrame({"__dv_fid": ids, pos_col: poss})
    )
    if ids.nbytes + poss.nbytes <= 64 << 20:  # ~5.3M rows
        deleted = F.broadcast(deleted)
    fdim = F.broadcast(spark.createDataFrame(fid_rows, [path_col, "__dv_fid"]))
    # rows of non-DV files get a null fid and survive the anti-join
    # (null keys never match)
    return (
        df.join(fdim, path_col, "left")
        .join(deleted, ["__dv_fid", pos_col], "left_anti")
        .drop("__dv_fid")
    )
