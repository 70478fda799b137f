"""Export an internal (delta-lite) table snapshot as a SPEC Delta
table any protocol-compliant reader (delta-spark, delta-rs,
duckdb-delta) can consume — the write-side mirror of
``operators/delta_reader.py`` and the Delta counterpart of
``operators/iceberg_export.py``.

The internal writer (``operators/txnlog.py``) already emits a spec
Delta log (the shared core in ``operators/delta_log.py``), DVs
included; an export makes a SELF-CONTAINED copy of one snapshot and
drops the engine's extensions:

* **Deletion vectors** are already spec roaring-bitmap descriptors.
  ``dv_mode="spec"`` copies each descriptor verbatim and links its
  ``deletion_vector_<uuid>.bin`` into the export root (a shallow
  clone's absolute ``p`` reference becomes a root-relative ``u`` one;
  reader v3 + the ``deletionVectors`` feature).  ``dv_mode="rewrite"``
  applies them instead by REWRITING each touched data file without
  its deleted rows (protocol stays reader v1).
* **Hidden transform partitions** (``bucket(n,col)`` etc. — physical
  columns not in the logical schema) have no Delta-spec equivalent
  and are REFUSED; identity partition columns export as spec
  ``partitionColumns``/``partitionValues``.
* **Internal configuration** (``lakehouse.*`` keys) is dropped;
  CHECK constraints already use the spec's ``delta.constraints.``
  prefix and are carried over (with ``minWriterVersion`` raised to 3
  as the spec requires).

Layout: one commit ``00000000000000000000.json`` holding protocol /
metaData / every active add (URL-encoded relative paths, stats JSON),
plus — when ``write_checkpoint=True`` — a classic single-part parquet
checkpoint and ``_last_checkpoint`` pointer, so log-cleaned reads
exercise the checkpoint path too.  Data files are hard-linked when the
filesystem allows (falling back to copy), so an export is
metadata-priced at any table size where links work.

Self-consistency gate (mirrors the Iceberg export's):
``tests/test_delta_export.py`` reads every export back through the
FOREIGN reader (``read_delta_table``) and compares against the
internal read.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid as _uuid

from pyspark.sql import SparkSession

from ..session import PARQUET_CODEC
from .concurrency import replace_atomic
from .delta_log import (
    LOG_DIR,
    _VERSION_DIGITS,
    _checkpoint_action_types,
    _commit_file,
    _serialize_add,
    _serialize_remove,
    _txn_rows,
    _write_classic_checkpoint,
    _write_last_checkpoint,
    publish_commit,
)
from .dv import dv_file_path, resolve_dv_positions, z85_encode
from .txnlog import _file_stats, _parse_partition_spec, TxnTable


class DeltaExportError(ValueError):
    """The snapshot uses an internal feature with no spec equivalent."""


def _partition_by_at(t: TxnTable, version: int) -> list[str]:
    """partition_by declared by the newest commit at or before
    ``version`` (the spec the exported snapshot's layout follows)."""
    from .delta_log import _commit_versions

    for v in reversed(
        [x for x in _commit_versions(t.path) if x <= version]
    ):
        _, _, _, meta, _ = t._read_commit(v)
        if meta is not None:
            return meta.get("partition_by") or []
    return []


def _link_or_copy(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.exists(dst):
        os.remove(dst)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _linked_dv(dv: dict, source_path: str, target_path: str) -> dict:
    """The export's copy of a DV descriptor: an inline DV is copied
    verbatim; a DV file is linked into the target root and referenced
    there by its uuid (``u``), so the export never points back into
    the source."""
    src = dv_file_path(dv, source_path)
    if src is None:
        return dv
    name = os.path.basename(src)
    _link_or_copy(src, os.path.join(target_path, name))
    u = _uuid.UUID(name[len("deletion_vector_"):-len(".bin")])
    return {**dv, "storageType": "u", "pathOrInlineDv": z85_encode(u.bytes)}


def _rewrite_without_rows(src: str, dst: str,
                          drop_positions: list[int]) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    keep = np.ones(t.num_rows, dtype=bool)
    keep[np.asarray(drop_positions, dtype=np.int64)] = False
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    pq.write_table(t.filter(pa.array(keep)), dst, compression=PARQUET_CODEC)


def export_delta_snapshot(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    version: int | None = None,
    dv_mode: str = "spec",
    write_checkpoint: bool = False,
) -> dict:
    """Materialize the internal table's snapshot at ``version``
    (default latest) as a spec Delta table at ``target_path``.

    ``dv_mode``: ``"spec"`` exports deletion vectors as protocol
    roaring-bitmap DV files; ``"rewrite"`` applies them by rewriting
    the touched data files (reader-v1 output).  Returns a summary
    dict (version, files, dv handling).

    ``write_checkpoint``: ``True``/``"classic"`` emits a classic
    single-part ``V.checkpoint.parquet``; ``"v2"`` emits a V2 spec
    checkpoint (UUID manifest + ``_sidecars/`` file, protocol bumped
    to advertise the ``v2Checkpoint`` table feature).
    """
    if dv_mode not in ("spec", "rewrite"):
        raise ValueError(f"unknown dv_mode {dv_mode!r}")
    t = TxnTable(source_path)
    snap = t.snapshot(version=version)
    if snap.schema_json is None:
        raise DeltaExportError("snapshot carries no schema")
    # partition spec AS OF the exported version (a time-travel export
    # after a repartition must describe the old layout, not today's)
    partition_by = _partition_by_at(t, snap.version)
    physical_parts, transforms = _parse_partition_spec(partition_by)
    if transforms:
        raise DeltaExportError(
            "hidden transform partitions "
            f"({[x['hidden'] for x in transforms]}) have no Delta-spec "
            "equivalent; repartition by identity columns before export"
        )
    schema_names = {
        f["name"] for f in json.loads(snap.schema_json)["fields"]
    }
    if not set(physical_parts) <= schema_names:
        raise DeltaExportError(
            f"partition columns {physical_parts} not all in the schema"
        )

    os.makedirs(os.path.join(target_path, LOG_DIR), exist_ok=True)
    ts = snap.timestamp_ms or 0

    def _src_abs(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(source_path, p)

    n_dv = sum(1 for f in snap.files if f.get("foreign_dv"))
    uses_dv = bool(n_dv) and dv_mode == "spec"
    adds: list[dict] = []
    n_rewritten = 0
    for f in sorted(snap.files, key=lambda x: x["path"]):
        src = _src_abs(f["path"])
        # flatten absolute (shallow-clone) paths to their basename;
        # keep relative layouts as-is
        rel = (
            f["path"]
            if not os.path.isabs(f["path"])
            else f["path"].rsplit("/", 1)[-1]
        )
        dst = os.path.join(target_path, rel)
        dv = f.get("foreign_dv")
        clean = {**f, "path": rel, "bloom": None, "foreign_dv": None}
        if dv and dv_mode == "rewrite":
            _rewrite_without_rows(
                src, dst, resolve_dv_positions(dv, source_path)
            )
            n_rewritten += 1
            clean["size_bytes"] = os.path.getsize(dst)
            clean["stats"] = _file_stats(dst)
        else:
            _link_or_copy(src, dst)
            if dv:
                clean["foreign_dv"] = _linked_dv(dv, source_path, target_path)
        adds.append(_serialize_add(clean, ts))

    protocol = (
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }
        if uses_dv
        else {
            "minReaderVersion": 1,
            "minWriterVersion": 3 if snap.constraints else 2,
        }
    )
    if write_checkpoint == "v2":
        # spec: v2 checkpoints are a reader+writer table feature
        feats = sorted(
            set(protocol.get("readerFeatures") or []) | {"v2Checkpoint"}
        )
        protocol = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": feats,
            "writerFeatures": sorted(
                set(protocol.get("writerFeatures") or [])
                | {"v2Checkpoint"}
            ),
        }
    configuration = {
        f"delta.constraints.{name}": sql
        for name, sql in (snap.constraints or {}).items()
    }
    meta = {
        "id": str(_uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": snap.schema_json,
        "partitionColumns": physical_parts,
        "configuration": configuration,
        "createdTime": ts,
    }
    publish_commit(
        target_path,
        0,
        [{"protocol": protocol}, {"metaData": meta},
         *({"add": a} for a in adds)],
        "EXPORT",
        {"sourceVersion": str(snap.version), "dvMode": dv_mode},
        ts_ms=ts,
    )

    if write_checkpoint == "v2":
        _write_v2_checkpoint(target_path, protocol, meta, adds)
    elif write_checkpoint:
        _write_classic_checkpoint(target_path, protocol, meta, adds)

    return {
        "version": 0,
        "source_version": snap.version,
        "files": len(adds),
        "num_rows": snap.num_rows,
        "dv_mode": dv_mode,
        "files_with_dv": n_dv,
        "files_rewritten": n_rewritten,
        "checkpoint": bool(write_checkpoint),
    }


def sync_delta_export(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    checkpoint_every: int = 0,
) -> dict:
    """Incrementally mirror an internal table into a spec-Delta
    export: the first call full-exports the current snapshot
    (``export_delta_snapshot``); every later call translates each NEW
    internal commit into one foreign commit — adds (new data files
    hard-linked; DV descriptors copied verbatim, their DV files
    linked), removes, metaData changes, cdc actions (``_change_data``
    files linked, so foreign CDF readers see the same change feed),
    and a protocol upgrade the first time DVs appear.  The mirror is
    therefore a PER-COMMIT replica: foreign snapshot reads, time
    travel, CDF, and streaming tails all work against it.

    Commit lineage is tracked via
    ``commitInfo.operationParameters.sourceVersion``; a target whose
    history this function did not write is refused.

    ``checkpoint_every``: delta-spark's checkpointInterval shape —
    when the mirrored head crosses a multiple of the interval, a
    classic checkpoint is written at the head
    (``write_foreign_checkpoint``), so long-lived mirrors stay
    bootstrappable after log cleaning.  0 disables.
    """
    t = TxnTable(source_path)
    src_latest = t.latest_version()
    if src_latest < 0:
        raise DeltaExportError(f"no internal log at {source_path}")
    tgt_log = os.path.join(target_path, LOG_DIR)
    if not os.path.isdir(tgt_log):
        info = export_delta_snapshot(spark, source_path, target_path)
        return {
            "initial_export": True,
            "from_version": None,
            "to_version": info["source_version"],
            "synced_commits": 0,
        }

    from .delta_reader import (
        _commit_versions as _tgt_versions,
        read_delta_snapshot,
    )

    tgt_vs = _tgt_versions(target_path)
    if not tgt_vs:
        raise DeltaExportError(f"{target_path} has an empty {LOG_DIR}")
    # commitInfo-only sniff: the lineage check must run BEFORE any
    # action validation (an arbitrary foreign/internal log should get
    # the clear "unknown history" refusal, not an add-intake error)
    info = None
    with open(_commit_file(target_path, tgt_vs[-1])) as fh:
        for line in fh:
            line = line.strip()
            if line:
                act = json.loads(line)
                if "commitInfo" in act:
                    info = act["commitInfo"]
                    break
    params = (info or {}).get("operationParameters") or {}
    if (info or {}).get("operation") not in ("EXPORT", "SYNC") or (
        "sourceVersion" not in params
    ):
        raise DeltaExportError(
            f"{target_path} was not written by this exporter; refusing "
            "to append foreign commits to an unknown history"
        )
    last_src = int(params["sourceVersion"])
    snap_tgt = read_delta_snapshot(target_path)
    dv_active = any(f.get("foreign_dv") for f in snap_tgt.files) or (
        int(snap_tgt.protocol.get("minReaderVersion", 1)) >= 3
        and "deletionVectors"
        in (snap_tgt.protocol.get("readerFeatures") or [])
    )

    synced = 0
    next_tgt = tgt_vs[-1] + 1
    for s in range(last_src + 1, src_latest + 1):
        adds, removes, cinfo, meta, _txn = t._read_commit(s)
        ts = int((cinfo or {}).get("timestamp") or 0)
        actions: list[dict] = []
        commit_uses_dv = any(a.get("foreign_dv") for a in adds)
        if commit_uses_dv and not dv_active:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"],
                    }
                }
            )
            dv_active = True
        if meta is not None:
            physical_parts, transforms = _parse_partition_spec(
                meta.get("partition_by")
            )
            if transforms:
                raise DeltaExportError(
                    "hidden transform partitions have no Delta-spec "
                    "equivalent; cannot sync this schema change"
                )
            # metaData.id identifies the TABLE and must stay constant
            # across the mirror's whole log (spec rule) — reuse the
            # id the initial export minted
            from .delta_reader import sniff_commit_meta_protocol

            table_id = None
            for tv in reversed(_tgt_versions(target_path)):
                m_raw, _ = sniff_commit_meta_protocol(target_path, tv)
                if m_raw is not None and m_raw.get("id"):
                    table_id = m_raw["id"]
                    break
            actions.append(
                {
                    "metaData": {
                        "id": table_id or str(_uuid.uuid4()),
                        "format": {"provider": "parquet",
                                   "options": {}},
                        "schemaString": meta["schema_json"],
                        "partitionColumns": physical_parts,
                        "configuration": {
                            f"delta.constraints.{n}": sql
                            for n, sql in (
                                meta.get("constraints") or {}
                            ).items()
                        },
                        "createdTime": ts,
                    }
                }
            )
        for a in adds:
            if os.path.isabs(a["path"]):
                raise DeltaExportError(
                    f"absolute data path {a['path']} (shallow clone) "
                    "cannot be mirrored incrementally"
                )
            src_f = os.path.join(source_path, a["path"])
            _link_or_copy(src_f, os.path.join(target_path, a["path"]))
            dv = a.get("foreign_dv")
            clean = {
                **a,
                "bloom": None,
                "foreign_dv": dv and _linked_dv(dv, source_path, target_path),
            }
            actions.append({"add": _serialize_add(clean, ts)})
        for r in removes:
            if os.path.isabs(r["path"]):
                raise DeltaExportError(
                    f"absolute data path {r['path']} cannot be "
                    "mirrored incrementally"
                )
            actions.append({"remove": _serialize_remove(r, ts)})
        # cdc actions: link the _change_data files so foreign CDF
        # readers replay the same change feed
        with open(_commit_file(source_path, s)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                act = json.loads(line)
                if "cdc" in act:
                    from urllib.parse import unquote as _unq

                    rel = _unq(act["cdc"]["path"])
                    _link_or_copy(
                        os.path.join(source_path, rel),
                        os.path.join(target_path, rel),
                    )
                    actions.append({"cdc": act["cdc"]})
        # nothing staged to roll back on a lost race: the linked files
        # are the source's, and the winner may reference the same links
        publish_commit(
            target_path,
            next_tgt,
            actions,
            "SYNC",
            {
                "sourceVersion": str(s),
                "sourceOperation": str((cinfo or {}).get("operation", "")),
            },
            ts_ms=ts,
        )
        next_tgt += 1
        synced += 1
    checkpointed = None
    if checkpoint_every and synced:
        # delta-spark's checkpointInterval shape: checkpoint when the
        # mirrored head crosses a multiple of the interval
        head, prev_head = next_tgt - 1, tgt_vs[-1]
        if head // checkpoint_every > prev_head // checkpoint_every:
            write_foreign_checkpoint(target_path, version=head)
            checkpointed = head
    return {
        "initial_export": False,
        "from_version": last_src,
        "to_version": src_latest,
        "synced_commits": synced,
        "checkpointed_version": checkpointed,
    }


def _replay_raw_state(
    table_path: str,
    version: int | None = None,
) -> tuple[int, dict[str, dict], dict, dict, dict[str, dict]]:
    """Raw-action replay of a spec-Delta JSON log up to ``version``
    (default latest): ``(version, {unquoted path: raw add}, protocol,
    metaData, {appId: newest raw txn})``, carrying every add
    VERBATIM.  File actions within ONE commit are a set, not a
    sequence — a DV update carries remove(path, oldDV) AND add(path,
    newDV) in the same commit (in either order) and the add wins, so
    removes reconcile first."""
    from urllib.parse import unquote

    from .delta_reader import _commit_versions

    versions = _commit_versions(table_path)
    if version is None:
        version = versions[-1] if versions else -1
    replay = [v for v in versions if v <= version]
    if not replay or replay != list(range(0, version + 1)):
        raise DeltaExportError(
            f"cannot rebuild state at version {version}: the JSON log "
            "is not contiguous from 0 (already cleaned?)"
        )
    active: dict[str, dict] = {}
    txns: dict[str, dict] = {}
    protocol = meta = None
    for v in replay:
        v_adds: list[dict] = []
        v_removes: list[str] = []
        with open(_commit_file(table_path, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                act = json.loads(line)
                if "add" in act:
                    v_adds.append(act["add"])
                elif "remove" in act:
                    v_removes.append(unquote(act["remove"]["path"]))
                elif "metaData" in act:
                    meta = act["metaData"]
                elif "protocol" in act:
                    protocol = act["protocol"]
                elif "txn" in act:
                    txns[act["txn"]["appId"]] = act["txn"]
        for p in v_removes:
            active.pop(p, None)
        for a in v_adds:
            active[unquote(a["path"])] = a
    if protocol is None or meta is None:
        raise DeltaExportError(
            "replay found no protocol/metaData — corrupt log"
        )
    return version, active, protocol, meta, txns


def restore_delta(
    table_path: str, version: int, spark: SparkSession | None = None
) -> dict:
    """RESTORE a foreign Delta table to an earlier version with a NEW
    commit (delta-spark's ``RESTORE TABLE ... TO VERSION AS OF``):
    adds back the target version's files missing from the current
    snapshot (verbatim raw adds — stats, DV descriptors, row-tracking
    fields ride along), removes files the target doesn't have, and
    re-commits the target's metaData when it differs (schema
    restores).  History is preserved — this appends, never rewrites.
    A re-added file whose bytes were vacuumed is a hard error BEFORE
    anything commits.

    CDF-enabled tables require ``spark``: a restore commit mixes
    loose adds + loose removes, a shape CDF readers cannot
    reconstruct row-level changes from, so the EXACT change set
    (target exceptAll current → inserts, current exceptAll target →
    deletes) is computed from the two snapshots and written as spec
    ``_change_data`` cdc files alongside the restore actions."""
    from urllib.parse import unquote

    table_path = os.path.abspath(table_path)
    cur_v, cur, protocol, cur_meta, _ = _replay_raw_state(table_path)
    tgt_v, tgt, _, tgt_meta, _ = _replay_raw_state(table_path, version)
    # Same writer gating as DML (_dml_prepare): RESTORE is a
    # data-changing commit, so unsupported writerFeatures / invariant
    # columns must refuse rather than break other engines' guarantees.
    from .delta_writer import _gate_writer

    _gate_writer(protocol, (cur_meta or {}).get("schemaString") or "{}")
    cfg = (cur_meta or {}).get("configuration") or {}
    if cfg.get("delta.appendOnly", "").lower() == "true":
        raise DeltaExportError(
            "table is delta.appendOnly=true; RESTORE removes files"
        )
    cdf_enabled = (
        cfg.get("delta.enableChangeDataFeed", "").lower() == "true"
    )
    if cdf_enabled and spark is None:
        raise DeltaExportError(
            "table has delta.enableChangeDataFeed=true; RESTORE must "
            "write cdc files for the change feed — pass spark= so the "
            "exact change set can be computed from the two snapshots"
        )
    if tgt_v == cur_v:
        return {"version": cur_v, "restored_to": version,
                "added": 0, "removed": 0, "noop": True}

    def _key(a: dict | None) -> str:
        if a is None:
            return ""
        return json.dumps(a.get("deletionVector"), sort_keys=True)

    ts = int(time.time() * 1000)
    to_add = [
        a
        for p, a in sorted(tgt.items())
        if p not in cur or _key(cur[p]) != _key(a)
    ]
    to_remove = [
        p
        for p in sorted(cur)
        if p not in tgt or _key(cur[p]) != _key(tgt[p])
    ]
    for a in to_add:
        p = unquote(a["path"])
        ap = p if os.path.isabs(p) else os.path.join(table_path, p)
        if not os.path.exists(ap):
            raise DeltaExportError(
                f"cannot restore: data file {p} no longer exists "
                "(vacuumed past the restore point)"
            )
    cdc_actions: list[dict] = []
    cdc_paths: list[str] = []
    if cdf_enabled:
        # EXACT change set from the two snapshots (multiset diff both
        # ways) — the cdc actions make CDF readers ignore the mixed
        # loose adds + removes below, keeping the feed row-level
        # correct through the restore.
        from pyspark.sql import functions as F

        from .delta_reader import read_delta_table
        from .delta_writer import (
            _stage_cdc_actions,
            _to_physical_df,
        )
        from .txnlog import _schema_from_json

        cur_df = read_delta_table(spark, table_path)
        tgt_df = read_delta_table(spark, table_path, version=version)
        change = (
            tgt_df.exceptAll(cur_df)
            .withColumn("_change_type", F.lit("insert"))
            .unionByName(
                cur_df.exceptAll(tgt_df)
                .withColumn("_change_type", F.lit("delete"))
            )
        )
        schema = _schema_from_json(
            spark, (cur_meta or {}).get("schemaString")
        )
        mapping = cfg.get("delta.columnMapping.mode", "none") or "none"
        part_cols = [
            c
            for c in (cur_meta or {}).get("partitionColumns") or []
            if c in schema.names
        ]
        if mapping in ("name", "id"):
            from .delta_reader import _physical_names

            phys_of = _physical_names(
                (cur_meta or {}).get("schemaString")
            )
        else:
            phys_of = {c: c for c in part_cols}
        change = _to_physical_df(
            change, schema, (cur_meta or {}).get("schemaString"),
            mapping, extra=("_change_type",),
        )
        cdc_actions, cdc_paths = _stage_cdc_actions(
            spark, change, table_path,
            [phys_of[c] for c in part_cols],
            field_ids=(mapping == "id"),
        )
    actions: list[dict] = []
    if tgt_meta != cur_meta:
        actions.append({"metaData": tgt_meta})
    actions.extend(cdc_actions)
    for p in to_remove:
        actions.append(
            {
                "remove": {
                    "path": cur[p]["path"],
                    "deletionTimestamp": ts,
                    "dataChange": True,
                }
            }
        )
    actions.extend(
        {"add": dict(a, dataChange=True, modificationTime=ts)}
        for a in to_add
    )
    publish_commit(
        table_path,
        cur_v + 1,
        actions,
        "RESTORE",
        {"version": str(version)},
        cdc_paths,
        ts_ms=ts,
    )
    return {
        "version": cur_v + 1,
        "restored_to": version,
        "added": len(to_add),
        "removed": len(to_remove),
    }


def write_foreign_checkpoint(
    table_path: str,
    version: int | None = None,
    kind: str = "classic",
) -> dict:
    """Write a checkpoint for an EXISTING spec-Delta log (the mirror's
    companion to delta-spark's checkpointInterval): replay the raw
    JSON actions up to ``version`` (default: latest) and emit a
    classic single-part or v2 checkpoint at that version, updating
    ``_last_checkpoint``.  After this, the pre-checkpoint JSON commits
    may be log-cleaned and snapshot reads / first-available streams
    bootstrap from the checkpoint.

    Raw actions are carried VERBATIM (URL-encoded paths, stats JSON,
    deletionVector descriptors, row-tracking baseRowId /
    defaultRowCommitVersion), so the checkpoint never re-interprets
    file state.  The newest ``txn`` action per app id rides along, so
    idempotent writers still dedup after log cleaning.  Remove
    tombstones are omitted (this repo's ``vacuum_delta`` retires files
    by reference + mtime, not tombstones)."""
    if kind not in ("classic", "v2"):
        raise ValueError(f"unknown checkpoint kind {kind!r}")
    version, active, protocol, meta, txns = _replay_raw_state(
        table_path, version
    )
    adds = list(active.values())
    txn_versions = {app: int(t["version"]) for app, t in txns.items()}
    txn_ts = max(
        (int(t.get("lastUpdated") or 0) for t in txns.values()), default=0
    )
    if kind == "v2":
        # spec: v2 checkpoints require the v2Checkpoint table feature.
        # A checkpoint must never ASSERT a protocol the log did not
        # commit, so the upgrade has to exist in the log already
        # (export_delta_snapshot(write_checkpoint='v2') tables do).
        if "v2Checkpoint" not in (
            protocol.get("readerFeatures") or []
        ):
            raise DeltaExportError(
                "the log's protocol does not advertise v2Checkpoint; "
                "commit a protocol upgrade before writing v2 "
                "checkpoints"
            )
        _write_v2_checkpoint(
            table_path, protocol, meta, adds, version, txn_versions, txn_ts
        )
    else:
        _write_classic_checkpoint(
            table_path, protocol, meta, adds, version, txn_versions, txn_ts
        )
    return {"version": version, "files": len(adds), "kind": kind}


def convert_parquet_dir_to_delta(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
) -> dict:
    """In-place CONVERT TO DELTA: stamp a plain (optionally
    hive-partitioned) parquet directory with a spec ``_delta_log``
    describing its existing files — no data is rewritten or moved,
    exactly delta-spark's ``CONVERT TO DELTA parquet.`path```.

    Schema and partition columns come from Spark's own parquet
    inference (so hive ``col=value`` directories surface as typed
    partition columns); per-file stats come from the parquet footers;
    directory-encoded partition values are hive-unescaped and recorded
    as the spec's string-serialized ``partitionValues``
    (``__HIVE_DEFAULT_PARTITION__`` -> null).  Refuses a directory
    that already carries a ``_delta_log``.
    """
    if os.path.isdir(os.path.join(path, LOG_DIR)):
        raise DeltaExportError(f"{path} already has a {LOG_DIR}")
    inferred = spark.read.parquet(path)
    schema = inferred.schema

    data_files: list[str] = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for fn in filenames:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                data_files.append(
                    os.path.relpath(os.path.join(dirpath, fn), path)
                )
    if not data_files:
        raise DeltaExportError(f"no parquet data files under {path}")

    # hive partition columns = inferred schema minus the file schema
    import pyarrow.parquet as pq
    from urllib.parse import unquote as _unq

    file_cols = set(
        pq.read_schema(os.path.join(path, data_files[0])).names
    )
    part_cols = partition_by or [
        f.name for f in schema.fields if f.name not in file_cols
    ]
    unknown = [c for c in part_cols if c not in schema.names]
    if unknown:
        raise DeltaExportError(
            f"partition columns {unknown} not in the inferred schema"
        )

    def _pv(rel: str) -> dict:
        out = {}
        for seg in rel.split(os.sep)[:-1]:
            if "=" not in seg:
                continue
            k, _, v = seg.partition("=")
            out[_unq(k)] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else _unq(v)
            )
        missing = [c for c in part_cols if c not in out]
        if missing:
            raise DeltaExportError(
                f"{rel}: partition values {missing} not in the "
                "directory layout"
            )
        return {c: out[c] for c in part_cols}

    ts = int(
        max(
            os.path.getmtime(os.path.join(path, f)) for f in data_files
        )
        * 1000
    )
    adds = []
    for rel in sorted(data_files):
        fpath = os.path.join(path, rel)
        a = {
            "path": rel,
            "partition_values": _pv(rel),
            "size_bytes": os.path.getsize(fpath),
            "stats": _file_stats(fpath),
        }
        adds.append(_serialize_add(a, ts))

    os.makedirs(os.path.join(path, LOG_DIR))
    protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = {
        "id": str(_uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema.json(),
        "partitionColumns": part_cols,
        "configuration": {},
        "createdTime": ts,
    }
    publish_commit(
        path,
        0,
        [{"protocol": protocol}, {"metaData": meta},
         *({"add": a} for a in adds)],
        "CONVERT",
        {
            "numFiles": str(len(adds)),
            "partitionedBy": json.dumps(part_cols),
        },
        ts_ms=ts,
    )
    return {"version": 0, "files": len(adds),
            "partition_columns": part_cols}


def _write_v2_checkpoint(
    target_path: str,
    protocol: dict,
    meta: dict,
    adds: list[dict],
    version: int = 0,
    txns: dict | None = None,
    ts_ms: int = 0,
) -> None:
    """V2 spec checkpoint (the modern delta-spark default once
    ``v2Checkpoint`` is enabled): a UUID-named manifest
    (``V.checkpoint.<uuid>.parquet``) carrying checkpointMetadata /
    protocol / metaData / sidecar actions, with the file actions in a
    sidecar parquet under ``_delta_log/_sidecars/`` — exactly the
    layout ``delta_reader._read_v2_checkpoint_state`` replays
    (round-trip gated in tests, same self-consistency contract as the
    Iceberg export)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    protocol_t, meta_t, add_t, txn_t = _checkpoint_action_types()
    log_dir = os.path.join(target_path, LOG_DIR)
    side_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)

    side_name = f"{_uuid.uuid4()}.parquet"
    side_path = os.path.join(side_dir, side_name)
    side_tbl = pa.Table.from_pylist(
        [{"add": a} for a in adds], schema=pa.schema([("add", add_t)])
    )
    pq.write_table(side_tbl, side_path, compression=PARQUET_CODEC)

    cm_t = pa.struct([("version", pa.int64())])
    sc_t = pa.struct(
        [
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
        ]
    )
    st = os.stat(side_path)
    rows = [
        {"checkpointMetadata": {"version": version}},
        {"protocol": protocol},
        {"metaData": meta},
        *_txn_rows(txns, ts_ms),
        {
            "sidecar": {
                "path": side_name,  # spec: relative to _sidecars/
                "sizeInBytes": st.st_size,
                "modificationTime": int(st.st_mtime * 1000),
            }
        },
    ]
    manifest = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("checkpointMetadata", cm_t),
                ("protocol", protocol_t),
                ("metaData", meta_t),
                ("txn", txn_t),
                ("sidecar", sc_t),
            ]
        ),
    )
    name = (
        f"{version:0{_VERSION_DIGITS}d}.checkpoint.{_uuid.uuid4()}.parquet"
    )
    replace_atomic(
        os.path.join(log_dir, name),
        lambda p: pq.write_table(manifest, p, compression=PARQUET_CODEC),
    )
    _write_last_checkpoint(target_path, version, len(rows))
