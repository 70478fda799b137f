"""Export an internal (delta-lite) table snapshot as a SPEC Delta
table any protocol-compliant reader (delta-spark, delta-rs,
duckdb-delta) can consume — the write-side mirror of
``operators/delta_reader.py`` and the Delta counterpart of
``operators/iceberg_export.py``.

The internal writer (``operators/txnlog.py``) already emits a
Delta-protocol-SHAPED log, but three internal conventions would
mislead a foreign reader, so the export rewrites them:

* **Deletion vectors**: internal DVs live as parquet ``(path, pos)``
  tables under ``_dv/`` referenced through a non-protocol
  ``lakehouse.dv`` tag.  The export either applies them by REWRITING
  each touched data file without its deleted rows
  (``dv_mode="rewrite"``, protocol stays reader v1) or converts them
  to spec roaring-bitmap DV files (``dv_mode="spec"``:
  ``operators/dv.py`` encoder, ``storageType="u"`` descriptors,
  reader v3 + the ``deletionVectors`` feature).
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
from urllib.parse import quote

from pyspark.sql import SparkSession

from ..session import PARQUET_CODEC
from .dv import write_dv_file, z85_encode
from .txnlog import (
    _file_stats,
    _parse_partition_spec,
    _serialize_add,
    TxnTable,
    _VERSION_DIGITS,
)

LOG_DIR = "_delta_log"


class DeltaExportError(ValueError):
    """The snapshot uses an internal feature with no spec equivalent."""


def _partition_by_at(t: TxnTable, version: int) -> list[str]:
    """partition_by declared by the newest commit at or before
    ``version`` (the spec the exported snapshot's layout follows)."""
    from .txnlog import _list_versions

    for v in reversed(
        [x for x in _list_versions(t.path) if x <= version]
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


def _dv_positions_by_file(spark_or_none, table_path: str,
                          files: list[dict]) -> dict[str, list[int]]:
    """Internal DV state -> {file basename: sorted deleted positions},
    read driver-side via pyarrow (DV parquet dirs are metadata-sized:
    one row per deleted row of the touched files)."""
    import pyarrow.parquet as pq
    import pyarrow.dataset as ds

    by_file: dict[str, set[int]] = {}
    dirs = sorted({f["dv"]["path"] for f in files if f.get("dv")})
    wanted = {
        f["path"].rsplit("/", 1)[-1] for f in files if f.get("dv")
    }
    for d in dirs:
        table = ds.dataset(
            os.path.join(table_path, d), format="parquet"
        ).to_table(columns=["path", "pos"])
        for p, pos in zip(
            table.column("path").to_pylist(),
            table.column("pos").to_pylist(),
        ):
            base = p.rsplit("/", 1)[-1]
            if base in wanted:
                by_file.setdefault(base, set()).add(int(pos))
    return {k: sorted(v) for k, v in by_file.items()}


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

    dv_by_file = _dv_positions_by_file(spark, source_path, snap.files)
    uses_dv = bool(dv_by_file) and dv_mode == "spec"

    # spec DV container: one on-disk file holding every exported DV
    dv_descriptors: dict[str, dict] = {}
    if uses_dv:
        dv_uuid = _uuid.uuid4()
        dv_name = f"deletion_vector_{dv_uuid}.bin"
        ordered = sorted(dv_by_file)
        frags = write_dv_file(
            os.path.join(target_path, dv_name),
            [dv_by_file[b] for b in ordered],
        )
        enc = z85_encode(dv_uuid.bytes)
        for base, frag in zip(ordered, frags):
            dv_descriptors[base] = {
                "storageType": "u",
                "pathOrInlineDv": enc,
                "offset": frag["offset"],
                "sizeInBytes": frag["sizeInBytes"],
                "cardinality": frag["cardinality"],
            }

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
        base = f["path"].rsplit("/", 1)[-1]
        positions = dv_by_file.get(base) if f.get("dv") else None
        clean = {k: v for k, v in f.items() if k not in ("dv", "bloom")}
        clean["path"] = rel
        if positions and dv_mode == "rewrite":
            _rewrite_without_rows(src, dst, positions)
            n_rewritten += 1
            clean["size_bytes"] = os.path.getsize(dst)
            clean["stats"] = _file_stats(dst)
        else:
            _link_or_copy(src, dst)
        raw = _serialize_add(clean, ts)
        raw.pop("tags", None)  # no internal tags in a spec export
        if positions and dv_mode == "spec":
            raw["deletionVector"] = dv_descriptors[base]
        adds.append(raw)

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
    commit_info = {
        "timestamp": ts,
        "operation": "EXPORT",
        "operationParameters": {
            "sourceVersion": str(snap.version),
            "dvMode": dv_mode,
        },
        "engineInfo": "data_lakehouse_project_spark delta export",
    }
    commit = os.path.join(
        target_path, LOG_DIR, f"{0:0{_VERSION_DIGITS}d}.json"
    )
    with open(commit + ".tmp", "w") as fh:
        fh.write(json.dumps({"commitInfo": commit_info}) + "\n")
        fh.write(json.dumps({"protocol": protocol}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for a in adds:
            fh.write(json.dumps({"add": a}) + "\n")
    os.replace(commit + ".tmp", commit)

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
        "files_with_dv": len(dv_by_file),
        "files_rewritten": n_rewritten,
        "checkpoint": bool(write_checkpoint),
    }


def sync_delta_export(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    dv_inline_max: int = 8192,
    checkpoint_every: int = 0,
) -> dict:
    """Incrementally mirror an internal table into a spec-Delta
    export: the first call full-exports the current snapshot
    (``export_delta_snapshot``); every later call translates each NEW
    internal commit into one foreign commit — adds (new data files
    hard-linked; internal DVs re-encoded as spec descriptors, inline
    when ≤ ``dv_inline_max`` serialized bytes, else a per-commit DV
    file), removes, metaData changes, cdc actions (``_change_data``
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
    with open(
        os.path.join(
            tgt_log, f"{tgt_vs[-1]:0{_VERSION_DIGITS}d}.json"
        )
    ) as fh:
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
        commit_uses_dv = any(a.get("dv") for a in adds)
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
        from .dv import rbm_array_serialize, write_dv_file, z85_encode

        dv_by_file = _dv_positions_by_file(spark, source_path, adds)
        add_raws: list[dict] = []
        big: list[tuple[int, str, list[int]]] = []  # (add idx, base, pos)
        for a in adds:
            if os.path.isabs(a["path"]):
                raise DeltaExportError(
                    f"absolute data path {a['path']} (shallow clone) "
                    "cannot be mirrored incrementally"
                )
            src_f = os.path.join(source_path, a["path"])
            _link_or_copy(src_f, os.path.join(target_path, a["path"]))
            clean = {
                k: v for k, v in a.items() if k not in ("dv", "bloom")
            }
            raw = _serialize_add(clean, ts)
            raw.pop("tags", None)
            if a.get("dv"):
                base = a["path"].rsplit("/", 1)[-1]
                positions = dv_by_file.get(base, [])
                blob = rbm_array_serialize(positions)
                if len(blob) <= dv_inline_max:
                    pad = (-len(blob)) % 4
                    raw["deletionVector"] = {
                        "storageType": "i",
                        "pathOrInlineDv": z85_encode(
                            blob + b"\x00" * pad
                        ),
                        "sizeInBytes": len(blob),
                        "cardinality": len(positions),
                    }
                else:
                    big.append((len(add_raws), base, positions))
            add_raws.append(raw)
        if big:
            # ONE per-commit DV file holding every oversized bitmap;
            # write once so every descriptor's offset is final
            u = _uuid.uuid4()
            frags = write_dv_file(
                os.path.join(
                    target_path, f"deletion_vector_{u}.bin"
                ),
                [pos for _, _, pos in big],
            )
            enc = z85_encode(u.bytes)
            for (idx, _base, _pos), frag in zip(big, frags):
                add_raws[idx]["deletionVector"] = {
                    "storageType": "u",
                    "pathOrInlineDv": enc,
                    "offset": frag["offset"],
                    "sizeInBytes": frag["sizeInBytes"],
                    "cardinality": frag["cardinality"],
                }
        actions.extend({"add": raw} for raw in add_raws)
        for r in removes:
            if os.path.isabs(r["path"]):
                raise DeltaExportError(
                    f"absolute data path {r['path']} cannot be "
                    "mirrored incrementally"
                )
            out = {
                "path": quote(r["path"]),
                "deletionTimestamp": ts,
                "dataChange": bool(r.get("data_change", True)),
            }
            actions.append({"remove": out})
        # cdc actions: link the _change_data files so foreign CDF
        # readers replay the same change feed
        with open(
            os.path.join(source_path, "_delta_log",
                         f"{s:0{_VERSION_DIGITS}d}.json")
        ) as fh:
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
        commit_info = {
            "timestamp": ts,
            "operation": "SYNC",
            "operationParameters": {
                "sourceVersion": str(s),
                "sourceOperation": str(
                    (cinfo or {}).get("operation", "")
                ),
            },
            "engineInfo": "data_lakehouse_project_spark delta export",
        }
        commit = os.path.join(
            tgt_log, f"{next_tgt:0{_VERSION_DIGITS}d}.json"
        )
        with open(commit + ".tmp", "w") as fh:
            fh.write(json.dumps({"commitInfo": commit_info}) + "\n")
            for act in actions:
                fh.write(json.dumps(act) + "\n")
        os.replace(commit + ".tmp", commit)
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
    refuse_txn: bool = False,
) -> tuple[int, dict[str, dict], dict, dict]:
    """Raw-action replay of a spec-Delta JSON log up to ``version``
    (default latest): ``(version, {unquoted path: raw add}, protocol,
    metaData)``, carrying every add VERBATIM.  File actions within ONE
    commit are a set, not a sequence — a DV update carries
    remove(path, oldDV) AND add(path, newDV) in the same commit (in
    either order) and the add wins, so removes reconcile first."""
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
    protocol = meta = None
    for v in replay:
        fname = os.path.join(
            table_path, LOG_DIR, f"{v:0{_VERSION_DIGITS}d}.json"
        )
        v_adds: list[dict] = []
        v_removes: list[str] = []
        with open(fname) as fh:
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
                elif "txn" in act and refuse_txn:
                    raise DeltaExportError(
                        "log carries setTransaction actions; omitting "
                        "them from a checkpoint would silently break "
                        "idempotent-writer dedup — refusing"
                    )
        for p in v_removes:
            active.pop(p, None)
        for a in v_adds:
            active[unquote(a["path"])] = a
    if protocol is None or meta is None:
        raise DeltaExportError(
            "replay found no protocol/metaData — corrupt log"
        )
    return version, active, protocol, meta


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
    cur_v, cur, protocol, cur_meta = _replay_raw_state(table_path)
    tgt_v, tgt, _, tgt_meta = _replay_raw_state(table_path, version)
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
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "RESTORE",
                "operationParameters": {"version": str(version)},
                "engineInfo":
                    "data_lakehouse_project_spark delta writer",
            }
        }
    ]
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
    commit = os.path.join(
        table_path, LOG_DIR, f"{cur_v + 1:0{_VERSION_DIGITS}d}.json"
    )
    try:
        with open(commit, "x") as fh:  # exclusive: concurrency-safe
            for act in actions:
                fh.write(json.dumps(act) + "\n")
    except FileExistsError:
        for p in cdc_paths:
            try:
                os.remove(p)
            except OSError:
                pass
        from .concurrency import ConcurrentCommitError

        raise ConcurrentCommitError(
            f"concurrent write detected at version {cur_v + 1}; "
            "retry the restore against the new snapshot"
        ) from None
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
    file state.  Remove tombstones are omitted (this repo's
    ``vacuum_delta`` retires files by reference + mtime, not
    tombstones); ``txn`` app versions would be LOST by omission, so a
    log carrying setTransaction actions is refused."""
    if kind not in ("classic", "v2"):
        raise ValueError(f"unknown checkpoint kind {kind!r}")
    version, active, protocol, meta = _replay_raw_state(
        table_path, version, refuse_txn=True
    )
    adds = list(active.values())
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
        _write_v2_checkpoint(table_path, protocol, meta, adds, version)
    else:
        _write_classic_checkpoint(
            table_path, protocol, meta, adds, version
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
    commit = os.path.join(path, LOG_DIR, f"{0:0{_VERSION_DIGITS}d}.json")
    with open(commit + ".tmp", "w") as fh:
        fh.write(
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": ts,
                        "operation": "CONVERT",
                        "operationParameters": {
                            "numFiles": str(len(adds)),
                            "partitionedBy": json.dumps(part_cols),
                        },
                    }
                }
            )
            + "\n"
        )
        fh.write(json.dumps({"protocol": protocol}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for a in adds:
            fh.write(json.dumps({"add": a}) + "\n")
    os.replace(commit + ".tmp", commit)
    return {"version": 0, "files": len(adds),
            "partition_columns": part_cols}


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
            ("deletionVector", dv_t),
            # row tracking rides through checkpoints (spec: add fields)
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
        ]
    )
    return protocol_t, meta_t, add_t


def _write_classic_checkpoint(
    target_path: str,
    protocol: dict,
    meta: dict,
    adds: list[dict],
    version: int = 0,
) -> None:
    """Classic single-part checkpoint (``V.checkpoint.parquet``) +
    ``_last_checkpoint`` pointer, one action per row in the spec's
    columnar action layout (absent actions null per row)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    protocol_t, meta_t, add_t = _checkpoint_action_types()
    rows: list[dict] = [
        {"protocol": protocol, "metaData": None, "add": None},
        {"protocol": None, "metaData": meta, "add": None},
    ]
    rows.extend(
        {"protocol": None, "metaData": None, "add": a} for a in adds
    )
    table = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [("protocol", protocol_t), ("metaData", meta_t),
             ("add", add_t)]
        ),
    )
    name = f"{version:0{_VERSION_DIGITS}d}.checkpoint.parquet"
    pq.write_table(
        table, os.path.join(target_path, LOG_DIR, name),
        compression=PARQUET_CODEC,
    )
    with open(
        os.path.join(target_path, LOG_DIR, "_last_checkpoint"), "w"
    ) as fh:
        json.dump({"version": version, "size": len(rows)}, fh)


def _write_v2_checkpoint(
    target_path: str,
    protocol: dict,
    meta: dict,
    adds: list[dict],
    version: int = 0,
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

    protocol_t, meta_t, add_t = _checkpoint_action_types()
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
                ("sidecar", sc_t),
            ]
        ),
    )
    name = (
        f"{version:0{_VERSION_DIGITS}d}.checkpoint.{_uuid.uuid4()}.parquet"
    )
    pq.write_table(
        manifest, os.path.join(log_dir, name), compression=PARQUET_CODEC
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
