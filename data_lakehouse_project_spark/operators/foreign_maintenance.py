"""Maintenance for FOREIGN tables: Delta VACUUM and Iceberg
EXPIRE SNAPSHOTS, implemented from the published contracts.

The internal delta-lite format has its own ``TxnTable.vacuum`` /
``optimize``; these operate on tables some OTHER engine wrote (or on
this engine's spec exports), completing the interop story: read,
stream, change-feed, export — and now retire history.

* ``vacuum_delta`` follows delta-spark's VACUUM: delete files under
  the table root that are NOT referenced by the current snapshot
  (data files, their deletion-vector files) and whose modification
  time is older than the retention horizon.  ``_delta_log`` is never
  touched; hidden (``.``/``_``-prefixed) paths are skipped EXCEPT
  ``_change_data`` — stale CDF files age out exactly like delta-spark,
  after which ``read_delta_changes`` over that range hard-errors (the
  documented retention trade).  The mtime guard is the same one that
  protects in-flight uncommitted writes.
* ``expire_iceberg_snapshots`` follows Iceberg's expireSnapshots +
  deleteOrphanFiles pair for a filesystem table: drop expired
  snapshots from a NEW metadata.json version (current snapshot always
  retained), then delete manifest lists, manifests, and data/delete
  files referenced ONLY by expired snapshots.

Both default to ``dry_run=True`` and return the deletion plan, so a
caller can audit before destroying history.
"""

from __future__ import annotations

import os
import time

from .delta_reader import read_delta_snapshot
from .dv import dv_file_path
from .iceberg_reader import (
    _latest_metadata_file,
    _snapshot_order,
    load_iceberg_metadata,
    publish_metadata,
)

DEFAULT_RETENTION_MS = 7 * 24 * 3600 * 1000  # delta's 168h default


def vacuum_delta(
    table_path: str,
    retention_ms: int = DEFAULT_RETENTION_MS,
    dry_run: bool = True,
    now_ms: int | None = None,
) -> dict:
    """Delta VACUUM over a foreign table (published contract —
    delta-spark's ``VacuumCommand``): candidates are files under the
    table root not referenced by the CURRENT snapshot with mtime older
    than ``now - retention_ms``.  Returns
    ``{"deleted": [...], "kept_referenced": n, "kept_recent": n,
    "bytes": b, "dry_run": bool}`` with table-relative paths."""
    table_path = os.path.abspath(table_path)
    snap = read_delta_snapshot(table_path)  # protocol-gated
    referenced: set[str] = set()
    for f in snap.files:
        p = f["path"]
        referenced.add(
            p if os.path.isabs(p) else os.path.join(table_path, p)
        )
        dp = dv_file_path(f.get("foreign_dv") or {}, table_path)
        if dp:
            referenced.add(dp)
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    cutoff = (now - retention_ms) / 1000.0
    deleted: list[str] = []
    kept_ref = kept_recent = 0
    bytes_freed = 0
    for root, dirs, files in os.walk(table_path):
        rel_root = os.path.relpath(root, table_path)
        # never descend into the log; skip hidden dirs except CDF data
        dirs[:] = [
            d
            for d in dirs
            if d != "_delta_log"
            and (
                not d.startswith((".", "_"))
                or (rel_root == "." and d == "_change_data")
            )
        ]
        for name in files:
            if name.startswith((".", "_")):
                continue
            ap = os.path.abspath(os.path.join(root, name))
            if ap in referenced:
                kept_ref += 1
                continue
            try:
                st = os.stat(ap)
            except OSError:
                continue
            if st.st_mtime >= cutoff:
                kept_recent += 1  # in-flight / within retention
                continue
            deleted.append(os.path.relpath(ap, table_path))
            bytes_freed += st.st_size
            if not dry_run:
                os.remove(ap)
    if not dry_run:  # empty dirs left behind (delta-spark does too
        # for object stores; on a filesystem tidy them up)
        for root, dirs, files in os.walk(table_path, topdown=False):
            if (
                root != table_path
                and not os.listdir(root)
                and "_delta_log" not in root
            ):
                os.rmdir(root)
    return {
        "deleted": sorted(deleted),
        "kept_referenced": kept_ref,
        "kept_recent": kept_recent,
        "bytes": bytes_freed,
        "dry_run": dry_run,
    }


def rollback_iceberg(table_path: str, snapshot_id: int) -> dict:
    """Iceberg ``rollback_to_snapshot``: point the table back at an
    ancestor snapshot with a NEW metadata version (history preserved —
    the newer snapshots stay until expired).  The snapshot-log gains a
    fresh entry for the rolled-back head, exactly Iceberg's shape."""
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    if snapshot_id not in snaps:
        raise ValueError(
            f"snapshot {snapshot_id} is not in the table metadata"
        )
    order = [s for s in _snapshot_order(md) if s in snaps]
    cur = md.get("current-snapshot-id")
    if snapshot_id not in order[: order.index(cur) + 1]:
        raise ValueError(
            f"snapshot {snapshot_id} is not an ancestor of the "
            f"current snapshot {cur}"
        )
    new_md = dict(md)
    new_md["current-snapshot-id"] = snapshot_id
    new_md["snapshot-log"] = list(md.get("snapshot-log", [])) + [
        {
            "snapshot-id": snapshot_id,
            "timestamp-ms": int(time.time() * 1000),
        }
    ]
    new_md["last-updated-ms"] = int(time.time() * 1000)
    cur_v = int(os.path.basename(md_file)[1:].split(".")[0])
    new_path = publish_metadata(table_path, cur_v + 1, new_md)
    return {
        "current_snapshot_id": snapshot_id,
        "rolled_back_from": cur,
        "metadata": new_path,
    }


def _abs(table_path: str, p: str) -> str:
    for pref in ("file://", "file:"):
        if p.startswith(pref):
            p = p[len(pref):]
    return os.path.abspath(
        p if os.path.isabs(p) else os.path.join(table_path, p)
    )


def _snapshot_files(
    spark, table_path: str, snap: dict, live_only: bool = False
) -> tuple[str, set[str], set[str]]:
    """(manifest-list path, manifest paths, data/delete file paths)
    one snapshot references — delete manifests included.

    ``live_only`` drops DELETED (status=2) entries: a retained
    snapshot's manifest may list a removed file for history
    bookkeeping, but reading the snapshot excludes it, so the file
    must not be PROTECTED by that reference (it is still collected on
    the expired side so the orphan sweep can remove it)."""
    from .iceberg_reader import avro_records

    mlist = _abs(table_path, snap["manifest-list"])
    manifests: set[str] = set()
    datafiles: set[str] = set()
    mrecords, _ = avro_records(spark, mlist)
    for m in mrecords:
        mp = _abs(table_path, m["manifest_path"])
        manifests.add(mp)
        entries, _ = avro_records(spark, mp)
        for e in entries:
            if live_only and e.get("status") == 2:
                continue
            df_ = e.get("data_file") or {}
            if df_.get("file_path"):
                datafiles.add(_abs(table_path, df_["file_path"]))
    return mlist, manifests, datafiles


def expire_iceberg_snapshots(
    spark,
    table_path: str,
    older_than_ms: int | None = None,
    keep_last: int = 1,
    dry_run: bool = True,
) -> dict:
    """Iceberg expireSnapshots + orphan-file cleanup for a filesystem
    table: retain the ``keep_last`` most recent ancestry snapshots plus
    anything newer than ``older_than_ms`` (current snapshot always
    kept); write a new metadata.json version without the expired
    snapshots; delete manifest lists / manifests / data files reachable
    ONLY from expired snapshots.  Time travel to an expired snapshot is
    gone afterwards — the standard retention trade."""
    table_path = os.path.abspath(table_path)
    md_file = _latest_metadata_file(table_path)
    md = load_iceberg_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    order = [s for s in _snapshot_order(md) if s in snaps]
    current = md.get("current-snapshot-id")
    retained: set[int] = set(order[-max(1, keep_last):])
    if current in snaps:
        retained.add(current)
    if older_than_ms is not None:
        retained |= {
            sid
            for sid in order
            if snaps[sid]["timestamp-ms"] >= older_than_ms
        }
    expired = [sid for sid in order if sid not in retained]
    report = {
        "expired_snapshot_ids": expired,
        "retained_snapshot_ids": [s for s in order if s in retained],
        "deleted": [],
        "dry_run": dry_run,
    }
    if not expired:
        return report

    keep_lists: set[str] = set()
    keep_manifests: set[str] = set()
    keep_data: set[str] = set()
    for sid in retained:
        ml, ms, dfs = _snapshot_files(
            spark, table_path, snaps[sid], live_only=True
        )
        keep_lists.add(ml)
        keep_manifests |= ms
        keep_data |= dfs
    drop: set[str] = set()
    for sid in expired:
        ml, ms, dfs = _snapshot_files(spark, table_path, snaps[sid])
        if ml not in keep_lists:
            drop.add(ml)
        drop |= ms - keep_manifests
        drop |= dfs - keep_data

    # ---- new metadata version without the expired snapshots ----
    new_md = dict(md)
    new_md["snapshots"] = [
        s for s in md.get("snapshots", []) if s["snapshot-id"] in retained
    ]
    new_md["snapshot-log"] = [
        e
        for e in md.get("snapshot-log", [])
        if e.get("snapshot-id") in retained
    ]
    report["new_metadata"] = None
    if not dry_run:
        # a lost race raises ConcurrentCommitError before any file is
        # deleted: the winner's snapshot may still reference them
        cur_v = int(os.path.basename(md_file)[1:].split(".")[0])
        report["new_metadata"] = publish_metadata(
            table_path, cur_v + 1, new_md
        )
        for p in sorted(drop):
            try:
                os.remove(p)
            except OSError:
                pass
    report["deleted"] = sorted(
        os.path.relpath(p, table_path) for p in drop
    )
    return report
