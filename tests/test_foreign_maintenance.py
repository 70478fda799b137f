"""Foreign-table maintenance (operators/foreign_maintenance.py):
Delta VACUUM (reference + mtime retention contract, DV/CDF handling)
and Iceberg EXPIRE SNAPSHOTS (new metadata version + orphan cleanup)."""

from __future__ import annotations

import os
import time

import pytest

from data_lakehouse_project_spark.operators.concurrency import (
    ConcurrentCommitError,
)
from data_lakehouse_project_spark.operators.foreign_maintenance import (
    expire_iceberg_snapshots,
    vacuum_delta,
)
from data_lakehouse_project_spark.operators.txnlog import TxnTable

OLD = time.time() - 30 * 24 * 3600  # 30 days ago


def _age_everything(path: str) -> None:
    for root, dirs, files in os.walk(path):
        if "_delta_log" in root:
            continue
        for n in files:
            os.utime(os.path.join(root, n), (OLD, OLD))


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2.0 AS v")


def test_vacuum_deletes_unreferenced_old_files(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable(path)
    t.write(_df(spark, 0, 4), mode="overwrite")   # v0 files -> dead
    t.write(_df(spark, 10, 14), mode="overwrite")  # v1 files -> live
    _age_everything(path)

    plan = vacuum_delta(path, dry_run=True)
    assert plan["dry_run"] and len(plan["deleted"]) >= 1
    # dry run deletes nothing
    assert all(
        os.path.exists(os.path.join(path, p)) for p in plan["deleted"]
    )

    done = vacuum_delta(path, dry_run=False)
    assert done["deleted"] == plan["deleted"]
    assert not any(
        os.path.exists(os.path.join(path, p)) for p in done["deleted"]
    )
    # the current snapshot still reads completely
    assert sorted(r.id for r in t.read(spark).collect()) == [
        10, 11, 12, 13,
    ]
    # time travel beyond the vacuum horizon is gone (standard trade)
    with pytest.raises(Exception):
        t.read(spark, version=0).collect()


def test_vacuum_retention_protects_recent_files(spark, tmp_path):
    path = str(tmp_path / "t")
    t = TxnTable(path)
    t.write(_df(spark, 0, 4), mode="overwrite")
    t.write(_df(spark, 10, 14), mode="overwrite")
    # no aging: every candidate is inside the 168h default horizon
    plan = vacuum_delta(path, dry_run=False)
    assert plan["deleted"] == []
    assert plan["kept_recent"] >= 1
    assert sorted(r.id for r in t.read(spark).collect()) == [
        10, 11, 12, 13,
    ]


def test_vacuum_keeps_referenced_spec_dv_files(spark, tmp_path):
    """An exported table whose snapshot references a spec DV file:
    vacuum must keep the DV (and data) while removing a stray."""
    from data_lakehouse_project_spark.operators.delta_export import (
        export_delta_snapshot,
    )
    from data_lakehouse_project_spark.operators.delta_reader import (
        read_delta_snapshot,
    )

    src = str(tmp_path / "src")
    t = TxnTable(src)
    t.write(_df(spark, 0, 6), mode="overwrite")
    t.delete_where(spark, "id = 2", dv=True)
    dst = str(tmp_path / "dst")
    export_delta_snapshot(spark, src, dst, dv_mode="spec")

    stray = os.path.join(dst, "stray-orphan.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"junk")
    _age_everything(dst)

    done = vacuum_delta(dst, dry_run=False)
    assert done["deleted"] == ["stray-orphan.parquet"]
    snap = read_delta_snapshot(dst)
    assert any(f.get("foreign_dv") for f in snap.files)
    assert snap.num_rows == 5


def test_vacuum_ages_out_cdc_files(spark, tmp_path):
    """_change_data is the one underscore dir VACUUM enters: stale CDF
    parquet ages out; CDF over that range then hard-errors."""
    from data_lakehouse_project_spark.operators.delta_cdf import (
        read_delta_changes,
    )

    path = str(tmp_path / "t")
    t = TxnTable(path)
    t.write(_df(spark, 0, 6), mode="overwrite")                 # v0
    t.update_where(spark, "id = 1", {"v": "99.0"}, cdc=True)    # v1
    cdc_dir = os.path.join(path, "_change_data")
    assert os.path.isdir(cdc_dir) and os.listdir(cdc_dir)
    _age_everything(path)
    # the live data files must survive: re-reference check only —
    # cdc files are referenced by no SNAPSHOT, so they age out
    done = vacuum_delta(path, dry_run=False)
    assert any(p.startswith("_change_data") for p in done["deleted"])
    rows = sorted((r.id, r.v) for r in t.read(spark).collect())
    assert len(rows) == 6 and dict(rows)[1] == 99.0
    with pytest.raises(Exception, match="vacuum|exist|gone|missing"):
        read_delta_changes(
            spark, path, starting_version=1, ending_version=1
        ).collect()


def test_expire_iceberg_snapshots(spark, tmp_path):
    from data_lakehouse_project_spark.operators.iceberg_export import (
        export_iceberg_metadata,
    )
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        iceberg_snapshot_ids,
        read_iceberg_table,
    )

    path = str(tmp_path / "t")
    t = TxnTable(path)
    t.write(_df(spark, 0, 4), mode="overwrite")
    export_iceberg_metadata(t, spark)              # snapshot 1
    t.write(_df(spark, 4, 6), mode="append")
    export_iceberg_metadata(t, spark)              # snapshot 2
    sids = [s for s, _ in iceberg_snapshot_ids(path)]
    assert len(sids) == 2

    plan = expire_iceberg_snapshots(spark, path, keep_last=1)
    assert plan["expired_snapshot_ids"] == [sids[0]]
    assert plan["dry_run"]
    # dry run: nothing changed
    assert [s for s, _ in iceberg_snapshot_ids(path)] == sids

    done = expire_iceberg_snapshots(
        spark, path, keep_last=1, dry_run=False
    )
    assert done["expired_snapshot_ids"] == [sids[0]]
    # snapshot 1's manifest list (and any manifest only it used) gone
    assert done["deleted"]
    left = [s for s, _ in iceberg_snapshot_ids(path)]
    assert left == [sids[1]]
    # current snapshot reads all six rows — data files shared with the
    # retained snapshot were NOT deleted
    got = read_iceberg_table(spark, path)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4, 5]
    # time travel to the expired snapshot is gone
    with pytest.raises(Exception):
        read_iceberg_table(spark, path, snapshot_id=sids[0])


def test_expire_deletes_orphaned_data_files(spark, tmp_path):
    """A file live ONLY in expired snapshots (dropped by a later
    delete) is removed from disk by the expire's orphan sweep."""
    from data_lakehouse_project_spark.operators.iceberg_export import (
        export_iceberg_metadata,
    )
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        iceberg_live_files,
        iceberg_snapshot_ids,
        read_iceberg_table,
    )

    path = str(tmp_path / "t")
    t = TxnTable(path)
    t.write(_df(spark, 0, 4), mode="overwrite")
    export_iceberg_metadata(t, spark)              # snapshot 1
    t.delete_where(spark, "id < 2")                # rewrites the file
    export_iceberg_metadata(t, spark)              # snapshot 2
    sids = [s for s, _ in iceberg_snapshot_ids(path)]

    _, live_before, _, _ = iceberg_live_files(spark, path)
    done = expire_iceberg_snapshots(
        spark, path, keep_last=1, dry_run=False
    )
    # the pre-delete data file was referenced only by snapshot 1
    assert any(p.endswith(".parquet") for p in done["deleted"])
    got = read_iceberg_table(spark, path)
    assert sorted(r.id for r in got.collect()) == [2, 3]
    # every file the retained snapshot needs still exists
    for f in live_before:
        p = f["file_path"]
        for pref in ("file://", "file:"):
            if p.startswith(pref):
                p = p[len(pref):]
        if not os.path.isabs(p):
            p = os.path.join(path, p)
        assert os.path.exists(p)


def test_rollback_iceberg(spark, tmp_path):
    from data_lakehouse_project_spark.operators.foreign_maintenance import (
        rollback_iceberg,
    )
    from data_lakehouse_project_spark.operators.iceberg_export import (
        export_iceberg_metadata,
    )
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        iceberg_snapshot_ids,
        read_iceberg_table,
    )

    path = str(tmp_path / "t")
    t = TxnTable(path)
    t.write(_df(spark, 0, 3), mode="overwrite")
    export_iceberg_metadata(t, spark)              # snapshot 1
    t.write(_df(spark, 3, 5), mode="append")
    export_iceberg_metadata(t, spark)              # snapshot 2
    sids = [s for s, _ in iceberg_snapshot_ids(path)]

    info = rollback_iceberg(path, sids[0])
    assert info["rolled_back_from"] == sids[1]
    got = read_iceberg_table(spark, path)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2]
    # history preserved: the newer snapshot is still time-travelable
    new = read_iceberg_table(spark, path, snapshot_id=sids[1])
    assert sorted(r.id for r in new.collect()) == [0, 1, 2, 3, 4]

    with pytest.raises(ValueError, match="ancestor|not in"):
        rollback_iceberg(path, 999999)


def test_restore_delta(spark, tmp_path):
    from data_lakehouse_project_spark.operators.delta_export import (
        DeltaExportError,
        restore_delta,
        sync_delta_export,
    )
    from data_lakehouse_project_spark.operators.delta_reader import (
        read_delta_table,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "mirror")
    t = TxnTable(src)
    t.write(_df(spark, 0, 4), mode="overwrite")          # v0
    sync_delta_export(spark, src, out)
    t.write(_df(spark, 4, 6), mode="append")             # v1
    t.delete_where(spark, "id = 1", dv=True)             # v2 (DV)
    sync_delta_export(spark, src, out)

    # restore the mirror to its v0 (pre-append, pre-delete)
    info = restore_delta(out, 0)
    assert info["version"] == 3 and info["restored_to"] == 0
    got = read_delta_table(spark, out)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]
    # the DV'd / appended history is still time-travelable
    v2 = read_delta_table(spark, out, version=2)
    assert sorted(r.id for r in v2.collect()) == [0, 2, 3, 4, 5]

    # restoring to the current version is a no-op
    assert restore_delta(out, 3).get("noop")

    # a vacuumed restore target hard-errors BEFORE committing
    t2 = TxnTable(str(tmp_path / "src2"))
    t2.write(_df(spark, 0, 2), mode="overwrite")
    out2 = str(tmp_path / "m2")
    sync_delta_export(spark, t2.path, out2)
    t2.write(_df(spark, 2, 3), mode="overwrite")
    sync_delta_export(spark, t2.path, out2)
    import os as _os

    for n in list(_os.listdir(out2)):
        full = _os.path.join(out2, n)
        if n.endswith(".parquet"):
            snap_files = {
                f["path"]
                for f in __import__(
                    "data_lakehouse_project_spark.operators.delta_reader",
                    fromlist=["read_delta_snapshot"],
                ).read_delta_snapshot(out2).files
            }
            if n not in snap_files:
                _os.remove(full)  # vacuum the v0-only file
    with pytest.raises(DeltaExportError, match="vacuumed"):
        restore_delta(out2, 0)


def test_expire_iceberg_refuses_concurrent_commit(spark, tmp_path):
    """expire_iceberg_snapshots commits with exclusive create: a
    concurrently committed v{N+1}.metadata.json surfaces a clean
    retry error BEFORE any file deletion (ADVICE r8)."""
    import os

    from data_lakehouse_project_spark.operators.iceberg_export import (
        export_iceberg_metadata,
    )
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        iceberg_snapshot_ids,
    )

    path = str(tmp_path / "t")
    t = TxnTable(path)
    t.write(_df(spark, 0, 4), mode="overwrite")
    export_iceberg_metadata(t, spark)
    t.write(_df(spark, 4, 6), mode="append")
    export_iceberg_metadata(t, spark)
    meta_dir = os.path.join(path, "metadata")
    cur = max(
        int(n[1:].split(".")[0])
        for n in os.listdir(meta_dir)
        if n.startswith("v") and n.endswith(".metadata.json")
    )
    # simulate a concurrent writer landing v{N+1} first
    clobber = os.path.join(meta_dir, f"v{cur + 1}.metadata.json")
    with open(clobber, "w") as fh:
        fh.write("{}")
    before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
    )
    with pytest.raises(ConcurrentCommitError, match="concurrent commit"):
        expire_iceberg_snapshots(spark, path, keep_last=1, dry_run=False)
    after = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
    )
    assert before == after  # nothing deleted, nothing overwritten
    assert len(list(iceberg_snapshot_ids(path))) == 2


def test_restore_delta_refuses_cdf_and_gated_tables(spark, tmp_path):
    """RESTORE is a data-changing commit: it must run the same writer
    gates as DML — CDF-enabled tables refuse (the restore commit's
    loose adds+removes are not CDF-reconstructable) (ADVICE r8)."""
    import json
    import os

    from data_lakehouse_project_spark.operators.delta_export import (
        DeltaExportError,
        restore_delta,
        sync_delta_export,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "mirror")
    t = TxnTable(src)
    t.write(_df(spark, 0, 4), mode="overwrite")
    sync_delta_export(spark, src, out)
    t.write(_df(spark, 4, 6), mode="append")
    sync_delta_export(spark, src, out)

    # flip CDF on in every metaData action across the mirror's log
    log = os.path.join(out, "_delta_log")
    for name in os.listdir(log):
        if not name.endswith(".json"):
            continue
        p = os.path.join(log, name)
        lines = [json.loads(x) for x in open(p)]
        touched = False
        for act in lines:
            if "metaData" in act:
                act["metaData"].setdefault("configuration", {})[
                    "delta.enableChangeDataFeed"
                ] = "true"
                touched = True
        if touched:
            with open(p, "w") as fh:
                for act in lines:
                    fh.write(json.dumps(act) + "\n")
    # without spark the exact change set cannot be computed -> refuse
    with pytest.raises(DeltaExportError, match="pass spark"):
        restore_delta(out, 0)

    # with spark, RESTORE writes EXACT cdc files: the CDF slice of the
    # restore commit equals the snapshot exceptAll diff
    from data_lakehouse_project_spark.operators.delta_cdf import (
        read_delta_changes,
    )
    from data_lakehouse_project_spark.operators.delta_reader import (
        read_delta_table,
    )

    info = restore_delta(out, 0, spark=spark)
    v = info["version"]
    before = read_delta_table(spark, out, version=v - 1)
    after = read_delta_table(spark, out, version=v)
    want_ins = sorted(
        (r.id, r.v) for r in after.exceptAll(before).collect()
    )
    want_del = sorted(
        (r.id, r.v) for r in before.exceptAll(after).collect()
    )
    ch = read_delta_changes(
        spark, out, starting_version=v, ending_version=v
    )
    got_ins = sorted(
        (r.id, r.v)
        for r in ch.where("_change_type = 'insert'").collect()
    )
    got_del = sorted(
        (r.id, r.v)
        for r in ch.where("_change_type = 'delete'").collect()
    )
    assert got_ins == want_ins and got_del == want_del
    assert sorted(r.id for r in read_delta_table(spark, out).collect()) \
        == [0, 1, 2, 3]
