"""Spec-Delta export (operators/delta_export.py): every export must
round-trip through the FOREIGN Delta reader (operators/delta_reader.py
— the same self-consistency gate the Iceberg export uses), including
deletion-vector snapshots in both dv modes, partitioned layouts, time
travel, and the classic-checkpoint path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_lakehouse_project_spark.operators.delta_export import (
    DeltaExportError,
    export_delta_snapshot,
)
from data_lakehouse_project_spark.operators.delta_reader import (
    read_delta_snapshot,
    read_delta_table,
)
from data_lakehouse_project_spark.operators.txnlog import TxnTable


def _batch(spark, lo, hi, part="p0"):
    return spark.range(lo, hi).selectExpr(
        "id", f"'{part}' AS part", "id * 2.0 AS v"
    )


def _rows(df):
    return sorted((r.id, r.part, r.v) for r in df.collect())


def test_plain_export_round_trips(spark, tmp_path):
    t = TxnTable(str(tmp_path / "src"))
    t.write(_batch(spark, 0, 5), mode="overwrite")
    t.write(_batch(spark, 5, 8), mode="append")
    out = str(tmp_path / "exp")
    info = export_delta_snapshot(spark, t.path, out)
    assert info["files"] >= 2 and info["num_rows"] == 8
    got = read_delta_table(spark, out)
    assert _rows(got) == _rows(t.read(spark))
    # protocol stays reader-v1 when no DVs are involved
    snap = read_delta_snapshot(out)
    assert snap.protocol["minReaderVersion"] == 1


def test_partitioned_export_keeps_partition_values(spark, tmp_path):
    t = TxnTable(str(tmp_path / "srcp"))
    t.write(
        _batch(spark, 0, 4, "a").union(_batch(spark, 4, 6, "b")),
        mode="overwrite",
        partition_by=["part"],
    )
    out = str(tmp_path / "expp")
    export_delta_snapshot(spark, t.path, out)
    snap = read_delta_snapshot(out)
    assert snap.partition_columns == ["part"]
    got = read_delta_table(spark, out)
    assert _rows(got) == _rows(t.read(spark))
    # partition pruning over the exported log works
    pruned = read_delta_table(spark, out, prune=[("part", "=", "b")])
    assert sorted(r.id for r in pruned.collect()) == [4, 5]


@pytest.mark.parametrize("dv_mode", ["spec", "rewrite"])
def test_dv_snapshot_exports(spark, tmp_path, dv_mode):
    t = TxnTable(str(tmp_path / f"srcdv_{dv_mode}"))
    t.write(_batch(spark, 0, 8), mode="overwrite")
    t.delete_where(spark, "id IN (1, 3, 6)", dv=True)
    out = str(tmp_path / f"expdv_{dv_mode}")
    info = export_delta_snapshot(spark, t.path, out, dv_mode=dv_mode)
    assert info["files_with_dv"] >= 1
    got = read_delta_table(spark, out)
    assert sorted(r.id for r in got.collect()) == [0, 2, 4, 5, 7]
    snap = read_delta_snapshot(out)
    assert snap.num_rows == 5
    if dv_mode == "spec":
        assert "deletionVectors" in snap.protocol["readerFeatures"]
        assert any(f.get("foreign_dv") for f in snap.files)
        # the spec DV file exists on disk under the uuid-derived name
        assert any(
            n.startswith("deletion_vector_") and n.endswith(".bin")
            for n in os.listdir(out)
        )
    else:
        assert snap.protocol["minReaderVersion"] == 1
        assert not any(f.get("foreign_dv") for f in snap.files)
        assert info["files_rewritten"] >= 1


def test_time_travel_export(spark, tmp_path):
    t = TxnTable(str(tmp_path / "srctt"))
    t.write(_batch(spark, 0, 3), mode="overwrite")   # v0
    t.write(_batch(spark, 3, 5), mode="append")      # v1
    out = str(tmp_path / "exptt")
    info = export_delta_snapshot(spark, t.path, out, version=0)
    assert info["source_version"] == 0
    assert sorted(
        r.id for r in read_delta_table(spark, out).collect()
    ) == [0, 1, 2]


def test_checkpoint_export_reads_without_json(spark, tmp_path):
    """write_checkpoint=True emits a classic checkpoint good enough to
    reconstruct the snapshot after the JSON commit is log-cleaned."""
    t = TxnTable(str(tmp_path / "srcck"))
    t.write(_batch(spark, 0, 6), mode="overwrite")
    out = str(tmp_path / "expck")
    export_delta_snapshot(spark, t.path, out, write_checkpoint=True)
    # remove the JSON commit: only the checkpoint remains
    os.remove(os.path.join(out, "_delta_log", f"{0:020d}.json"))
    got = read_delta_table(spark, out)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4, 5]


def test_v2_checkpoint_export_reads_without_json(spark, tmp_path):
    """write_checkpoint='v2' emits a UUID manifest + sidecar the
    reader's v2 path replays after log cleaning; the protocol
    advertises the v2Checkpoint table feature; DV descriptors ride
    through the sidecar."""
    import glob

    t = TxnTable(str(tmp_path / "srcv2"))
    t.write(_batch(spark, 0, 6), mode="overwrite")
    t.delete_where(spark, "id = 4", dv=True)
    out = str(tmp_path / "expv2")
    export_delta_snapshot(spark, t.path, out, write_checkpoint="v2")
    log = os.path.join(out, "_delta_log")
    assert glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
    assert glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    snap = read_delta_snapshot(out)
    assert "v2Checkpoint" in snap.protocol["readerFeatures"]
    assert "deletionVectors" in snap.protocol["readerFeatures"]
    # log-clean the JSON commit: the v2 manifest alone reconstructs
    os.remove(os.path.join(log, f"{0:020d}.json"))
    got = read_delta_table(spark, out)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 5]


def test_constraints_exported_with_writer_v3(spark, tmp_path):
    t = TxnTable(str(tmp_path / "srcc"))
    t.write(_batch(spark, 0, 3), mode="overwrite")
    t.add_constraint(spark, "pos_v", "v >= 0")
    out = str(tmp_path / "expc")
    export_delta_snapshot(spark, t.path, out)
    snap = read_delta_snapshot(out)
    assert snap.configuration["delta.constraints.pos_v"] == "v >= 0"
    assert snap.protocol["minWriterVersion"] >= 3


def test_transform_partitions_refused(spark, tmp_path):
    t = TxnTable(str(tmp_path / "srctr"))
    t.write(
        _batch(spark, 0, 6), mode="overwrite",
        partition_by=["bucket(4, id)"],
    )
    with pytest.raises(DeltaExportError, match="transform"):
        export_delta_snapshot(spark, t.path, str(tmp_path / "exptr"))


def test_exported_stats_prune_files(spark, tmp_path):
    """add-action stats survive the export: a stats-prune over the
    exported log skips files exactly like the internal reader."""
    t = TxnTable(str(tmp_path / "srcst"))
    t.write(_batch(spark, 0, 4), mode="overwrite")
    t.write(_batch(spark, 100, 104), mode="append")
    out = str(tmp_path / "expst")
    export_delta_snapshot(spark, t.path, out)
    pruned = read_delta_table(spark, out, prune=[("id", ">=", 100)])
    assert sorted(r.id for r in pruned.collect()) == [100, 101, 102, 103]
    # the stats JSON is present on every exported add
    log = os.path.join(out, "_delta_log", f"{0:020d}.json")
    adds = [
        json.loads(x)["add"]
        for x in open(log)
        if '"add"' in x
    ]
    assert adds and all("stats" in a for a in adds)


def test_convert_parquet_dir_to_delta(spark, tmp_path):
    """CONVERT TO DELTA: hive-partitioned parquet dir gains a spec
    _delta_log in place (no data rewritten); foreign read == plain
    parquet read, partition values (incl. hive-escaped chars) decode,
    and stats enable pruning."""
    from data_lakehouse_project_spark.operators.delta_export import (
        convert_parquet_dir_to_delta,
    )

    src = str(tmp_path / "plain")
    df = spark.createDataFrame(
        [(0, "a b", 1.0), (1, "a b", 2.0), (2, "c", 3.0), (100, "c", 4.0)],
        "id long, grp string, v double",
    )
    df.write.partitionBy("grp").parquet(src)
    before = sorted((r.id, r.grp, r.v) for r in spark.read.parquet(src).collect())

    info = convert_parquet_dir_to_delta(spark, src)
    assert info["partition_columns"] == ["grp"]
    got = read_delta_table(spark, src)
    assert sorted((r.id, r.grp, r.v) for r in got.collect()) == before
    # hive-escaped partition value ("a b" is stored as a%20b) decodes
    assert sorted(
        r.id for r in read_delta_table(
            spark, src, prune=[("grp", "=", "a b")]
        ).collect()
    ) == [0, 1]
    # footer stats prune: id >= 100 cannot be in the a-b files
    snap = read_delta_snapshot(src)
    assert all(
        f.get("stats", {}).get("num_rows", 0) > 0 for f in snap.files
    )
    # second convert refused
    import pytest as _pytest

    from data_lakehouse_project_spark.operators.delta_export import (
        DeltaExportError,
    )

    with _pytest.raises(DeltaExportError, match="already"):
        convert_parquet_dir_to_delta(spark, src)


def test_cdf_timestamp_bounds(spark, tmp_path):
    """startingTimestamp / endingTimestamp resolve to the first commit
    at-or-after / last commit at-or-before, using the spec's commit
    clock (commitInfo.timestamp here)."""
    from data_lakehouse_project_spark.operators.delta_cdf import (
        read_delta_changes,
    )
    from data_lakehouse_project_spark.operators.delta_reader import (
        _commit_timestamp_ms,
    )

    t = TxnTable(str(tmp_path / "srct"))
    t.write(_batch(spark, 0, 2), mode="overwrite")   # v0
    t.write(_batch(spark, 2, 4), mode="append")      # v1
    t.write(_batch(spark, 4, 6), mode="append")      # v2
    ts1 = _commit_timestamp_ms(t.path, 1)
    mid = read_delta_changes(
        spark, t.path, starting_timestamp_ms=ts1,
        ending_timestamp_ms=ts1,
    )
    assert sorted(r.id for r in mid.collect()) == [2, 3]
    tail = read_delta_changes(
        spark, t.path, starting_timestamp_ms=ts1
    )
    assert sorted(r.id for r in tail.collect()) == [2, 3, 4, 5]
    with pytest.raises(ValueError, match="at or after"):
        read_delta_changes(
            spark, t.path, starting_timestamp_ms=ts1 + 10**9
        )


def test_sync_delta_export_mirrors_commits(spark, tmp_path):
    """sync_delta_export: first call full-exports; later calls append
    one foreign commit per internal commit — appends, CoW deletes,
    cdc UPDATEs, and DV deletes all mirror, so foreign snapshot reads,
    CDF, and the DV-diff CDC reconstruction work against the mirror."""
    from data_lakehouse_project_spark.operators.delta_cdf import (
        read_delta_changes,
    )
    from data_lakehouse_project_spark.operators.delta_export import (
        sync_delta_export,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "mirror")
    t = TxnTable(src)
    t.write(_batch(spark, 0, 6), mode="overwrite")          # v0
    info = sync_delta_export(spark, src, out)
    assert info["initial_export"] and info["to_version"] == 0
    assert _rows(read_delta_table(spark, out)) == _rows(t.read(spark))

    t.write(_batch(spark, 6, 8), mode="append")             # v1
    t.update_where(spark, "id = 1", {"v": "99.0"}, cdc=True)  # v2
    t.delete_where(spark, "id = 7", dv=True)                # v3 (DV)
    info = sync_delta_export(spark, src, out)
    assert info["synced_commits"] == 3
    assert (info["from_version"], info["to_version"]) == (0, 3)

    # snapshot parity at head and per synced version
    assert _rows(read_delta_table(spark, out)) == _rows(t.read(spark))
    assert sorted(
        r.id for r in read_delta_table(spark, out, version=2).collect()
    ) == list(range(8))

    # CDF over the mirror: cdc pre/postimages from v2, DV-diff at v3
    cdf = read_delta_changes(spark, out, starting_version=2)
    got = sorted(
        (r._commit_version, r._change_type, r.id, r.v)
        for r in cdf.collect()
    )
    assert got == [
        (2, "update_postimage", 1, 99.0),
        (2, "update_preimage", 1, 2.0),
        (3, "delete", 7, 14.0),
    ]

    # idempotent: nothing new -> no commits appended
    info = sync_delta_export(spark, src, out)
    assert info["synced_commits"] == 0

    # a target not written by this exporter is refused
    with pytest.raises(DeltaExportError, match="unknown history"):
        sync_delta_export(spark, src, t.path)


def test_sync_never_clobbers_a_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """Another writer takes the mirror's next version slot between
    the sync's log listing and its publish (a stale listing): the sync
    raises ConcurrentCommitError and the other commit stays
    byte-identical."""
    from data_lakehouse_project_spark.operators import delta_reader
    from data_lakehouse_project_spark.operators.concurrency import (
        ConcurrentCommitError,
    )
    from data_lakehouse_project_spark.operators.delta_export import (
        sync_delta_export,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "mirror")
    t = TxnTable(src)
    t.write(_batch(spark, 0, 4), mode="overwrite")          # v0
    sync_delta_export(spark, src, out)
    t.write(_batch(spark, 4, 6), mode="append")             # v1
    sync_delta_export(spark, src, out)
    taken = os.path.join(out, "_delta_log", f"{1:020d}.json")
    with open(taken, "rb") as fh:
        before = fh.read()

    t.write(_batch(spark, 6, 8), mode="append")             # v2
    real = delta_reader._commit_versions

    def stale(path):
        vs = real(path)
        return vs[:-1] if os.path.samefile(path, out) else vs

    monkeypatch.setattr(delta_reader, "_commit_versions", stale)
    with pytest.raises(ConcurrentCommitError, match="concurrent commit"):
        sync_delta_export(spark, src, out)
    monkeypatch.undo()
    with open(taken, "rb") as fh:
        assert fh.read() == before
    assert sorted(
        os.listdir(os.path.join(out, "_delta_log"))
    ) == [f"{0:020d}.json", f"{1:020d}.json"]
    # the next sync (fresh listing) mirrors v2 on top
    assert sync_delta_export(spark, src, out)["synced_commits"] == 1
    assert _rows(read_delta_table(spark, out)) == _rows(t.read(spark))


def test_sync_schema_evolution_keeps_table_id(spark, tmp_path):
    """A synced schema-change commit re-emits metaData with the SAME
    table id (spec: metaData.id identifies the table for the log's
    whole lifetime) and foreign reads surface the evolved column."""
    from data_lakehouse_project_spark.operators.delta_export import (
        sync_delta_export,
    )
    from data_lakehouse_project_spark.operators.delta_reader import (
        sniff_commit_meta_protocol,
        _commit_versions,
    )

    src = str(tmp_path / "srcse")
    out = str(tmp_path / "outse")
    t = TxnTable(src)
    t.write(_batch(spark, 0, 3), mode="overwrite")
    sync_delta_export(spark, src, out)
    evolved = _batch(spark, 3, 5).withColumn(
        "extra", F.col("id") * 100
    )
    t.write(evolved, mode="append", allow_schema_evolution=True)
    info = sync_delta_export(spark, src, out)
    assert info["synced_commits"] == 1

    got = read_delta_table(spark, out)
    rows = sorted((r.id, r.extra) for r in got.collect())
    assert rows == [(0, None), (1, None), (2, None),
                    (3, 300), (4, 400)]
    ids = set()
    for v in _commit_versions(out):
        m, _ = sniff_commit_meta_protocol(out, v)
        if m is not None:
            ids.add(m["id"])
    assert len(ids) == 1  # constant table id across the mirror's log


def test_sync_big_dv_uses_shared_dv_file(spark, tmp_path):
    """Synced DV descriptors are copied verbatim: two files DV-deleted
    in one commit share the commit's DV file (storageType 'u') at
    distinct offsets, the file is linked into the mirror, and the
    foreign reader applies both."""
    from data_lakehouse_project_spark.operators.delta_export import (
        sync_delta_export,
    )

    src = str(tmp_path / "srcbig")
    out = str(tmp_path / "outbig")
    t = TxnTable(src)
    # two files so one DV delete touches both
    t.write(_batch(spark, 0, 4).repartition(2), mode="overwrite")
    sync_delta_export(spark, src, out)
    t.delete_where(spark, "id IN (0, 3)", dv=True)
    info = sync_delta_export(spark, src, out)
    assert info["synced_commits"] == 1

    got = read_delta_table(spark, out)
    assert sorted(r.id for r in got.collect()) == [1, 2]
    snap = read_delta_snapshot(out)
    dvs = [f["foreign_dv"] for f in snap.files if f.get("foreign_dv")]
    assert dvs and all(d["storageType"] == "u" for d in dvs)
    assert any(
        n.startswith("deletion_vector_") for n in os.listdir(out)
    )


def test_mirror_checkpoint_and_log_clean(spark, tmp_path):
    """sync_delta_export(checkpoint_every=N): the mirrored head
    crossing a multiple of N gets a classic checkpoint
    (write_foreign_checkpoint raw-action replay — DV descriptors ride
    verbatim), after which the early JSON commits can be log-cleaned
    and snapshot reads still reconstruct."""
    import glob

    from data_lakehouse_project_spark.operators.delta_export import (
        sync_delta_export,
        write_foreign_checkpoint,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "mirror")
    t = TxnTable(src)
    t.write(_batch(spark, 0, 6), mode="overwrite")          # v0
    sync_delta_export(spark, src, out, checkpoint_every=2)
    t.write(_batch(spark, 6, 8), mode="append")             # v1
    t.delete_where(spark, "id = 2", dv=True)                # v2 (DV)
    info = sync_delta_export(spark, src, out, checkpoint_every=2)
    assert info["checkpointed_version"] == 2
    assert glob.glob(
        os.path.join(out, "_delta_log", "*.checkpoint.parquet")
    )

    # log-clean the pre-checkpoint commits: snapshot still exact
    for v in range(2):
        os.remove(os.path.join(out, "_delta_log", f"{v:020d}.json"))
    got = read_delta_table(spark, out)
    assert sorted(r.id for r in got.collect()) == [0, 1, 3, 4, 5, 6, 7]

    # the mirror keeps accepting commits after the clean (lineage is
    # sniffed from the LATEST commit, which survives)
    t.write(_batch(spark, 8, 9), mode="append")             # v3
    info = sync_delta_export(spark, src, out, checkpoint_every=2)
    assert info["synced_commits"] == 1
    got = read_delta_table(spark, out)
    assert sorted(r.id for r in got.collect()) == [
        0, 1, 3, 4, 5, 6, 7, 8,
    ]

    # a checkpoint at a cleaned-away version is refused loudly
    with pytest.raises(DeltaExportError, match="contiguous"):
        write_foreign_checkpoint(out, version=3)


def test_foreign_checkpoint_preserves_row_tracking(spark, tmp_path):
    """baseRowId / defaultRowCommitVersion survive the checkpoint's
    columnar add layout: row ids read identically after log cleaning."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_lakehouse_project_spark.operators.delta_export import (
        write_foreign_checkpoint,
    )

    table = str(tmp_path / "rt")
    os.makedirs(os.path.join(table, "_delta_log"))
    pq.write_table(
        pa.table({"id": pa.array([0, 1, 2], pa.int64())}),
        os.path.join(table, "f1.parquet"),
    )
    schema = _json.dumps({
        "type": "struct",
        "fields": [{"name": "id", "type": "long", "nullable": True,
                    "metadata": {}}],
    })
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["rowTracking"]}},
        {"metaData": {
            "id": "rt-1", "format": {"provider": "parquet",
                                     "options": {}},
            "schemaString": schema, "partitionColumns": [],
            "configuration": {"delta.enableRowTracking": "true"},
            "createdTime": 1}},
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True,
                 "baseRowId": 40, "defaultRowCommitVersion": 0}},
    ]
    with open(os.path.join(table, "_delta_log",
                           f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(_json.dumps(a) + "\n")

    write_foreign_checkpoint(table)
    os.remove(os.path.join(table, "_delta_log", f"{0:020d}.json"))
    got = read_delta_table(spark, table, row_ids=True)
    assert sorted(r._row_id for r in got.collect()) == [40, 41, 42]


def test_foreign_checkpoint_v2_gating_and_txn_rows(spark, tmp_path):
    from data_lakehouse_project_spark.operators.delta_export import (
        write_foreign_checkpoint,
    )

    # v2 requires the table feature to be COMMITTED in the log
    t = TxnTable(str(tmp_path / "s1"))
    t.write(_batch(spark, 0, 3), mode="overwrite")
    out1 = str(tmp_path / "e1")
    export_delta_snapshot(spark, t.path, out1)
    with pytest.raises(DeltaExportError, match="v2Checkpoint"):
        write_foreign_checkpoint(out1, kind="v2")
    # ... and succeeds on a table that advertises it
    out2 = str(tmp_path / "e2")
    export_delta_snapshot(spark, t.path, out2, write_checkpoint="v2")
    info = write_foreign_checkpoint(out2, kind="v2")
    assert info["kind"] == "v2" and info["files"] >= 1

    # setTransaction rows ride into both checkpoint kinds, so
    # idempotent-writer dedup survives log cleaning
    for out, kind in ((out1, "classic"), (out2, "v2")):
        log = os.path.join(out, "_delta_log")
        with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
            fh.write(json.dumps(
                {"txn": {"appId": "x", "version": 1}}) + "\n")
        assert write_foreign_checkpoint(out, kind=kind)["version"] == 1
        for v in (0, 1):
            os.remove(os.path.join(log, f"{v:020d}.json"))
        assert read_delta_snapshot(out).txns == {"x": 1}, kind


def test_foreign_checkpoint_keeps_streaming_txns(spark, tmp_path):
    """write_foreign_checkpoint on a TxnTable.streaming_append table:
    the exactly-once ``txn`` versions read the same once every commit
    the checkpoint covers is log-cleaned."""
    from data_lakehouse_project_spark.operators.delta_export import (
        write_foreign_checkpoint,
    )

    t = TxnTable(str(tmp_path / "stream"))
    sink_a = t.streaming_append("query-a")
    sink_b = t.streaming_append("query-b")
    sink_a(_batch(spark, 0, 2), 0)
    sink_b(_batch(spark, 2, 4), 0)
    sink_a(_batch(spark, 4, 6), 1)
    sink_a(_batch(spark, 4, 6), 1)  # replayed micro-batch: no-op
    sink_b(_batch(spark, 6, 8), 3)
    assert t.latest_version() == 3  # fewer commits than the interval
    want = read_delta_snapshot(t.path).txns
    assert want == {"query-a": 1, "query-b": 3}

    info = write_foreign_checkpoint(t.path)
    for v in range(info["version"] + 1):
        os.remove(os.path.join(t.path, "_delta_log", f"{v:020d}.json"))
    assert read_delta_snapshot(t.path).txns == want
