"""Delta-lite ACID semantics (operators/txnlog.py): atomic visibility,
time travel, optimistic concurrency, copy-on-write mutation, footer-stats
scan pruning, vacuum retention. These are the Delta/Iceberg behaviors the
offline container can't get from the real packages (COVERAGE.md)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_lakehouse_project_spark.operators.txnlog import (
    ConcurrentWriteConflict,
    TxnTable,
)


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.lit(tag).alias("tag"),
    )


def test_time_travel_and_history(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    v0 = t.write(_df(spark, 0, 100), mode="overwrite")
    v1 = t.write(_df(spark, 0, 50, tag="b"), mode="overwrite")
    v2 = t.write(_df(spark, 100, 110, tag="c"), mode="append")
    assert (v0, v1, v2) == (0, 1, 2)

    assert t.read(spark).count() == 60  # 50 overwritten + 10 appended
    assert t.read(spark, version=0).count() == 100  # pre-overwrite
    assert t.read(spark, version=1).count() == 50
    # read-by-timestamp: as of v0's commit time → v0's data
    hist = t.history()
    assert [h["operation"] for h in hist] == ["overwrite", "overwrite", "append"]
    assert t.read(spark, as_of_ms=hist[0]["timestamp"]).count() == 100

    # appended rows really are there; overwritten v0 rows really are not
    tags = {r.tag for r in t.read(spark).select("tag").distinct().collect()}
    assert tags == {"b", "c"}


def test_atomic_visibility_half_commit_invisible(spark, tmp_path):
    """A reader never sees a half-commit: data files without a commit
    record, and temp/garbage files in the log dir, are invisible."""
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(_df(spark, 0, 10), mode="overwrite")

    # crashed writer: data files staged into the table dir, no commit
    stray_adds = t._stage_data(_df(spark, 1000, 2000), None)
    assert len(stray_adds) >= 1
    assert t.read(spark).count() == 10  # unchanged

    # torn publish: a temp log file must be ignored by replay
    with open(os.path.join(path, "_delta_log", ".tmp-dead.json"), "w") as fh:
        fh.write('{"add": {"path": "nope.parquet"}}\n')
    assert t.read(spark).count() == 10
    assert t.latest_version() == 0


def test_optimistic_conflict_two_writers(spark, tmp_path):
    """Two handles to the same table: the slower read-dependent writer
    must get ConcurrentWriteConflict, never silently clobber."""
    path = str(tmp_path / "tbl")
    TxnTable(path).write(_df(spark, 0, 20), mode="overwrite")

    a, b = TxnTable(path), TxnTable(path)
    # both stage against read_version=0; A publishes first
    a.write(_df(spark, 0, 5, tag="A"), mode="overwrite")
    with pytest.raises(ConcurrentWriteConflict):
        b._commit(
            operation="overwrite",
            read_version=0,
            adds=b._stage_data(_df(spark, 0, 7, tag="B"), None),
            removes=[],
            schema_json=_df(spark, 0, 1).schema.json(),
            partition_by=None,
            blind_append=False,
        )
    # loser's result is intact: A's overwrite, not B's
    assert TxnTable(path).read(spark).count() == 5
    # merge is read-dependent too: stale-handle merge conflicts
    stale = TxnTable(path)
    stale_rv = 0  # simulate a merge that read long ago
    with pytest.raises(ConcurrentWriteConflict):
        stale._commit(
            operation="merge",
            read_version=stale_rv,
            adds=[],
            removes=[],
            schema_json=_df(spark, 0, 1).schema.json(),
            partition_by=None,
            blind_append=False,
        )


def test_concurrent_blind_appends_both_land(spark, tmp_path):
    """Blind appends don't conflict: the publish-race loser retries at
    the new tip and both commits land."""
    path = str(tmp_path / "tbl")
    TxnTable(path).write(_df(spark, 0, 10), mode="overwrite")
    a, b = TxnTable(path), TxnTable(path)
    rv = a.latest_version()
    adds_a = a._stage_data(_df(spark, 100, 110), None)
    adds_b = b._stage_data(_df(spark, 200, 210), None)
    schema = _df(spark, 0, 1).schema.json()
    va = a._commit("append", rv, adds_a, [], schema, None, blind_append=True)
    vb = b._commit("append", rv, adds_b, [], schema, None, blind_append=True)
    assert {va, vb} == {1, 2}
    assert TxnTable(path).read(spark).count() == 30


def test_merge_and_delete_copy_on_write(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(_df(spark, 0, 10), mode="overwrite")
    # upsert: ids 5..14 get tag='new' (5-9 updated, 10-14 inserted)
    t.merge(_df(spark, 5, 15, tag="new"), keys=["id"])
    rows = {r.id: r.tag for r in t.read(spark).collect()}
    assert len(rows) == 15
    assert all(rows[i] == "a" for i in range(5))
    assert all(rows[i] == "new" for i in range(5, 15))
    # delete
    t.delete_where(spark, "id >= 10")
    assert t.read(spark).count() == 10
    # time travel still sees every prior state
    assert t.read(spark, version=0).count() == 10
    assert t.read(spark, version=1).count() == 15


def test_stats_pruning_skips_files(spark, tmp_path):
    """Range-clustered files + footer min/max stats → a selective
    predicate provably reads fewer files, with identical results."""
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    df = spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    # range-partition on id so each file covers a disjoint id range
    t.write(df.repartitionByRange(8, "id").sortWithinPartitions("id"))

    scanned, total = t.scan_file_count(prune=[("id", "<", 1000)])
    assert total >= 4 and scanned < total, (scanned, total)
    got = t.read(spark, prune=[("id", "<", 1000)])
    assert got.count() == 1000
    # pruned read ≡ unpruned read + filter (pruning is IO-only)
    full = t.read(spark).where(F.col("id") < 1000)
    assert {r.id for r in got.collect()} == {r.id for r in full.collect()}
    # equality predicate on a mid-range value hits exactly one file
    scanned_eq, _ = t.scan_file_count(prune=[("id", "=", 5000)])
    assert scanned_eq == 1
    assert t.read(spark, prune=[("id", "=", 5000)]).count() == 1


def test_partition_value_pruning(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")
    )
    t.write(df, partition_by=["bucket"])
    scanned, total = t.scan_file_count(prune=[("bucket", "=", 1)])
    assert scanned < total
    assert t.read(spark, prune=[("bucket", "=", 1)]).count() == 100


def test_vacuum_respects_retention(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(_df(spark, 0, 100), mode="overwrite")  # v0
    t.write(_df(spark, 0, 10), mode="overwrite")  # v1
    t._stage_data(_df(spark, 0, 5), None)  # stray uncommitted files
    # keep both versions: only the stray files go
    t.vacuum(keep_versions=2)
    assert t.read(spark, version=0).count() == 100
    assert t.read(spark, version=1).count() == 10
    # keep only latest: v0's files are reaped, latest still reads clean
    deleted = t.vacuum(keep_versions=1)
    assert deleted
    assert t.read(spark).count() == 10
    with pytest.raises(Exception):
        t.read(spark, version=0).count()


def test_sink_and_upsert_integration(spark, tmp_path):
    """write_table(fmt='delta-lite') and merge_into_path(fmt='delta-lite')
    route through the log with the same call shapes as delta/parquet."""
    from data_lakehouse_project_spark.operators.sinks import write_table
    from data_lakehouse_project_spark.operators.upsert import merge_into_path

    path = str(tmp_path / "tbl")
    n = write_table(
        _df(spark, 0, 40), path, fmt="delta-lite", verify=True
    )
    assert n == 40
    merge_into_path(
        spark, path, _df(spark, 30, 50, tag="m"), keys=["id"],
        fmt="delta-lite",
    )
    t = TxnTable(path)
    assert t.read(spark).count() == 50
    assert [h["operation"] for h in t.history()] == ["overwrite", "merge"]


def test_log_is_json_and_stats_present(spark, tmp_path):
    """The log format itself is a contract: line-delimited JSON actions
    in the published Delta protocol shape (r5) — protocol + metaData on
    every commit, adds carrying footer-harvested stats as a JSON string
    of numRecords/minValues/maxValues/nullCount."""
    path = str(tmp_path / "tbl")
    TxnTable(path).write(_df(spark, 0, 50))
    log_file = os.path.join(path, "_delta_log", "0" * 20 + ".json")
    actions = [json.loads(ln) for ln in open(log_file)]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 1  # no DVs → externally readable
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["schemaString"] and meta["id"]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds
    for a in adds:
        st = json.loads(a["stats"])
        assert st["minValues"]["id"] <= st["maxValues"]["id"]
        assert st["numRecords"] > 0
        assert a["size"] > 0 and a["dataChange"] is True
        assert "modificationTime" in a and "partitionValues" in a


def _checkpoints(path):
    """Versions of the spec parquet checkpoints in the table's log."""
    log = os.path.join(path, "_delta_log")
    return sorted(
        int(n.split(".")[0])
        for n in os.listdir(log)
        if n.endswith(".checkpoint.parquet")
    )


def _checkpoint_file(path, version):
    return os.path.join(path, "_delta_log", f"{version:020d}.checkpoint.parquet")


def test_checkpoint_compaction_bounds_replay(spark, tmp_path):
    """Every CHECKPOINT_INTERVAL-th commit writes a checkpoint; replay
    from it must agree exactly with linear replay, and time travel on
    both sides of the checkpoint keeps working."""
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(_df(spark, 0, 10), mode="overwrite")  # v0
    for i in range(1, 13):  # v1..v12 appends of 5 rows each
        t.write(_df(spark, 100 * i, 100 * i + 5), mode="append")
    assert t.latest_version() == 12
    # checkpoint landed at v10
    assert _checkpoints(path) == [10]

    # checkpointed replay ≡ linear replay: delete the checkpoint and
    # compare the full snapshot file sets
    snap_fast = t.snapshot()
    os.remove(_checkpoint_file(path, 10))
    snap_linear = t.snapshot()
    assert {f["path"] for f in snap_fast.files} == {
        f["path"] for f in snap_linear.files
    }
    assert snap_fast.version == snap_linear.version == 12

    # restore a checkpoint by committing past the next interval
    for i in range(13, 21):
        t.write(_df(spark, 1000 * i, 1000 * i + 2), mode="append")
    assert _checkpoints(path) == [20]
    # time travel BEFORE the checkpoint (linear replay region)
    assert t.read(spark, version=3).count() == 10 + 3 * 5
    # at and after it (checkpoint-started replay)
    assert t.read(spark, version=20).count() == 10 + 12 * 5 + 8 * 2
    assert t.read(spark).count() == 10 + 12 * 5 + 8 * 2


def test_checkpoint_corruption_is_nonfatal(spark, tmp_path):
    """The linear log stays the source of truth: a corrupt checkpoint
    can be deleted and every read still works (checkpoints only
    accelerate replay)."""
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(_df(spark, 0, 10), mode="overwrite")
    for i in range(1, 11):
        t.write(_df(spark, 100 * i, 100 * i + 1), mode="append")
    (cp,) = _checkpoints(path)
    os.remove(_checkpoint_file(path, cp))
    assert t.read(spark).count() == 20
    assert t.read(spark, version=0).count() == 10


def test_schema_enforcement_and_evolution(spark, tmp_path):
    """Appends are schema-on-write; additive evolution is opt-in and
    older files surface the new column as null under the snapshot
    schema (explicit-schema read)."""
    from data_lakehouse_project_spark.operators.txnlog import (
        SchemaMismatchError,
    )

    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(_df(spark, 0, 10), mode="overwrite")

    # incompatible appends rejected: missing column / retyped column
    with pytest.raises(SchemaMismatchError):
        t.write(_df(spark, 10, 20).drop("tag"), mode="append")
    with pytest.raises(SchemaMismatchError):
        t.write(
            _df(spark, 10, 20).withColumn(
                "v", F.col("v").cast("string")
            ),
            mode="append",
        )
    # extra column rejected unless evolution is opted in
    extra = _df(spark, 10, 20).withColumn("lang", F.lit("en"))
    with pytest.raises(SchemaMismatchError):
        t.write(extra, mode="append")
    t.write(extra, mode="append", allow_schema_evolution=True)

    got = t.read(spark)
    assert set(got.columns) == {"id", "v", "tag", "lang"}
    by_id = {r.id: r.lang for r in got.collect()}
    assert len(by_id) == 20
    assert all(by_id[i] is None for i in range(10))  # old files null-fill
    assert all(by_id[i] == "en" for i in range(10, 20))
    # time travel to v0 shows the ORIGINAL schema
    assert set(t.read(spark, version=0).columns) == {"id", "v", "tag"}


def test_partition_column_survives_read(spark, tmp_path):
    """Explicit-file-path reads keep hive partition columns (basePath)."""
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    df = spark.range(0, 90).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")
    )
    t.write(df, partition_by=["bucket"])
    got = t.read(spark)
    assert "bucket" in got.columns
    assert {r.bucket for r in got.select("bucket").distinct().collect()} == {
        0, 1, 2,
    }
    pruned = t.read(spark, prune=[("bucket", "=", 2)])
    assert {r.bucket for r in pruned.select("bucket").distinct().collect()} == {2}


def test_truly_concurrent_appends_from_threads(spark, tmp_path):
    """Four writer threads racing real appends: the hard-link publish
    serializes them into distinct contiguous versions and no rows are
    lost (the POSIX-atomicity claim under actual concurrency, not a
    staged race)."""
    import threading

    path = str(tmp_path / "tbl")
    TxnTable(path).write(_df(spark, 0, 10), mode="overwrite")
    errors = []

    def appender(k):
        try:
            for j in range(3):
                lo = 1000 * k + 10 * j
                TxnTable(path).write(
                    _df(spark, lo, lo + 5), mode="append"
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=appender, args=(k,)) for k in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    t = TxnTable(path)
    assert t.latest_version() == 12  # 1 overwrite + 12 appends, no gaps
    assert t.read(spark).count() == 10 + 12 * 5
    ops = [h["operation"] for h in t.history()]
    assert ops == ["overwrite"] + ["append"] * 12


def test_optimize_compacts_preserving_rows_and_history(spark, tmp_path):
    """OPTIMIZE rewrites many small files into few in one atomic commit:
    identical rows before/after, fewer active files, and the
    pre-compaction version still time-travels until vacuum."""
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 100).repartition(8), mode="overwrite")
    t.write(_df(spark, 100, 120, tag="b").repartition(4), mode="append")
    before_files = len(t.snapshot().files)
    assert before_files >= 12
    before_rows = sorted(
        (r.id, r.v, r.tag) for r in t.read(spark).collect()
    )

    v = t.optimize(spark)  # default target >> file sizes → 1 file
    assert v == t.latest_version()
    assert t.history()[-1]["operation"] == "optimize"
    assert len(t.snapshot().files) < before_files
    after_rows = sorted((r.id, r.v, r.tag) for r in t.read(spark).collect())
    assert after_rows == before_rows
    # pre-optimize snapshot still readable (old files not yet vacuumed)
    assert t.read(spark, version=v - 1).count() == 120
    # idempotent: nothing left to compact → same version, no new commit
    assert t.optimize(spark) == v

    # vacuum reaps the compacted-away smalls; latest still intact
    deleted = t.vacuum(keep_versions=1)
    assert len(deleted) >= before_files
    assert t.read(spark).count() == 120


def test_optimize_respects_partitions(spark, tmp_path):
    """Compaction groups by partition: files never merge across hive
    partition dirs, and partition columns survive the rewrite."""
    t = TxnTable(str(tmp_path / "tbl"))
    df = _df(spark, 0, 100).withColumn("pk", (F.col("id") % 2).cast("int"))
    t.write(df.repartition(6), mode="overwrite", partition_by=["pk"])
    t.write(
        df.where("id < 20").repartition(3), mode="append", partition_by=["pk"]
    )
    t.optimize(spark)
    parts = {
        frozenset(f["partition_values"].items()) for f in t.snapshot().files
    }
    assert parts == {frozenset({("pk", "0")}), frozenset({("pk", "1")})}
    per_part = {}
    for f in t.snapshot().files:
        key = f["partition_values"]["pk"]
        per_part[key] = per_part.get(key, 0) + 1
    assert all(n == 1 for n in per_part.values())
    got = t.read(spark).groupBy("pk").count().collect()
    assert {(r.pk, r["count"]) for r in got} == {(0, 60), (1, 60)}


def test_change_data_feed_row_level(spark, tmp_path):
    """CDF: append → inserts; merge → net row-level delete+insert pairs;
    delete → deletes; optimize → no changes. Replaying the full feed
    (inserts exceptAll deletes) reconstructs the latest snapshot."""
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 5), mode="overwrite")  # v0: 5 inserts
    t.write(_df(spark, 5, 7), mode="append")  # v1: 2 inserts

    # v2: merge — update id=3 (v=999), insert id=100
    src = spark.createDataFrame(
        [(3, 999, "a"), (100, 200, "a")], "id long, v long, tag string"
    )
    t.merge(src, keys=["id"])
    # v3: delete id=0
    t.delete_where(spark, "id = 0")
    # v4: optimize — must contribute NOTHING to the feed
    t.optimize(spark)

    feed = t.read_changes(spark, starting_version=0)
    f = feed.toPandas()

    v0 = f[f._commit_version == 0]
    assert set(v0._change_type) == {"insert"} and len(v0) == 5
    v1 = f[f._commit_version == 1]
    assert set(v1._change_type) == {"insert"} and len(v1) == 2
    v2 = f[f._commit_version == 2].sort_values(["_change_type", "id"])
    # net diff: insert(3,999) + insert(100,200) + delete(3,6-pre-image)
    assert [
        (r.id, r.v, r._change_type) for _, r in v2.iterrows()
    ] == [(3, 6, "delete"), (3, 999, "insert"), (100, 200, "insert")]
    v3 = f[f._commit_version == 3]
    assert [(r.id, r._change_type) for _, r in v3.iterrows()] == [
        (0, "delete")
    ]
    assert len(f[f._commit_version == 4]) == 0

    # multiset replay of the feed ≡ latest snapshot
    data_cols = ["id", "v", "tag"]
    ins = feed.where("_change_type = 'insert'").select(*data_cols)
    dels = feed.where("_change_type = 'delete'").select(*data_cols)
    replayed = sorted(map(tuple, ins.exceptAll(dels).collect()))
    latest = sorted(map(tuple, t.read(spark).select(*data_cols).collect()))
    assert replayed == latest


def test_change_data_feed_window_and_overwrite(spark, tmp_path):
    """Version-windowed CDF; overwrite emits file-level delete+insert."""
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 4), mode="overwrite")  # v0
    t.write(_df(spark, 0, 3, tag="b"), mode="overwrite")  # v1
    t.write(_df(spark, 10, 12, tag="c"), mode="append")  # v2

    w = t.read_changes(spark, starting_version=1, ending_version=1).toPandas()
    assert len(w[w._change_type == "delete"]) == 4  # v0's rows replaced
    assert len(w[w._change_type == "insert"]) == 3
    assert set(w._commit_version) == {1}

    with pytest.raises(ValueError):
        t.read_changes(spark, starting_version=99)


def test_optimize_cluster_by_makes_stats_prune(spark, tmp_path):
    """Randomly-arrived data spreads every value range across every
    file, so footer min/max stats prune nothing; OPTIMIZE with
    cluster_by range-sorts the rewrite into disjoint-range files and
    the same predicate then skips all but one — the Iceberg
    sort-order / ZORDER economics, observable via scan_file_count."""
    t = TxnTable(str(tmp_path / "tbl"))
    # v is decorrelated from insertion order -> every file spans ~full range
    df = spark.range(0, 4000).select(
        F.col("id"), F.pmod(F.col("id") * 2654435761, F.lit(4000)).alias("v")
    )
    t.write(df.repartition(8), mode="overwrite")

    pred = [("v", "<", 500)]
    scanned, total = t.scan_file_count(prune=pred)
    assert total == 8 and scanned == 8  # stats useless before clustering

    # force a multi-file clustered rewrite: a target of a quarter of the
    # measured table size asks for at least 4 files, whatever the codec
    quarter = t.describe_detail()["size_bytes"] // 4
    v = t.optimize(spark, target_size_bytes=quarter, cluster_by=["v"])
    assert t.history()[-1]["operation"] == "optimize"
    scanned2, total2 = t.scan_file_count(prune=pred)
    assert total2 >= 3  # really multiple files
    assert scanned2 <= max(1, total2 // 3)  # most files skipped

    # clustering is content-preserving and the pruned read is exact
    assert t.read(spark).count() == 4000
    got = t.read(spark, prune=pred).count()
    assert got == df.where("v < 500").count()
    # pre-clustering version still time-travels
    assert t.read(spark, version=v - 1).count() == 4000


def test_type_widening_evolution(spark, tmp_path):
    """Append with WIDENED column types (int->long, float->double) is
    additive evolution: older files' narrower physical types read
    losslessly under the new snapshot schema; narrowing still
    conflicts; widening without the opt-in flag is rejected."""
    from data_lakehouse_project_spark.operators.txnlog import (
        SchemaMismatchError,
    )

    t = TxnTable(str(tmp_path / "tbl"))
    narrow = spark.range(0, 5).select(
        F.col("id").cast("int").alias("k"),
        F.lit(1.5).cast("float").alias("x"),
    )
    wide = spark.range(5, 8).select(
        (F.col("id") + 10_000_000_000).alias("k"),  # needs long
        F.lit(2.25).cast("double").alias("x"),
    )
    t.write(narrow, mode="overwrite")

    with pytest.raises(SchemaMismatchError):  # opt-in required
        t.write(wide, mode="append")
    t.write(wide, mode="append", allow_schema_evolution=True)

    got = t.read(spark)
    assert dict(got.dtypes) == {"k": "bigint", "x": "double"}
    ks = sorted(r.k for r in got.collect())
    assert ks == [0, 1, 2, 3, 4] + [10_000_000_005 + i for i in range(3)]
    assert {r.x for r in got.collect()} == {1.5, 2.25}

    # narrowing back is NOT evolution
    with pytest.raises(SchemaMismatchError):
        t.write(narrow, mode="append", allow_schema_evolution=True)


def test_write_timestamp_column_stats_survive(spark, tmp_path):
    """Spark writes timestamps as INT96 by default; pyarrow raises
    ArrowNotImplementedError DECODING their footer stats even though
    has_min_max is true. The write must succeed (stats are an
    optimization), keep the column's null count, and still collect
    min/max for the other columns."""
    t = TxnTable(str(tmp_path / "ts_table"))
    df = spark.range(0, 10).selectExpr(
        "id", "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts"
    ).coalesce(1)
    t.write(df, mode="overwrite")
    snap = t.snapshot()
    assert snap.num_rows == 10
    cols = snap.files[0]["stats"]["columns"]
    assert cols["id"]["min"] == 0 and cols["id"]["max"] == 9
    assert t.read(spark).count() == 10
