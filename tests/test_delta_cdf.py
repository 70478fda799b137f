"""Change-Data-Feed reader (operators/delta_cdf.py): synthesized
insert/delete commits, cdc-action commits (hand-built foreign fixture),
partition-value recovery for removes, and the refusal contract for
rewrites/DV commits."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_lakehouse_project_spark.operators.delta_cdf import (
    read_delta_changes,
)
from data_lakehouse_project_spark.operators.delta_reader import (
    CorruptDeltaLog,
    UnsupportedDeltaFeature,
)
from data_lakehouse_project_spark.operators.txnlog import TxnTable


def _batch(spark, lo, hi, part="p0"):
    return spark.range(lo, hi).selectExpr(
        "id", f"'{part}' AS part", "id * 2.0 AS v"
    )


def test_insert_commits_are_cdf_inserts(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.write(_batch(spark, 0, 3), mode="overwrite")   # v0
    t.write(_batch(spark, 3, 5), mode="append")      # v1
    cdf = read_delta_changes(spark, t.path)
    rows = sorted(
        (r.id, r._change_type, r._commit_version) for r in cdf.collect()
    )
    assert rows == [
        (0, "insert", 0), (1, "insert", 0), (2, "insert", 0),
        (3, "insert", 1), (4, "insert", 1),
    ]
    assert all(r._commit_timestamp > 0 for r in cdf.collect())


def test_delete_commit_and_version_slicing(spark, tmp_path):
    """Whole-file CoW delete -> remove-only commit -> CDF deletes; the
    partition values for the removed file come from the prior
    snapshot's add action (the log's removes carry none)."""
    t = TxnTable(str(tmp_path / "td"))
    t.write(
        _batch(spark, 0, 4, "a"), mode="overwrite", partition_by=["part"]
    )                                                  # v0
    t.write(_batch(spark, 4, 6, "b"), mode="append")   # v1
    t.delete_where(spark, "part = 'b'")                # v2: remove-only
    cdf = read_delta_changes(spark, t.path)
    by_type = {}
    for r in cdf.collect():
        by_type.setdefault(r._change_type, []).append(r)
    assert sorted(r.id for r in by_type["insert"]) == [0, 1, 2, 3, 4, 5]
    assert sorted((r.id, r.part) for r in by_type["delete"]) == [
        (4, "b"), (5, "b"),
    ]
    assert {r._commit_version for r in by_type["delete"]} == {2}

    # slicing: only the delete commit
    only_del = read_delta_changes(spark, t.path, starting_version=2)
    assert sorted((r.id, r._change_type) for r in only_del.collect()) == [
        (4, "delete"), (5, "delete"),
    ]


def test_rewrite_without_cdc_refused(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tr"))
    t.write(_batch(spark, 0, 4), mode="overwrite")
    t.update_where(spark, "id = 1", {"v": "99.0"})  # add+remove rewrite
    with pytest.raises(UnsupportedDeltaFeature, match="rewrites"):
        read_delta_changes(spark, t.path)
    # slicing PAST the rewrite works
    t.write(_batch(spark, 4, 6), mode="append")
    got = read_delta_changes(spark, t.path, starting_version=2)
    assert sorted(r.id for r in got.collect()) == [4, 5]


def test_engine_dv_commit_reads_as_deletes(spark, tmp_path):
    """The engine's DV delete is a spec remove(path, oldDV) +
    add(path, newDV) pair, so the feed reconstructs it from the DV
    diff: exactly the deleted rows, as deletes."""
    t = TxnTable(str(tmp_path / "tdv"))
    t.write(_batch(spark, 0, 6), mode="overwrite")
    v = t.delete_where(spark, "id < 2", dv=True)
    got = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in read_delta_changes(spark, t.path).collect()
    )
    assert [g for g in got if g[2] == v] == [
        (0, "delete", v), (1, "delete", v),
    ]
    assert sorted(g[0] for g in got if g[2] == 0) == list(range(6))


def test_cdc_actions_take_precedence(spark, tmp_path):
    """A hand-built foreign commit carrying cdc actions: CDF rows come
    ONLY from the _change_data parquet (with its own _change_type,
    incl. update pre/postimages); the same commit's add contributes
    nothing."""
    table = str(tmp_path / "f")
    os.makedirs(os.path.join(table, "_change_data"))
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "v", "type": "double", "nullable": True,
                 "metadata": {}},
            ],
        }
    )

    def _commit(v, actions):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    def _data(name, ids, vs):
        p = os.path.join(table, name)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(
            pa.table(
                {"id": pa.array(ids, pa.int64()),
                 "v": pa.array(vs, pa.float64())}
            ),
            p,
        )
        return os.path.getsize(p)

    s0 = _data("f0.parquet", [1, 2], [1.0, 2.0])
    _commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {
                "metaData": {
                    "id": "cdf-1",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.enableChangeDataFeed": "true"
                    },
                    "createdTime": 1700000000000,
                }
            },
            {
                "add": {
                    "path": "f0.parquet",
                    "partitionValues": {},
                    "size": s0,
                    "modificationTime": 1700000001000,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": 2}),
                }
            },
            {"commitInfo": {"timestamp": 1700000001000,
                            "operation": "WRITE"}},
        ],
    )
    # v1: an UPDATE with cdc — the rewritten data file f1 is added and
    # f0 removed, but the change rows live in the cdc parquet
    s1 = _data("f1.parquet", [1, 2], [1.0, 20.0])
    pcdc = os.path.join(table, "_change_data", "cdc-0.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([2, 2], pa.int64()),
                "v": pa.array([2.0, 20.0], pa.float64()),
                "_change_type": pa.array(
                    ["update_preimage", "update_postimage"], pa.string()
                ),
            }
        ),
        pcdc,
    )
    _commit(
        1,
        [
            {
                "cdc": {
                    "path": "_change_data/cdc-0.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(pcdc),
                    "dataChange": False,
                }
            },
            {
                "add": {
                    "path": "f1.parquet",
                    "partitionValues": {},
                    "size": s1,
                    "modificationTime": 1700000002000,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": 2}),
                }
            },
            {
                "remove": {
                    "path": "f0.parquet",
                    "deletionTimestamp": 1700000002000,
                    "dataChange": True,
                }
            },
            {"commitInfo": {"timestamp": 1700000002000,
                            "operation": "UPDATE"}},
        ],
    )
    cdf = read_delta_changes(spark, table)
    rows = sorted(
        (r._commit_version, r._change_type, r.id, r.v)
        for r in cdf.collect()
    )
    assert rows == [
        (0, "insert", 1, 1.0),
        (0, "insert", 2, 2.0),
        (1, "update_postimage", 2, 20.0),
        (1, "update_preimage", 2, 2.0),
    ]


def test_vacuumed_removed_file_is_hard_error(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tv"))
    t.write(_batch(spark, 0, 4, "a"), mode="overwrite",
            partition_by=["part"])
    t.write(_batch(spark, 4, 6, "b"), mode="append")
    t.delete_where(spark, "part = 'b'")
    t.vacuum(keep_versions=1)  # part=b's file physically gone
    with pytest.raises(CorruptDeltaLog, match="vacuumed"):
        read_delta_changes(spark, t.path)
    # v1's ADD references the vacuumed file too — same hard error
    with pytest.raises(CorruptDeltaLog, match="vacuumed"):
        read_delta_changes(spark, t.path, ending_version=1)
    # the surviving prefix still reads
    got = read_delta_changes(spark, t.path, ending_version=0)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3]

def test_internal_writer_cdc_update_and_delete(spark, tmp_path):
    """cdc=True on the internal writer's UPDATE/DELETE stages
    _change_data parquet + cdc actions — so CDF now covers rewrite
    commits (which are refused without cdc), with exact pre/postimage
    pairs, and partitioned layouts keep per-file partitionValues."""
    t = TxnTable(str(tmp_path / "tw"))
    t.write(
        _batch(spark, 0, 4, "a").union(_batch(spark, 4, 6, "b")),
        mode="overwrite",
        partition_by=["part"],
    )                                                          # v0
    t.update_where(spark, "id = 1", {"v": "99.0"}, cdc=True)   # v1
    t.delete_where(spark, "id IN (4, 0)", cdc=True)            # v2 (CoW)

    cdf = read_delta_changes(spark, t.path, starting_version=1)
    rows = sorted(
        (r._commit_version, r._change_type, r.id, r.part, r.v)
        for r in cdf.collect()
    )
    assert rows == [
        (1, "update_postimage", 1, "a", 99.0),
        (1, "update_preimage", 1, "a", 2.0),
        (2, "delete", 0, "a", 0.0),
        (2, "delete", 4, "b", 8.0),
    ]

    # the full feed (v0 inserts + the cdc commits) is consistent
    full = read_delta_changes(spark, t.path)
    assert len(full.collect()) == 6 + 4

    # vacuum keeps cdc files of RETAINED commits (v2) and drops older
    # ones (v1's update pre/postimages fall out of retention)
    deleted = t.vacuum(keep_versions=1)
    assert any(p.startswith("_change_data") for p in deleted)
    got = read_delta_changes(spark, t.path, starting_version=2)
    assert sorted((r.id, r._change_type) for r in got.collect()) == [
        (0, "delete"), (4, "delete"),
    ]
    with pytest.raises(CorruptDeltaLog, match="vacuumed"):
        read_delta_changes(spark, t.path, starting_version=1)


def test_cdc_with_dv_delete_refused(spark, tmp_path):
    t = TxnTable(str(tmp_path / "twd"))
    t.write(_batch(spark, 0, 4), mode="overwrite")
    with pytest.raises(ValueError, match="cdc=True with dv=True"):
        t.delete_where(spark, "id = 1", dv=True, cdc=True)


def test_merge_into_cdc_all_clauses(spark, tmp_path):
    """MERGE with cdc=True: per-clause change rows — matched delete,
    update pre/postimage pairs, NMBS delete, insert — all land in one
    commit's _change_data and read back through the CDF reader."""
    t = TxnTable(str(tmp_path / "tm"))
    t.write(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "id long, v double"
        ),
        mode="overwrite",
    )                                                          # v0
    src = spark.createDataFrame(
        [(2, 200.0), (3, -1.0), (5, 50.0)], "id long, v double"
    )
    t.merge_into(
        spark,
        src,
        keys=["id"],
        matched_update={"v": "s.v"},
        matched_delete_condition="s.v < 0",   # id 3 deleted
        insert=True,                           # id 5 inserted
        not_matched_by_source_delete="t.id = 4",  # id 4 deleted
        cdc=True,
    )                                                          # v1
    cdf = read_delta_changes(spark, t.path, starting_version=1)
    rows = sorted(
        (r._change_type, r.id, r.v) for r in cdf.collect()
    )
    assert rows == [
        ("delete", 3, 30.0),
        ("delete", 4, 40.0),
        ("insert", 5, 50.0),
        ("update_postimage", 2, 200.0),
        ("update_preimage", 2, 20.0),
    ]
    # the table state agrees with replaying the feed
    assert sorted((r.id, r.v) for r in t.read(spark).collect()) == [
        (1, 10.0), (2, 200.0), (5, 50.0),
    ]


def test_cdc_relay_exactly_once(spark, tmp_path):
    """Capstone relay: CDC batches applied through the exactly-once
    streaming MERGE sink with cdc=True re-emit their row-level changes
    — a replayed micro-batch is a no-op commit, so the downstream
    change feed carries each change exactly once."""
    t = TxnTable(str(tmp_path / "relay"))
    t.write(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "id long, v double"
        ),
        mode="overwrite",
    )                                                     # v0
    sink = t.streaming_merge("relay-app", ["id"], cdc=True)

    b0 = spark.createDataFrame([(1, 11.0), (3, 30.0)], "id long, v double")
    sink(b0, 0)                                           # v1: upd 1, ins 3
    sink(b0, 0)                                           # replay -> no-op
    b1 = spark.createDataFrame([(2, 22.0)], "id long, v double")
    sink(b1, 1)                                           # v2: upd 2

    cdf = read_delta_changes(spark, t.path, starting_version=1)
    rows = sorted(
        (r._commit_version, r._change_type, r.id, r.v)
        for r in cdf.collect()
    )
    assert rows == [
        (1, "insert", 3, 30.0),
        (1, "update_postimage", 1, 11.0),
        (1, "update_preimage", 1, 10.0),
        (2, "update_postimage", 2, 22.0),
        (2, "update_preimage", 2, 20.0),
    ]
    assert sorted((r.id, r.v) for r in t.read(spark).collect()) == [
        (1, 11.0), (2, 22.0), (3, 30.0),
    ]


def test_protocol_cdf_agrees_with_internal_read_changes(spark, tmp_path):
    """Two independent CDF derivations — the internal exceptAll-diff
    (txnlog.read_changes, round 4) and the protocol-level reader
    (read_delta_changes) — must agree on insert/delete commits.  The
    internal diff nets an update to delete+insert while the protocol
    path only reads exact cdc rows, so the comparison uses cdc-free
    insert/delete history."""
    t = TxnTable(str(tmp_path / "x"))
    t.write(_batch(spark, 0, 4, "a"), mode="overwrite",
            partition_by=["part"])                       # v0
    t.write(_batch(spark, 4, 6, "b"), mode="append")     # v1
    t.delete_where(spark, "part = 'b'")                  # v2

    cols = ["id", "part", "v", "_change_type", "_commit_version"]
    a = sorted(
        tuple(r[c] for c in cols)
        for r in t.read_changes(spark).select(*cols).collect()
    )
    b = sorted(
        tuple(r[c] for c in cols)
        for r in read_delta_changes(spark, t.path).select(*cols).collect()
    )
    assert a == b and len(a) == 8  # 6 inserts + 2 deletes


def test_optimize_commit_is_cdf_and_stream_transparent(spark, tmp_path):
    """OPTIMIZE marks its rewrite dataChange=false (round-7 fix): the
    CDF no longer refuses the compaction commit and reports no changes
    for it, and the plain stream neither refuses nor re-ships the
    compacted rows."""
    from data_lakehouse_project_spark.sources.python_datasource import (
        register_python_datasources,
    )

    t = TxnTable(str(tmp_path / "to"))
    for i in range(4):  # four small files
        t.write(_batch(spark, i * 2, i * 2 + 2), mode="append")
    v_opt = t.optimize(spark, target_size_bytes=1 << 30)
    assert v_opt == 4  # compaction committed

    cdf = read_delta_changes(spark, t.path)
    assert {r._commit_version for r in cdf.collect()} == {0, 1, 2, 3}
    assert all(r._change_type == "insert" for r in cdf.collect())
    assert len(cdf.collect()) == 8

    register_python_datasources(spark)
    got: list[int] = []
    q = (
        spark.readStream.format("delta_stream")
        .option("path", t.path)
        .load()
        .writeStream.foreachBatch(
            lambda b, _id: got.extend(r["id"] for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == list(range(8))  # once each, no re-ship
