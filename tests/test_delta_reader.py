"""External-Delta-log reader tests over HAND-BUILT fixtures.

Every fixture here is constructed directly from the published Delta
transaction-protocol spec (JSON commits, parquet checkpoint,
``_last_checkpoint``), NOT via ``operators/txnlog.py``'s writer — so a
pass proves the reader consumes logs it did not produce.  A separate
interop test reads a txnlog-written table through the same path.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_lakehouse_project_spark.operators.delta_reader import (
    CorruptDeltaLog,
    UnsupportedDeltaFeature,
    delta_history,
    read_delta_snapshot,
    read_delta_table,
)

SCHEMA_V0 = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "p", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)
# v2 evolves the schema: adds a double column w
SCHEMA_V2 = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "w", "type": "double", "nullable": True, "metadata": {}},
            {"name": "p", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_data(table, name, ids, vs, ws=None):
    """Physical data file WITHOUT the partition column (Delta stores
    partition values only in the log) in a FLAT dir — deliberately not
    hive-style, so partition reconstruction can't lean on the layout."""
    cols = {"id": pa.array(ids, pa.int64()), "v": pa.array(vs, pa.string())}
    if ws is not None:
        cols["w"] = pa.array(ws, pa.float64())
    path = os.path.join(table, name)
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _meta(schema_json, part_cols=("p",), conf=None):
    return {
        "id": "fixture-table-0001",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_json,
        "partitionColumns": list(part_cols),
        "configuration": conf or {},
        "createdTime": 1700000000000,
    }


def _add(path, part, size, n, ts, min_id=None, max_id=None):
    stats = {"numRecords": n}
    if min_id is not None:
        stats["minValues"] = {"id": min_id}
        stats["maxValues"] = {"id": max_id}
        stats["nullCount"] = {"id": 0}
    return {
        "path": path,
        "partitionValues": {"p": part},
        "size": size,
        "modificationTime": ts,
        "dataChange": True,
        "stats": json.dumps(stats),
    }


def _commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _info(ts, op="WRITE"):
    return {"commitInfo": {"timestamp": ts, "operation": op}}


@pytest.fixture()
def foreign_table(tmp_path):
    """A 5-commit foreign table: checkpoint at v2, log-cleaned v0/v1,
    a percent-encoded path, a remove, and a schema evolution."""
    table = str(tmp_path / "ext_delta")
    os.makedirs(table)
    t0 = 1700000001000

    s_a = _write_data(table, "part-a.parquet", [1, 2], ["a1", "a2"])
    s_b = _write_data(table, "part b.parquet", [3], ["b3"])  # space in name
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": _meta(SCHEMA_V0)},
            {"add": _add("part-a.parquet", "x", s_a, 2, t0, 1, 2)},
            {"add": _add("part%20b.parquet", "y", s_b, 1, t0, 3, 3)},
            _info(t0),
        ],
    )
    s_c = _write_data(table, "part-c.parquet", [4, 5], ["c4", "c5"])
    _commit(
        table,
        1,
        [
            {"add": _add("part-c.parquet", "x", s_c, 2, t0 + 1000, 4, 5)},
            {
                "remove": {
                    "path": "part-a.parquet",
                    "deletionTimestamp": t0 + 1000,
                    "dataChange": True,
                }
            },
            _info(t0 + 1000, "DELETE"),
        ],
    )
    s_d = _write_data(
        table, "part-d.parquet", [6], ["d6"], ws=[6.5]
    )
    _commit(
        table,
        2,
        [
            {"metaData": _meta(SCHEMA_V2)},
            {"add": _add("part-d.parquet", "y", s_d, 1, t0 + 2000, 6, 6)},
            _info(t0 + 2000, "ADD COLUMNS"),
        ],
    )

    # ---- hand-built classic checkpoint at v2 (the state after v0..v2)
    str_map = pa.map_(pa.string(), pa.string())
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    cp_schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [
                                    ("provider", pa.string()),
                                    ("options", str_map),
                                ]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            ("add", add_t),
            (
                "remove",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("deletionTimestamp", pa.int64()),
                        ("dataChange", pa.bool_()),
                    ]
                ),
            ),
        ]
    )

    def _cp_add(d):
        d = dict(d)
        d["partitionValues"] = list(d["partitionValues"].items())
        return d

    meta2 = _meta(SCHEMA_V2)
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                **meta2,
                "format": {"provider": "parquet", "options": []},
                "configuration": [],
            }
        },
        {"add": _cp_add(_add("part%20b.parquet", "y", s_b, 1, t0, 3, 3))},
        {"add": _cp_add(_add("part-c.parquet", "x", s_c, 2, t0 + 1000, 4, 5))},
        {"add": _cp_add(_add("part-d.parquet", "y", s_d, 1, t0 + 2000, 6, 6))},
        # expired tombstone — checkpoint bookkeeping a reader must IGNORE
        {
            "remove": {
                "path": "part-a.parquet",
                "deletionTimestamp": t0 + 1000,
                "dataChange": True,
            }
        },
    ]
    log = os.path.join(table, "_delta_log")
    pq.write_table(
        pa.Table.from_pylist(rows, schema=cp_schema),
        os.path.join(log, f"{2:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 2, "size": len(rows)}, fh)
    # log cleanup: pre-checkpoint commits vanish (retention expiry)
    os.remove(os.path.join(log, f"{0:020d}.json"))
    os.remove(os.path.join(log, f"{1:020d}.json"))

    # ---- post-checkpoint commits
    s_e = _write_data(table, "part-e.parquet", [7, 8], ["e7", "e8"], ws=[7.5, 8.5])
    _commit(
        table,
        3,
        [
            {"add": _add("part-e.parquet", "x", s_e, 2, t0 + 3000, 7, 8)},
            {
                "remove": {
                    "path": "part%20b.parquet",
                    "deletionTimestamp": t0 + 3000,
                    "dataChange": True,
                }
            },
            {"txn": {"appId": "app-1", "version": 41}},
            _info(t0 + 3000, "MERGE"),
        ],
    )
    s_f = _write_data(table, "part-f.parquet", [9], ["f9"], ws=[9.5])
    _commit(
        table,
        4,
        [
            {"add": _add("part-f.parquet", "x", s_f, 1, t0 + 4000, 9, 9)},
            {"txn": {"appId": "app-1", "version": 42}},
            _info(t0 + 4000),
        ],
    )
    return table


def test_latest_snapshot_state(foreign_table):
    snap = read_delta_snapshot(foreign_table)
    assert snap.version == 4
    assert sorted(f["path"] for f in snap.files) == [
        "part-c.parquet",
        "part-d.parquet",
        "part-e.parquet",
        "part-f.parquet",
    ]
    assert snap.partition_columns == ["p"]
    assert snap.num_rows == 6
    assert snap.txns == {"app-1": 42}
    assert snap.protocol["minReaderVersion"] == 1


def test_read_latest_rows(spark, foreign_table):
    df = read_delta_table(spark, foreign_table)
    assert df.columns == ["id", "v", "w", "p"]  # schemaString order
    rows = {
        (r.id, r.v, r.w, r.p) for r in df.collect()
    }
    assert rows == {
        (4, "c4", None, "x"),  # pre-evolution file: w surfaces null
        (5, "c5", None, "x"),
        (6, "d6", 6.5, "y"),
        (7, "e7", 7.5, "x"),
        (8, "e8", 8.5, "x"),
        (9, "f9", 9.5, "x"),
    }


def test_time_travel_version(spark, foreign_table):
    # v3 = checkpoint bootstrap + one commit; 'part b' removed at v3
    df3 = read_delta_table(spark, foreign_table, version=3)
    assert {r.id for r in df3.collect()} == {4, 5, 6, 7, 8}
    # v2 = exactly the checkpoint state (its own JSON was log-cleaned)
    df2 = read_delta_table(spark, foreign_table, version=2)
    assert {r.id for r in df2.collect()} == {3, 4, 5, 6}
    # the percent-encoded path decoded to the real file name
    snap2 = read_delta_snapshot(foreign_table, version=2)
    assert "part b.parquet" in {f["path"] for f in snap2.files}


def test_time_travel_timestamp(spark, foreign_table):
    t0 = 1700000001000
    snap = read_delta_snapshot(foreign_table, timestamp_ms=t0 + 3500)
    assert snap.version == 3
    with pytest.raises(ValueError, match="no commit at or before"):
        read_delta_snapshot(foreign_table, timestamp_ms=12)


def test_prune_skips_files(spark, foreign_table):
    df = read_delta_table(spark, foreign_table, prune=[("id", ">=", 9)])
    files = df.inputFiles()
    assert len(files) == 1 and files[0].endswith("part-f.parquet")
    assert [r.id for r in df.collect()] == [9]
    # partition-value pruning (p never appears in the data files)
    dfy = read_delta_table(spark, foreign_table, prune=[("p", "=", "y")])
    assert len(dfy.inputFiles()) == 1
    assert {r.id for r in dfy.collect()} == {6}


def test_history_survivors(foreign_table):
    hist = delta_history(foreign_table)
    assert [h["version"] for h in hist] == [2, 3, 4]
    assert hist[1]["operation"] == "MERGE"


def test_commit_gap_rejected(foreign_table):
    os.remove(
        os.path.join(foreign_table, "_delta_log", f"{3:020d}.json")
    )
    with pytest.raises(CorruptDeltaLog, match="commit gap"):
        read_delta_snapshot(foreign_table)


def test_corrupt_last_checkpoint_falls_back(spark, foreign_table):
    lc = os.path.join(foreign_table, "_delta_log", "_last_checkpoint")
    with open(lc, "w") as fh:
        fh.write("{not json")
    df = read_delta_table(spark, foreign_table)
    assert df.count() == 6


# ------------------------------------------------------------- negatives


def _tiny_table(tmp_path, protocol, conf=None, add_extra=None):
    table = str(tmp_path / "bad_delta")
    os.makedirs(table, exist_ok=True)
    s = _write_data(table, "f0.parquet", [1], ["x1"])
    add = _add("f0.parquet", "x", s, 1, 1700000001000)
    if add_extra:
        add.update(add_extra)
    _commit(
        table,
        0,
        [
            {"protocol": protocol},
            {"metaData": _meta(SCHEMA_V0, conf=conf)},
            {"add": add},
            _info(1700000001000),
        ],
    )
    return table


def test_reject_unsupported_reader_feature(tmp_path):
    """catalogManaged (commit coordination lives in a catalog, not the
    filesystem log) is genuinely unimplemented — the protocol demands
    refusal: a filesystem-only reader could miss newer commits."""
    table = _tiny_table(
        tmp_path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["catalogManaged"],
            "writerFeatures": ["catalogManaged"],
        },
    )
    with pytest.raises(UnsupportedDeltaFeature, match="catalogManaged"):
        read_delta_snapshot(table)


def test_accept_supported_reader_features(tmp_path):
    table = _tiny_table(
        tmp_path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz", "vacuumProtocolCheck"],
            "writerFeatures": ["timestampNtz"],
        },
    )
    assert read_delta_snapshot(table).num_rows == 1


def test_reject_unknown_column_mapping_mode(tmp_path):
    """Both published modes (name, id) are supported; anything else
    is refused rather than guessed."""
    table = _tiny_table(
        tmp_path,
        {"minReaderVersion": 2, "minWriterVersion": 5},
        conf={"delta.columnMapping.mode": "positional"},
    )
    with pytest.raises(UnsupportedDeltaFeature, match="column mapping"):
        read_delta_snapshot(table)


# --------------------------------------------------- column mapping: name

# Evolved-table scenario a real delta-spark writer produces: the table
# was created with (id, v, junk), column v RENAMED to vv (physical
# parquet name frozen at col-v0002), junk DROPPED (its bytes still sit
# in the files but the field left the schema), plus a partition column
# whose partitionValues key is its PHYSICAL name per spec.
SCHEMA_MAPPED = json.dumps(
    {
        "type": "struct",
        "fields": [
            {
                "name": "id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-id0001",
                },
            },
            {
                "name": "vv",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-v0002",
                },
            },
            {
                "name": "p",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 4,
                    "delta.columnMapping.physicalName": "col-p0004",
                },
            },
        ],
    }
)


def _mapped_table(tmp_path):
    table = str(tmp_path / "mapped_delta")
    os.makedirs(table)
    fpath = os.path.join(table, "f0.parquet")
    pq.write_table(
        pa.table(
            {
                "col-id0001": pa.array([1, 2, 3], pa.int64()),
                "col-v0002": pa.array(["a", "b", "c"], pa.string()),
                # dropped column: physically present, not in schema
                "col-junk03": pa.array([9.0, 9.0, 9.0], pa.float64()),
            }
        ),
        fpath,
    )
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "mapped-0001",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": SCHEMA_MAPPED,
                    "partitionColumns": ["p"],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "4",
                    },
                    "createdTime": 1700000000000,
                }
            },
            {
                "add": {
                    "path": "f0.parquet",
                    "partitionValues": {"col-p0004": "west"},
                    "size": os.path.getsize(fpath),
                    "modificationTime": 1700000001000,
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": 3,
                            "minValues": {"col-id0001": 1},
                            "maxValues": {"col-id0001": 3},
                        }
                    ),
                }
            },
            _info(1700000001000),
        ],
    )
    return table


def test_column_mapping_name_mode_reads(spark, tmp_path):
    table = _mapped_table(tmp_path)
    df = read_delta_table(spark, table)
    assert df.columns == ["id", "vv", "p"]  # logical names, junk gone
    rows = sorted((r.id, r.vv, r.p) for r in df.collect())
    assert rows == [(1, "a", "west"), (2, "b", "west"), (3, "c", "west")]


def test_column_mapping_prune_uses_physical_stats(spark, tmp_path):
    """File-skipping predicates arrive with LOGICAL names but stats are
    keyed physically — id > 5 must skip the only file (max col-id0001
    is 3), and re-application keeps the empty result correct."""
    table = _mapped_table(tmp_path)
    df = read_delta_table(spark, table, prune=[("id", ">", 5)])
    assert df.count() == 0
    df2 = read_delta_table(spark, table, prune=[("id", "<=", 2)])
    assert sorted(r.id for r in df2.collect()) == [1, 2]


NESTED_MAPPED_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {
                "name": "s",
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "name": "inner",
                            "type": "long",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 2,
                                "delta.columnMapping.physicalName":
                                    "col-x",
                            },
                        },
                        {
                            "name": "note",
                            "type": "string",
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.id": 3,
                                "delta.columnMapping.physicalName":
                                    "note",
                            },
                        },
                    ],
                },
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-s",
                },
            },
            {
                "name": "tags",
                "type": {
                    "type": "array",
                    "elementType": {
                        "type": "struct",
                        "fields": [
                            {
                                "name": "k",
                                "type": "string",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.id": 5,
                                    "delta.columnMapping.physicalName":
                                        "col-k",
                                },
                            }
                        ],
                    },
                    "containsNull": True,
                },
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 4,
                    "delta.columnMapping.physicalName": "col-tags",
                },
            },
        ],
    }
)


def _nested_mapped_table(tmp_path, mode, with_field_ids=False):
    """Evolved table whose STRUCT MEMBER was renamed: logical
    s.inner / tags[].k live physically at col-s.col-x / col-tags[].col-k."""
    table = str(tmp_path / f"nested_{mode}")
    os.makedirs(table)
    fpath = os.path.join(table, "f0.parquet")

    def _f(name, typ, fid):
        md = (
            {b"PARQUET:field_id": str(fid).encode()}
            if with_field_ids
            else None
        )
        return pa.field(name, typ, metadata=md)

    struct_t = pa.struct(
        [_f("col-x", pa.int64(), 2), _f("note", pa.string(), 3)]
    )
    tags_t = pa.list_(pa.field(
        "element", pa.struct([_f("col-k", pa.string(), 5)])
    ))
    arrow_schema = pa.schema(
        [_f("col-s", struct_t, 1), _f("col-tags", tags_t, 4)]
    )
    pq.write_table(
        pa.table(
            {
                "col-s": pa.array(
                    [{"col-x": 1, "note": "a"}, {"col-x": 2, "note": "b"}],
                    struct_t,
                ),
                "col-tags": pa.array(
                    [[{"col-k": "t1"}], [{"col-k": "t2"}]], tags_t
                ),
            },
            schema=arrow_schema,
        ),
        fpath,
    )
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "nested-0001",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": NESTED_MAPPED_SCHEMA,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": mode,
                        "delta.columnMapping.maxColumnId": "5",
                    },
                    "createdTime": 1700000000000,
                }
            },
            {
                "add": {
                    "path": "f0.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(fpath),
                    "modificationTime": 1700000001000,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": 2}),
                }
            },
            _info(1700000001000),
        ],
    )
    return table


def test_column_mapping_nested_name_mode_reads(spark, tmp_path):
    """Renamed struct members (and array-of-struct members) read back
    under their LOGICAL names with values intact."""
    table = _nested_mapped_table(tmp_path, "name")
    df = read_delta_table(spark, table)
    assert df.columns == ["s", "tags"]
    assert df.schema["s"].dataType.names == ["inner", "note"]
    assert (
        df.schema["tags"].dataType.elementType.names == ["k"]
    )
    rows = sorted(
        (r.s.inner, r.s.note, r.tags[0].k) for r in df.collect()
    )
    assert rows == [(1, "a", "t1"), (2, "b", "t2")]


def test_column_mapping_nested_id_mode_reads(spark, tmp_path):
    """id-mode nested resolution: parquet field ids at every nesting
    level, logical names never consulted."""
    table = _nested_mapped_table(tmp_path, "id", with_field_ids=True)
    df = read_delta_table(spark, table)
    assert df.columns == ["s", "tags"]
    assert df.schema["s"].dataType.names == ["inner", "note"]
    rows = sorted(
        (r.s.inner, r.s.note, r.tags[0].k) for r in df.collect()
    )
    assert rows == [(1, "a", "t1"), (2, "b", "t2")]


def test_nested_mapping_refused_by_streaming_source(spark, tmp_path):
    """The streaming executor resolves top-level names/ids only; a
    nested-mapped table must be refused there, never mis-read."""
    table = _nested_mapped_table(tmp_path, "name")
    from data_lakehouse_project_spark.sources.python_datasource import (
        register_python_datasources,
    )

    register_python_datasources(spark)
    with pytest.raises(Exception, match="NESTED"):
        (
            spark.readStream.format("delta_stream")
            .option("path", table)
            .load()
            .writeStream.format("noop")
            .option(
                "checkpointLocation", str(tmp_path / "ck_nested")
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


def test_deletion_vector_add_applied(spark, tmp_path):
    """An add carrying a spec inline DV is not refused — it is APPLIED:
    the deleted row index disappears from the scan, and the snapshot's
    logical row count subtracts the DV cardinality."""
    from data_lakehouse_project_spark.operators.dv import (
        rbm_array_serialize,
    )

    blob = rbm_array_serialize([0], pad4=True)
    table = _tiny_table(
        tmp_path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        },
        add_extra={
            "deletionVector": {
                "storageType": "i",
                "pathOrInlineDv": _z85(blob),
                "sizeInBytes": 36,
                "cardinality": 1,
            }
        },
    )
    snap = read_delta_snapshot(table)
    assert snap.num_rows == 0  # 1 physical row - 1 DV-deleted
    assert read_delta_table(spark, table).count() == 0


def _z85(blob: bytes) -> str:
    from data_lakehouse_project_spark.operators.dv import z85_encode

    return z85_encode(blob)


# ------------------------------------------------------------- interop


def test_reads_txnlog_written_table(spark, tmp_path):
    """A table written by the engine's own Delta writer is also
    consumable through the foreign-log path — deletion vectors
    included, since the engine writes spec DVs."""
    from data_lakehouse_project_spark.operators.txnlog import TxnTable

    path = str(tmp_path / "own_table")
    t = TxnTable(path)
    df = spark.range(0, 100).selectExpr(
        "id", "cast(id % 4 as string) AS grp", "id * 1.5 AS val"
    )
    t.write(df, mode="overwrite", partition_by=["grp"])
    t.write(
        spark.range(100, 120).selectExpr(
            "id", "cast(id % 4 as string) AS grp", "id * 1.5 AS val"
        ),
        mode="append",
    )

    ext = read_delta_table(spark, path)
    own = t.read(spark)
    assert ext.columns == own.columns
    assert sorted(ext.collect()) == sorted(own.collect())

    # delete via DV -> protocol upgrades to readerVersion 3 and the
    # foreign-path reader applies the spec DVs exactly like TxnTable
    t.delete_where(spark, "id < 10", dv=True)
    assert read_delta_snapshot(path).protocol["minReaderVersion"] == 3
    ext = read_delta_table(spark, path)
    assert sorted(ext.collect()) == sorted(t.read(spark).collect())
    assert ext.count() == 110


def test_txnlog_dv_tables_round_trip_through_spec_reader(spark, tmp_path):
    """Every DV shape the engine writes reads back through the spec
    reader (``read_delta_table``) with exactly ``TxnTable.read``'s rows:
    DV deletes on a plain and a hive-partitioned table, a second DV
    delete on the same file, a shallow clone of a DV table (and a DV
    delete on its inherited files), the table after
    ``optimize(purge_dv=True)``, and the foreign change feed over a DV
    commit."""
    from data_lakehouse_project_spark.operators.txnlog import TxnTable
    from data_lakehouse_project_spark.sources import read_delta_changes

    def same(t):
        want = sorted(t.read(spark).collect())
        assert sorted(read_delta_table(spark, t.path).collect()) == want
        return want

    df = spark.range(0, 60).selectExpr(
        "id", "cast(id % 3 as string) AS grp", "id * 0.5 AS v"
    )
    plain = TxnTable(str(tmp_path / "plain"))
    plain.write(df.coalesce(2), mode="overwrite")
    v_dv = plain.delete_where(spark, "id % 5 = 0", dv=True)
    assert len(same(plain)) == 48
    # second DV delete on files that already carry one
    plain.delete_where(spark, "id < 20", dv=True)
    assert len(same(plain)) == 32
    assert any(
        f["foreign_dv"]["cardinality"] > 6 for f in plain.snapshot().files
    )

    part = TxnTable(str(tmp_path / "part"))
    part.write(df, mode="overwrite", partition_by=["grp"])
    part.delete_where(spark, "id % 4 = 1", dv=True)
    assert len(same(part)) == 45

    clone = plain.clone_to(str(tmp_path / "clone"))
    assert same(clone) == same(plain)
    clone.delete_where(spark, "id > 50", dv=True)
    assert len(same(clone)) == 32 - 8

    plain.optimize(spark, target_size_bytes=1, purge_dv=True)
    assert not any(f.get("foreign_dv") for f in plain.snapshot().files)
    assert len(same(plain)) == 32

    def changes(feed):
        return sorted(
            (r.id, r._change_type, r._commit_version) for r in feed.collect()
        )

    feed = changes(
        read_delta_changes(
            spark, plain.path, starting_version=v_dv, ending_version=v_dv
        )
    )
    assert feed == changes(
        plain.read_changes(
            spark, starting_version=v_dv, ending_version=v_dv
        )
    )
    assert feed == [(i, "delete", v_dv) for i in range(0, 60, 5)]


def test_read_delta_wrapper_routes_by_writer(spark, tmp_path, foreign_table):
    """sources.read_delta sends engine-written tables (stamped with the
    lakehouse partition-spec conf key) through ``TxnTable.read`` —
    hidden-partition and bloom pruning — and everything else through
    the protocol-gated foreign reader."""
    from data_lakehouse_project_spark.operators.txnlog import TxnTable
    from data_lakehouse_project_spark.sources import read_delta

    # foreign fixture: must go through the spec reader (checkpoint
    # bootstrap + partitionValues reattachment; no hive dirs exist)
    df = read_delta(spark, foreign_table)
    assert {r.id for r in df.collect()} == {4, 5, 6, 7, 8, 9}
    assert {r.p for r in df.collect()} == {"x", "y"}

    # internal table with a DV delete: routed to TxnTable.read
    path = str(tmp_path / "own_dv")
    t = TxnTable(path)
    t.write(
        spark.range(0, 20).selectExpr("id", "id * 1.0 AS v"),
        mode="overwrite",
    )
    t.delete_where(spark, "id < 5", dv=True)
    got = read_delta(spark, path)
    assert sorted(r.id for r in got.collect()) == list(range(5, 20))


# --------------------------------------------------- v2 checkpoints

V2_UUID = "80a083e8-7026-4e79-81be-64bd76c43a11"


def _v2_schemas():
    str_map = pa.map_(pa.string(), pa.string())
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    manifest_schema = pa.schema(
        [
            (
                "checkpointMetadata",
                pa.struct([("version", pa.int64()), ("tags", str_map)]),
            ),
            (
                "sidecar",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("sizeInBytes", pa.int64()),
                        ("modificationTime", pa.int64()),
                    ]
                ),
            ),
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                        ("readerFeatures", pa.list_(pa.string())),
                        ("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        (
                            "format",
                            pa.struct(
                                [
                                    ("provider", pa.string()),
                                    ("options", str_map),
                                ]
                            ),
                        ),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", str_map),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    sidecar_schema = pa.schema([("add", add_t)])
    return manifest_schema, sidecar_schema


def _build_v2_table(tmp_path, manifest_format="parquet"):
    """v0/v1 vacuumed; v2 = v2 UUID checkpoint (manifest + 2 sidecars,
    1 file action each); v3 = plain JSON tail commit."""
    table = str(tmp_path / "v2cp_delta")
    os.makedirs(table)
    t0 = 1700000001000
    s_a = _write_data(table, "pa.parquet", [1, 2], ["a1", "a2"])
    s_b = _write_data(table, "pb.parquet", [3], ["b3"])
    manifest_schema, sidecar_schema = _v2_schemas()
    log = os.path.join(table, "_delta_log")
    sc_dir = os.path.join(log, "_sidecars")
    os.makedirs(sc_dir)

    def _cp_add(d):
        d = dict(d)
        d["partitionValues"] = list(d["partitionValues"].items())
        return d

    for i, (nm, size, part, lo, hi, n) in enumerate(
        [("pa.parquet", s_a, "x", 1, 2, 2), ("pb.parquet", s_b, "y", 3, 3, 1)]
    ):
        pq.write_table(
            pa.Table.from_pylist(
                [{"add": _cp_add(_add(nm, part, size, n, t0, lo, hi))}],
                schema=sidecar_schema,
            ),
            os.path.join(sc_dir, f"sc-{i}.parquet"),
        )

    proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": ["v2Checkpoint"],
    }
    manifest_rows = [
        {"checkpointMetadata": {"version": 2, "tags": {}}},
        {"protocol": proto},
        {"metaData": _meta(SCHEMA_V0)},
        {"sidecar": {"path": "sc-0.parquet", "sizeInBytes": 1}},
        {"sidecar": {"path": "sc-1.parquet", "sizeInBytes": 1}},
    ]
    mp = os.path.join(log, f"{2:020d}.checkpoint.{V2_UUID}.{manifest_format}")
    if manifest_format == "json":
        with open(mp, "w") as fh:
            for r in manifest_rows:
                fh.write(json.dumps(r) + "\n")
    else:
        rows = []
        for r in manifest_rows:
            r = dict(r)
            if "checkpointMetadata" in r:
                r["checkpointMetadata"] = {
                    **r["checkpointMetadata"],
                    "tags": [],
                }
            if "metaData" in r:
                r["metaData"] = {
                    **r["metaData"],
                    "format": {"provider": "parquet", "options": []},
                    "configuration": [],
                }
            rows.append(r)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=manifest_schema), mp
        )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 2, "size": len(manifest_rows)}, fh)

    # tail commit v3 after the checkpoint
    s_c = _write_data(table, "pc.parquet", [4], ["c4"])
    _commit(
        table,
        3,
        [{"add": _add("pc.parquet", "x", s_c, 1, t0 + 3000, 4, 4)},
         _info(t0 + 3000)],
    )
    return table


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_v2_checkpoint_reads(spark, tmp_path, fmt):
    table = _build_v2_table(tmp_path, manifest_format=fmt)
    snap = read_delta_snapshot(table)
    assert snap.version == 3
    assert sorted(f["path"] for f in snap.files) == [
        "pa.parquet", "pb.parquet", "pc.parquet",
    ]
    df = read_delta_table(spark, table)
    rows = sorted((r.id, r.p) for r in df.collect())
    assert rows == [(1, "x"), (2, "x"), (3, "y"), (4, "x")]


def test_v2_checkpoint_missing_sidecar_hard_error(spark, tmp_path):
    table = _build_v2_table(tmp_path)
    os.remove(
        os.path.join(table, "_delta_log", "_sidecars", "sc-1.parquet")
    )
    # with no fallback checkpoint AND no v0..v2 json, replay must fail
    # loudly, never silently drop sidecar state
    with pytest.raises((CorruptDeltaLog, Exception)):
        snap = read_delta_snapshot(table)
        assert sorted(f["path"] for f in snap.files) == [
            "pa.parquet", "pb.parquet", "pc.parquet",
        ]


def test_v2_checkpoint_version_mismatch_refused(spark, tmp_path):
    table = _build_v2_table(tmp_path, manifest_format="json")
    mp = os.path.join(
        table, "_delta_log", f"{2:020d}.checkpoint.{V2_UUID}.json"
    )
    lines = open(mp).read().splitlines()
    fixed = []
    for ln in lines:
        a = json.loads(ln)
        if "checkpointMetadata" in a:
            a["checkpointMetadata"]["version"] = 7  # lies about itself
        fixed.append(json.dumps(a))
    with open(mp, "w") as fh:
        fh.write("\n".join(fixed))
    # the lying manifest is rejected as a bootstrap candidate (its
    # CorruptDeltaLog falls through to other candidates — none exist,
    # and the vacuumed JSON replay then fails loudly); the direct call
    # pins the specific integrity error
    from data_lakehouse_project_spark.operators.delta_reader import (
        _read_v2_checkpoint_state,
    )

    with pytest.raises(CorruptDeltaLog, match="declares version"):
        _read_v2_checkpoint_state(mp, table)
    with pytest.raises(
        CorruptDeltaLog, match="no metaData|commit gap"
    ):
        read_delta_snapshot(table)


def test_v2_checkpoint_with_dv_add(spark, tmp_path):
    """A v2 checkpoint whose sidecar add carries a spec deletionVector:
    the checkpoint intake keeps the descriptor and the scan applies it
    — the two round-7 features compose."""
    from data_lakehouse_project_spark.operators.dv import (
        rbm_array_serialize,
        z85_encode,
    )

    table = str(tmp_path / "v2dv")
    os.makedirs(table)
    s_a = _write_data(table, "da.parquet", [1, 2, 3], ["a", "b", "c"])
    blob = rbm_array_serialize([0, 2], pad4=True)
    log = os.path.join(table, "_delta_log")
    sc_dir = os.path.join(log, "_sidecars")
    os.makedirs(sc_dir)
    str_map = pa.map_(pa.string(), pa.string())
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            (
                "deletionVector",
                pa.struct(
                    [
                        ("storageType", pa.string()),
                        ("pathOrInlineDv", pa.string()),
                        ("sizeInBytes", pa.int32()),
                        ("cardinality", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(
            [
                {
                    "add": {
                        "path": "da.parquet",
                        "partitionValues": [],
                        "size": s_a,
                        "modificationTime": 1700000001000,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": 3}),
                        "deletionVector": {
                            "storageType": "i",
                            "pathOrInlineDv": z85_encode(blob),
                            "sizeInBytes": len(blob),
                            "cardinality": 2,
                        },
                    }
                }
            ],
            schema=pa.schema([("add", add_t)]),
        ),
        os.path.join(sc_dir, "sc-dv.parquet"),
    )
    proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint", "deletionVectors"],
        "writerFeatures": ["v2Checkpoint", "deletionVectors"],
    }
    mp = os.path.join(log, f"{0:020d}.checkpoint.{V2_UUID}.json")
    with open(mp, "w") as fh:
        for a in [
            {"checkpointMetadata": {"version": 0, "tags": {}}},
            {"protocol": proto},
            {"metaData": _meta(SCHEMA_V0, part_cols=())},
            {"sidecar": {"path": "sc-dv.parquet", "sizeInBytes": 1}},
        ]:
            fh.write(json.dumps(a) + "\n")
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 0, "size": 4}, fh)

    snap = read_delta_snapshot(table)
    assert snap.num_rows == 1  # 3 physical - 2 DV-deleted
    df = read_delta_table(spark, table)
    assert [(r.id, r.v) for r in df.collect()] == [(2, "b")]


def test_variant_column_reads(spark, tmp_path):
    """variantType: a foreign table whose column is the Spark-4
    variant parquet encoding reads back through the explicit-schema
    scan; shredding stays refused (separate feature)."""
    table = str(tmp_path / "var_delta")
    os.makedirs(table)
    spark.sql(
        "select id, parse_json(concat('{\"k\":', id, '}')) as v "
        "from range(3)"
    ).coalesce(1).write.parquet(str(tmp_path / "stage"))
    import glob as _glob
    import shutil

    part = _glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(table, "f0.parquet"))
    var_schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "v", "type": "variant", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    _commit(
        table,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["variantType"],
                    "writerFeatures": ["variantType"],
                }
            },
            {"metaData": _meta(var_schema, part_cols=())},
            {
                "add": {
                    "path": "f0.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(
                        os.path.join(table, "f0.parquet")
                    ),
                    "modificationTime": 1700000001000,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": 3}),
                }
            },
            _info(1700000001000),
        ],
    )
    df = read_delta_table(spark, table)
    rows = sorted(
        (r.id, r.j)
        for r in df.selectExpr("id", "to_json(v) AS j").collect()
    )
    assert rows == [(0, '{"k":0}'), (1, '{"k":1}'), (2, '{"k":2}')]

    # shredded variants are a DIFFERENT feature and stay refused
    table2 = _tiny_table(
        tmp_path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["variantType", "variantShredding"],
            "writerFeatures": ["variantType", "variantShredding"],
        },
    )
    with pytest.raises(UnsupportedDeltaFeature, match="variantShredding"):
        read_delta_snapshot(table2)


def test_type_widening_reads(spark, tmp_path):
    """typeWidening: a file written BEFORE the widening (int id,
    decimal(10,2) amt, date d) reads back under the widened schema
    (long, decimal(12,4), timestamp_ntz) — Spark's explicit-schema
    scan performs every spec upcast."""
    import decimal as _dec

    table = str(tmp_path / "widen_delta")
    os.makedirs(table)
    fp = os.path.join(table, "old.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int32()),
                "amt": pa.array(
                    [_dec.Decimal("1.25"), _dec.Decimal("2.50")],
                    pa.decimal128(10, 2),
                ),
                "d": pa.array([19000, 19001], pa.date32()),
            }
        ),
        fp,
    )
    widened = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "amt", "type": "decimal(12,4)", "nullable": True,
                 "metadata": {}},
                {"name": "d", "type": "timestamp_ntz", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    _commit(
        table,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["typeWidening", "timestampNtz"],
                    "writerFeatures": ["typeWidening", "timestampNtz"],
                }
            },
            {"metaData": _meta(widened, part_cols=())},
            {
                "add": {
                    "path": "old.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(fp),
                    "modificationTime": 1700000001000,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": 2}),
                }
            },
            _info(1700000001000),
        ],
    )
    df = read_delta_table(spark, table)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint", "decimal(12,4)", "timestamp_ntz",
    ]
    rows = sorted((r.id, str(r.amt), str(r.d)) for r in df.collect())
    assert rows == [
        (1, "1.2500", "2022-01-08 00:00:00"),
        (2, "2.5000", "2022-01-09 00:00:00"),
    ]


# ------------------------------------------------- column mapping: id

SCHEMA_ID_MODE = json.dumps(
    {
        "type": "struct",
        "fields": [
            {
                "name": "id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-id0001",
                },
            },
            {
                "name": "renamed_v",  # renamed after files were written
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-v0002",
                },
            },
        ],
    }
)


def _id_mode_table(tmp_path, with_field_ids=True):
    table = str(tmp_path / "idmap_delta")
    os.makedirs(table)
    fpath = os.path.join(table, "f0.parquet")
    if with_field_ids:
        sch = pa.schema(
            [
                pa.field("col-id0001", pa.int64(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field("col-v0002", pa.string(),
                         metadata={b"PARQUET:field_id": b"2"}),
            ]
        )
    else:
        sch = pa.schema(
            [("col-id0001", pa.int64()), ("col-v0002", pa.string())]
        )
    pq.write_table(
        pa.table(
            {
                "col-id0001": pa.array([1, 2, 3], pa.int64()),
                "col-v0002": pa.array(["a", "b", "c"], pa.string()),
            },
            schema=sch,
        ),
        fpath,
    )
    _commit(
        table,
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "idmap-0001",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": SCHEMA_ID_MODE,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "id",
                        "delta.columnMapping.maxColumnId": "2",
                    },
                    "createdTime": 1700000000000,
                }
            },
            {
                "add": {
                    "path": "f0.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(fpath),
                    "modificationTime": 1700000001000,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": 3}),
                }
            },
            _info(1700000001000),
        ],
    )
    return table


def test_column_mapping_id_mode_reads(spark, tmp_path):
    """id mode: parquet columns resolve by FIELD ID (probed: names are
    ignored), so the post-rename logical schema reads files whose
    physical names never changed."""
    table = _id_mode_table(tmp_path)
    df = read_delta_table(spark, table)
    assert df.columns == ["id", "renamed_v"]
    assert sorted((r.id, r.renamed_v) for r in df.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_column_mapping_id_mode_idless_file_fails_loudly(spark, tmp_path):
    """A data file WITHOUT parquet field ids cannot be resolved in id
    mode — the scan must error, never null out silently."""
    table = _id_mode_table(tmp_path, with_field_ids=False)
    with pytest.raises(Exception, match="FAILED_READ_FILE|field"):
        read_delta_table(spark, table).collect()


def test_in_commit_timestamp_preferred_for_time_travel(spark, tmp_path):
    """ICT tables carry the authoritative monotonic clock in
    commitInfo.inCommitTimestamp — time travel must use IT, not the
    (possibly skewed, here deliberately contradictory) file-level
    timestamp field."""
    table = str(tmp_path / "ict_delta")
    os.makedirs(table)
    s0 = _write_data(table, "f0.parquet", [1], ["a"])
    s1 = _write_data(table, "f1.parquet", [2], ["b"])
    base = {"minReaderVersion": 1, "minWriterVersion": 2}
    _commit(
        table, 0,
        [
            {"protocol": base},
            {"metaData": _meta(SCHEMA_V0, part_cols=())},
            {"add": _add("f0.parquet", "x", s0, 1, 1)},
            # timestamp LIES (9999...); inCommitTimestamp is truth
            {"commitInfo": {"timestamp": 9_999_999_999_999,
                            "inCommitTimestamp": 1_700_000_001_000,
                            "operation": "WRITE"}},
        ],
    )
    _commit(
        table, 1,
        [
            {"add": _add("f1.parquet", "x", s1, 1, 2)},
            {"commitInfo": {"timestamp": 1,
                            "inCommitTimestamp": 1_700_000_002_000,
                            "operation": "WRITE"}},
        ],
    )
    snap = read_delta_snapshot(table, timestamp_ms=1_700_000_001_500)
    assert snap.version == 0  # ICT ordering, not the lying timestamps
    snap2 = read_delta_snapshot(table, timestamp_ms=1_700_000_002_000)
    assert snap2.version == 1


def test_delta_file_details(spark, tmp_path):
    """Files metadata table: one row per active add with size, rows,
    partition values, and DV cardinality — no data scan."""
    from data_lakehouse_project_spark.operators.delta_reader import (
        delta_file_details,
    )

    table = _mapped_table(tmp_path)
    det = delta_file_details(spark, table)
    rows = det.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.path == "f0.parquet" and r.num_records == 3
    assert r.partition_values == {"col-p0004": "west"}
    assert r.dv_cardinality == 0


def test_delta_describe_detail(spark, tmp_path):
    from data_lakehouse_project_spark.operators.delta_reader import (
        delta_describe_detail,
    )

    table = _mapped_table(tmp_path)
    d = delta_describe_detail(table)
    assert d["format"] == "delta" and d["version"] == 0
    assert d["numFiles"] == 1 and d["numRows"] == 3
    assert d["partitionColumns"] == ["p"]
    assert d["properties"]["delta.columnMapping.mode"] == "name"
    assert d["numFilesWithDeletionVectors"] == 0


# ---------------------------------------------------------------- row
# tracking: _row_id / _row_commit_version per the spec's Row Tracking
# chapter — fresh values from add.baseRowId + position /
# add.defaultRowCommitVersion, overridden by the hidden materialized
# physical columns when non-null.


def _row_tracked_table(tmp_path, materialized=False):
    table = str(tmp_path / "ext_rt")
    os.makedirs(table)
    t0 = 1700000001000
    cols1 = {"id": pa.array([0, 1, 2], pa.int64()),
             "v": pa.array(["a", "b", "c"], pa.string())}
    cols2 = {"id": pa.array([3, 4], pa.int64()),
             "v": pa.array(["d", "e"], pa.string())}
    conf = {"delta.enableRowTracking": "true"}
    if materialized:
        # file 2 was rewritten by an OPTIMIZE that materialized the
        # ids it carried before the rewrite (spec: stable row ids)
        conf["delta.rowTracking.materializedRowIdColumnName"] = (
            "_rowid_mat_col"
        )
        cols2["_rowid_mat_col"] = pa.array([100, None], pa.int64())
    pq.write_table(pa.table(cols1), os.path.join(table, "f1.parquet"))
    pq.write_table(pa.table(cols2), os.path.join(table, "f2.parquet"))
    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {}},
        ],
    })
    a1 = {"path": "f1.parquet", "partitionValues": {},
          "size": os.path.getsize(os.path.join(table, "f1.parquet")),
          "modificationTime": t0, "dataChange": True,
          "baseRowId": 0, "defaultRowCommitVersion": 0}
    a2 = {"path": "f2.parquet", "partitionValues": {},
          "size": os.path.getsize(os.path.join(table, "f2.parquet")),
          "modificationTime": t0, "dataChange": True,
          "baseRowId": 3, "defaultRowCommitVersion": 0}
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                      "writerFeatures": ["rowTracking",
                                         "domainMetadata"]}},
        {"metaData": _meta(schema, part_cols=(), conf=conf)},
        {"add": a1},
        {"add": a2},
        _info(t0),
    ])
    return table


def test_row_ids_fresh_from_base_row_id(spark, tmp_path):
    table = _row_tracked_table(tmp_path)
    got = read_delta_table(spark, table, row_ids=True)
    rows = {r.id: (r._row_id, r._row_commit_version)
            for r in got.collect()}
    assert rows == {0: (0, 0), 1: (1, 0), 2: (2, 0),
                    3: (3, 0), 4: (4, 0)}
    # default read is unchanged (no metadata columns)
    assert read_delta_table(spark, table).columns == ["id", "v"]


def test_row_ids_materialized_override(spark, tmp_path):
    table = _row_tracked_table(tmp_path, materialized=True)
    got = read_delta_table(spark, table, row_ids=True)
    rows = {r.id: r._row_id for r in got.collect()}
    # file 2: row 3 carries a materialized id (100); row 4's null
    # falls back to baseRowId + position = 3 + 1
    assert rows == {0: 0, 1: 1, 2: 2, 3: 100, 4: 4}
    # the hidden physical column never leaks into the schema
    assert "_rowid_mat_col" not in got.columns


def test_row_ids_refused_without_tracking_metadata(spark, tmp_path):
    table = str(tmp_path / "ext_plain")
    os.makedirs(table)
    s = _write_data(table, "a.parquet", [1], ["x"])
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": _meta(SCHEMA_V0)},
        {"add": _add("a.parquet", "x", s, 1, 1700000001000)},
        _info(1700000001000),
    ])
    with pytest.raises(UnsupportedDeltaFeature, match="row-tracking"):
        read_delta_table(spark, table, row_ids=True)
