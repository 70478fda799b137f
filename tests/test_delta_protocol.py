"""Delta-protocol conformance of the delta-lite commit log (round 5).

The txnlog now writes its commit files in the PUBLISHED Delta
transaction-protocol shape (delta-io PROTOCOL.md) so a stock external
engine can read DV-free tables. Neither validating reader is
installable offline — probed this round: ``duckdb.sql("INSTALL
delta")`` fails with "Failed to download extension ... (ERROR
Connection)" (duckdb 1.0.0 ships no bundled delta extension), and
neither ``deltalake`` (delta-rs) nor ``pyiceberg`` import; the
delta-spark jar needs Maven. Per the round-4 verdict's escape hatch,
conformance is pinned instead by an INDEPENDENT mini-reader below that
implements the spec's replay rules from the protocol document alone —
it shares zero code with txnlog.py and reads the reconciled files with
DuckDB, exactly the way ``delta_scan`` consumes a table:

- commit files are ``_delta_log/%020d.json``, versions contiguous
  from 0; unknown files in the log dir are ignored
- one JSON action per line; replay applies adds/removes keyed by
  (url-decoded) path, newest ``metaData``/``protocol`` win
- ``add.stats`` is a JSON *string* carrying numRecords / minValues /
  maxValues / nullCount
- partition column values are NOT in the data files: readers inject
  them from ``add.partitionValues`` typed via ``metaData.schemaString``
  for every name in ``metaData.partitionColumns``
- a reader MUST refuse a table whose ``protocol.minReaderVersion``
  exceeds what it supports or that names unknown ``readerFeatures``
  (delta-lite publishes ``deletionVectors`` for DV tables precisely so
  compliant readers refuse them rather than resurrect deleted rows)
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

import duckdb
import pytest

from data_lakehouse_project_spark.operators.delta_reader import (
    read_delta_table,
)
from data_lakehouse_project_spark.operators.txnlog import TxnTable

# what a stock (pre-DV) Delta reader supports
_SUPPORTED_READER_VERSION = 2


class UnsupportedTableError(RuntimeError):
    pass


def replay_delta_log(
    table_path: str,
    version: int | None = None,
    use_checkpoint: bool = True,
):
    """Spec replay, implemented purely from PROTOCOL.md (no txnlog
    imports): returns (protocol, metaData, {path: add_action}).

    Honors ``_last_checkpoint``: bootstrap state from the parquet
    checkpoint's action rows, then apply only the JSON commits after
    it — exactly how a real reader skips a compacted log."""
    log = os.path.join(table_path, "_delta_log")
    commit_re = re.compile(r"^(\d{20})\.json$")
    versions = sorted(
        int(m.group(1))
        for m in (commit_re.match(n) for n in os.listdir(log))
        if m
    )
    protocol, metadata, files = None, None, {}
    start = 0
    last_cp = os.path.join(log, "_last_checkpoint")
    if use_checkpoint and os.path.exists(last_cp):
        cp_version = json.load(open(last_cp))["version"]
        if version is None or cp_version <= version:
            cp_file = os.path.join(log, f"{cp_version:020d}.checkpoint.parquet")
            def _map(v):  # duckdb MAP → {'key': [...], 'value': [...]}
                if isinstance(v, dict) and set(v) == {"key", "value"}:
                    return dict(zip(v["key"], v["value"]))
                return dict(v or {})

            for row in duckdb.sql(
                f"SELECT * FROM read_parquet('{cp_file}')"
            ).df().to_dict("records"):
                if isinstance(row.get("protocol"), dict):
                    protocol = row["protocol"]
                elif isinstance(row.get("metaData"), dict):
                    m = dict(row["metaData"])
                    m["configuration"] = _map(m.get("configuration"))
                    m["partitionColumns"] = list(
                        m.get("partitionColumns") or []
                    )
                    metadata = m
                elif isinstance(row.get("add"), dict):
                    a = dict(row["add"])
                    a["partitionValues"] = _map(a.get("partitionValues"))
                    files[unquote(a["path"])] = a
            start = cp_version + 1
            # commits after the checkpoint must be gap-free
            later = [v for v in versions if v > cp_version]
            assert later == list(
                range(cp_version + 1, cp_version + 1 + len(later))
            )
    else:
        assert versions == list(range(len(versions))), "not contiguous"
    for v in versions:
        if v < start:
            continue
        if version is not None and v > version:
            break
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            for line in fh:
                action = json.loads(line)
                if "protocol" in action:
                    protocol = action["protocol"]
                elif "metaData" in action:
                    metadata = action["metaData"]
                elif "add" in action:
                    a = action["add"]
                    files[unquote(a["path"])] = a
                elif "remove" in action:
                    files.pop(unquote(action["remove"]["path"]), None)
    if protocol is None or metadata is None:
        raise UnsupportedTableError("log missing protocol/metaData")
    if protocol.get("minReaderVersion", 1) > _SUPPORTED_READER_VERSION:
        raise UnsupportedTableError(
            f"minReaderVersion {protocol['minReaderVersion']} with "
            f"readerFeatures {protocol.get('readerFeatures')}"
        )
    return protocol, metadata, files


_DUCK_TYPES = {
    "integer": "INTEGER",
    "long": "BIGINT",
    "short": "SMALLINT",
    "byte": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "date": "DATE",
    "boolean": "BOOLEAN",
}


def read_with_duckdb(table_path: str, version: int | None = None):
    """Consume the replayed file list the way delta_scan does: scan the
    parquet data files, injecting partition columns from
    partitionValues typed per schemaString."""
    _, metadata, files = replay_delta_log(table_path, version)
    schema = json.loads(metadata["schemaString"])
    col_order = [f["name"] for f in schema["fields"]]
    part_cols = metadata["partitionColumns"]
    types = {
        f["name"]: _DUCK_TYPES.get(str(f["type"]), "VARCHAR")
        for f in schema["fields"]
    }
    selects = []
    for path, add in files.items():
        fp = os.path.join(table_path, path).replace("'", "''")
        proj = []
        for c in col_order:
            if c in part_cols:
                v = add.get("partitionValues", {}).get(c)
                lit = (
                    "NULL"
                    if v is None
                    else "'" + str(v).replace("'", "''") + "'"
                )
                proj.append(f'CAST({lit} AS {types[c]}) AS "{c}"')
            else:
                proj.append(f'"{c}"')
        selects.append(
            f"SELECT {', '.join(proj)} FROM read_parquet('{fp}')"
        )
    if not selects:
        return []
    sql = " UNION ALL ".join(selects)
    return duckdb.sql(sql).fetchall()


def _spark_rows(df):
    return [tuple(r) for r in df.collect()]


def test_duckdb_reads_delta_lite_after_mixed_dml(spark, tmp_path):
    """External-engine read: overwrite + append + CoW delete, then the
    independent replay + DuckDB scan must equal TxnTable.read exactly."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    df = spark.range(0, 200).select(
        "id", (F.col("id") % 7).alias("bucket"),
        F.concat(F.lit("v"), F.col("id")).alias("name"),
    )
    t.write(df, mode="overwrite")
    t.write(df.where("id >= 200"), mode="append")  # empty append commits too
    t.write(
        spark.range(200, 260).select(
            "id", (F.col("id") % 7).alias("bucket"),
            F.concat(F.lit("v"), F.col("id")).alias("name"),
        ),
        mode="append",
    )
    t.delete_where(spark, "bucket = 3")
    # full-clause MERGE (r5 session 4): its commit is plain add/remove
    # actions, so an external replay must reproduce it like any DML
    t.merge_into(
        spark,
        spark.range(0, 10).select(
            "id", F.lit(99).alias("bucket"), F.lit("merged").alias("name")
        ).unionByName(
            spark.range(500, 505).select(
                "id", F.lit(1).alias("bucket"), F.lit("new").alias("name")
            )
        ),
        ["id"],
        matched_update="all",
        insert=True,
    )

    got = sorted(read_with_duckdb(path))
    want = sorted(_spark_rows(t.read(spark)))
    assert got == want
    assert sum(1 for r in got if r[-1] == "merged") > 0
    assert sum(1 for r in got if r[-1] == "new") == 5

    # time travel: replay to v0 == TxnTable.read(version=0)
    assert sorted(read_with_duckdb(path, version=0)) == sorted(
        _spark_rows(t.read(spark, version=0))
    )


def test_duckdb_reads_partitioned_table(spark, tmp_path):
    """Physical partition columns live in partitionValues, not the data
    files — the reader injects them per the spec."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    df = spark.range(0, 120).select(
        "id", (F.col("id") % 4).cast("int").alias("pk"),
        (F.col("id") * 2.5).alias("v"),
    )
    t.write(df, mode="overwrite", partition_by=["pk"])
    _, metadata, files = replay_delta_log(path)
    assert metadata["partitionColumns"] == ["pk"]
    assert all("pk" in a["partitionValues"] for a in files.values())

    got = sorted(read_with_duckdb(path))
    want = sorted(_spark_rows(t.read(spark)))
    assert got == want and len(got) == 120


def test_duckdb_reads_hidden_transform_table(spark, tmp_path):
    """Transform-partitioned tables stay externally readable: the
    hidden dirs carry extra partitionValues keys, but partitionColumns
    lists none of them (they are not in the schema), so a spec reader
    ignores them and scans the files directly."""
    import datetime

    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    rows = [
        (i, datetime.datetime(2024, 3, 1 + i % 5, i % 24)) for i in range(100)
    ]
    t.write(
        spark.createDataFrame(rows, "id long, ts timestamp"),
        mode="overwrite",
        partition_by=["day(ts)"],
    )
    _, metadata, files = replay_delta_log(path)
    assert metadata["partitionColumns"] == []  # hidden col not in schema
    assert any("_pt_day_ts" in a["partitionValues"] for a in files.values())
    got = {r[0] for r in read_with_duckdb(path)}
    assert got == set(range(100))


def test_dv_table_is_refused_not_misread(spark, tmp_path):
    """Deletion vectors use a non-Delta layout, so the table MUST
    advertise minReaderVersion 3 + readerFeatures=[deletionVectors];
    a compliant pre-DV reader then refuses instead of silently
    including the deleted rows."""
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(spark.range(0, 100), mode="overwrite")
    assert replay_delta_log(path)[0]["minReaderVersion"] == 1
    t.delete_where(spark, "id < 10", dv=True)
    with pytest.raises(UnsupportedTableError, match="deletionVectors"):
        replay_delta_log(path)
    # the protocol stays sticky even after a DV-free commit
    t.write(spark.range(100, 110), mode="append")
    with pytest.raises(UnsupportedTableError):
        replay_delta_log(path)
    # internal reader still sees the DV-filtered rows
    assert t.read(spark).count() == 100


def test_action_shapes_match_protocol(spark, tmp_path):
    """Field-level conformance of every action kind in a commit."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    df = spark.range(0, 50).select("id", (F.col("id") % 3).alias("k"))
    t.write(df, mode="overwrite")
    t.add_constraint(spark, "k_nonneg", "k >= 0")

    log = os.path.join(path, "_delta_log")
    for name in sorted(os.listdir(log)):
        if not re.match(r"^\d{20}\.json$", name):
            continue
        for line in open(os.path.join(log, name)):
            action = json.loads(line)
            (kind,) = action.keys() & {
                "commitInfo", "protocol", "metaData", "add", "remove", "txn"
            }
            a = action[kind]
            if kind == "protocol":
                assert isinstance(a["minReaderVersion"], int)
                assert isinstance(a["minWriterVersion"], int)
            elif kind == "metaData":
                assert isinstance(a["id"], str)
                assert a["format"]["provider"] == "parquet"
                json.loads(a["schemaString"])  # valid schema JSON
                assert isinstance(a["partitionColumns"], list)
                assert all(
                    isinstance(k, str) and isinstance(v, str)
                    for k, v in a["configuration"].items()
                )
            elif kind == "add":
                assert isinstance(a["path"], str)
                assert isinstance(a["partitionValues"], dict)
                assert isinstance(a["size"], int)
                assert isinstance(a["modificationTime"], int)
                assert a["dataChange"] is True
                st = json.loads(a["stats"])  # stats is a JSON STRING
                assert {"numRecords", "minValues", "maxValues", "nullCount"} <= set(st)
            elif kind == "commitInfo":
                assert isinstance(a["timestamp"], int)

    # CHECK constraints live where Delta puts them
    _, metadata, _ = replay_delta_log(path)
    assert metadata["configuration"]["delta.constraints.k_nonneg"] == "k >= 0"


def test_log_holds_only_spec_artifacts(spark, tmp_path):
    """Every file the engine leaves in ``_delta_log`` — across the
    checkpoint interval and a deletion-vector delete — is a Delta
    protocol artifact (commits, classic checkpoint, pointer): there is
    no private replay cache beside the spec log, and a spec reader
    sees exactly the engine's rows."""
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    for i in range(12):  # crosses CHECKPOINT_INTERVAL
        t.write(
            spark.range(i * 10, i * 10 + 10),
            mode="append" if i else "overwrite",
        )
    t.delete_where(spark, "id % 7 = 0", dv=True)
    log = os.path.join(path, "_delta_log")
    delta_patterns = [
        r"^\d{20}\.json$",
        r"^\d{20}\.checkpoint\.parquet$",
        r"^_last_checkpoint$",
    ]
    names = os.listdir(log)
    assert any(n.endswith(".checkpoint.parquet") for n in names)
    for n in names:
        assert any(re.match(p, n) for p in delta_patterns), n
    want = sorted(r.id for r in t.read(spark).collect())
    assert len(want) == 120 - 18
    assert sorted(r.id for r in read_delta_table(spark, path).collect()) == want


def test_parquet_checkpoint_bootstraps_replay(spark, tmp_path):
    """The spec checkpoint stands alone: a reader honoring
    ``_last_checkpoint`` reconstructs identical state from the parquet
    checkpoint + later commits — even after every compacted JSON commit
    is deleted (log cleanup), and the checkpoint itself is a plain
    parquet file DuckDB can scan."""
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(spark.range(0, 10), mode="overwrite")
    for i in range(12):  # crosses CHECKPOINT_INTERVAL → checkpoint at 10
        t.write(spark.range(100 + i * 10, 110 + i * 10), mode="append")
    log = os.path.join(path, "_delta_log")
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))
    cp = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert cp["version"] == 10
    assert os.path.exists(
        os.path.join(log, f"{cp['version']:020d}.checkpoint.parquet")
    )

    via_cp = sorted(read_with_duckdb(path))
    _, _, files_json = replay_delta_log(path, use_checkpoint=False)
    _, _, files_cp = replay_delta_log(path, use_checkpoint=True)
    assert set(files_cp) == set(files_json)  # identical active file sets
    assert via_cp == sorted(_spark_rows(t.read(spark)))

    # delete every compacted commit — checkpoint-based replay survives
    for v in range(cp["version"] + 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert sorted(read_with_duckdb(path)) == via_cp


def test_delta_readers_unavailable_offline_probe():
    """Documents WHY conformance is pinned by the mini-reader: the real
    external readers cannot be installed in this container."""
    with pytest.raises(Exception):
        duckdb.sql("LOAD delta")
    for mod in ("deltalake", "pyiceberg"):
        with pytest.raises(ImportError):
            __import__(mod)
