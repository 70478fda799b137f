"""The Parquet codec policy (``session.PARQUET_CODEC``): every parquet file
the engine writes carries zstd column chunks, whether Spark or pyarrow
writes it, in every writer family; ``write_table`` still honours a
caller's codec, csv/json sinks keep snappy, and the readers round-trip a
zstd-written table."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from data_lakehouse_project_spark.operators.delta_export import (
    export_delta_snapshot,
)
from data_lakehouse_project_spark.operators.delta_reader import read_delta_table
from data_lakehouse_project_spark.operators.delta_writer import append_to_delta
from data_lakehouse_project_spark.operators.iceberg_export import (
    export_iceberg_metadata,
)
from data_lakehouse_project_spark.operators.iceberg_reader import (
    read_iceberg_table,
)
from data_lakehouse_project_spark.operators.iceberg_writer import (
    append_to_iceberg,
    delete_from_iceberg,
)
from data_lakehouse_project_spark.operators.sinks import write_table
from data_lakehouse_project_spark.operators.txnlog import (
    CDC_DIR,
    CHECKPOINT_INTERVAL,
    TxnTable,
)
from data_lakehouse_project_spark.session import PARQUET_CODEC


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS part", "CAST(id AS DOUBLE) AS v"
    )


def _codecs(root, match=lambda name: True):
    """{file: {codec, ...}} for every parquet file under ``root`` whose
    name passes ``match`` and holds at least one column chunk."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            if not name.endswith(".parquet") or not match(name):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, name)).metadata
            chunks = {
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            }
            if chunks:
                out[os.path.relpath(os.path.join(dirpath, name), root)] = chunks
    return out


def _assert_zstd(root, match=lambda name: True):
    found = _codecs(root, match)
    assert found, f"no parquet file under {root}"
    assert all(c == {"ZSTD"} for c in found.values()), found


def test_policy_is_zstd_and_the_session_default(spark):
    assert PARQUET_CODEC == "zstd"
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"


def test_write_table_defaults_to_policy_and_honours_caller(spark, tmp_path):
    write_table(_df(spark, 0, 50), str(tmp_path / "z"), partition_by=["part"])
    _assert_zstd(str(tmp_path / "z"))
    # a caller's codec still wins, e.g. byte parity with the reference
    n = write_table(
        _df(spark, 0, 50), str(tmp_path / "s"), compression="snappy",
        verify=True,
    )
    assert n == 50
    found = _codecs(str(tmp_path / "s"))
    assert found and all(c == {"SNAPPY"} for c in found.values()), found


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_write_table_text_formats_keep_snappy(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    assert write_table(_df(spark, 0, 20), path, fmt=fmt, verify=True) == 20
    parts = [n for n in os.listdir(path) if n.startswith("part-")]
    assert parts and all(n.endswith(f".{fmt}.snappy") for n in parts)


def test_txn_table_data_cdc_dv_and_checkpoint_files(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.write(_df(spark, 0, 40), mode="overwrite")
    t.merge_into(
        spark, _df(spark, 30, 45).selectExpr("id", "part", "v + 1 AS v"),
        ["id"], cdc=True,
    )
    t.delete_where(spark, "id < 5", dv=True)
    while t.latest_version() < CHECKPOINT_INTERVAL:
        t.write(_df(spark, 100, 102), mode="append")

    _assert_zstd(t.path, lambda n: n.startswith("part-"))  # data files
    _assert_zstd(os.path.join(t.path, CDC_DIR))
    # deletion vectors are spec roaring-bitmap files, not parquet
    assert any(
        n.startswith("deletion_vector_") and n.endswith(".bin")
        for n in os.listdir(t.path)
    )
    _assert_zstd(
        os.path.join(t.path, "_delta_log"),
        lambda n: n.endswith(".checkpoint.parquet"),
    )
    want = sorted(range(5, 45)) + [100, 101] * (CHECKPOINT_INTERVAL - 2)
    assert sorted(r.id for r in t.read(spark).collect()) == sorted(want)


def test_delta_export_and_writer_files_read_back(spark, tmp_path):
    t = TxnTable(str(tmp_path / "src"))
    t.write(_df(spark, 0, 40), mode="overwrite")
    t.delete_where(spark, "id IN (3, 7)", dv=True)
    out = str(tmp_path / "ext")
    # "rewrite" re-writes the DV-touched files; both checkpoint kinds
    export_delta_snapshot(spark, t.path, out, dv_mode="rewrite",
                          write_checkpoint="classic")
    _assert_zstd(out)
    v2 = str(tmp_path / "ext_v2")
    export_delta_snapshot(spark, t.path, v2, write_checkpoint="v2")
    _assert_zstd(os.path.join(v2, "_delta_log"))  # manifest + sidecar

    before = set(_codecs(out))
    append_to_delta(spark, _df(spark, 40, 50), out)
    assert set(_codecs(out)) - before  # the append's own data file
    _assert_zstd(out)
    got = sorted(r.id for r in read_delta_table(spark, out).collect())
    assert got == [i for i in range(50) if i not in (3, 7)]


def test_iceberg_writer_files_read_back(spark, tmp_path):
    path = str(tmp_path / "ice")
    t = TxnTable(path)
    t.write(_df(spark, 0, 20), mode="overwrite")
    export_iceberg_metadata(t, spark)
    append_to_iceberg(spark, _df(spark, 20, 30), path)
    delete_from_iceberg(spark, path, "id IN (2, 25)")
    _assert_zstd(os.path.join(path, "data"), lambda n: n.startswith("pos-deletes-"))
    _assert_zstd(path)
    got = sorted(r.id for r in read_iceberg_table(spark, path).collect())
    assert got == [i for i in range(30) if i not in (2, 25)]
