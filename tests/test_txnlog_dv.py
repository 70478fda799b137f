"""Deletion vectors (merge-on-read) + file-granularity copy-on-write
DELETE (operators/txnlog.py) — the Delta DV / selective-rewrite
semantics: a delete touches O(matching files) (CoW) or O(deleted rows)
(DV), never O(table). Time travel, CDF, optimize-materialization and
vacuum retention all stay consistent."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_lakehouse_project_spark.operators.txnlog import TxnTable


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.lit(tag).alias("tag"),
    )


def _paths(t):
    return {f["path"] for f in t.snapshot().files}


def test_cow_delete_rewrites_only_matching_files(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 100).coalesce(1), mode="overwrite")
    t.write(_df(spark, 100, 200).coalesce(1), mode="append")
    before = _paths(t)
    assert len(before) == 2
    lo_file = next(
        f["path"]
        for f in t.snapshot().files
        if f["stats"]["columns"]["id"]["max"] < 100
    )

    t.delete_where(spark, "id = 150", prune=[("id", "=", 150)])
    after = _paths(t)
    # the low-range file is untouched byte-for-byte (same add entry)
    assert lo_file in after
    assert len(after) == 2
    assert t.read(spark).count() == 199
    info = t.history()[-1]
    assert info["operation"] == "delete"
    assert info["files_rewritten"] == 1
    assert info["files_skipped"] == 1


def test_cow_delete_no_match_is_a_noop_commit_free(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    v = t.write(_df(spark, 0, 10), mode="overwrite")
    assert t.delete_where(spark, "id = 12345") == v
    assert t.latest_version() == v  # no empty commit
    assert t.read(spark).count() == 10


def test_cow_delete_null_predicate_rows_survive(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 99)], "id long, v long"
    )
    t.write(df, mode="overwrite")
    t.delete_where(spark, "v = 99")
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == [1, 2]  # NULL-predicate row kept (SQL DELETE)


def test_dv_delete_rewrites_no_data_file(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 100).coalesce(1), mode="overwrite")
    t.write(_df(spark, 100, 200).coalesce(1), mode="append")
    before = _paths(t)

    v = t.delete_where(spark, "id % 10 = 3", dv=True)
    assert _paths(t) == before  # zero files rewritten
    assert t.read(spark).count() == 180
    assert {r.id for r in t.read(spark).where("id % 10 = 3").collect()} == set()
    assert t.snapshot().num_rows == 180  # stats net of DV
    # time travel to before the delete still sees every row
    assert t.read(spark, version=v - 1).count() == 200
    info = t.history()[-1]
    assert info["mode"] == "dv" and info["rows_deleted"] == 20
    assert all(
        f["foreign_dv"]["cardinality"] == 10 for f in t.snapshot().files
    )


def test_dv_second_delete_unions_positions(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 50).coalesce(1), mode="overwrite")
    t.delete_where(spark, "id < 5", dv=True)
    t.delete_where(spark, "id >= 45", dv=True)
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == list(range(5, 45))
    assert t.snapshot().num_rows == 40
    [f] = t.snapshot().files
    assert f["foreign_dv"]["cardinality"] == 10


def test_dv_then_cow_and_merge_preserve_dv_preimages(spark, tmp_path):
    """CDF pre-images of later rewrites must exclude DV-deleted rows."""
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 10).coalesce(1), mode="overwrite")  # v0
    t.delete_where(spark, "id = 7", dv=True)  # v1
    t.delete_where(spark, "id = 3")  # v2: CoW rewrite of the dv file

    assert sorted(r.id for r in t.read(spark).collect()) == [
        0, 1, 2, 4, 5, 6, 8, 9,
    ]
    feed = t.read_changes(spark, starting_version=1).toPandas()
    v1 = feed[feed._commit_version == 1]
    assert list(v1.id) == [7] and set(v1._change_type) == {"delete"}
    v2 = feed[feed._commit_version == 2]
    # ONLY id=3 is deleted at v2 — id=7 was already gone (old dv rode
    # the remove action), and no spurious inserts appear
    assert list(v2.id) == [3] and set(v2._change_type) == {"delete"}


def test_optimize_materializes_deletion_vectors(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 100).repartition(4), mode="overwrite")
    t.delete_where(spark, "id < 10", dv=True)
    assert any(f.get("foreign_dv") for f in t.snapshot().files)

    t.optimize(spark, target_size_bytes=1 << 30)  # compact all → 1 file
    assert not any(f.get("foreign_dv") for f in t.snapshot().files)
    assert sorted(r.id for r in t.read(spark).collect()) == list(
        range(10, 100)
    )
    # optimize still contributes nothing to the change feed
    feed = t.read_changes(
        spark, starting_version=t.latest_version()
    ).toPandas()
    assert len(feed) == 0


def test_vacuum_reaps_unreferenced_dv_dirs(spark, tmp_path):
    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(_df(spark, 0, 50).coalesce(1), mode="overwrite")  # v0
    t.delete_where(spark, "id < 5", dv=True)  # v1 → dv A
    t.delete_where(spark, "id < 10", dv=True)  # v2 → dv B (supersedes)

    def dv_files():
        return sorted(
            n for n in os.listdir(path)
            if n.startswith("deletion_vector_") and n.endswith(".bin")
        )

    assert len(dv_files()) == 2
    before = dv_files()
    deleted = t.vacuum(keep_versions=1)
    # dv A unreferenced by the only retained snapshot → reaped
    assert len(dv_files()) == 1
    assert [n for n in deleted if n.endswith(".bin")] == sorted(
        set(before) - set(dv_files())
    )
    assert sorted(r.id for r in t.read(spark).collect()) == list(
        range(10, 50)
    )


def test_dv_equals_cow_result(spark, tmp_path):
    """Merge-on-read and copy-on-write are observationally identical."""
    a, b = TxnTable(str(tmp_path / "a")), TxnTable(str(tmp_path / "b"))
    for t in (a, b):
        t.write(_df(spark, 0, 200).repartition(3), mode="overwrite")
    a.delete_where(spark, "id % 7 = 0", dv=True)
    b.delete_where(spark, "id % 7 = 0")
    got_a = sorted(r.id for r in a.read(spark).collect())
    got_b = sorted(r.id for r in b.read(spark).collect())
    assert got_a == got_b == [i for i in range(200) if i % 7]


def test_update_where_rewrites_only_matching_files(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 100).coalesce(1), mode="overwrite")
    t.write(_df(spark, 100, 200).coalesce(1), mode="append")
    before = _paths(t)
    lo_file = next(
        f["path"]
        for f in t.snapshot().files
        if f["stats"]["columns"]["id"]["max"] < 100
    )

    t.update_where(
        spark,
        "id >= 150",
        {"v": "v + 1000", "tag": "'bumped'"},
        prune=[("id", ">=", 150)],
    )
    assert lo_file in _paths(t)  # low file untouched
    got = {r.id: (r.v, r.tag) for r in t.read(spark).collect()}
    assert len(got) == 200
    assert got[160] == (160 * 2 + 1000, "bumped")
    assert got[140] == (140 * 2, "a")  # same file, non-matching row
    assert got[50] == (50 * 2, "a")  # untouched file
    info = t.history()[-1]
    assert info["operation"] == "update"
    assert info["files_rewritten"] == 1 and info["files_skipped"] == 1

    # CDF: exactly the 50 updated rows surface as delete+insert pairs
    feed = t.read_changes(
        spark, starting_version=t.latest_version()
    ).toPandas()
    assert len(feed) == 100
    assert set(feed[feed._change_type == "insert"].tag) == {"bumped"}
    assert set(feed[feed._change_type == "delete"].tag) == {"a"}


def test_update_where_unknown_column_raises(spark, tmp_path):
    import pytest

    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 10), mode="overwrite")
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, "id = 1", {"nope": "1"})


def test_restore_points_back_without_copying(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 50).coalesce(1), mode="overwrite")  # v0
    v0_paths = _paths(t)
    t.delete_where(spark, "id < 10")  # v1
    t.write(_df(spark, 500, 510), mode="append")  # v2
    assert t.read(spark).count() == 50

    v = t.restore(0)
    assert v == 3
    assert _paths(t) == v0_paths  # the ORIGINAL files, not copies
    assert sorted(r.id for r in t.read(spark).collect()) == list(range(50))
    # post-restore history still time-travels to the undone states
    assert t.read(spark, version=2).count() == 50
    assert t.history()[-1]["restored_version"] == 0

    # CDF of the restore = net diff (re-inserted 0..9, dropped 500..509)
    feed = t.read_changes(spark, starting_version=v).toPandas()
    ins = sorted(feed[feed._change_type == "insert"].id)
    dels = sorted(feed[feed._change_type == "delete"].id)
    assert ins == list(range(10))
    assert dels == list(range(500, 510))


def test_restore_undoes_a_deletion_vector(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 30).coalesce(1), mode="overwrite")  # v0
    t.delete_where(spark, "id < 5", dv=True)  # v1
    assert t.read(spark).count() == 25
    t.restore(0)
    assert t.read(spark).count() == 30
    assert not any(f.get("foreign_dv") for f in t.snapshot().files)


def test_restore_to_identical_state_is_noop(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    v = t.write(_df(spark, 0, 10), mode="overwrite")
    assert t.restore(v) == v
    assert t.latest_version() == v


def test_check_constraint_blocks_bad_append(spark, tmp_path):
    import pytest

    from data_lakehouse_project_spark.operators.txnlog import (
        ConstraintViolation,
    )

    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 10), mode="overwrite")
    t.add_constraint(spark, "id_nonneg", "id >= 0")
    t.add_constraint(spark, "tag_set", "tag IN ('a', 'b')")
    assert set(t.snapshot().constraints) == {"id_nonneg", "tag_set"}

    # good append passes
    v = t.write(_df(spark, 10, 12), mode="append")

    # violating append raises BEFORE any commit (atomicity preserved)
    bad = spark.createDataFrame(
        [(-1, 0, "a"), (5, 0, "zzz")], "id long, v long, tag string"
    )
    with pytest.raises(ConstraintViolation, match="tag_set"):
        t.write(bad, mode="append")
    assert t.latest_version() == v
    assert t.read(spark).count() == 12

    # NULL evaluations pass (SQL CHECK semantics)
    nullish = spark.createDataFrame(
        [(99, None, None)], "id long, v long, tag string"
    )
    t.write(nullish, mode="append")
    assert t.read(spark).count() == 13


def test_add_constraint_validates_existing_data(spark, tmp_path):
    import pytest

    from data_lakehouse_project_spark.operators.txnlog import (
        ConstraintViolation,
    )

    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 10), mode="overwrite")
    with pytest.raises(ConstraintViolation, match="existing data"):
        t.add_constraint(spark, "id_big", "id >= 5")
    assert t.snapshot().constraints == {}


def test_constraints_gate_update_and_merge_and_drop(spark, tmp_path):
    import pytest

    from data_lakehouse_project_spark.operators.txnlog import (
        ConstraintViolation,
    )

    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 10), mode="overwrite")
    t.add_constraint(spark, "v_cap", "v < 1000")

    with pytest.raises(ConstraintViolation, match="v_cap"):
        t.update_where(spark, "id = 3", {"v": "5000"})
    with pytest.raises(ConstraintViolation, match="v_cap"):
        t.merge(
            spark.createDataFrame(
                [(3, 5000, "a")], "id long, v long, tag string"
            ),
            keys=["id"],
        )
    assert {r.v for r in t.read(spark).where("id = 3").collect()} == {6}

    # after DROP the same mutations go through
    t.drop_constraint("v_cap")
    t.update_where(spark, "id = 3", {"v": "5000"})
    assert {r.v for r in t.read(spark).where("id = 3").collect()} == {5000}
    # constraint state is itself time-travelable metadata
    assert "v_cap" in t.snapshot(version=1).constraints
    assert "v_cap" not in t.snapshot().constraints


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    src.write(_df(spark, 0, 100).coalesce(1), mode="overwrite")
    src.write(_df(spark, 100, 200).coalesce(1), mode="append")
    src.add_constraint(spark, "id_nonneg", "id >= 0")

    clone = src.clone_to(str(tmp_path / "clone"))
    # zero data bytes under the clone root
    import os as _os

    clone_files = [
        f
        for _, _, fs in _os.walk(str(tmp_path / "clone"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert clone_files == []
    assert clone.read(spark).count() == 200
    assert clone.snapshot().constraints == {"id_nonneg": "id >= 0"}
    assert clone.describe_detail()["num_files"] == 2

    # clone mutations never touch the source
    clone.delete_where(spark, "id < 50")
    clone.write(_df(spark, 900, 910), mode="append")
    assert clone.read(spark).count() == 160
    assert src.read(spark).count() == 200

    # clone vacuum reaps nothing under the source root
    before = {
        f
        for _, _, fs in _os.walk(str(tmp_path / "src"))
        for f in fs
        if f.endswith(".parquet")
    }
    clone.vacuum(keep_versions=1)
    after = {
        f
        for _, _, fs in _os.walk(str(tmp_path / "src"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert before == after
    assert clone.read(spark).count() == 160


def test_clone_historical_version_and_dv(spark, tmp_path):
    src = TxnTable(str(tmp_path / "src"))
    src.write(_df(spark, 0, 50).coalesce(1), mode="overwrite")  # v0
    src.delete_where(spark, "id < 5", dv=True)  # v1
    src.write(_df(spark, 50, 60), mode="append")  # v2

    c1 = src.clone_to(str(tmp_path / "c1"), version=1)
    assert sorted(r.id for r in c1.read(spark).collect()) == list(
        range(5, 50)
    )  # the DV rides the clone by absolute reference
    c0 = src.clone_to(str(tmp_path / "c0"), version=0)
    assert c0.read(spark).count() == 50

    # DV delete ON the clone over external files (abs-path DV keys)
    c1.delete_where(spark, "id >= 45", dv=True)
    assert sorted(r.id for r in c1.read(spark).collect()) == list(
        range(5, 45)
    )
    assert src.read(spark).count() == 55  # source untouched


def test_describe_detail_counts(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 100).coalesce(1), mode="overwrite")
    t.delete_where(spark, "id < 10", dv=True)
    d = t.describe_detail()
    assert d["num_files"] == 1 and d["files_with_dv"] == 1
    assert d["num_rows"] == 90
    assert d["num_commits"] == 2 and d["version"] == 1


def test_optimize_purge_dv_reorg(spark, tmp_path):
    """REORG-style purge: optimize(purge_dv=True) rewrites a file that
    compaction alone would skip, solely to materialize its DV."""
    t = TxnTable(str(tmp_path / "tbl"))
    t.write(_df(spark, 0, 100).coalesce(1), mode="overwrite")
    t.delete_where(spark, "id < 10", dv=True)

    # plain optimize: single file at target layout → no-op, DV kept
    v = t.optimize(spark, target_size_bytes=1)
    assert any(f.get("foreign_dv") for f in t.snapshot().files)

    v2 = t.optimize(spark, target_size_bytes=1, purge_dv=True)
    assert v2 > v
    assert not any(f.get("foreign_dv") for f in t.snapshot().files)
    assert sorted(r.id for r in t.read(spark).collect()) == list(
        range(10, 100)
    )
    # still contributes nothing to the change feed
    assert (
        t.read_changes(spark, starting_version=v2).toPandas().shape[0] == 0
    )


def test_per_file_bloom_prunes_point_lookups(spark, tmp_path):
    """Per-file bloom index: high-cardinality point lookups prune files
    min/max ranges can't (unsorted ids overlap every file), with NO
    false negatives ever."""
    t = TxnTable(str(tmp_path / "tbl"))
    # interleaved ids → every file spans the whole id range: min/max
    # stats are useless for id = X, the bloom is the only pruner
    df = spark.range(0, 4000).select(
        F.col("id"), (F.col("id") % 4).alias("shard")
    )
    for s in range(4):
        t.write(
            df.where(F.col("shard") == s).coalesce(1),
            mode="overwrite" if s == 0 else "append",
            bloom_cols={"id": 1 << 14},
        )

    # every present id must be found (no false negatives), and the
    # pruned scan must read FEWER files than the min/max-only path
    hits = 0
    for probe in (0, 1, 2, 3, 997, 1998, 2999, 3997):
        scanned, total = t.scan_file_count(prune=[("id", "=", probe)])
        assert total == 4
        hits += scanned
        got = t.read(spark, prune=[("id", "=", probe)]).collect()
        assert [r.id for r in got] == [probe]
    # 8 probes × 4 files = 32 naive reads; bloom k=5 m=16384 on 1000
    # keys/file has FPR ~1e-9 — expect essentially 8 file reads
    assert hits <= 12

    # absent ids: bloom says definite miss → zero files scanned
    scanned, _ = t.scan_file_count(prune=[("id", "=", 999_999)])
    assert scanned == 0
    assert t.read(spark, prune=[("id", "=", 999_999)]).count() == 0

    # the bloom rides the log: a fresh handle (log replay) still prunes
    t2 = TxnTable(str(tmp_path / "tbl"))
    scanned, _ = t2.scan_file_count(prune=[("id", "=", 42)])
    assert scanned == 1


def test_bloom_string_column_and_bounds(spark, tmp_path):
    import pytest

    t = TxnTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(i, f"user_{i}") for i in range(100)], "id long, name string"
    )
    t.write(df, mode="overwrite", bloom_cols={"name": 4096})
    scanned, total = t.scan_file_count(prune=[("name", "=", "user_7")])
    assert scanned >= 1
    assert [
        r.id
        for r in t.read(spark, prune=[("name", "=", "user_7")])
        .where("name = 'user_7'")
        .collect()
    ] == [7]
    scanned, _ = t.scan_file_count(prune=[("name", "=", "nobody")])
    assert scanned == 0

    with pytest.raises(ValueError, match="bloom bits"):
        t.write(df, mode="overwrite", bloom_cols={"name": 8})


def test_txn_exactly_once_replay_protection(spark, tmp_path):
    """Delta-style txn actions: a replayed micro-batch (same app_id,
    batch_id ≤ last recorded) is a no-op — across handles, and through
    checkpoint compaction."""
    t = TxnTable(str(tmp_path / "tbl"))
    apply_batch = t.streaming_append("etl-query")
    apply_batch(_df(spark, 0, 10), 0)
    apply_batch(_df(spark, 10, 20), 1)
    v = t.latest_version()

    # crash-replay of batch 1: no new rows, no new version
    apply_batch(_df(spark, 10, 20), 1)
    assert t.latest_version() == v
    assert t.read(spark).count() == 20

    # an old batch id is also skipped; a NEW id commits
    apply_batch(_df(spark, 0, 10), 0)
    assert t.read(spark).count() == 20
    apply_batch(_df(spark, 20, 25), 2)
    assert t.read(spark).count() == 25
    assert t.snapshot().txns == {"etl-query": 2}

    # a fresh handle (restarted driver) sees the same txn state
    t2 = TxnTable(str(tmp_path / "tbl"))
    t2.streaming_append("etl-query")(_df(spark, 20, 25), 2)
    assert t2.read(spark).count() == 25

    # independent apps don't interfere
    t2.streaming_append("other-query")(_df(spark, 100, 102), 0)
    assert t2.read(spark).count() == 27

    # txn state survives checkpoint compaction (>10 commits)
    for b in range(3, 12):
        t2.streaming_append("etl-query")(_df(spark, 0, 1, tag=f"b{b}"), b)
    t3 = TxnTable(str(tmp_path / "tbl"))
    assert t3.snapshot().txns["etl-query"] == 11
    n = t3.read(spark).count()
    t3.streaming_append("etl-query")(_df(spark, 0, 1), 11)  # replay
    assert t3.read(spark).count() == n


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: after a Z-curve rewrite, point predicates on
    EITHER column prune files; lexicographic clustering only prunes its
    lead column."""
    grid = spark.range(0, 64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    # size the rewrite to ~16 files: with 16 lexicographic (x,y) range
    # files each covers ~4 consecutive x values and the FULL y range;
    # with 16 Z-curve files each covers a compact 2-D tile
    zt = TxnTable(str(tmp_path / "z"))
    zt.write(grid.coalesce(1), mode="overwrite")
    total = sum(f["size_bytes"] for f in zt.snapshot().files)
    target = max(1, total // 16)
    zt.optimize(
        spark, target_size_bytes=target, cluster_by=["x", "y"], zorder=True
    )
    n_files = len(zt.snapshot().files)
    assert n_files >= 8

    lex = TxnTable(str(tmp_path / "lex"))
    lex.write(grid.coalesce(1), mode="overwrite")
    lex.optimize(spark, target_size_bytes=target, cluster_by=["x", "y"])
    lex_files = len(lex.snapshot().files)

    def frac(t, col, val):
        scanned, tot = t.scan_file_count(prune=[(col, "=", val)])
        return scanned / tot

    # lead column: both cluster layouts prune
    assert frac(zt, "x", 7) < 1.0
    assert frac(lex, "x", 7) < 1.0
    # SECOND column: only the Z-order layout prunes — every
    # lexicographic file spans y's full range
    z_y = frac(zt, "y", 7)
    lex_y = frac(lex, "y", 7)
    assert z_y <= 0.5
    assert lex_y == 1.0
    # correctness unchanged
    assert (
        zt.read(spark, prune=[("y", "=", 7)]).where("y = 7").count() == 64
    )

    import pytest

    with pytest.raises(ValueError, match="two columns"):
        zt.optimize(spark, cluster_by=["x"], zorder=True)


def test_corrupt_checkpoint_falls_back_to_linear_replay(spark, tmp_path):
    """A torn/corrupt checkpoint must never brick the table — replay
    falls back to older checkpoints, then to the raw commit files. The
    checkpoint was parsed (and memoized) before it was overwritten, so
    this also proves the memo never serves a rewritten file."""
    import glob
    import os as _os

    path = str(tmp_path / "tbl")
    t = TxnTable(path)
    t.write(_df(spark, 0, 10), mode="overwrite")
    for i in range(12):  # crosses the 10-commit checkpoint boundary
        t.write(_df(spark, 100 + i, 101 + i), mode="append")
    assert t.read(spark).count() == 22  # replayed from the checkpoint
    cps = glob.glob(
        _os.path.join(path, "_delta_log", "*.checkpoint.parquet")
    )
    assert cps
    for cp in cps:
        with open(cp, "w") as fh:
            fh.write("{ torn half-written j")  # corrupt ALL checkpoints

    t2 = TxnTable(path)
    assert t2.read(spark).count() == 22  # linear replay still exact
    assert t2.latest_version() == 12
    t2.write(_df(spark, 500, 505), mode="append")  # and still writable
    assert t2.read(spark).count() == 27

    # the parsed checkpoint memo keys on file identity: the rewritten
    # file is re-read (and refused), never served from the memo — so
    # once commit 0 is gone the log has a gap and the replay refuses
    import pytest

    from data_lakehouse_project_spark.operators.delta_log import (
        CorruptDeltaLog,
    )

    _os.remove(_os.path.join(path, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(CorruptDeltaLog, match="gap"):
        t2.snapshot()


def test_dv_on_hive_partitioned_table(spark, tmp_path):
    """Partition dirs in the path don't confuse the DV anti-join, and
    partition-pruned DV deletes leave other partitions' files
    untouched."""
    t = TxnTable(str(tmp_path / "tbl"))
    df = _df(spark, 0, 100).withColumn(
        "part", (F.col("id") % 2).cast("string")
    )
    t.write(df, mode="overwrite", partition_by=["part"])
    before = _paths(t)

    t.delete_where(
        spark, "id < 10 AND part = '0'", prune=[("part", "=", "0")], dv=True
    )
    assert _paths(t) == before  # no file rewritten
    assert t.read(spark).count() == 95  # ids 0,2,4,6,8 gone
    assert t.read(spark).where("part = '1'").count() == 50
    got = sorted(
        r.id for r in t.read(spark).where("part = '0'").collect()
    )
    assert got == [i for i in range(100) if i % 2 == 0 and i >= 10]
    # partition files of part=1 never even carry a DV
    for f in t.snapshot().files:
        if f["partition_values"].get("part") == "1":
            assert "foreign_dv" not in f


def test_null_count_pruning(spark, tmp_path):
    t = TxnTable(str(tmp_path / "tbl"))
    no_nulls = spark.createDataFrame([(1, 5), (2, 6)], "id long, v long")
    some_nulls = spark.createDataFrame(
        [(3, None), (4, 9)], "id long, v long"
    )
    all_nulls = spark.createDataFrame(
        [(5, None), (6, None)], "id long, v long"
    )
    t.write(no_nulls.coalesce(1), mode="overwrite")
    t.write(some_nulls.coalesce(1), mode="append")
    t.write(all_nulls.coalesce(1), mode="append")

    scanned, total = t.scan_file_count(prune=[("v", "isnull", None)])
    assert (scanned, total) == (2, 3)  # zero-null file skipped
    assert sorted(
        r.id for r in t.read(spark, prune=[("v", "isnull", None)]).collect()
    ) == [3, 5, 6]

    scanned, _ = t.scan_file_count(prune=[("v", "isnotnull", None)])
    assert scanned == 2  # all-null file skipped
    assert sorted(
        r.id
        for r in t.read(spark, prune=[("v", "isnotnull", None)]).collect()
    ) == [1, 2, 4]
