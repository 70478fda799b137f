"""Foreign-format interop walkthrough: one table, every direction.

Builds an internal delta-lite table, then exercises the round-7
interop surface end to end on one runnable script:

1. batch read through the FOREIGN Delta-spec reader path
   (``sources.read_delta`` routes by writer),
2. protocol-level CHANGE DATA FEED (writer-side cdc emission on
   UPDATE, delete synthesis, exactly-once versions),
3. streaming tail + streaming CDC (``readChangeFeed``),
4. Iceberg v2 export — including POSITION DELETE files for a
   deletion-vector delete — read back through the foreign Iceberg
   reader with bounds-based file skipping,
5. SPEC DELTA: the engine writes protocol roaring-bitmap deletion
   vectors, so the DV-bearing table itself reads through the foreign
   Delta reader; the spec export then hands a self-contained copy
   (DV files linked, descriptors verbatim) to any
   delta-spark/delta-rs consumer, round-tripped the same way.

    python examples/foreign_interop_demo.py [root_dir]

The same semantics are pinned by pytest (test_delta_reader.py,
test_delta_cdf.py, test_delta_stream.py, test_iceberg_reader.py,
test_iceberg_export.py); this demo is the narrative form.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_lakehouse_project_spark import get_spark
from data_lakehouse_project_spark.operators.iceberg_export import (
    export_iceberg_metadata,
)
from data_lakehouse_project_spark.operators.txnlog import TxnTable
from data_lakehouse_project_spark.sources import (
    read_delta,
    read_delta_changes,
    read_iceberg,
)
from data_lakehouse_project_spark.sources.python_datasource import (
    register_python_datasources,
)


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp()
    spark = get_spark(app_name="foreign-interop-demo")
    register_python_datasources(spark)
    path = os.path.join(root, "orders")

    # ---- 1. internal writes --------------------------------------
    t = TxnTable(path)
    t.write(
        spark.range(0, 6).selectExpr(
            "id", "cast(id % 2 as string) AS region", "id * 10.0 AS amount"
        ),
        mode="overwrite",
        partition_by=["region"],
    )  # v0
    t.update_where(spark, "id = 1", {"amount": "111.0"}, cdc=True)  # v1
    t.delete_where(spark, "id = 4", cdc=True)  # v2 (CoW + cdc rows)
    print(f"table at {path}, version {t.latest_version()}")

    # ---- 2. foreign-path batch read + CDF ------------------------
    df = read_delta(spark, path)
    print("read_delta rows:", sorted(r.id for r in df.collect()))
    cdf = read_delta_changes(spark, path, starting_version=1)
    print("change feed (v1..):")
    for r in sorted(
        cdf.collect(), key=lambda r: (r._commit_version, r._change_type)
    ):
        print(
            f"  v{r._commit_version} {r._change_type:18s} "
            f"id={r.id} amount={r.amount}"
        )

    # ---- 3. streaming tail + streaming CDC -----------------------
    got: list[tuple] = []
    q = (
        spark.readStream.format("delta_stream")
        .option("path", path)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(
            lambda b, _id: got.extend(
                (r["_commit_version"], r["_change_type"], r["id"])
                for r in b.collect()
            )
        )
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    print("streaming CDC events:", len(got))

    # ---- 4. DV delete -> Iceberg export w/ position deletes ------
    t.delete_where(spark, "id = 5", dv=True)  # merge-on-read
    export_iceberg_metadata(t, spark)
    ice = read_iceberg(spark, path)
    print("iceberg read-back:", sorted(r.id for r in ice.collect()))
    pruned = read_iceberg(spark, path, prune=[("id", "<=", 2)])
    print("iceberg pruned (id<=2):", sorted(r.id for r in pruned.collect()))
    assert sorted(r.id for r in ice.collect()) == sorted(
        r.id for r in t.read(spark).collect()
    )
    print("OK: iceberg snapshot (incl. position deletes) == own read")

    # ---- 5. spec-Delta export of the DV snapshot ------------------
    from data_lakehouse_project_spark.operators.delta_export import (
        export_delta_snapshot,
    )
    from data_lakehouse_project_spark.operators.delta_reader import (
        read_delta_table,
    )

    own = sorted(r.id for r in t.read(spark).collect())
    assert sorted(r.id for r in read_delta_table(spark, path).collect()) == own
    print("OK: the DV table itself == foreign Delta reader")

    exp = os.path.join(root, "orders_delta_export")
    info = export_delta_snapshot(spark, path, exp, dv_mode="spec")
    print(
        f"delta export: {info['files']} files, "
        f"{info['files_with_dv']} with spec DVs"
    )
    back = read_delta_table(spark, exp)
    assert sorted(r.id for r in back.collect()) == sorted(
        r.id for r in t.read(spark).collect()
    )
    print("OK: spec-Delta export (roaring DVs) == own read")

    # ---- 6. (round 8, session 3) append INTO the foreign tables ---
    from data_lakehouse_project_spark.operators.delta_writer import (
        append_to_delta,
    )
    from data_lakehouse_project_spark.operators.iceberg_writer import (
        append_to_iceberg,
    )

    new = spark.range(100, 103).selectExpr(
        "id", "'9' AS region", "id * 10.0 AS amount"
    )
    info = append_to_delta(spark, new, exp)
    print(f"delta append: v{info['version']}, {info['rows']} rows")
    info = append_to_iceberg(spark, new, path)
    print(f"iceberg append: snapshot {info['snapshot_id']}")
    assert sorted(r.id for r in read_delta_table(spark, exp).collect()) \
        == sorted(r.id for r in read_iceberg(spark, path).collect())
    print("OK: both formats accepted the same foreign append")

    # ---- 7. tail the Iceberg snapshot chain as a stream -----------
    got2: list[int] = []
    q = (
        spark.readStream.format("iceberg_stream")
        .option("path", path)
        .option("skipDeleteSnapshots", "true")
        .option("skipOverwriteSnapshots", "true")
        .load()
        .writeStream.foreachBatch(
            lambda b, _id: got2.extend(r["id"] for r in b.collect())
        )
        .option("checkpointLocation", os.path.join(root, "ckpt_ice"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    print("iceberg_stream shipped rows:", len(got2))

    # ---- 8. maintenance: vacuum the export, expire old snapshots --
    from data_lakehouse_project_spark.operators.foreign_maintenance import (
        expire_iceberg_snapshots,
        vacuum_delta,
    )

    plan = vacuum_delta(exp, dry_run=True)
    print(
        f"vacuum plan: {len(plan['deleted'])} deletable, "
        f"{plan['kept_referenced']} referenced, "
        f"{plan['kept_recent']} within retention"
    )
    exp_plan = expire_iceberg_snapshots(spark, path, keep_last=1)
    print(
        "expire plan: drop snapshots", exp_plan["expired_snapshot_ids"]
    )

    # ---- 9. DML against the foreign tables, then RESTORE -----------
    from data_lakehouse_project_spark.operators.delta_export import (
        restore_delta,
    )
    from data_lakehouse_project_spark.operators.delta_writer import (
        delete_from_delta,
        update_from_delta,
    )
    from data_lakehouse_project_spark.operators.iceberg_writer import (
        delete_from_iceberg,
    )

    v_before = read_delta_snapshot_version(exp)
    update_from_delta(
        spark, exp, "id = 0", {"amount": "amount + 0.5"},
        allow_protocol_upgrade=True,
    )
    delete_from_delta(spark, exp, "id = 2")
    rows = {r.id: r.amount
            for r in read_delta_table(spark, exp).collect()}
    assert 2 not in rows and rows[0] == 0.5
    print("OK: foreign UPDATE (DV rewrite) + DELETE (DV merge-on-read)")
    restore_delta(exp, v_before)
    rows = {r.id: r.amount
            for r in read_delta_table(spark, exp).collect()}
    assert 2 in rows and rows[0] == 0.0
    print("OK: RESTORE rewound both DMLs, history intact")

    info = delete_from_iceberg(spark, path, "id = 100")
    print(
        f"iceberg position-delete snapshot {info['snapshot_id']}: "
        f"{info['rows_deleted']} row(s)"
    )
    assert 100 not in {
        r.id for r in read_iceberg(spark, path).collect()
    }
    print("OK: iceberg row-level delete via position-delete file")

    # ---- round 9: the Iceberg CHANGELOG (batch) replays every
    # snapshot's change set — inserts AND the position-delete rows the
    # incremental append scan refuses; it must reconcile to the live
    # state (inserts minus deletes == current read)
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        read_iceberg_changelog,
    )

    ch = read_iceberg_changelog(spark, path)
    ins = {
        r.id for r in ch.where("_change_type = 'insert'").collect()
    }
    dels = {
        r.id for r in ch.where("_change_type = 'delete'").collect()
    }
    live = {r.id for r in read_iceberg(spark, path).collect()}
    assert ins - dels == live, (ins, dels, live)
    print(
        f"OK: iceberg changelog reconciles ({len(ins)} inserts - "
        f"{len(dels)} deletes == {len(live)} live rows)"
    )

    # ---- round 9: CDC-complete foreign Delta DML — flip CDF on,
    # mutate, and replay the writer-emitted _change_data files
    import json as _json

    log = os.path.join(exp, "_delta_log")
    for name in sorted(os.listdir(log)):
        if not name.endswith(".json"):
            continue
        p = os.path.join(log, name)
        acts = [_json.loads(x) for x in open(p)]
        touched = False
        for act in acts:
            if "metaData" in act:
                act["metaData"].setdefault("configuration", {})[
                    "delta.enableChangeDataFeed"
                ] = "true"
                touched = True
        if touched:
            with open(p, "w") as fh:
                for act in acts:
                    fh.write(_json.dumps(act) + "\n")
    v_cdc = update_from_delta(
        spark, exp, "id = 1", {"amount": "amount + 9.0"},
        allow_protocol_upgrade=True,
    )["version"]
    cdc_rows = sorted(
        (r._change_type, r.id)
        for r in read_delta_changes(
            spark, exp, starting_version=v_cdc, ending_version=v_cdc
        ).select("_change_type", "id").collect()
    )
    assert cdc_rows == [
        ("update_postimage", 1), ("update_preimage", 1),
    ], cdc_rows
    assert any(
        n.startswith("_change_data") or n == "_change_data"
        for n in os.listdir(exp)
    )
    print("OK: CDF-enabled DML emitted spec _change_data cdc files "
          "and the reader replayed pre/post images")

    # ---- round 11: partition-scoped CDC batch + v3 lineage + DV DML
    # + eq-delete compaction, end to end on a fresh table
    from data_lakehouse_project_spark.operators.iceberg_reader import (
        iceberg_live_files,
        load_iceberg_metadata,
        read_iceberg_table,
    )
    from data_lakehouse_project_spark.operators.iceberg_writer import (
        rewrite_data_files,
        upgrade_iceberg_to_v3,
        upsert_into_iceberg,
    )

    p11 = os.path.join(root, "r11")
    t11 = TxnTable(p11)
    t11.write(
        spark.range(0, 12).selectExpr(
            "id", "CAST(id % 3 AS STRING) AS part",
            "CAST(id AS DOUBLE) AS amount",
        ),
        mode="overwrite",
        partition_by=["part"],
    )
    export_iceberg_metadata(t11, spark)
    upgrade_iceberg_to_v3(spark, p11)          # row lineage init
    info = upsert_into_iceberg(                # ONE CDC batch:
        spark, p11,                            # 1 upsert + 1 insert
        spark.createDataFrame(                 # + 2 deletions
            [(4, "1", 444.0), (100, "2", 1.0)],
            "id long, part string, amount double",
        ),
        ["id", "part"],
        delete_keys=spark.createDataFrame(
            [(7, "1"), (9, "0")], "id long, part string"
        ),
    )
    assert info["keys_deleted"] == 2
    md11 = load_iceberg_metadata(p11)
    assert all(sp.get("fields") for sp in md11["partition-specs"]), (
        "scoped route expected (keys cover the partition source)"
    )
    lin = {
        r.id: r._row_id
        for r in read_iceberg_table(
            spark, p11, row_lineage=True
        ).collect()
    }
    assert 7 not in lin and lin[0] == 0 and lin[4] >= 12
    print(
        "OK: one-snapshot CDC batch (scoped eq deletes + upsert) on "
        "a v3 table; row lineage intact"
    )
    # compaction over equality deletes (v2 — v3 compaction refuses
    # by design until row-lineage materialization lands)
    p11b = os.path.join(root, "r11b")
    t11b = TxnTable(p11b)
    t11b.write(
        spark.range(0, 12).selectExpr(
            "id", "CAST(id % 3 AS STRING) AS part",
            "CAST(id AS DOUBLE) AS amount",
        ),
        mode="overwrite",
        partition_by=["part"],
    )
    export_iceberg_metadata(t11b, spark)
    upsert_into_iceberg(
        spark, p11b,
        spark.createDataFrame(
            [(4, "1", 444.0)],
            "id long, part string, amount double",
        ),
        ["id", "part"],
        delete_keys=spark.createDataFrame(
            [(7, "1")], "id long, part string"
        ),
    )
    before11 = {
        (r.id, r.amount)
        for r in read_iceberg_table(spark, p11b).collect()
    }
    rewrite_data_files(spark, p11b, target_size_bytes=1 << 30)
    _, _, posd11, eqd11 = iceberg_live_files(spark, p11b)
    assert eqd11 == [] and posd11 == []
    after11 = {
        (r.id, r.amount)
        for r in read_iceberg_table(spark, p11b).collect()
    }
    assert after11 == before11
    print(
        "OK: compaction applied the equality deletes exactly and "
        "dropped every delete manifest"
    )
    spark.stop()


def read_delta_snapshot_version(path: str) -> int:
    from data_lakehouse_project_spark.operators.delta_reader import (
        read_delta_snapshot,
    )

    return read_delta_snapshot(path).version


if __name__ == "__main__":
    main()
