"""Delta-lite lakehouse walkthrough: ACID writes, time travel, MERGE,
DELETE, OPTIMIZE (plain + clustered), change-data-feed, and an
incrementally-maintained gold view — every table-format semantic the
offline container can't get from the real Delta/Iceberg packages,
exercised end to end on one runnable script.

    python examples/lakehouse_cdc_demo.py [root_dir]

The same operations are pinned by pytest (test_txnlog.py,
test_incremental.py); this demo is the narrative form.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_lakehouse_project_spark import get_spark
from data_lakehouse_project_spark.operators.incremental import (
    read_aggregate_view,
    refresh_aggregate_view,
)
from data_lakehouse_project_spark.operators.txnlog import TxnTable


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else "/tmp/lakehouse_demo"
    spark = get_spark(app_name="lakehouse-cdc-demo")
    orders = TxnTable(os.path.join(root, "orders"))
    gold = TxnTable(os.path.join(root, "gold_by_status"))

    def df(lo, hi, status="open"):
        return spark.range(lo, hi).select(
            F.col("id").alias("order_id"),
            F.lit(status).alias("status"),
            (F.col("id") * 1.5).alias("amount"),
        )

    # v0/v1: initial load + append — each one atomic commit
    orders.write(df(0, 100), mode="overwrite")
    orders.write(df(100, 140), mode="append")
    refresh_aggregate_view(
        spark, orders, gold, ["status"], {"amount_sum": "amount"}
    )
    print("v1 gold:", read_aggregate_view(spark, gold).collect())

    # v2: MERGE — close orders 0-19 (copy-on-write upsert)
    orders.merge(df(0, 20, status="closed"), keys=["order_id"])
    # v2b (r5): full-clause MERGE INTO — one statement applies a CDC
    # batch with per-clause conditions at file granularity: matched
    # orders worth >= 10 get a surcharge, tiny matched ones are
    # dropped, unseen ones insert
    cdc_batch = df(0, 5, status="priority").unionByName(
        df(120, 150, status="priority")
    )
    orders.merge_into(
        spark,
        cdc_batch,
        ["order_id"],
        matched_update={
            "amount": "t.amount + s.amount",
            "status": "s.status",
        },
        matched_update_condition="t.amount >= 10",
        matched_delete_condition="t.amount < 10",
        insert=True,
    )
    print(
        "merge_into:",
        orders.history()[-1]["files_rewritten"], "file(s) rewritten,",
        orders.history()[-1]["files_skipped"], "skipped;",
        orders.read(spark).count(), "rows",
    )
    # v3: DELETE — GDPR-style row removal
    orders.delete_where(spark, "order_id >= 130")
    # v4: OPTIMIZE with clustering — rewrite into disjoint amount ranges
    orders.optimize(spark, target_size_bytes=1 << 20, cluster_by=["amount"])

    # the gold view catches up from the CHANGE FEED, not a rescan
    refresh_aggregate_view(
        spark, orders, gold, ["status"], {"amount_sum": "amount"}
    )
    print("v4 gold:", read_aggregate_view(
        spark, gold, avg_of={"amount_avg": "amount_sum"}
    ).collect())

    # time travel: the pre-merge state is still a readable snapshot
    print(
        "open orders then vs now:",
        orders.read(spark, version=1).where("status = 'open'").count(),
        "->",
        orders.read(spark).where("status = 'open'").count(),
    )

    # the change feed itself, versioned row-level deltas
    feed = orders.read_changes(spark, starting_version=2)
    feed.groupBy("_commit_version", "_change_type").count().orderBy(
        "_commit_version", "_change_type"
    ).show()

    # stats pruning after the clustered rewrite
    scanned, total = orders.scan_file_count(prune=[("amount", "<", 30.0)])
    print(f"pruned scan reads {scanned}/{total} files")

    # session-2 surface: constraints, UPDATE, deletion vectors,
    # RESTORE, shallow clone, DESCRIBE DETAIL
    orders.add_constraint(spark, "amount_nonneg", "amount >= 0")
    orders.update_where(
        spark, "status = 'closed'", {"amount": "amount * 0.9"}
    )  # file-granularity rewrite, constraint-checked
    v_before_dv = orders.latest_version()
    orders.delete_where(spark, "order_id % 10 = 9", dv=True)
    print(
        "dv delete:",
        orders.history()[-1]["rows_deleted"],
        "rows gone,",
        orders.describe_detail()["files_with_dv"],
        "file(s) carry a deletion vector, zero rewritten",
    )
    # the DVs are spec roaring bitmaps (deletion_vector_<uuid>.bin), so
    # the protocol-level reader sees exactly the engine's rows
    from data_lakehouse_project_spark.operators.delta_reader import (
        read_delta_table,
    )

    assert (
        read_delta_table(spark, orders.path).count()
        == orders.read(spark).count()
    )
    orders.restore(v_before_dv)  # undo it — one metadata commit
    print("restored rows:", orders.read(spark).count())

    audit = orders.clone_to(os.path.join(root, "orders_audit"))
    audit.delete_where(spark, "status = 'closed'")  # clone diverges
    print(
        "clone rows vs source:",
        audit.read(spark).count(),
        "/",
        orders.read(spark).count(),
        "(zero data bytes copied)",
    )

    print("history:", [h["operation"] for h in orders.history()])
    print("detail:", orders.describe_detail())
    spark.stop()


if __name__ == "__main__":
    main()
