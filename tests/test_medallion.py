"""Golden pipeline tests — SURVEY §5 strategy 2: reproduce each reference
pipeline's semantics on the FIXTURES.md seed data and assert the exact
hand-computed gold outputs."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from data_lakehouse_project_spark.operators.bronze import ingest_bronze
from data_lakehouse_project_spark.operators.gold import (
    daily_summary,
    group_summary,
    monthly_rollup,
)
from data_lakehouse_project_spark.operators.silver import (
    SilverSpec,
    transform_silver,
)
from data_lakehouse_project_spark.schemas import (
    BRONZE_METADATA_COLUMNS,
    SILVER_METADATA_COLUMNS,
)


@pytest.fixture()
def transactions(spark):
    """db/init.sql:12-18 seed + null rows for the drop fixture."""
    rows = [
        ("txn_001", 1, "cust_a", Decimal("29.99"), datetime.datetime(2025, 8, 15, 10)),
        ("txn_002", 2, "cust_b", Decimal("15.50"), datetime.datetime(2025, 8, 15, 11)),
        ("txn_003", 1, "cust_c", Decimal("29.99"), datetime.datetime(2025, 8, 15, 12)),
        ("txn_004", 4, "cust_a", Decimal("89.99"), datetime.datetime(2025, 8, 16, 9)),
        ("txn_005", 5, "cust_d", Decimal("5.75"), datetime.datetime(2025, 8, 16, 10)),
        ("txn_006", 6, "cust_b", Decimal("32.45"), datetime.datetime(2025, 8, 16, 11)),
        # rows silver must drop (FIXTURES.md §1 null-handling fixture)
        ("txn_bad1", 9, "cust_x", None, datetime.datetime(2025, 8, 17, 1)),
        ("txn_bad2", 9, "cust_y", Decimal("1.00"), None),
    ]
    return spark.createDataFrame(
        rows,
        "transaction_id string, product_id int, customer_id string, "
        "transaction_amount decimal(10,2), transaction_date timestamp",
    )


def test_ep1_transactions_bronze_silver_gold(transactions):
    """EP1 (SURVEY §3): mysql pipeline semantics end-to-end."""
    bronze = ingest_bronze(transactions, "mysql", "transactions")
    for c in BRONZE_METADATA_COLUMNS:
        assert c in bronze.columns
    assert bronze.count() == 8  # bronze keeps raw rows

    silver = transform_silver(
        bronze,
        SilverSpec(
            casts={
                "transaction_amount": "decimal(10,2)",
                "transaction_date": "date",
            },
            drop_null_subset=["transaction_amount", "transaction_date"],
        ),
    )
    for c in SILVER_METADATA_COLUMNS:
        assert c in silver.columns
    assert silver.count() == 6  # nulls dropped (mysql_silver_transformation.py:62)
    assert silver.schema["transaction_date"].dataType.simpleString() == "date"
    assert {r.data_quality_check for r in silver.collect()} == {"passed"}

    gold = daily_summary(
        silver, "transaction_date", "transaction_amount", "transaction_id"
    )
    got = {
        str(r.transaction_date): (round(r.total_amount, 2), r.transaction_count)
        for r in gold.collect()
    }
    # golden values from FIXTURES.md §1
    assert got == {"2025-08-15": (75.48, 3), "2025-08-16": (128.19, 3)}


def test_ep2_products_silver_gold(spark, tmp_path):
    """EP2: CSV → lower(category) + decimal cast → partitioned silver →
    category gold (gold_aggregation.py:97-104)."""
    rows = [
        (1, "A", "Gadgets", 10.0, datetime.datetime(2025, 8, 1)),
        (2, "B", "gadgets", 20.0, datetime.datetime(2025, 8, 1)),
        (3, "C", "Tools", 7.5, datetime.datetime(2025, 8, 2)),
    ]
    df = spark.createDataFrame(
        rows,
        "product_id int, product_name string, category string, price double, "
        "last_updated timestamp",
    )
    bronze = ingest_bronze(df, "csv", "products", ingestion_date="2025-08-03")
    silver = transform_silver(
        bronze,
        SilverSpec(casts={"price": "decimal(10,2)"}, lower_columns=["category"]),
    )
    # partitioned write (silver_transformation.py:61-64)
    from data_lakehouse_project_spark.operators.sinks import write_table

    out = str(tmp_path / "silver_products")
    n = write_table(silver, out, partition_by=["ingestion_date"], verify=True)
    assert n == 3

    gold = group_summary(silver, "category", "product_id", "price")
    got = {
        r.category: (r.product_count, float(r.average_price))
        for r in gold.collect()
    }
    # case-normalized category merges Gadgets+gadgets; avg = 15.00
    assert got == {"gadgets": (2, 15.00), "tools": (1, 7.50)}


def test_ep3_monthly_user_growth(spark):
    """EP3 (api_gold_aggregation.py:86-92): month bucket + count + order."""
    rows = [
        (1, datetime.datetime(2025, 1, 5)),
        (2, datetime.datetime(2025, 1, 12)),
        (3, datetime.datetime(2025, 2, 20)),
        (4, datetime.datetime(2025, 3, 1)),
    ]
    df = spark.createDataFrame(rows, "id int, created_at timestamp")
    gold = monthly_rollup(df, "created_at", "monthly_user_count")
    got = [(r.year_month, r.monthly_user_count) for r in gold.collect()]
    assert got == [("2025-01", 2), ("2025-02", 1), ("2025-03", 1)]


def test_quality_rules_flag_failures(spark):
    """The engine's upgrade of the constant data_quality_check placeholder
    (mysql_silver_transformation.py:67) flags real rule violations."""
    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id int, amount double"
    )
    silver = transform_silver(
        df,
        SilverSpec(
            quality_rules={
                "amount_present": F.col("amount").isNotNull(),
                "amount_positive": F.coalesce(F.col("amount") >= 0, F.lit(False)),
            }
        ),
    )
    got = dict((r.id, r.data_quality_check) for r in silver.collect())
    assert got[1] == "passed"
    assert got[2] == "failed:amount_positive"
    assert got[3] == "failed:amount_present,amount_positive"


def test_bronze_silver_single_projections_keep_columns(spark):
    """Bronze lineage and silver fixes are one projection each; a silver
    cast → trim → lower on one column composes into one expression. The
    columns, their order, types and values are those of the step-by-step
    chain."""
    df = spark.createDataFrame(
        [(1, " AbC ", "7", 2.0), (2, "x", None, -1.0)],
        "id int, tag string, code string, amount double",
    )
    bronze = ingest_bronze(df, "csv", "tags", ingestion_date="2025-08-03")
    assert bronze.dtypes[4:] == [
        ("ingestion_timestamp", "timestamp"), ("source_system", "string"),
        ("source_table", "string"), ("ingestion_date", "date"),
    ]
    assert bronze.select("source_system", "source_table", "ingestion_date").first() == (
        "csv", "tags", datetime.date(2025, 8, 3)
    )
    silver = transform_silver(
        df,
        SilverSpec(
            casts={"code": "int", "tag": "string"},
            trim_columns=["tag"],
            lower_columns=["tag"],
            quality_rules={"amount_positive": F.col("amount") > 0},
        ),
    )
    assert silver.dtypes == [
        ("id", "int"), ("tag", "string"), ("code", "int"), ("amount", "double"),
        ("transformation_timestamp", "timestamp"), ("data_quality_check", "string"),
    ]
    got = sorted(
        tuple(r)[:4] + (r.data_quality_check,) for r in silver.collect()
    )
    assert got == [
        (1, "abc", 7, 2.0, "passed"),
        (2, "x", None, -1.0, "failed:amount_positive"),
    ]


def test_pipeline_runner_end_to_end(spark, tmp_path, transactions):
    """plans.Pipeline: declarative bronze→silver→gold with layer writes and
    catalog registration (SURVEY §3 new-engine lifecycle)."""
    from data_lakehouse_project_spark.plans import Pipeline, Stage

    tx = transactions
    pipe = Pipeline(
        source=lambda s: tx,
        stages=[
            Stage(
                "bronze",
                lambda df: ingest_bronze(df, "mysql", "transactions"),
                path=str(tmp_path / "bronze"),
            ),
            Stage(
                "silver",
                lambda df: transform_silver(
                    df,
                    SilverSpec(
                        casts={"transaction_date": "date"},
                        drop_null_subset=["transaction_amount", "transaction_date"],
                    ),
                ),
                path=str(tmp_path / "silver"),
            ),
            Stage(
                "gold",
                lambda df: daily_summary(
                    df, "transaction_date", "transaction_amount", "transaction_id"
                ),
                path=str(tmp_path / "gold"),
                register_as=("lakehouse_test", "daily_sales_summary"),
            ),
        ],
    )
    gold = pipe.run(spark, verify=True)
    assert gold.count() == 2
    # catalog registration (K5) readable via table scan (S7)
    assert spark.table("lakehouse_test.daily_sales_summary").count() == 2
    spark.sql("DROP TABLE lakehouse_test.daily_sales_summary")
    spark.sql("DROP DATABASE lakehouse_test")


def test_schema_evolution_silver_to_gold(spark, tmp_path):
    """Schema evolution end-to-end in the medallion path (VERDICT r2 #6):
    a silver table gains a column in a later append batch; gold reads
    merged footers (read_parquet(merge_schema=True)) so pre-evolution
    files pad NULLs, and the rollup spans both generations."""
    from data_lakehouse_project_spark.operators.sinks import write_table
    from data_lakehouse_project_spark.sources.readers import read_parquet

    base_schema = (
        "transaction_id string, product_id int, customer_id string, "
        "transaction_amount decimal(10,2), transaction_date timestamp"
    )
    batch1 = spark.createDataFrame(
        [
            ("t1", 1, "cust_a", Decimal("10.00"), datetime.datetime(2025, 8, 15, 10)),
            ("t2", 2, "cust_b", Decimal("20.00"), datetime.datetime(2025, 8, 15, 11)),
        ],
        base_schema,
    )
    # batch 2 arrives after the upstream added a discount column
    batch2 = spark.createDataFrame(
        [
            ("t3", 3, "cust_c", Decimal("30.00"), datetime.datetime(2025, 8, 16, 9), Decimal("3.00")),
            ("t4", 4, "cust_d", Decimal("40.00"), datetime.datetime(2025, 8, 16, 10), None),
        ],
        base_schema + ", discount_amount decimal(10,2)",
    )
    spec = SilverSpec(
        casts={"transaction_date": "date"},
        drop_null_subset=["transaction_amount", "transaction_date"],
    )
    out = str(tmp_path / "silver_evolving")
    for batch in (batch1, batch2):
        silver = transform_silver(ingest_bronze(batch, "mysql", "transactions"), spec)
        write_table(silver, out, mode="append")

    # plain read resolves a single footer's schema; merge_schema unions them
    merged = read_parquet(spark, out, merge_schema=True)
    assert "discount_amount" in merged.columns
    assert merged.count() == 4
    assert (
        merged.where(F.col("transaction_id").isin("t1", "t2"))
        .where(F.col("discount_amount").isNull())
        .count()
        == 2
    )

    gold = (
        merged.groupBy("transaction_date")
        .agg(
            F.sum(
                F.col("transaction_amount")
                - F.coalesce(F.col("discount_amount"), F.lit(0))
            ).alias("net_amount"),
            F.count(F.lit(1)).alias("transaction_count"),
        )
    )
    got = {
        str(r.transaction_date): (float(r.net_amount), r.transaction_count)
        for r in gold.collect()
    }
    assert got == {"2025-08-15": (30.0, 2), "2025-08-16": (67.0, 2)}


def test_profile_columns_single_pass_and_values(spark):
    """profile_columns: one aggregate job, hand-checked metrics, and
    the approx=True HLL routing stays within its error envelope."""
    from pyspark.sql import functions as F

    from data_lakehouse_project_spark.operators.profile import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, None), (3.0, 30.0), (3.0, 30.0)],
        "a double, b double",
    )
    prof = {r.column: r for r in profile_columns(df, ["a", "b"]).collect()}
    assert prof["a"].non_null == 4 and prof["a"].nulls == 0
    assert prof["a"].ndv == 3 and prof["a"].min == 1.0
    assert prof["b"].non_null == 3 and prof["b"].nulls == 1
    assert abs(prof["b"].mean - (70.0 / 3)) < 1e-9

    # single-pass: the SOURCE is scanned exactly once (the distinct-agg
    # expand + 1-row gather add exchanges, but never a second scan)
    plan = (
        profile_columns(df, ["a", "b"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ExistingRDD") == 1

    hll = {
        r.column: r.ndv
        for r in profile_columns(df, ["a", "b"], approx=True).collect()
    }
    assert abs(hll["a"] - 3) <= 1 and abs(hll["b"] - 2) <= 1


def test_histogram_bins_hand_checked(spark):
    from pyspark.sql import functions as F

    from data_lakehouse_project_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [(0.0,), (2.5,), (5.0,), (7.5,), (10.0,), (None,)], "v double"
    )
    got = {r.bin: (r.bin_lo, r.bin_hi, r.cnt) for r in histogram(df, "v", 4).collect()}
    # width 2.5: [0,2.5)→{0}, [2.5,5)→{2.5}, [5,7.5)→{5}, [7.5,10]→{7.5,10}
    assert got[0] == (0.0, 2.5, 1)
    assert got[1] == (2.5, 5.0, 1)
    assert got[2] == (5.0, 7.5, 1)
    assert got[3] == (7.5, 10.0, 2)  # max closed into last bin
    assert sum(c for _, _, c in got.values()) == 5  # null dropped


def test_wide_profile_auto_routes_to_hll(spark):
    """approx="auto" flips to HLL at WIDE_PROFILE_COLS: the physical
    plan loses the Expand node (exact multi-NDV replicates every input
    row per distinct agg), and HLL NDV stays within its documented
    error of exact."""
    from pyspark.sql import functions as F

    from data_lakehouse_project_spark.operators.profile import (
        profile_columns,
    )

    df = spark.range(0, 5000).select(
        *[
            ((F.col("id") * (i + 3)) % (50 * (i + 1))).alias(f"c{i}")
            for i in range(5)
        ]
    )
    cols = [f"c{i}" for i in range(5)]
    wide = profile_columns(df, cols)  # auto → HLL at 5 cols
    narrow = profile_columns(df, cols[:2])  # auto → exact below cutoff
    assert "Expand" not in wide._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in narrow._jdf.queryExecution().executedPlan().toString()

    exact = {
        r.column: r.ndv
        for r in profile_columns(df, cols, approx=False).collect()
    }
    got = {r.column: r.ndv for r in wide.collect()}
    for c in cols:
        assert abs(got[c] - exact[c]) <= max(3.0, 0.10 * exact[c])
    # non-NDV metrics are identical on both routes
    e = {
        r.column: (r.non_null, r.min, r.max, r.mean)
        for r in profile_columns(df, cols, approx=False).collect()
    }
    g = {r.column: (r.non_null, r.min, r.max, r.mean) for r in wide.collect()}
    assert e == g


def test_histogram_constant_column_single_bin(spark):
    """Regression (r5 ADVICE): min == max made the bin width 0 and
    raised DIVIDE_BY_ZERO under ANSI mode (Spark 4 default); a constant
    column must degrade to one bin holding every non-null row."""
    from data_lakehouse_project_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [(7.0,), (7.0,), (7.0,), (None,)], "v double"
    )
    rows = histogram(df, "v", 4).collect()
    assert len(rows) == 1
    assert rows[0].bin == 0 and rows[0].cnt == 3
    assert rows[0].bin_lo == 7.0 and rows[0].bin_hi == 7.0
