"""``medallion_batch``: the paper's core batch job.

Set-up stages three seeded sources in the reference's formats: line
items as CSV, events as JSON lines, and orders in an embedded Derby
database read over JDBC. A round is one full pass of three
``plans.Pipeline`` runs (one per source): ``sources.readers`` →
``operators.bronze`` → ``operators.silver`` (a partitioned write) →
``operators.gold`` → ``operators.sinks.write_table`` →
``operators.catalog.register_external_table``. Every pass overwrites
its outputs, so the end state is the same after any number of passes.
Each gold table is read back through the catalog and compared with a
DuckDB aggregate over the staged sources.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
from pyspark.sql import functions as F

import datagen
from common import canon, median, tree_bytes
from tracing import StageClock

from data_lakehouse_project_spark.operators import catalog
from data_lakehouse_project_spark.operators.bronze import ingest_bronze
from data_lakehouse_project_spark.operators.gold import (
    AggSpec,
    aggregate_gold,
    daily_summary,
)
from data_lakehouse_project_spark.operators.silver import SilverSpec, transform_silver
from data_lakehouse_project_spark.plans import pipeline as pipeline_mod
from data_lakehouse_project_spark.plans.pipeline import Pipeline, Stage
from data_lakehouse_project_spark.sources import readers

SCALE = 0.01  # 15 000 orders, ~60 000 line items
N_EVENTS = 20_000
NULL_SHARE = 0.005  # rows silver must drop
DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
DB = "perfbench_gold"
INGESTION_DATE = "2024-02-01"

LINEITEM_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate STRING"
)
EVENTS_DDL = (
    "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

GOLD_ORACLE = {
    "lineitem_summary": """
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_extendedprice IS NOT NULL
        GROUP BY 1, 2""",
    "events_daily": """
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, lower(event_type) AS event_type,
               COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2""",
    "orders_daily": """
        SELECT CAST(o_orderdate AS DATE) AS transaction_date,
               ROUND(SUM(CAST(o_totalprice AS DECIMAL(12, 2))), 2) AS total_amount,
               COUNT(o_orderkey) AS transaction_count
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1""",
}


def _with_nulls(pdf, column: str, seed: int, stream: int):
    rng = np.random.default_rng([seed, stream])
    out = pdf.copy()
    out[column] = out[column].astype("object")
    out.loc[rng.random(len(out)) < NULL_SHARE, column] = None
    return out


class Medallion:
    name = "medallion_batch"
    nominal_round_s = 4.0  # one pass, warm, on the reference host (see run.round_count)

    def stage(self, run, root: str) -> None:
        seed = run.seed
        self.root = root
        src = os.path.join(root, "sources")
        os.makedirs(src)
        li = _with_nulls(datagen.lineitem(seed, SCALE), "l_extendedprice", seed, 11)
        li["l_shipdate"] = li["l_shipdate"].dt.strftime("%Y-%m-%d")
        ev = _with_nulls(datagen.events(seed, N_EVENTS), "ts", seed, 12)
        ev["ts"] = [None if t is None else t.isoformat() for t in ev["ts"]]
        od = _with_nulls(datagen.orders(seed, SCALE), "o_totalprice", seed, 13)
        self.csv = os.path.join(src, "lineitem.csv")
        self.json = os.path.join(src, "events.json")
        li.to_csv(self.csv, index=False)
        ev.to_json(self.json, orient="records", lines=True)
        self.jdbc_url = f"jdbc:derby:{os.path.join(src, 'derby')};create=true"
        (
            run.spark.createDataFrame(od)
            .withColumn("o_totalprice", F.col("o_totalprice").cast("double"))
            .write.format("jdbc")
            .option("url", self.jdbc_url)
            .option("dbtable", "orders")
            .option("driver", DERBY_DRIVER)
            .mode("overwrite")
            .save()
        )
        # user input bytes: the staged files, and the orders table at
        # its CSV size (Derby's page files are not the user's data)
        self.source_rows = len(li) + len(ev) + len(od)
        self.source_bytes = (
            os.path.getsize(self.csv)
            + os.path.getsize(self.json)
            + len(od.to_csv(index=False).encode())
        )
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_csv('{self.csv}', header=true)")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_json('{self.json}', format='newline_delimited')")
        con.register("orders", od)
        self.expected = {t: canon(con.execute(q).df()) for t, q in GOLD_ORACLE.items()}
        con.close()
        self.out = os.path.join(root, "lake")
        for table in GOLD_ORACLE:  # an earlier set-up registered other locations
            run.spark.sql(f"DROP TABLE IF EXISTS {DB}.{table}")

    def _pipelines(self, run):
        out, clock = self.out, StageClock(run.tracer, "plans.pipeline")

        def layer(name, transform, **kw):
            return Stage(name, clock.wrap(name, transform), **kw)

        def source(read):
            def traced(s):
                with run.tracer.span("sources.read"):
                    return read(s)

            return traced

        def gold_stage(table, transform):
            return layer(
                "gold",
                transform,
                path=os.path.join(out, "gold", table),
                single_file=True,
                register_as=(DB, table),
            )

        lineitem = Pipeline(
            source(lambda s: readers.read_csv(s, self.csv, schema=LINEITEM_DDL)),
            [
                layer(
                    "bronze",
                    lambda df: ingest_bronze(df, "csv", "lineitem", INGESTION_DATE),
                    path=os.path.join(out, "bronze", "lineitem"),
                ),
                layer(
                    "silver",
                    lambda df: transform_silver(
                        df,
                        SilverSpec(
                            casts={"l_shipdate": "date"},
                            drop_null_subset=["l_orderkey", "l_extendedprice"],
                            quality_rules={
                                "qty_positive": F.col("l_quantity") > 0,
                                "discount_range": F.col("l_discount").between(0, 0.1),
                            },
                        ),
                    ),
                    path=os.path.join(out, "silver", "lineitem"),
                    partition_by=["l_returnflag"],
                ),
                gold_stage(
                    "lineitem_summary",
                    lambda df: aggregate_gold(
                        df,
                        AggSpec(
                            group_by={
                                "l_returnflag": F.col("l_returnflag"),
                                "l_linestatus": F.col("l_linestatus"),
                            },
                            aggregates={
                                "sum_qty": F.sum("l_quantity"),
                                "sum_price": F.round(F.sum("l_extendedprice"), 2),
                                "sum_disc_price": F.round(
                                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                                ),
                                "n_lines": F.count(F.lit(1)),
                            },
                        ),
                    ),
                ),
            ],
        )
        events = Pipeline(
            source(
                lambda s: readers.read_json(s, self.json, schema=EVENTS_DDL, multiline=False)
            ),
            [
                layer(
                    "bronze",
                    lambda df: ingest_bronze(df, "api", "events", INGESTION_DATE),
                    path=os.path.join(out, "bronze", "events"),
                ),
                layer(
                    "silver",
                    lambda df: transform_silver(
                        df,
                        SilverSpec(
                            casts={"ts": "timestamp"},
                            drop_null_subset=["event_id", "ts"],
                            lower_columns=["event_type"],
                            quality_rules={"value_range": F.col("value") >= 0},
                        ),
                    ),
                    path=os.path.join(out, "silver", "events"),
                    partition_by=["event_type"],
                ),
                gold_stage(
                    "events_daily",
                    lambda df: aggregate_gold(
                        df,
                        AggSpec(
                            group_by={
                                "day": F.to_date("ts"),
                                "event_type": F.col("event_type"),
                            },
                            aggregates={
                                "n_events": F.count(F.lit(1)),
                                "total_value": F.round(F.sum("value"), 2),
                            },
                        ),
                    ),
                ),
            ],
        )
        orders = Pipeline(
            source(
                lambda s: readers.read_jdbc(
                    s,
                    self.jdbc_url,
                    "orders",
                    driver=DERBY_DRIVER,
                    partition_column="o_orderkey",
                    num_partitions=run.slots,
                    lower_bound=0,
                    upper_bound=int(150_000 * SCALE),
                )
            ),
            [
                layer(
                    "bronze",
                    lambda df: ingest_bronze(df, "mysql", "orders", INGESTION_DATE),
                    path=os.path.join(out, "bronze", "orders"),
                ),
                layer(
                    "silver",
                    lambda df: transform_silver(
                        df,
                        SilverSpec(
                            casts={"o_totalprice": "decimal(12,2)", "o_orderdate": "date"},
                            drop_null_subset=["o_totalprice", "o_orderdate"],
                        ),
                    ),
                    path=os.path.join(out, "silver", "orders"),
                    partition_by=["o_orderstatus"],
                ),
                gold_stage(
                    "orders_daily",
                    lambda df: daily_summary(df, "o_orderdate", "o_totalprice", "o_orderkey"),
                ),
            ],
        )
        return clock, [lineitem, events, orders]

    def warm(self, run) -> None:
        self.round(run)

    def round(self, run) -> None:
        spark = run.spark
        tracer = run.tracer
        tracer.patch(pipeline_mod, "register_external_table", "operators.catalog.register")

        def one_pass():
            clock, pipes = self._pipelines(run)
            for p in pipes:
                with tracer.span("plans.pipeline.run"):
                    p.run(spark)
                    clock.close()
            return True

        shutil.rmtree(self.out, ignore_errors=True)
        if run.op("batch", "plans.pipeline.pass", one_pass, rows=self.source_rows) is None:
            return  # the failure is counted; there is no gold to check
        # every gold table, read back through the catalog, must equal the
        # DuckDB aggregate over the staged sources
        for table, expected in self.expected.items():
            catalog.refresh_table(spark, DB, table)
            got = canon(spark.table(f"{DB}.{table}").toPandas())
            run.check(got == expected, f"gold {table} differs from the DuckDB oracle")
        written, files = tree_bytes(self.out)
        if run.traced_round:
            run.counters["sink_bytes"] += written
            run.counters["sink_files"] += files
        self.written, self.files = written, files

    def end_state(self, run) -> dict:
        """Pass outputs overwrite each other, so the last pass's bytes
        are what one pass writes, and all of them are live."""
        live = sum(
            os.path.getsize(os.path.join(r, n))
            for r, _, names in os.walk(self.out)
            for n in names
            if n.startswith("part-")
        )
        return {
            "bytes_written": self.written,
            "input_bytes": self.source_bytes,
            "disk_bytes": self.written,
            "live_bytes": live,
            "files": self.files,
            "rows_per_round": self.source_rows,
        }

    def layer_metrics(self, run, layers, traced_rounds: int) -> dict:
        def per(name: str) -> float:
            return layers.get(name, {}).get("self_s", 0.0) / traced_rounds

        return {
            "sources.read_s": per("sources.read"),
            "plans.pipeline.bronze_s": per("plans.pipeline.bronze"),
            "plans.pipeline.silver_s": per("plans.pipeline.silver"),
            "plans.pipeline.gold_s": per("plans.pipeline.gold"),
            "operators.sinks.bytes_written": run.counters["sink_bytes"] / traced_rounds,
            "operators.sinks.files_written": run.counters["sink_files"] / traced_rounds,
            "operators.catalog.register_s": per("operators.catalog.register"),
        }

    def report(self, run) -> dict:
        s = run.samples[False]["batch"]  # one pass per round
        return {"batch_s": (median(s), "s", len(s))}
