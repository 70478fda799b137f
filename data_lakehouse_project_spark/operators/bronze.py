"""Bronze layer: raw ingest + lineage metadata.

Ref semantics: ``mysql_bronze_ingestion.py:85-88`` (ingestion_timestamp,
source_system, source_table), ``bronze_ingestion.py:20,28`` (string
ingestion_date literal), ``api_bronze_ingestion.py:29`` /
``xml_bronze_ingestion.py:36`` (current_date ingestion_date).

All metadata columns are narrow literals/clock reads — constant-folded by
Catalyst, zero shuffle, so bronze ingest at 100 TB is a pure scan+write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ingest_bronze(
    df: DataFrame,
    source_system: str,
    source_table: str,
    ingestion_date: str | None = None,
    date_as_string: bool = False,
) -> DataFrame:
    """Append the reference's bronze lineage columns.

    ``ingestion_date`` handling mirrors both reference styles: an explicit
    string literal (``bronze_ingestion.py:28`` — note the reference keeps
    it string-typed) or ``current_date()`` (``api_bronze_ingestion.py:29``).
    """
    if ingestion_date is None:
        date = F.current_date()
    else:
        date = F.lit(ingestion_date)
        if not date_as_string:
            date = date.cast("date")
    # one projection: a single plan-analysis pass for all four columns
    return df.withColumns(
        {
            "ingestion_timestamp": F.current_timestamp(),
            "source_system": F.lit(source_system),
            "source_table": F.lit(source_table),
            "ingestion_date": date,
        }
    )
