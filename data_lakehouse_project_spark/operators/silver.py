"""Silver layer: type correction, cleansing, quality rules.

Ref semantics: ``mysql_silver_transformation.py:51-74`` (casts + na.drop +
metadata), ``silver_transformation.py:52-53`` (decimal cast + lower),
``api_silver_transformation.py:30-33`` (schema-enforced re-read +
to_timestamp).

The reference's ``data_quality_check`` column is a constant ``lit("passed")``
placeholder (``mysql_silver_transformation.py:67``); here it is a real
rule-based validator: each rule is a boolean Column, rows get
``passed``/``failed:<rules>`` so quality is queryable downstream, and the
whole thing stays a narrow projection (no shuffle, codegen-friendly).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class SilverSpec:
    """Declarative silver transformation.

    casts: {column: spark type ddl string} — e.g. {"amount": "decimal(10,2)"}
    drop_null_subset: na.drop subset (ref mysql_silver_transformation.py:62)
    lower_columns: string normalization (ref silver_transformation.py:53)
    trim_columns: whitespace trim
    quality_rules: {rule_name: Column predicate} — all-true => 'passed'
    """

    casts: dict[str, str] = field(default_factory=dict)
    drop_null_subset: list[str] = field(default_factory=list)
    lower_columns: list[str] = field(default_factory=list)
    trim_columns: list[str] = field(default_factory=list)
    quality_rules: dict[str, Column] = field(default_factory=dict)
    add_metadata: bool = True


def quality_flag(rules: dict[str, Column]) -> Column:
    """'passed' when every rule holds, else 'failed:<comma-joined rule names>'.

    Upgrades the reference's constant flag (mysql_silver_transformation.py:67)
    into an auditable validator while remaining a single projected expression.
    """
    if not rules:
        return F.lit("passed")
    failed = F.array_compact(
        F.array(
            *[
                F.when(~cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in rules.items()
            ]
        )
    )
    return F.when(F.size(failed) == 0, F.lit("passed")).otherwise(
        F.concat(F.lit("failed:"), F.array_join(failed, ","))
    )


def transform_silver(df: DataFrame, spec: SilverSpec) -> DataFrame:
    """Apply a SilverSpec; pure DataFrame→DataFrame so Catalyst fuses it
    with the surrounding scan/write into one stage."""
    # each step is one projection (one plan-analysis pass); a column's
    # cast -> trim -> lower chain composes into one expression
    fixes: dict[str, Column] = {}
    for column, dtype in spec.casts.items():
        fixes[column] = F.col(column).cast(dtype)
    for column in spec.trim_columns:
        fixes[column] = F.trim(fixes.get(column, F.col(column)))
    for column in spec.lower_columns:
        fixes[column] = F.lower(fixes.get(column, F.col(column)))
    out = df.withColumns(fixes) if fixes else df
    if spec.drop_null_subset:
        out = out.na.drop(subset=spec.drop_null_subset)
    if spec.add_metadata:
        out = out.withColumns(
            {
                "transformation_timestamp": F.current_timestamp(),
                "data_quality_check": quality_flag(spec.quality_rules),
            }
        )
    return out
