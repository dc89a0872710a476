"""Generic data-quality tests — each returns a DataFrame of violations.

Shapes match dbt's generated test queries (reference SURVEY.md §5):
  not_null         — rows where col is null
  unique           — values with count > 1 (group-by + having)
  accepted_values  — distinct values outside the allowed set
  relationships    — child keys absent from the parent (anti-join)
  value_in_range   — reference macros/test_value_in_range.sql:10-23

``not_null``, ``unique`` and ``accepted_values`` also have an aggregate
over the model that is 0 exactly when their violations DataFrame is
empty; ``column_test`` attaches it to the spec, so ``run_suite`` can
check all of a model's column tests in one scan (testing/runner.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.testing.runner import TestSpec


def _outside(column: str, values: Sequence) -> Column:
    return F.col(column).isNotNull() & ~F.col(column).isin(list(values))


def not_null(df: DataFrame, column: str) -> DataFrame:
    return df.select(column).filter(F.col(column).isNull())


def unique(df: DataFrame, column: str) -> DataFrame:
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("n_records"))
        .filter(F.col("n_records") > 1)
    )


def accepted_values(df: DataFrame, column: str, values: Sequence) -> DataFrame:
    return (
        df.select(column)
        .filter(_outside(column, values))
        .distinct()
    )


def relationships(child: DataFrame, column: str, parent: DataFrame, field: str) -> DataFrame:
    """Child FK values with no matching parent row. Broadcast anti-join:
    the parent side is a dimension in every reference usage."""
    return (
        child.select(F.col(column))
        .filter(F.col(column).isNotNull())
        .join(
            F.broadcast(parent.select(F.col(field).alias(column)).distinct()),
            on=column,
            how="left_anti",
        )
    )


def value_in_range(
    df: DataFrame, column: str, min_value: float, max_value: float
) -> DataFrame:
    """Custom generic from the reference (defined, never bound — latent
    surface we expose anyway)."""
    c = F.col(column)
    return (
        df.filter(c.isNotNull() & ((c < min_value) | (c > max_value)))
        .groupBy(c.alias("invalid_value"))
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )


# ---- aggregates: 0 exactly when the matching test above finds nothing ----
def null_count(column: str) -> Column:
    return F.count_if(F.col(column).isNull())


def duplicate_excess(column: str) -> Column:
    """Non-NULL values minus distinct non-NULL values: 0 iff no value
    occurs twice."""
    return F.count(column) - F.count_distinct(column)


def outside_count(column: str, values: Sequence) -> Column:
    return F.count_if(_outside(column, values))


_AGGREGATED = {
    "not_null": (not_null, null_count),
    "unique": (unique, duplicate_excess),
    "accepted_values": (accepted_values, outside_count),
}


def column_test(model: str, column: str, kind: str, extra=None) -> TestSpec:
    """The dbt generic test ``kind`` on ``model.column``, named as dbt
    names it. ``extra`` is the accepted values, or ``(to_model,
    to_field)`` for ``relationships``. Every kind but ``relationships``
    (which reads a second model) carries its aggregate."""
    if kind == "relationships":
        to_model, to_field = extra
        return TestSpec(
            name=f"relationships_{model}_{column}__{to_model}_{to_field}",
            model=model,
            build=lambda rel: relationships(
                rel[model], column, rel[to_model], to_field
            ),
        )
    if kind not in _AGGREGATED:
        raise ValueError(f"unknown column test kind {kind!r}")
    build, aggregate = _AGGREGATED[kind]
    args = () if extra is None else (tuple(extra),)
    return TestSpec(
        name=f"{kind}_{model}_{column}",
        model=model,
        build=lambda rel: build(rel[model], column, *args),
        aggregate=lambda: aggregate(column, *args),
    )
