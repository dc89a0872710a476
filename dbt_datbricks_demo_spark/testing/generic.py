"""Generic data-quality tests — each returns a DataFrame of violations.

Shapes match dbt's generated test queries (reference SURVEY.md §5):
  not_null         — rows where col is null
  unique           — values with count > 1 (group-by + having)
  accepted_values  — distinct values outside the allowed set
  relationships    — child keys absent from the parent (anti-join)
  value_in_range   — reference macros/test_value_in_range.sql:10-23

``column_test`` also gives ``not_null`` and ``accepted_values`` their
violation predicate and ``unique`` its value column, the column form in
which ``run_suite`` decides them inside its one statement
(testing/runner.py); ``relationships`` reads a second model and is
decided on its violation rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import get_lit_sql_str

from dbt_datbricks_demo_spark.testing.runner import TestSpec, _quote


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
        .filter(F.col(column).isNotNull() & ~F.col(column).isin(list(values)))
        .distinct()
    )


def relationships(child: DataFrame, column: str, parent: DataFrame, field: str) -> DataFrame:
    """Child FK values with no matching parent row. Broadcast anti-join:
    the parent side is a dimension in every reference usage. Its
    duplicate keys change nothing, so they are not removed."""
    return (
        child.select(F.col(column))
        .filter(F.col(column).isNotNull())
        .join(
            F.broadcast(parent.select(F.col(field).alias(column))),
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


def column_test(model: str, column: str, kind: str, extra=None) -> TestSpec:
    """The dbt generic test ``kind`` on ``model.column``, named as dbt
    names it, with its column form (testing/runner.py). ``extra`` is the
    accepted values, or ``(to_model, to_field)`` for ``relationships``,
    which has no column form: it reads a second model."""
    q = _quote(column)
    if kind == "relationships":
        to_model, to_field = extra
        return TestSpec(
            f"relationships_{model}_{column}__{to_model}_{to_field}", model,
            lambda rel: relationships(rel[model], column, rel[to_model], to_field),
        )
    if kind == "not_null":
        build, form = not_null, {"bad": f"{q} IS NULL"}
    elif kind == "unique":
        build, form = unique, {"value": column}
    elif kind == "accepted_values":
        extra = tuple(extra)
        listed = ", ".join(
            get_lit_sql_str(v) if isinstance(v, str) else str(v) for v in extra
        )
        build = accepted_values
        form = {"bad": f"{q} IS NOT NULL AND {q} NOT IN ({listed})"}
    else:
        raise ValueError(f"unknown column test kind {kind!r}")
    args = () if extra is None else (extra,)
    return TestSpec(f"{kind}_{model}_{column}", model,
                    lambda rel: build(rel[model], column, *args), **form)
