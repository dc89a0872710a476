"""The reference's 10-model transformation DAG as Spark SQL text.

Each model is one SQL statement, written as the reference's model SQL:
``{name}`` placeholders stand where dbt has ``ref()``/``source()`` and
are bound to the upstream DataFrames; ``:name`` parameter markers stand
where it has ``var()``, ``invocation_id`` and the audit clock, and are
bound from ``RunConfig.sql_args``. Spark parses and plans each statement
whole, in the JVM. The DAG wiring and materialization config live in
plans.dag's registry.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from dbt_datbricks_demo_spark.config import RunConfig

_MARKER = re.compile(r":(\w+)")


def run_sql(sql: str, cfg: RunConfig, **refs: DataFrame) -> DataFrame:
    """``sql`` over ``refs`` (placeholder name → DataFrame), with the
    parameter markers it names bound from ``cfg``. Only those: every
    bound value is a literal built through py4j."""
    markers = set(_MARKER.findall(sql))
    args = {k: v for k, v in cfg.sql_args().items() if k in markers}
    spark = next(iter(refs.values())).sparkSession
    return spark.sql(sql, args=args, **refs)
