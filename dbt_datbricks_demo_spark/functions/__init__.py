"""Scalar helper functions (the engine's "macro" layer).

The reference's only non-builtin scalar is dbt_utils.generate_surrogate_key
(pinned dbt_utils 1.3.3; reference: package-lock.yml:1-4), which compiles to
``md5(concat_ws('-', coalesce(cast(col as string), '_dbt_utils_surrogate_key_null_'), ...))``.
We reproduce it byte-for-byte (SURVEY.md §2.9 "Hash / surrogate key") so keys
compare equal across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL_SENTINEL = "_dbt_utils_surrogate_key_null_"


def surrogate_key(*cols: Column | str) -> Column:
    """dbt_utils.generate_surrogate_key-compatible md5 key.

    Accepts column names or Column expressions (the reference passes the
    expression ``date_trunc('hour', reading_ts)`` at int_device_health.sql:29).
    Timestamps stringify as ``yyyy-MM-dd HH:mm:ss`` under a UTC session —
    identical to the warehouse's cast-to-string, so keys match byte-for-byte.
    """
    parts = [
        F.coalesce(
            (F.col(c) if isinstance(c, str) else c).cast("string"),
            F.lit(NULL_SENTINEL),
        )
        for c in cols
    ]
    return F.md5(F.concat_ws("-", *parts))


def surrogate_key_sql(*exprs: str) -> str:
    """The same key as an ANSI-SQL fragment (for oracle parity checks)."""
    parts = ", ".join(
        f"coalesce(cast({e} as varchar), '{NULL_SENTINEL}')" for e in exprs
    )
    return f"md5(concat_ws('-', {parts}))"


def safe_divide(num: Column, den: Column) -> Column:
    """x / nullif(y, 0) — the reference's div-by-zero guard
    (int_device_health.sql:51, fct_device_summary.sql:44,49)."""
    return num / F.nullif(den, F.lit(0))


def literal_df(spark, rows, schema: str):
    """Tiny constant relation as a PURE-JVM literal table.

    ``spark.createDataFrame(python_list)`` plans a parallelized
    PythonRDD whose defaultParallelism partitions EACH spin a Python
    worker to unpickle their slice — a measured ~0.3 s/task × 32-task
    zero-input stage per query at local[32] (optimization round 13;
    guide §4: never cross the Python boundary for constants). This
    builds the same relation as ``inline()`` of a literal struct array:
    one whole-stage-codegen task, no Python workers, no scan.

    ``schema`` is a simple DDL string ("a int, b long" — no parametrized
    types, their commas would split wrong); ``rows`` is a list of tuples
    of plain Python scalars (int/float/str/bool — the types Column
    literals accept). An empty ``rows`` falls back to createDataFrame
    (one empty relation, nothing to unpickle). A schema field that is
    not ``name type``, or a row whose arity differs from the schema's,
    raises ValueError.
    """
    from pyspark.sql import functions as _F

    fields = [f.strip().rsplit(None, 1) for f in schema.split(",")]
    for f in fields:
        if len(f) != 2:
            raise ValueError(
                f"literal_df schema field {' '.join(f)!r} is not 'name type'"
            )
    for row in rows:
        if len(row) != len(fields):
            raise ValueError(
                f"literal_df row {row!r} has {len(row)} values, schema "
                f"{schema!r} has {len(fields)} fields"
            )
    if not rows:
        return spark.createDataFrame([], schema)
    structs = [
        _F.struct(*[
            _F.lit(v).cast(t).alias(n)
            for v, (n, t) in zip(row, fields)
        ])
        for row in rows
    ]
    # explicit numPartitions=1: a bare range(1) plans defaultParallelism
    # splits — 31 empty tasks per evaluation
    return spark.range(0, 1, 1, 1).select(_F.inline(_F.array(*structs)))
