"""Scalar helper functions (the engine's "macro" layer).

The reference's only non-builtin scalar is dbt_utils.generate_surrogate_key
(pinned dbt_utils 1.3.3; reference: package-lock.yml:1-4), which compiles to
``md5(concat_ws('-', coalesce(cast(col as string), '_dbt_utils_surrogate_key_null_'), ...))``.
We reproduce it byte-for-byte (SURVEY.md §2.9 "Hash / surrogate key") so keys
compare equal across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NULL_SENTINEL = "_dbt_utils_surrogate_key_null_"

# Largest relation the engine hints as a broadcast join side: ~32 MB of
# (id, id) rows, or ~100 MB of short strings with the hash relation —
# far under Spark's 8 GB broadcast ceiling.
BROADCAST_ROW_LIMIT = 2_000_000


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


def counted(df: DataFrame, storage_level=None) -> tuple[DataFrame, int]:
    """Materialize `df` and count it in ONE job: a lazy localCheckpoint
    whose blocks the count writes as it goes (on a real pipeline: an
    intermediate table with its row count), so the checkpoint adds no
    job ahead of the count. The count sums partition sizes on the JVM
    (RDD.count over the executed plan): DataFrame.count() plans a
    partial and a final aggregate, which under AQE run as two jobs on a
    multi-partition frame. Returns the checkpointed frame and its row
    count; `storage_level` overrides the checkpoint's default
    MEMORY_AND_DISK."""
    df = df.localCheckpoint(eager=False, storageLevel=storage_level)
    return df, int(df._jdf.queryExecution().toRdd().count())


def broadcast_if_small(
    df: DataFrame, bound: int | None = None, storage_level=None
) -> DataFrame:
    """`df` as a join side, hinted to broadcast when it holds at most
    BROADCAST_ROW_LIMIT rows — the one size guard of every data-
    dependent broadcast in the engine (dedup losers, flagged ids,
    benchmark gram digests, tombstones, band keys, candidate ids and
    pairs, connected-component labels).

    `bound` is a known row count of `df` or a tight upper bound on it:
    the counted candidate-pair watermark (the candidate ids are
    2·|pairs| rows, a pairs-with-one-side join at most |pairs|), or the
    counted edge-touched vertex set (component labels). A known bound
    decides the hint without any job — broadcast within the limit,
    shuffle above it — and the frame executes once, inside the join.
    Without a bound the frame is materialized and counted (`counted`,
    one action; `storage_level` passes through) and hinted only when
    the count is within the limit. Above the limit the join falls back
    to a shuffle, the worst case a plan without the hint always pays.
    A bound that may far exceed the true count goes through
    `loose_bound` first.

    The hint is explicit because the planner's estimates are wrong
    after checkpoints (unknown-size scans plan sort-merge joins), and
    AQE decides a runtime broadcast only after materializing the big
    side's exchange, which its byte-based coalescing can collapse to a
    single task."""
    if bound is None:
        df, bound = counted(df, storage_level)
    return F.broadcast(df) if bound <= BROADCAST_ROW_LIMIT else df


def loose_bound(bound: int | None) -> int | None:
    """A caller's upper bound that may far exceed the true row count —
    the corpus size (parquet footer / metastore stats) bounding a set
    of DISTINCT loser or flagged ids — as a `broadcast_if_small` bound:
    kept when it is within the limit (the broadcast is then safe with
    no count), None above it, so the set itself is counted."""
    return bound if bound is not None and bound <= BROADCAST_ROW_LIMIT else None
