"""Operator-inventory queries over the driver's testdata tables.

Each QuerySpec pairs a DataFrame-API builder with an ANSI-SQL oracle that
DuckDB runs on the same parquet — the driver's correctness gate
(BASELINE.md). Names map to SURVEY.md §2 operator IDs in the docstrings.

Determinism rules (the driver hashes values):
  * SUMs of fixed-decimal data (money/metric columns are exact 2-decimal)
    accumulate as DECIMAL — exact, order-independent, engine-portable —
    then cast to double for the output schema. This is also what frees
    _spread to pick a scan's partitioning from its row count and the
    core count (width = min(cores, ceil(rows / rows_per_task)), so the
    same query runs on 1 to `cores` partitions depending on the input
    and the machine): a double sum's low bits depend on that
    accumulation order; a decimal sum's don't.
  * stddev is derived from exact decimal sums (n·Σx² − (Σx)²) / n(n−1)
    instead of the engines' order-dependent Welford merges; the single
    double division + sqrt at the end is IEEE-identical everywhere.
  * averages are expressed as exact_sum / count, never round(avg, 2):
    small-group averages of 2-decimal data land exactly on .xx5 rounding
    boundaries where Spark (exact-decimal HALF_UP) and DuckDB (scaled
    std::round) disagree; sum/count is deterministic IEEE on both.
    Ratios of integers (rates/pcts) are left unrounded for the same
    reason — identical int inputs give bit-identical quotients.
  * events.ts carries nanoseconds — Spark truncates to µs, DuckDB keeps
    ns — so raw event timestamps are never emitted; they are truncated
    (date_trunc second/hour/day) first.
  * top-k sorts always carry a unique tie-break key.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.functions import surrogate_key, surrogate_key_sql
from dbt_datbricks_demo_spark.sources.testdata import footer_row_count, load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    description: str  # which SURVEY §2 operators this exercises
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check


QUERIES: dict[str, QuerySpec] = {}


def _register(name: str, description: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = QuerySpec(name, description, fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _t_rowcount(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet footers (pyarrow metadata) —
    no Spark job. The local stand-in for what a production engine reads
    from the metastore/Delta-log stats; operators that size themselves
    from a counted corpus (semdedup's adaptive quantizer, broadcast
    guards) take this instead of paying a count() scan per query."""
    import os

    return footer_row_count(os.path.join(sf_dir, f"{name}.parquet"))


def _source(sf_dir: str, name: str) -> str:
    """Path of a testdata table — the source a cached index is keyed on
    (operators/index_store.cached_build)."""
    import os

    return os.path.join(sf_dir, f"{name}.parquet")


def _stream_inputs(df: DataFrame, id_col: str, root: str, fmt: str) -> str:
    """Split `df` into 3 single-file micro-batch inputs (id % 3) under
    `root`/in, named batch0..2 in stream order, for the stream-built
    index fixtures; returns the input directory."""
    import glob
    import os
    import shutil

    input_dir = os.path.join(root, "in")
    os.makedirs(input_dir)
    for i in range(3):
        stage = os.path.join(root, f"stage{i}")
        df.filter(F.col(id_col) % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).format(fmt).save(stage)
        part = glob.glob(os.path.join(stage, f"part-*.{fmt}"))[0]
        shutil.move(part, os.path.join(input_dir, f"batch{i}.{fmt}"))
    return input_dir


# Rows that make one task's worth of work, per cost class. A spread
# adds a shuffle whose map side (scan + serialize) still runs in the
# one scan task, so it pays only when the per-row work above it is
# large against that. Set from single-task per-row costs (local[1],
# best of 5 warm runs, slope between testdata sf0.01 and sf0.1) and
# interleaved A/B runs of the width (4-core VM, local[4], 6-12 warm
# repeats, medians):
#   numeric scan, 0.7-1.5 µs/row: 100k events ran 0.83 s unspread and
#     1.01 s 2-wide; 600k lineitem ran 1.17 s 4-wide, 1.25 s 3-wide,
#     1.34 s 2-wide and 1.34 s unspread.
#   text (documents), 1.2-1.6 ms/doc: 250 documents ran 1.54 s
#     unspread and 1.48 s 4-wide at 22% more CPU; over 500 documents
#     corpus_pipeline, neardup_components, training_set_report,
#     leakage_safe_split and repetition_report all ran 6-20% slower
#     unspread than 2-wide.
#   vector (embeddings): over 500 vectors semdedup_report,
#     ann_pq_adc_topk, ann_cosine_topk, random_projection_report and
#     hard_negative_mining used 7-25% less CPU unspread than 2- or
#     4-wide, with summed wall time 3.78 s unspread, 3.82 s 2-wide and
#     3.74 s 4-wide; over 2000 vectors 4-wide was the fastest (4.50 s
#     summed wall vs 4.64 s 2-wide and 4.87 s unspread).
_ROWS_PER_TASK_NUMERIC = 150_000
_ROWS_PER_TASK_TEXT = 400
_ROWS_PER_TASK_VECTOR = 500
# tables outside the numeric class
_ROWS_PER_TASK = {
    "documents": _ROWS_PER_TASK_TEXT,
    "embeddings": _ROWS_PER_TASK_VECTOR,
}


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a load_table scan to a width sized to its work:

        width = min(defaultParallelism, ceil(rows / rows_per_task))

    rows is the footer row count load_table attaches; rows_per_task
    comes from the table's cost class (numeric scans, text documents or
    embedding vectors, see the constants above). The
    testdata tables are single-row-group parquet files → one scan
    partition → one core doing all the per-row work; when the width
    exceeds the scan's partitions the repartition shuffles only
    megabytes and spreads that work. A table with one task's worth of
    work (width 1) is left alone, and so is a multi-file table whose
    scan already has the width. Only sound because every aggregate
    here is order-independent (decimal/integer exact — see the module
    docstring)."""
    per_task = _ROWS_PER_TASK.get(df._graft_table, _ROWS_PER_TASK_NUMERIC)
    cores = df.sparkSession.sparkContext.defaultParallelism
    width = min(cores, -(-df._graft_rows // per_task))
    if df._graft_scan_partitions < width:
        return df.repartition(width)
    return df


def _stddev_exact(x, n, scale: int = 2):
    """Sample stddev from exact decimal sums: the engines' native
    stddev_samp merges partial (mean, M2) states in partition order —
    order-dependent low bits. n·Σx² − (Σx)² over exact decimals is
    order-free; one double division + sqrt at the end is IEEE-identical
    on every engine. Sums are cast to decimal(19,·) before multiplying:
    DuckDB's decimal multiply requires p1+p2 <= 38, so 19+19 sits at the
    ceiling exactly — the widest intermediates both engines accept.
    (decimal(18) overflowed at the x100 gate: count 5.38e6 × Σx²
    4.6e13 = 2.5e20 needs 21 digits; decimal(19,·)·decimal(19,·)
    products carry ~34 significant digits of headroom — enough for
    ~1e10 rows of 6-digit values per group.)"""
    xd = x.cast(f"decimal(14,{scale})")
    sx = F.sum(xd).cast(f"decimal(19,{scale})")
    sxx = F.sum(xd * xd).cast(f"decimal(19,{2 * scale})")
    nd = n.cast("decimal(19,0)")
    var_num = (nd * sxx - sx * sx).cast("double")
    return F.when(n > 1, F.round(F.sqrt(var_num / (n * (n - 1)).cast("double")), 2))


def _sql_stddev_exact(x: str, scale: int = 2) -> str:
    """DuckDB rendering of _stddev_exact over the same decimal sums."""
    xd = f"cast({x} as decimal(14,{scale}))"
    sx = f"cast(sum({xd}) as decimal(19,{scale}))"
    sxx = f"cast(sum({xd} * {xd}) as decimal(19,{2 * scale}))"
    return (
        f"case when count(*) > 1 then round(sqrt(cast("
        f"cast(count(*) as decimal(19,0)) * {sxx} - {sx} * {sx}"
        f" as double) / cast(count(*) * (count(*) - 1) as double)), 2) end"
    )


# ---------------------------------------------------------------------------
# Headline aggregate (A1/A2-class; TPC-H Q1 shape) — also the bench anchor.
# ---------------------------------------------------------------------------
@_register(
    "pricing_summary",
    "A1/A2 hash aggregation with conditional sums and guarded rates "
    "(int_device_health.sql:26-65 shape) on lineitem",
    f"""
    select
        l_returnflag,
        l_linestatus,
        count(*)                                        as row_cnt,
        cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty,
        cast(sum(cast(l_extendedprice as decimal(18,2))) as double)
                                                        as sum_base_price,
        cast(sum(cast(l_extendedprice as decimal(18,2))
                 * (1 - cast(l_discount as decimal(4,2)))) as double)
                                                        as sum_disc_price,
        cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*)
                                                        as avg_qty,
        cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / count(*)
                                                        as avg_price,
        cast(sum(cast(l_discount as decimal(4,2))) as double) / count(*)
                                                        as avg_disc,
        {_sql_stddev_exact("l_quantity")}               as stddev_qty,
        cast(sum(case when l_discount > 0.05 then 1 else 0 end) as bigint)
                                                        as high_disc_cnt,
        sum(case when l_discount > 0.05 then 1 else 0 end) * 100.0
              / nullif(count(*), 0)                     as high_disc_pct
    from lineitem
    where l_shipdate <= timestamp '1998-09-02 00:00:00'
    group by l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _spread(_t(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate") <= F.lit(dt.datetime(1998, 9, 2))
    )
    n = F.count(F.lit(1))
    qd = F.col("l_quantity").cast("decimal(18,2)")
    ed = F.col("l_extendedprice").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(4,2)")
    high = F.when(F.col("l_discount") > 0.05, 1).otherwise(0)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        n.alias("row_cnt"),
        F.sum(qd).cast("double").alias("sum_qty"),
        F.sum(ed).cast("double").alias("sum_base_price"),
        F.sum(ed * (F.lit(1) - dd)).cast("double").alias("sum_disc_price"),
        (F.sum(qd).cast("double") / n).alias("avg_qty"),
        (F.sum(ed).cast("double") / n).alias("avg_price"),
        (F.sum(dd).cast("double") / n).alias("avg_disc"),
        _stddev_exact(F.col("l_quantity"), n).alias("stddev_qty"),
        F.sum(high).alias("high_disc_cnt"),
        (F.sum(high) * 100.0 / F.nullif(n, F.lit(0))).alias("high_disc_pct"),
    )


# ---------------------------------------------------------------------------
# Projection / rename / cast (P1-P3, §2.2)
# ---------------------------------------------------------------------------
@_register(
    "stage_projection",
    "P1-P3 rename+cast+lower/trim+derived-flag staging projection "
    "(stg_sensor_readings.sql:15-26 shape) on lineitem",
    """
    select
        l_orderkey                                   as order_key,
        l_linenumber                                 as line_number,
        lower(trim(l_returnflag))                    as return_flag,
        cast(l_quantity as double)                   as quantity,
        cast(l_shipdate as date)                     as ship_date,
        l_extendedprice * (1 - l_discount)           as net_price,
        l_tax is not null and l_tax > 0.05           as is_high_tax
    from lineitem
    """,
)
def stage_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no _spread: a pure row-level projection gains nothing from a
    # repartition — the shuffle moves full-width rows to save trivial work
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.lower(F.trim(F.col("l_returnflag"))).alias("return_flag"),
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (F.col("l_tax").isNotNull() & (F.col("l_tax") > 0.05)).alias("is_high_tax"),
    )


# ---------------------------------------------------------------------------
# Window dedup keep-latest (W1 + F2, §2.6)
# ---------------------------------------------------------------------------
@_register(
    "dedup_keep_latest",
    "W1 row_number keep-latest-per-key dedup "
    "(int_sensor_readings_cleaned.sql:38-48,102) on events: latest event "
    "per (user_id, event_type)",
    """
    -- ts truncated to µs so tie-breaking matches Spark's µs timestamps
    with events_us as (
        select * replace (date_trunc('microseconds', ts) as ts) from events
    )
    select user_id, event_type, event_id, value,
           date_trunc('second', ts) as ts_sec
    from (
        select *, row_number() over (
            partition by user_id, event_type
            order by ts desc, event_id desc
        ) as rn
        from events_us
    )
    where rn = 1
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", "event_id", "value",
            F.date_trunc("second", F.col("ts")).alias("ts_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Hourly rollup (A1, §2.5) — the int_device_health shape on events
# ---------------------------------------------------------------------------
@_register(
    "hourly_rollup",
    "A1 hourly agg with expression group key, stddev_samp, conditional sum, "
    "guarded rate (int_device_health.sql:26-65) on events",
    f"""
    select
        event_type,
        date_trunc('hour', ts)                          as event_hour,
        count(*)                                        as event_count,
        cast(sum(cast(value as decimal(18,2))) as double) / count(*)
                                                        as avg_value,
        round(min(value), 2)                            as min_value,
        round(max(value), 2)                            as max_value,
        {_sql_stddev_exact("value")}                    as stddev_value,
        cast(sum(case when value > 250 then 1 else 0 end) as bigint) as high_count,
        sum(case when value > 250 then 1 else 0 end) * 100.0
              / nullif(count(*), 0)                     as high_rate_pct,
        date_trunc('second', max(ts))                   as latest_ts_sec
    from events
    group by event_type, date_trunc('hour', ts)
    """,
)
def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    n = F.count(F.lit(1))
    vd = F.col("value").cast("decimal(18,2)")
    high = F.when(F.col("value") > 250, 1).otherwise(0)
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("event_hour")
    ).agg(
        n.alias("event_count"),
        (F.sum(vd).cast("double") / n).alias("avg_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        _stddev_exact(F.col("value"), n).alias("stddev_value"),
        F.sum(high).alias("high_count"),
        (F.sum(high) * 100.0 / F.nullif(n, F.lit(0))).alias("high_rate_pct"),
        F.date_trunc("second", F.max("ts")).alias("latest_ts_sec"),
    )


# ---------------------------------------------------------------------------
# Daily summary with composite-key left join + health score
# (A2+A3+J3 + health formula, §2.5/§2.4 — the fct_device_summary shape)
# ---------------------------------------------------------------------------
@_register(
    "daily_summary_join",
    "A2+A3 daily aggs joined on composite key (device_id, date) with "
    "coalesce/nullif health-score math (fct_device_summary.sql) on events",
    f"""
    with daily_activity as (
        select
            user_id,
            cast(date_trunc('day', ts) as date)          as activity_date,
            count(*)                                     as total_events,
            cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint)
                                                         as error_events,
            sum(case when event_type = 'error' then 1 else 0 end) * 100.0
                  / nullif(count(*), 0)                  as error_rate_pct,
            cast(sum(cast(value as decimal(18,2))) as double) as total_value
        from events
        group by user_id, cast(date_trunc('day', ts) as date)
    ),
    daily_purchases as (
        select
            user_id,
            cast(date_trunc('day', ts) as date)          as purchase_date,
            count(*)                                     as purchase_count,
            cast(sum(case when value > 100
                          then cast(value as decimal(18,2)) end) as double)
                / nullif(sum(case when value > 100 then 1 else 0 end), 0)
                                                         as avg_big_purchase
        from events
        where event_type = 'purchase'
        group by user_id, cast(date_trunc('day', ts) as date)
    )
    select
        {surrogate_key_sql("a.user_id", "a.activity_date")} as user_day_key,
        a.user_id, a.activity_date, a.total_events, a.error_events,
        a.error_rate_pct, a.total_value,
        coalesce(p.purchase_count, 0) as purchase_count,
        p.avg_big_purchase,
        round(greatest(0, 100 - (coalesce(p.purchase_count, 0) * 0)
              - (a.error_rate_pct * 0.5)), 0) as activity_score,
        case
            when a.error_events > 3 then 'critical'
            when a.error_events > 0 then 'at_risk'
            when a.error_rate_pct > 10 then 'degraded'
            else 'healthy'
        end as activity_category
    from daily_activity a
    left join daily_purchases p
      on a.user_id = p.user_id and a.activity_date = p.purchase_date
    """,
)
def daily_summary_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    day = F.date_trunc("day", F.col("ts")).cast("date")
    err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    vd = F.col("value").cast("decimal(18,2)")

    activity = ev.groupBy(F.col("user_id"), day.alias("activity_date")).agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum(err).alias("error_events"),
        (F.sum(err) * 100.0 / F.nullif(F.count(F.lit(1)), F.lit(0))).alias(
            "error_rate_pct"
        ),
        F.sum(vd).cast("double").alias("total_value"),
    )
    big = F.when(F.col("value") > 100, vd)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id"), day.alias("purchase_date"))
        .agg(
            F.count(F.lit(1)).alias("purchase_count"),
            (
                F.sum(big).cast("double")
                / F.nullif(F.sum(F.when(F.col("value") > 100, 1).otherwise(0)), F.lit(0))
            ).alias("avg_big_purchase"),
        )
    )
    a, p = activity.alias("a"), purchases.alias("p")
    joined = a.join(
        p,
        (F.col("a.user_id") == F.col("p.user_id"))
        & (F.col("a.activity_date") == F.col("p.purchase_date")),
        "left",
    )
    pc = F.coalesce(F.col("p.purchase_count"), F.lit(0))
    return joined.select(
        surrogate_key(F.col("a.user_id"), F.col("a.activity_date")).alias(
            "user_day_key"
        ),
        F.col("a.user_id").alias("user_id"),
        F.col("a.activity_date").alias("activity_date"),
        F.col("a.total_events").alias("total_events"),
        F.col("a.error_events").alias("error_events"),
        F.col("a.error_rate_pct").alias("error_rate_pct"),
        F.col("a.total_value").alias("total_value"),
        pc.alias("purchase_count"),
        F.col("p.avg_big_purchase").alias("avg_big_purchase"),
        F.round(
            F.greatest(
                F.lit(0), F.lit(100) - (pc * 0) - (F.col("a.error_rate_pct") * 0.5)
            ),
            0,
        ).alias("activity_score"),
        F.when(F.col("a.error_events") > 3, "critical")
        .when(F.col("a.error_events") > 0, "at_risk")
        .when(F.col("a.error_rate_pct") > 10, "degraded")
        .otherwise("healthy")
        .alias("activity_category"),
    )


# ---------------------------------------------------------------------------
# Broadcast enrichment join (J1/J2, §2.4)
# ---------------------------------------------------------------------------
@_register(
    "enrich_broadcast",
    "J1 fact ⟕ broadcast(dim) enrichment "
    "(int_sensor_readings_cleaned.sql:99-101) — lineitem ⟕ part",
    """
    select
        l.l_orderkey as order_key,
        l.l_linenumber as line_number,
        l.l_partkey as part_key,
        p.p_brand as brand,
        p.p_type as part_type,
        l.l_quantity * p.p_retailprice as retail_value
    from lineitem l
    left join part p on l.l_partkey = p.p_partkey
    """,
)
def enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _spread(_t(spark, sf_dir, "lineitem"))
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_retailprice"
    )
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_partkey").alias("part_key"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("part_type"),
        (F.col("l_quantity") * F.col("p_retailprice")).alias("retail_value"),
    )


# ---------------------------------------------------------------------------
# Anti-join / referential integrity (J5/J6/F8, §2.4)
# ---------------------------------------------------------------------------
@_register(
    "orphan_anti_join",
    "J5 orphan detection via left anti-join "
    "(tests/assert_no_orphan_alerts.sql:7-13): orders without a customer",
    """
    select o.o_orderkey as order_key, o.o_custkey as cust_key
    from orders o
    left join customer c on o.o_custkey = c.c_custkey
    where c.c_custkey is null
    """,
)
def orphan_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).select(
        F.col("o_orderkey").alias("order_key"), F.col("o_custkey").alias("cust_key")
    )


# ---------------------------------------------------------------------------
# Set operations (U1/U2, §2.8)
# ---------------------------------------------------------------------------
@_register(
    "union_report",
    "U1 UNION ALL layer row-count report (databricks_data_flow.sql:164-177)",
    """
    select 'customer' as table_name, count(*) as row_count from customer
    union all select 'orders', count(*) from orders
    union all select 'lineitem', count(*) from lineitem
    union all select 'part', count(*) from part
    union all select 'supplier', count(*) from supplier
    union all select 'events', count(*) from events
    """,
)
def union_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def one(name: str) -> DataFrame:
        return (
            _t(spark, sf_dir, name)
            .agg(F.count(F.lit(1)).alias("row_count"))
            .select(F.lit(name).alias("table_name"), "row_count")
        )

    out = one("customer")
    for name in ("orders", "lineitem", "part", "supplier", "events"):
        out = out.unionByName(one(name))
    return out


@_register(
    "except_inactive_customers",
    "U2 EXCEPT/MINUS (databricks_data_flow.sql:110): customers with no orders",
    """
    select c_custkey as cust_key from customer
    except
    select o_custkey from orders
    """,
)
def except_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key")
    )
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("cust_key"))
    return customer.subtract(orders)  # subtract ≡ EXCEPT (distinct)


# ---------------------------------------------------------------------------
# Sort / limit / top-k (O1-O3, §2.7)
# ---------------------------------------------------------------------------
@_register(
    "topk_orders",
    "O1-O3 global sort desc nulls last + LIMIT "
    "(iot_eda_analysis.sql:161, databricks_data_flow.sql:237) with unique "
    "tie-break for determinism",
    """
    select o_orderkey as order_key, o_custkey as cust_key,
           o_totalprice as total_price, o_orderpriority as priority
    from orders
    order by o_totalprice desc nulls last, o_orderkey
    limit 50
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey"))
        .limit(50)
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_custkey").alias("cust_key"),
            F.col("o_totalprice").alias("total_price"),
            F.col("o_orderpriority").alias("priority"),
        )
    )


# ---------------------------------------------------------------------------
# HAVING + count distinct (F7/A7, §2.3/§2.5)
# ---------------------------------------------------------------------------
@_register(
    "having_rollup",
    "F7/A7 post-aggregation HAVING + count(distinct) "
    "(iot_eda_analysis.sql:130-141, databricks_data_flow.sql:83-99)",
    """
    select
        event_type,
        count(*) as event_count,
        count(distinct user_id) as distinct_users,
        cast(sum(case when value > 300 then 1 else 0 end) as bigint) as big_count,
        sum(case when value > 300 then 1 else 0 end) * 100.0
              / nullif(count(*), 0) as big_pct
    from events
    group by event_type
    having sum(case when value > 300 then 1 else 0 end) > 0
    """,
)
def having_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = F.when(F.col("value") > 300, 1).otherwise(0)
    return (
        _spread(_t(spark, sf_dir, "events"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.countDistinct("user_id").alias("distinct_users"),
            F.sum(big).alias("big_count"),
            (F.sum(big) * 100.0 / F.nullif(F.count(F.lit(1)), F.lit(0))).alias(
                "big_pct"
            ),
        )
        .filter(F.col("big_count") > 0)
    )


# ---------------------------------------------------------------------------
# Surrogate keys (§2.9 hash) — dbt_utils md5 byte-compat incl. null sentinel
# ---------------------------------------------------------------------------
@_register(
    "surrogate_keys",
    "dbt_utils.generate_surrogate_key md5 byte-compat incl. null sentinel "
    "(int_device_health.sql:29-30, dim_devices.sql:37-38)",
    f"""
    select
        p_partkey as part_key,
        {surrogate_key_sql("p_partkey", "p_brand", "p_size")} as part_sk,
        {surrogate_key_sql("nullif(p_brand, 'Brand#13')")} as nullable_sk
    from part
    """,
)
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("part_key"),
        surrogate_key("p_partkey", "p_brand", "p_size").alias("part_sk"),
        surrogate_key(F.nullif(F.col("p_brand"), F.lit("Brand#13"))).alias(
            "nullable_sk"
        ),
    )


# ---------------------------------------------------------------------------
# CASE expressions (§2.9 conditional): simple + searched
# ---------------------------------------------------------------------------
@_register(
    "case_scoring",
    "simple CASE (severity→score, int_alerts_enriched.sql:64-69) + searched "
    "CASE (health classification, fct_hourly_metrics.sql:47-52) on orders",
    """
    select
        o_orderkey as order_key,
        case o_orderpriority
            when '1-URGENT' then 3 when '2-HIGH' then 2
            when '3-MEDIUM' then 1 else 0
        end as priority_score,
        case
            when o_totalprice >= 400000 then 'jumbo'
            when o_totalprice >= 200000 then 'large'
            when o_totalprice > 0 then 'normal'
            else 'empty'
        end as size_class,
        case when o_orderstatus = 'F' then true else false end as is_finished
    from orders
    """,
)
def case_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _spread(_t(spark, sf_dir, "orders"))
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 3)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(0)
        .alias("priority_score"),
        F.when(F.col("o_totalprice") >= 400000, "jumbo")
        .when(F.col("o_totalprice") >= 200000, "large")
        .when(F.col("o_totalprice") > 0, "normal")
        .otherwise("empty")
        .alias("size_class"),
        F.when(F.col("o_orderstatus") == "F", True).otherwise(False).alias(
            "is_finished"
        ),
    )


# ---------------------------------------------------------------------------
# Date/time function surface (§2.9): datediff, date_trunc, to_date, hour,
# dayofweek (Spark Sun=1 vs DuckDB Sun=0 → +1 in the oracle), epoch seconds
# ---------------------------------------------------------------------------
@_register(
    "date_functions",
    "date/time scalar surface (stg_devices.sql:26, fct_hourly_metrics.sql:42-44, "
    "int_alerts_enriched.sql:54-61)",
    """
    select
        o_orderkey as order_key,
        cast(o_orderdate as date) as order_date,
        datediff('day', cast(o_orderdate as date), date '2002-01-01') as days_to_2002,
        cast(date_trunc('month', o_orderdate) as date) as order_month,
        hour(o_orderdate) as order_hour,
        dayofweek(o_orderdate) + 1 as order_dow,
        cast(epoch(o_orderdate) as bigint) as order_epoch,
        cast(epoch(o_orderdate + interval 90 day) - epoch(o_orderdate) as bigint) / 60
            as interval_minutes
    from orders
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _spread(_t(spark, sf_dir, "orders"))
    od = F.col("o_orderdate")
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        od.cast("date").alias("order_date"),
        F.datediff(F.lit(dt.date(2002, 1, 1)), od.cast("date")).alias("days_to_2002"),
        F.date_trunc("month", od).cast("date").alias("order_month"),
        F.hour(od).alias("order_hour"),
        F.dayofweek(od).alias("order_dow"),
        F.unix_timestamp(od).alias("order_epoch"),
        (
            (
                F.unix_timestamp(od + F.expr("interval 90 days"))
                - F.unix_timestamp(od)
            )
            / 60
        ).alias("interval_minutes"),
    )


# ---------------------------------------------------------------------------
# Incremental watermark filter (F1/A5, §2.3): scalar max collected
# driver-side, pushed back as a literal (enables file skipping)
# ---------------------------------------------------------------------------
@_register(
    "watermark_filter",
    "F1 incremental watermark: ingested_at > (select max(...) from this) "
    "(int_sensor_readings_cleaned.sql:24-27) — strict >, ties drop by design",
    """
    select event_type, count(*) as recent_events,
           cast(sum(cast(value as decimal(18,2))) as double) as recent_value
    from events
    where date_trunc('microseconds', ts) >
          (select date_trunc('day', max(ts)) - interval 7 day from events)
    group by event_type
    """,
)
def watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    max_ts = ev.agg(F.max("ts").alias("m")).first()["m"]
    boundary = max_ts.replace(
        hour=0, minute=0, second=0, microsecond=0
    ) - dt.timedelta(days=7)
    return (
        ev.filter(F.col("ts") > F.lit(boundary))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("recent_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("recent_value"),
        )
    )


# ---------------------------------------------------------------------------
# value_in_range generic test shape (F9, §2.3)
# ---------------------------------------------------------------------------
@_register(
    "value_in_range_check",
    "F9 range-violation test (macros/test_value_in_range.sql:10-23) on "
    "lineitem quantities outside [5, 45]",
    """
    select l_quantity as invalid_value, count(*) as occurrences
    from lineitem
    where l_quantity is not null and (l_quantity < 5 or l_quantity > 45)
    group by l_quantity
    """,
)
def value_in_range_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.testing import value_in_range

    return value_in_range(_spread(_t(spark, sf_dir, "lineitem")), "l_quantity", 5, 45)


# ---------------------------------------------------------------------------
# Threshold anomaly flags (the int_sensor_readings_cleaned CASE, §2.9)
# ---------------------------------------------------------------------------
@_register(
    "anomaly_flags",
    "threshold CASE + missing-value flag "
    "(int_sensor_readings_cleaned.sql:68-95) on events, aggregated by flag",
    """
    select event_type, is_anomaly, count(*) as n,
           round(min(value), 2) as min_v, round(max(value), 2) as max_v
    from (
        select event_type, value,
            case
                when event_type = 'purchase' and value is not null
                     and (value > 300 or value < 1) then true
                when event_type = 'error' and value is not null
                     and value > 250 then true
                else false
            end as is_anomaly
        from events
    )
    group by event_type, is_anomaly
    """,
)
def anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    v, t = F.col("value"), F.col("event_type")
    flag = (
        F.when((t == "purchase") & v.isNotNull() & ((v > 300) | (v < 1)), True)
        .when((t == "error") & v.isNotNull() & (v > 250), True)
        .otherwise(False)
    )
    return (
        ev.select("event_type", "value", flag.alias("is_anomaly"))
        .groupBy("event_type", "is_anomaly")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction (beyond the reference — props is a JSON string)
# ---------------------------------------------------------------------------
@_register(
    "json_extract_agg",
    "JSON field extraction (get_json_object) + aggregation — extension "
    "beyond the reference's scalar surface (SURVEY §2.9: JSON absent)",
    """
    select event_type,
           sum(cast(json_extract_string(props, '$.k') as int)) * 1.0
               / count(json_extract_string(props, '$.k')) as avg_k,
           max(cast(json_extract_string(props, '$.k') as int)) as max_k
    from events
    group by event_type
    """,
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        (F.sum(k) * 1.0 / F.count(k)).alias("avg_k"), F.max(k).alias("max_k")
    )


# ---------------------------------------------------------------------------
# Window-function surface beyond the reference's lone row_number (§2.6
# notes lag/lead/rank/frames absent) — extension: lag, lead, rank, and a
# frame-spec moving average, all with deterministic composite ordering
# ---------------------------------------------------------------------------
@_register(
    "window_functions",
    "extension past §2.6: lag/lead over (user, time), rank per event_type, "
    "3-row moving average via an explicit frame; deterministic tie-breaks "
    "on event_id, decimal-exact moving sum",
    """
    with ev as (select * replace (date_trunc('microseconds', ts) as ts)
                from events)
    select
        event_id, user_id,
        date_trunc('second', ts) as ts_sec,
        value,
        lag(value) over w_user as prev_value,
        lead(value) over w_user as next_value,
        rank() over (partition by event_type
                     order by value desc, event_id) as type_value_rank,
        cast(sum(cast(value as decimal(18,2)))
             over (partition by user_id order by ts, event_id
                   rows between 2 preceding and current row) as double)
          / count(*) over (partition by user_id order by ts, event_id
                           rows between 2 preceding and current row)
          as moving_avg_3
    from ev
    window w_user as (partition by user_id order by ts, event_id)
    """,
)
def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_frame = w_user.rowsBetween(-2, Window.currentRow)
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    vd = F.col("value").cast("decimal(18,2)")
    return ev.select(
        "event_id", "user_id",
        F.date_trunc("second", F.col("ts")).alias("ts_sec"),
        "value",
        F.lag("value").over(w_user).alias("prev_value"),
        F.lead("value").over(w_user).alias("next_value"),
        F.rank().over(w_rank).alias("type_value_rank"),
        (
            F.sum(vd).over(w_frame).cast("double")
            / F.count(F.lit(1)).over(w_frame)
        ).alias("moving_avg_3"),
    )


# ---------------------------------------------------------------------------
# ROLLUP hierarchy totals (absent from the reference's aggregations —
# SURVEY §2.5 notes no grouping sets / cube / rollup anywhere)
# ---------------------------------------------------------------------------
@_register(
    "rollup_report",
    "extension past §2.5: GROUP BY ROLLUP(event_type, month) — per-month, "
    "per-type and grand totals in one pass, decimal-exact sums",
    """
    select
        event_type,
        cast(date_trunc('month', ts) as date) as event_month,
        count(*) as n_events,
        cast(sum(cast(value as decimal(18,2))) as double) as total_value
    from events
    group by rollup(event_type, cast(date_trunc('month', ts) as date))
    """,
)
def rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    month = F.date_trunc("month", F.col("ts")).cast("date")
    return ev.rollup(F.col("event_type"), month.alias("event_month")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "total_value"
        ),
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization — the classic event-pipeline operator, pure
# window functions (no state, no UDF): new session when a user is idle
# > 30 minutes; one shuffle on user_id
# ---------------------------------------------------------------------------
@_register(
    "sessionize_events",
    "gap-based sessionization (30-min idle): lag + running sum of "
    "boundary flags assigns session ids, then per-session aggregates — "
    "single hash exchange on user_id, integer-µs gap math",
    """
    with ev as (select * replace (date_trunc('microseconds', ts) as ts)
                from events),
    flagged as (
        select user_id, event_id, ts, value,
               case when epoch_us(ts) - lag(epoch_us(ts)) over w
                         > 1800000000
                         or lag(epoch_us(ts)) over w is null
                    then 1 else 0 end as is_new
        from ev
        window w as (partition by user_id order by ts, event_id)
    ),
    sessions as (
        select *, sum(is_new) over (partition by user_id
                                    order by ts, event_id
                                    rows unbounded preceding) as session_seq
        from flagged
    )
    select user_id, cast(session_seq as bigint) as session_seq,
           count(*) as n_events,
           date_trunc('second', min(ts)) as session_start_sec,
           date_trunc('second', max(ts)) as session_end_sec,
           cast(sum(cast(value as decimal(18,2))) as double) as session_value
    from sessions
    group by user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    is_new = F.when(
        (us - F.lag(us).over(w) > 1_800_000_000)
        | F.lag(us).over(w).isNull(),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = ev.select(
        "user_id", "event_id", "ts", "value", is_new.alias("is_new")
    ).withColumn("session_seq", F.sum("is_new").over(run))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_trunc("second", F.min("ts")).alias("session_start_sec"),
        F.date_trunc("second", F.max("ts")).alias("session_end_sec"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "session_value"
        ),
    )


# ---------------------------------------------------------------------------
# Exact percentiles — Spark percentile() and DuckDB quantile_cont are
# both linear-interpolation over the sorted set: bit-identical
# ---------------------------------------------------------------------------
@_register(
    "percentile_report",
    "exact p50/p95/max per event_type: Spark percentile() vs DuckDB "
    "quantile_cont — identical linear interpolation, no approximation",
    """
    select event_type,
           quantile_cont(value, 0.5) as p50_value,
           quantile_cont(value, 0.95) as p95_value,
           round(max(value), 2) as max_value
    from events
    group by event_type
    """,
)
def percentile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50_value"),
        F.expr("percentile(value, 0.95)").alias("p95_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Pivot (long → wide) — the EAV/long time-series model (SURVEY §1.1)
# reshaped to one column per category; conditional-agg equivalent SQL
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_register(
    "pivot_user_activity",
    "long→wide pivot: per-user total value by event_type as one column "
    "each (groupBy().pivot() with explicit categories — no extra pass to "
    "discover them); decimal-exact sums",
    f"""
    select user_id,
           {', '.join(
               f"cast(sum(case when event_type = '{t}' "
               f"then cast(value as decimal(18,2)) end) as double) as {t}"
               for t in _EVENT_TYPES)}
    from events
    group by user_id
    """,
)
def pivot_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    vd = F.col("value").cast("decimal(18,2)")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(vd).cast("double"))
    )


# ---------------------------------------------------------------------------
# Unpivot / melt (wide → long)
# ---------------------------------------------------------------------------
@_register(
    "unpivot_part_attrs",
    "wide→long unpivot/melt of part's numeric attributes into "
    "(attr, val) rows — DataFrame.unpivot, UNION ALL oracle",
    """
    select p_partkey as part_key, 'p_size' as attr,
           cast(p_size as double) as val from part
    union all
    select p_partkey, 'p_retailprice', cast(p_retailprice as double) from part
    """,
)
def unpivot_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey"),
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="attr",
        valueColumnName="val",
    ).select(F.col("p_partkey").alias("part_key"), "attr", "val")


# ---------------------------------------------------------------------------
# Sketches — the approximate path for 100 TB interactive work. Rows-only
# check: HLL/KLL estimates are engine-specific by design (the exact
# counterparts above are the correctness anchors)
# ---------------------------------------------------------------------------
@_register(
    "sketch_report",
    "approximate aggregates per event_type — HyperLogLog++ distinct "
    "users (rsd=0.01) and KLL-style approx p50/p95 — converted (round "
    "5) to a TOLERANCE-MODE oracle: the exact distinct count is "
    "hash-compared against DuckDB, and each estimate is certified "
    "in-plan against its error band. HLL must sit within 5% relative "
    "of the exact distinct (5 sigma at rsd 0.01); each quantile "
    "estimate is certified by RANK COUNTING — a second scan counts "
    "values <= the estimate and the count must land inside the "
    "±0.04-rank window — never by an exact percentile (which buffers "
    "every group value and is exactly what sketches exist to avoid). "
    "The oracle emits literal TRUE for the band booleans, so an "
    "estimate leaving its bound hash-mismatches (measured: relerr <= "
    "0.0067 and both rank counts mid-band at sf0.001/0.01/0.1)",
    """
    select event_type,
           cast(count(distinct user_id) as bigint) as exact_users,
           true as approx_users_ok,
           true as p50_ok,
           true as p95_ok
    from events
    group by event_type
    order by event_type
    """,
)
def sketch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events"))
    # pass 1: sketches in one aggregation, the exact distinct in a
    # SEPARATE one joined back on the 5-row key — mixing a distinct
    # aggregate with sketch aggregates makes Spark plan the
    # Expand-duplicate-every-row shape (measured 10.9 s vs 1.4 s + 0.9 s
    # split at sf0.1). 5 result rows — eagerly checkpointed so the
    # join-back and the output both read it without recomputing the
    # sketch pass
    # accuracy 2000 (optimization round 12): the KLL rank-error bound is
    # 1/accuracy = 5e-4, 80x inside the ±0.04 rank window the in-plan
    # certification enforces (and scale-independent — rank error is
    # relative), so the declared output (exact counts + certified TRUE
    # bands) is unchanged at every SF while the per-partition summary
    # state shrinks 5x: the sketch stage measured 22.5 s task-sum +
    # 2.8 s GC at accuracy 10000 vs ~5 s at 2000, and the single-task
    # final merge of 160 partial states drops from ~470 ms to ~100 ms.
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.percentile_approx("value", 0.5, 2_000).alias("approx_p50"),
        F.percentile_approx("value", 0.95, 2_000).alias("approx_p95"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    s1 = sketches.join(F.broadcast(exact), "event_type").localCheckpoint(
        eager=True
    )
    # pass 2: scan-bound rank counting against the estimates (broadcast
    # 5-row threshold table; map-side partial agg)
    ranks = (
        ev.join(
            F.broadcast(
                s1.select("event_type", "approx_p50", "approx_p95")
            ),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("approx_p50"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_le_p50"),
            F.sum(F.when(F.col("value") <= F.col("approx_p95"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_le_p95"),
        )
    )
    return (
        s1.join(F.broadcast(ranks), "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users")) * 100
                <= F.col("exact_users") * 5
            ).alias("approx_users_ok"),
            (F.col("n_le_p50") * 100).between(
                F.col("n") * 46, F.col("n") * 54
            ).alias("p50_ok"),
            (F.col("n_le_p95") * 100).between(
                F.col("n") * 91, F.col("n") * 99
            ).alias("p95_ok"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Range (point-in-interval) join via time binning — the scale path for
# inequality joins (operators/rangejoin.py); plain inequality-join oracle
# ---------------------------------------------------------------------------
@_register(
    "range_join_order_events",
    "keyed point-in-interval join: events inside each order's 7-day "
    "window for the same id, binned to an equi-join on (key, bin) — "
    "never the O(L×R) nested loop; per-order event counts",
    """
    with ev as (select * replace (date_trunc('microseconds', ts) as ts)
                from events)
    select o.o_orderkey as order_key,
           count(*) as n_events_in_week,
           cast(sum(cast(e.value as decimal(18,2))) as double) as window_value
    from orders o
    join ev e
      on e.user_id = o.o_custkey
     and e.ts >= o.o_orderdate
     and e.ts < o.o_orderdate + interval 7 day
    group by o.o_orderkey
    """,
)
def range_join_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators.rangejoin import point_in_interval_join

    ev = _spread(_t(spark, sf_dir, "events")).select(
        F.col("user_id").alias("join_id"), "ts", "value"
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("join_id"),
        "o_orderkey",
        F.col("o_orderdate").alias("win_lo"),
        (F.col("o_orderdate") + F.expr("interval 7 days")).alias("win_hi"),
    )
    joined = point_in_interval_join(
        ev, orders, on="join_id", point_time="ts",
        interval_lo="win_lo", interval_hi="win_hi",
    )
    return joined.groupBy(F.col("o_orderkey").alias("order_key")).agg(
        F.count(F.lit(1)).alias("n_events_in_week"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "window_value"
        ),
    )


# ---------------------------------------------------------------------------
# INTERSECT — completes the set-op family (§2.8 notes it absent from the
# reference alongside the used UNION ALL / EXCEPT)
# ---------------------------------------------------------------------------
@_register(
    "intersect_buyers_with_events",
    "INTERSECT distinct: ids that both placed an order and emitted an "
    "event (DataFrame.intersect ≡ INTERSECT)",
    """
    select o_custkey as id from orders
    intersect
    select user_id from events
    """,
)
def intersect_buyers_with_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    events = _t(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    return orders.intersect(events)


# ---------------------------------------------------------------------------
# Semi-join — noted absent in the reference (§2.4); completes the join
# family alongside the anti-join
# ---------------------------------------------------------------------------
@_register(
    "semi_join_active_customers",
    "left semi-join: customers that placed at least one order, "
    "projected from the customer side only (EXISTS shape)",
    """
    select c.c_custkey as cust_key, c.c_mktsegment as segment
    from customer c
    where exists (select 1 from orders o where o.o_custkey = c.c_custkey)
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_mktsegment").alias("segment"),
    )
