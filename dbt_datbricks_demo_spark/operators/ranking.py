"""Distributed ranking: global ntile / row_number without funneling the
dataset through a single-partition window.

A bare ``ntile(n) over (order by v)`` moves every row to ONE task — the
classic scale-killer this module replaces. The trick: total order by
(value, unique tie-break) means a row's global rank is

    rank(row) = (# rows with smaller value) + (rank among its ties)

Both terms distribute:
  * the VALUE HISTOGRAM — groupBy(value) with map-side partial
    aggregation — is tiny (one row per distinct value), and its
    cumulative sums cost a window over that tiny relation only;
  * the TIE RANK is a window partitioned BY VALUE — spread across the
    cluster, bounded by the largest tie group.

From ranks, ntile bucket sizes are exact: n rows into k buckets puts
q+1 rows (q = n div k, r = n mod k) in the first r buckets and q in the
rest, so bucket d spans ranks [(d-1)q + min(d-1, r) + 1, dq + min(d, r)]
— byte-identical to the SQL ntile a correctness oracle computes.

ntile_report() never even ranks rows: it intersects each bucket's rank
interval with each value's rank interval (interval arithmetic on the
histogram), so the only full-data work is ONE aggregation. The
single-partition windows that remain run over the histogram — distinct
value counts, not corpus rows (bounded by max document length here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _histogram_with_offsets(df: DataFrame, value_col: str) -> DataFrame:
    """(value, cnt, cum_before, n_total): one distributed aggregation,
    then cumulative sums over the tiny per-value histogram."""
    hist = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    w_cum = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        F.col(value_col),
        F.col("_cnt"),
        F.coalesce(F.sum("_cnt").over(w_cum), F.lit(0)).alias("_cum_before"),
        F.sum("_cnt").over(w_all).alias("_n_total"),
    )


def _bucket_bounds(d: Column, n: Column, k: int) -> tuple[Column, Column]:
    """Global-rank interval [lo, hi] of ntile bucket d (1-based) over n
    rows in k buckets — exact SQL ntile sizing."""
    q, r = F.floor(n / k), n % k
    lo = (d - 1) * q + F.least(d - 1, r) + 1
    hi = d * q + F.least(d, r)
    return lo, hi


def ntile_report(
    df: DataFrame, value_col: str, k: int = 10, bucket_col: str = "bucket"
) -> DataFrame:
    """Per-bucket (count, min value, max value) of ntile(k) ordered by
    (value, any unique tie-break) — WITHOUT assigning per-row buckets.

    Which tie-break column splits a tie group across a bucket boundary
    never changes how MANY of its rows land in each bucket, so the
    report needs only the histogram: intersect each bucket's rank
    interval with each value's [cum_before+1, cum_before+cnt] span.
    One corpus-wide aggregation; everything after runs on tiny data.
    """
    hist = _histogram_with_offsets(df, value_col)
    buckets = df.sparkSession.range(1, k + 1).select(
        F.col("id").cast("int").alias(bucket_col)
    )
    d = F.col(bucket_col)
    lo, hi = _bucket_bounds(d, F.col("_n_total"), k)
    overlap = (
        F.least(hi, F.col("_cum_before") + F.col("_cnt"))
        - F.greatest(lo, F.col("_cum_before") + 1)
        + 1
    )
    return (
        hist.crossJoin(F.broadcast(buckets))
        .withColumn("_overlap", overlap)
        .filter(F.col("_overlap") > 0)
        .groupBy(bucket_col)
        .agg(
            F.sum("_overlap").alias("n_rows"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
    )
