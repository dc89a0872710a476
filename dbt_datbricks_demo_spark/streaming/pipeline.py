"""Structured Streaming bronze→silver pipeline (reference operator S8).

The reference documents — but does not implement — a production streaming
ingestion path: Auto Loader cloudFiles → bronze Delta append with DLT
row-level expectations (databricks_data_flow.sql:289-322). This module is
the Spark-native realization, mapping the batch incremental protocol onto
streaming primitives (SURVEY.md §2.10):

  batch operator                      streaming equivalent
  ----------------------------------  -------------------------------------
  F1 max-watermark filter             withWatermark("ingested_at", ...)
  W1 keep-latest dedup per key        dropDuplicates(["reading_id"]) within
                                      the watermark horizon
  S6 incremental MERGE                foreachBatch keyed upsert
  A1 hourly aggregation               tumbling window("reading_ts", "1 hour")

Scale notes: dedup state is keyed by reading_id and bounded by the event
watermark, so state size is |keys within horizon|, not the stream's
history. The enrichment join is stream-static (broadcast dim) — no state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.models import run_sql
from dbt_datbricks_demo_spark.models.intermediate import ANOMALY_CASE
from dbt_datbricks_demo_spark.plans.materialize import (
    parquet_merge_upsert,
    swap_write,
    table_exists,
)
from dbt_datbricks_demo_spark.sources.seeds import SEED_SCHEMAS


def read_readings_stream(
    spark: SparkSession, input_dir: str, fmt: str = "csv"
) -> DataFrame:
    """File-source stream of raw sensor readings (the OSS analog of Auto
    Loader's cloudFiles: new files in the directory become micro-batches)."""
    reader = (
        spark.readStream.format(fmt)
        .schema(SEED_SCHEMAS["raw_sensor_readings"])
        .option("maxFilesPerTrigger", 1)
    )
    if fmt == "csv":
        reader = reader.option("header", True).option(
            "timestampFormat", "yyyy-MM-dd HH:mm:ss"
        )
    return reader.load(input_dir)


def expect_or_drop(df: DataFrame, expectations: dict[str, str]) -> DataFrame:
    """DLT-style row-level expectations (databricks_data_flow.sql:308-322):
    drop rows violating any named SQL predicate."""
    out = df
    for _name, predicate in expectations.items():
        out = out.filter(F.expr(predicate))
    return out


def sensor_stream_cleaned(
    stream: DataFrame,
    devices: DataFrame,
    cfg: RunConfig,
    late_threshold: str = "1 hour",
    watermark_on: str = "ingested_at",
) -> DataFrame:
    """Streaming int_sensor_readings_cleaned: watermark, in-horizon key
    dedup, broadcast device enrichment, quality/anomaly flags.

    watermark_on: ingest time bounds dedup state for the merge sink;
    pass "reading_ts" when chaining into the windowed aggregation —
    Spark allows only ONE watermark definition per query, and the window
    needs it on event time.
    """
    deduped = (
        stream.withWatermark(watermark_on, late_threshold)
        .dropDuplicates(["reading_id"])
    )
    d = F.broadcast(
        devices.select(
            "device_id", "device_name", "device_type", "plant_location",
            "factory_zone", "manufacturer",
        )
    )
    enriched = deduped.join(d, on="device_id", how="left").select(
        "reading_id", "device_id",
        F.lower(F.trim(F.col("metric_name"))).alias("metric_name"),
        F.col("metric_value").cast("double").alias("metric_value"),
        "reading_ts", "ingested_at", "device_name", "device_type",
        "plant_location", "factory_zone", "manufacturer",
    )
    # the batch model's anomaly CASE, its thresholds bound from cfg
    return run_sql(
        "SELECT *, metric_value IS NULL AS is_missing_value, "
        f"{ANOMALY_CASE} AS is_anomaly FROM {{enriched}}",
        cfg, enriched=enriched,
    )


def hourly_health_stream(cleaned: DataFrame) -> DataFrame:
    """Streaming int_device_health: tumbling 1-hour event-time windows.
    Append-mode output finalizes each window once the watermark passes.

    Expects the upstream to carry a watermark on reading_ts (build the
    cleaned stream with watermark_on="reading_ts") — redefining the
    watermark mid-query is disallowed by Spark.
    """
    anomaly_int = F.when(F.col("is_anomaly"), 1).otherwise(0)
    return (
        cleaned.filter(~F.col("is_missing_value"))
        .groupBy(
            F.window("reading_ts", "1 hour").alias("hour_window"),
            "device_id", "metric_name",
        )
        .agg(
            F.count(F.lit(1)).alias("reading_count"),
            F.round(F.avg("metric_value"), 2).alias("avg_value"),
            F.round(F.min("metric_value"), 2).alias("min_value"),
            F.round(F.max("metric_value"), 2).alias("max_value"),
            F.sum(anomaly_int).alias("anomaly_count"),
        )
        .select(
            F.col("hour_window.start").alias("reading_hour"),
            "device_id", "metric_name", "reading_count", "avg_value",
            "min_value", "max_value", "anomaly_count",
        )
    )


def session_activity_stream(
    cleaned: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "reading_ts",
    key_col: str = "device_id",
) -> DataFrame:
    """Streaming sessionization: variable-length event-time session
    windows (F.session_window) per device — a session closes after `gap`
    of silence, finalized once the watermark passes its end. The
    streaming analog of the batch gaps-and-islands sessionize_events
    query, but with the session assembly done by the state store instead
    of a lag()/cumsum window.

    State is one open session per active key (merged on overlap), GC'd
    by the same watermark that gates output — bounded by the live-key
    count, not history.
    """
    return (
        cleaned.groupBy(F.session_window(ts_col, gap).alias("session"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("metric_value"), 2).alias("avg_value"),
        )
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            key_col,
            "n_events",
            "avg_value",
        )
    )


def write_silver_merge(
    cleaned: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    unique_key: str = "reading_id",
) -> DataStreamWriter:
    """foreachBatch keyed upsert into a parquet silver table — the
    streaming analog of the incremental MERGE materialization (S6).
    Each micro-batch updates matched keys and inserts new ones through
    the materialization's own upsert (plans.materialize.
    parquet_merge_upsert); the first batch creates the table."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if table_exists(target_path):
            parquet_merge_upsert(batch.sparkSession, target_path, batch, unique_key)
        else:
            swap_write(batch, target_path)

    return (
        cleaned.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def readings_alerts_interval_join(
    readings: DataFrame,
    alerts: DataFrame,
    max_lag: str = "10 minutes",
    late_threshold: str = "30 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM inner join: attach to each alert the sensor
    readings of the same device that arrived within ``max_lag`` BEFORE
    the alert fired — the "what did the sensor show leading up to this
    page?" query, computed online.

    Both sides carry watermarks and the join condition bounds event time
    on both ends (alert_ts - max_lag <= reading_ts <= alert_ts), which
    is what lets Spark evict join state: each side's buffered rows are
    dropped once the other side's watermark passes the window. State is
    O(rows within max_lag + late_threshold per device), independent of
    stream history — the required shape for an unbounded 100-TB/day
    stream pair. Equi-key on device_id keeps the state store partitioned
    by the same key every other stage uses.
    """
    r = (
        readings.withWatermark("reading_ts", late_threshold)
        .select(
            F.col("device_id").alias("r_device_id"),
            "reading_id",
            "metric_name",
            "metric_value",
            "reading_ts",
        )
    )
    a = alerts.withWatermark("alert_ts", late_threshold).select(
        "alert_id", F.col("device_id").alias("a_device_id"), "alert_type", "alert_ts"
    )
    cond = (
        (F.col("r_device_id") == F.col("a_device_id"))
        & (F.col("reading_ts") <= F.col("alert_ts"))
        & (F.col("reading_ts") >= F.col("alert_ts") - F.expr(f"interval {max_lag}"))
    )
    # left_outer additionally emits alerts with no readings in their
    # window — Spark holds the alert row until the readings watermark
    # passes the window end, then emits it null-padded (same point where
    # inner-join state is evicted, so outer costs no extra state).
    return a.join(r, cond, how).select(
        "alert_id",
        F.col("a_device_id").alias("device_id"),
        "alert_type",
        "alert_ts",
        "reading_id",
        "metric_name",
        "metric_value",
        "reading_ts",
    )
