"""The output schema of each of the 10 medallion models — column names,
types and order — pinned. Spark SQL reads a bare fractional literal as
DECIMAL, so a rate written ``* 100.0`` instead of ``* 100.0D`` turns
into a decimal column; this is where that shows. Built lazily on the
generated seeds, with the clock frozen and running."""

from __future__ import annotations

import pytest

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans.dag import MODELS, topo_order

_CLEANED_FLAGS = (
    "is_missing_value:boolean", "is_anomaly:boolean",
)
_DEVICE = (
    "device_id:string", "device_name:string", "device_type:string",
    "plant_location:string", "factory_zone:string",
)
_HEALTH = (
    "device_health_key:string", *_DEVICE, "metric_name:string",
    "reading_hour:timestamp", "reading_count:bigint", "avg_value:double",
    "min_value:double", "max_value:double", "stddev_value:double",
    "anomaly_count:bigint", "anomaly_rate_pct:double",
    "latest_reading_ts:timestamp",
)
_ALERT = (
    "alert_id:string", "device_id:string", "alert_type:string",
    "severity:string", "metric_name:string", "threshold_value:double",
    "actual_value:double", "alert_ts:timestamp", "resolved_at:timestamp",
    "resolution_notes:string", "is_resolved:boolean",
)

SCHEMAS = {
    "stg_sensor_readings": (
        "reading_id:string", "device_id:string", "metric_name:string",
        "metric_value:double", "reading_ts:timestamp", "ingested_at:timestamp",
        "_dbt_loaded_at:timestamp", "_dbt_invocation_id:string",
    ),
    "stg_devices": (
        *_DEVICE, "install_date:date", "manufacturer:string",
        "firmware_version:string", "is_active:boolean",
        "days_since_install:int", "_dbt_loaded_at:timestamp",
    ),
    "stg_alerts": (*_ALERT, "_dbt_loaded_at:timestamp"),
    "int_sensor_readings_cleaned": (
        "reading_id:string", "device_id:string", "metric_name:string",
        "metric_value:double", "reading_ts:timestamp", "ingested_at:timestamp",
        *_DEVICE[1:], "manufacturer:string", *_CLEANED_FLAGS,
        "_dbt_processed_at:timestamp",
    ),
    "int_device_health": (*_HEALTH, "_dbt_processed_at:timestamp"),
    "int_alerts_enriched": (
        *_ALERT, *_DEVICE[1:], "manufacturer:string", "days_since_install:int",
        "minutes_to_resolve:double", "severity_score:int",
        "_dbt_processed_at:timestamp",
    ),
    "fct_hourly_metrics": (
        *_HEALTH, "reading_date:date", "hour_of_day:int", "day_of_week:int",
        "health_status:string", "_dbt_created_at:timestamp",
    ),
    "fct_device_summary": (
        "device_summary_key:string", *_DEVICE, "reading_date:date",
        "total_readings:bigint", "missing_readings:bigint",
        "anomaly_readings:bigint", "data_completeness_pct:double",
        "anomaly_rate_pct:double", "first_reading_ts:timestamp",
        "last_reading_ts:timestamp", "total_alerts:bigint",
        "critical_alerts:bigint", "warning_alerts:bigint",
        "resolved_alerts:bigint", "avg_resolution_minutes:double",
        "health_score:double", "health_category:string",
        "_dbt_created_at:timestamp",
    ),
    "fct_anomaly_events": (
        "anomaly_event_key:string", "reading_id:string", *_DEVICE,
        "manufacturer:string", "metric_name:string", "actual_value:double",
        "upper_threshold:double", "lower_threshold:double",
        "anomaly_ts:timestamp", "anomaly_date:date", "anomaly_hour:int",
        "breach_direction:string", "_dbt_created_at:timestamp",
    ),
    "dim_devices": (
        "device_key:string", *_DEVICE, "install_date:date",
        "manufacturer:string", "firmware_version:string", "is_active:boolean",
        "days_since_install:int", "lifetime_readings:bigint",
        "lifetime_anomalies:bigint", "lifetime_missing_readings:bigint",
        "first_reading_ts:timestamp", "last_reading_ts:timestamp",
        "lifetime_anomaly_rate_pct:double", "_valid_from:timestamp",
        "_valid_to:timestamp", "_is_current:boolean",
        "_dbt_created_at:timestamp",
    ),
}


@pytest.fixture(scope="module", params=["frozen_clock", "live_clock"])
def built(request, generated_seeds, cfg):
    run_cfg = cfg if request.param == "frozen_clock" else RunConfig()
    relations = dict(generated_seeds)
    for name in topo_order(MODELS):
        relations[name] = MODELS[name].build(relations, run_cfg, None)
    return relations


def test_every_model_is_pinned():
    assert sorted(SCHEMAS) == sorted(MODELS)


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_model_schema(built, name):
    got = tuple(f"{f.name}:{f.dataType.simpleString()}" for f in built[name].schema)
    assert got == SCHEMAS[name]
