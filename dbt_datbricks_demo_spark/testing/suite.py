"""The reference's complete 54-test suite, encoded declaratively.

19 staging + 15 intermediate + 19 marts column tests (reference
models/{staging,intermediate,marts}/schema.yml) + 1 singular orphan test
(tests/assert_no_orphan_alerts.sql). The custom generic ``value_in_range``
is defined but bound to nothing, exactly like the reference
(macros/test_value_in_range.sql — zero usages).
"""

from __future__ import annotations

from dbt_datbricks_demo_spark.testing.generic import column_test
from dbt_datbricks_demo_spark.testing.runner import TestSpec

# column_test(model, column, kind, extra) — kind ∈ not_null | unique |
# accepted_values(values) | relationships(to_model, to_field)
_COLUMN_TESTS: list[tuple] = [
    # --- staging (19) — reference models/staging/schema.yml
    ("stg_sensor_readings", "reading_id", "not_null", None),
    ("stg_sensor_readings", "reading_id", "unique", None),
    ("stg_sensor_readings", "device_id", "not_null", None),
    ("stg_sensor_readings", "metric_name", "not_null", None),
    ("stg_sensor_readings", "metric_name", "accepted_values",
     ["temperature", "vibration", "humidity", "pressure"]),
    ("stg_sensor_readings", "reading_ts", "not_null", None),
    ("stg_devices", "device_id", "not_null", None),
    ("stg_devices", "device_id", "unique", None),
    ("stg_devices", "device_name", "not_null", None),
    ("stg_devices", "device_type", "not_null", None),
    ("stg_devices", "plant_location", "not_null", None),
    ("stg_devices", "is_active", "not_null", None),
    ("stg_alerts", "alert_id", "not_null", None),
    ("stg_alerts", "alert_id", "unique", None),
    ("stg_alerts", "device_id", "not_null", None),
    ("stg_alerts", "alert_type", "not_null", None),
    ("stg_alerts", "alert_type", "accepted_values",
     ["threshold_breach", "data_quality", "equipment_fault", "maintenance_due"]),
    ("stg_alerts", "severity", "not_null", None),
    ("stg_alerts", "severity", "accepted_values", ["info", "warning", "critical"]),
    # --- intermediate (15) — reference models/intermediate/schema.yml
    ("int_sensor_readings_cleaned", "reading_id", "not_null", None),
    ("int_sensor_readings_cleaned", "reading_id", "unique", None),
    ("int_sensor_readings_cleaned", "device_id", "not_null", None),
    ("int_sensor_readings_cleaned", "device_id", "relationships",
     ("stg_devices", "device_id")),
    ("int_sensor_readings_cleaned", "is_anomaly", "not_null", None),
    ("int_sensor_readings_cleaned", "is_missing_value", "not_null", None),
    ("int_device_health", "device_health_key", "not_null", None),
    ("int_device_health", "device_health_key", "unique", None),
    ("int_device_health", "reading_count", "not_null", None),
    ("int_alerts_enriched", "alert_id", "not_null", None),
    ("int_alerts_enriched", "alert_id", "unique", None),
    ("int_alerts_enriched", "device_id", "not_null", None),
    ("int_alerts_enriched", "device_id", "relationships", ("stg_devices", "device_id")),
    ("int_alerts_enriched", "severity", "accepted_values", ["info", "warning", "critical"]),
    ("int_alerts_enriched", "severity_score", "not_null", None),
    # --- marts (19) — reference models/marts/schema.yml
    ("fct_hourly_metrics", "device_health_key", "not_null", None),
    ("fct_hourly_metrics", "device_health_key", "unique", None),
    ("fct_hourly_metrics", "device_id", "not_null", None),
    ("fct_hourly_metrics", "metric_name", "not_null", None),
    ("fct_hourly_metrics", "health_status", "accepted_values",
     ["healthy", "warning", "degraded", "critical"]),
    ("fct_device_summary", "device_summary_key", "not_null", None),
    ("fct_device_summary", "device_summary_key", "unique", None),
    ("fct_device_summary", "health_score", "not_null", None),
    ("fct_device_summary", "health_category", "accepted_values",
     ["healthy", "at_risk", "degraded", "critical"]),
    ("fct_anomaly_events", "anomaly_event_key", "not_null", None),
    ("fct_anomaly_events", "anomaly_event_key", "unique", None),
    ("fct_anomaly_events", "device_id", "not_null", None),
    ("fct_anomaly_events", "actual_value", "not_null", None),
    ("fct_anomaly_events", "breach_direction", "accepted_values",
     ["above_upper", "below_lower"]),
    ("dim_devices", "device_key", "not_null", None),
    ("dim_devices", "device_key", "unique", None),
    ("dim_devices", "device_id", "not_null", None),
    ("dim_devices", "device_id", "unique", None),
    ("dim_devices", "is_active", "not_null", None),
]


def _assert_no_orphan_alerts(rel) -> object:
    """Singular test (reference tests/assert_no_orphan_alerts.sql:7-13):
    LEFT JOIN … IS NULL ≡ left anti-join."""
    alerts, devices = rel["stg_alerts"], rel["stg_devices"]
    return (
        alerts.select("alert_id", "device_id")
        .join(devices.select("device_id"), on="device_id", how="left_anti")
    )


def reference_suite() -> list[TestSpec]:
    specs = [column_test(*t) for t in _COLUMN_TESTS]
    specs.append(
        TestSpec(
            name="assert_no_orphan_alerts",
            model="stg_alerts",
            build=_assert_no_orphan_alerts,
        )
    )
    assert len(specs) == 54
    return specs
