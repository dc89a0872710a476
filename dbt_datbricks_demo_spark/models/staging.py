"""Bronze staging models — typed, renamed views over the raw sources.

Parity targets (behavior, not text):
  stg_sensor_readings — reference models/staging/stg_sensor_readings.sql:15-26
  stg_devices         — reference models/staging/stg_devices.sql:14-29
  stg_alerts          — reference models/staging/stg_alerts.sql:14-33

All three are narrow projections (rename + cast + a couple of derived
flags); they stay inside whole-stage codegen and cost one scan each.
Materialized as views (reference dbt_project.yml:31) so they add no storage.
"""

STG_SENSOR_READINGS = """
SELECT
  reading_id, device_id,
  lower(trim(metric_name)) AS metric_name,
  CAST(metric_value AS DOUBLE) AS metric_value,
  CAST(reading_ts AS TIMESTAMP) AS reading_ts,
  CAST(ingested_at AS TIMESTAMP) AS ingested_at,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_loaded_at,
  :invocation_id AS _dbt_invocation_id
FROM {raw_sensor_readings}
"""

# location → plant_location, zone → factory_zone
STG_DEVICES = """
SELECT
  device_id, device_name,
  lower(trim(device_type)) AS device_type,
  location AS plant_location,
  zone AS factory_zone,
  CAST(install_date AS DATE) AS install_date,
  manufacturer, firmware_version,
  CAST(is_active AS BOOLEAN) AS is_active,
  datediff(coalesce(:frozen_today, current_date()), CAST(install_date AS DATE))
    AS days_since_install,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_loaded_at
FROM {raw_devices}
"""

STG_ALERTS = """
SELECT
  alert_id, device_id,
  lower(trim(alert_type)) AS alert_type,
  lower(trim(severity)) AS severity,
  lower(trim(metric_name)) AS metric_name,
  CAST(threshold_value AS DOUBLE) AS threshold_value,
  CAST(actual_value AS DOUBLE) AS actual_value,
  CAST(alert_ts AS TIMESTAMP) AS alert_ts,
  CAST(resolved_at AS TIMESTAMP) AS resolved_at,
  resolution_notes,
  CAST(resolved_at AS TIMESTAMP) IS NOT NULL AS is_resolved,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_loaded_at
FROM {raw_alerts}
"""
