"""Gold marts — BI-facing facts and the device dimension.

Parity targets (behavior, not text):
  fct_hourly_metrics — reference models/marts/fct_hourly_metrics.sql
  fct_device_summary — reference models/marts/fct_device_summary.sql
  fct_anomaly_events — reference models/marts/fct_anomaly_events.sql
  dim_devices        — reference models/marts/dim_devices.sql

Faithfully-reproduced quirks (SURVEY.md §7 hard parts):
  * fct_anomaly_events' ``alerts`` CTE is dead code in the reference
    (filtered but never referenced by the final select) — we simply don't
    build it; the output is identical.
  * breach_direction's first branch only covers temperature/humidity/
    pressure, so vibration anomalies fall through to 'below_lower' even
    though they breached an upper bound. That is the reference's behavior;
    we reproduce it rather than fix it.
  * vibration has no lower threshold → null lower_threshold.
  * fct_device_summary health_score keeps the reference's exact operand
    order and round(x, 0) (not a cast).

Fractional literals carry the ``D`` suffix: Spark SQL reads a bare
``100.0`` as DECIMAL, which would turn the rates into decimal columns.
"""

# Pure projection over the silver aggregate — no shuffle.
FCT_HOURLY_METRICS = """
SELECT
  device_health_key, device_id, device_name, device_type, plant_location,
  factory_zone, metric_name, reading_hour, reading_count, avg_value,
  min_value, max_value, stddev_value, anomaly_count, anomaly_rate_pct,
  latest_reading_ts,
  to_date(reading_hour) AS reading_date,
  hour(reading_hour) AS hour_of_day,
  dayofweek(reading_hour) AS day_of_week,
  CASE
    WHEN anomaly_rate_pct >= 50.0D THEN 'critical'
    WHEN anomaly_rate_pct >= 25.0D THEN 'degraded'
    WHEN anomaly_rate_pct > 0 THEN 'warning'
    ELSE 'healthy'
  END AS health_status,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_created_at
FROM {int_device_health}
"""

# Daily device scorecard: two independent hash aggregations, then a
# composite-key left join (device_id, date). Both sides aggregate to
# ~|devices|×|days| rows, so even at 100 TB of readings the join inputs
# are small; AQE broadcasts the alert side. avg over a CASE without ELSE
# ignores nulls: the mean of resolved alerts only (reference
# fct_device_summary.sql:72-76).
FCT_DEVICE_SUMMARY = """
WITH daily_readings AS (
  SELECT
    device_id, device_name, device_type, plant_location, factory_zone,
    to_date(reading_ts) AS reading_date,
    count(1) AS total_readings,
    sum(CASE WHEN is_missing_value THEN 1 ELSE 0 END) AS missing_readings,
    sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomaly_readings,
    round((count(1) - sum(CASE WHEN is_missing_value THEN 1 ELSE 0 END)) * 100.0D
          / nullif(count(1), 0), 1) AS data_completeness_pct,
    round(sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) * 100.0D
          / nullif(count(1), 0), 1) AS anomaly_rate_pct,
    min(reading_ts) AS first_reading_ts,
    max(reading_ts) AS last_reading_ts
  FROM {int_sensor_readings_cleaned}
  GROUP BY device_id, device_name, device_type, plant_location, factory_zone,
           to_date(reading_ts)
),
daily_alerts AS (
  SELECT
    device_id,
    to_date(alert_ts) AS alert_date,
    count(1) AS total_alerts,
    sum(CASE WHEN severity = 'critical' THEN 1 ELSE 0 END) AS critical_alerts,
    sum(CASE WHEN severity = 'warning' THEN 1 ELSE 0 END) AS warning_alerts,
    sum(CASE WHEN is_resolved THEN 1 ELSE 0 END) AS resolved_alerts,
    round(avg(CASE WHEN minutes_to_resolve IS NOT NULL THEN minutes_to_resolve END), 1)
      AS avg_resolution_minutes
  FROM {int_alerts_enriched}
  GROUP BY device_id, to_date(alert_ts)
)
SELECT
  md5(concat_ws('-',
    coalesce(CAST(r.device_id AS STRING), '_dbt_utils_surrogate_key_null_'),
    coalesce(CAST(r.reading_date AS STRING), '_dbt_utils_surrogate_key_null_')
  )) AS device_summary_key,
  r.device_id, r.device_name, r.device_type, r.plant_location,
  r.factory_zone, r.reading_date, r.total_readings, r.missing_readings,
  r.anomaly_readings, r.data_completeness_pct, r.anomaly_rate_pct,
  r.first_reading_ts, r.last_reading_ts,
  coalesce(a.total_alerts, 0) AS total_alerts,
  coalesce(a.critical_alerts, 0) AS critical_alerts,
  coalesce(a.warning_alerts, 0) AS warning_alerts,
  coalesce(a.resolved_alerts, 0) AS resolved_alerts,
  a.avg_resolution_minutes,
  round(greatest(0,
    100
    - coalesce(a.critical_alerts, 0) * 20
    - coalesce(a.warning_alerts, 0) * 5
    - r.anomaly_rate_pct * 0.5D
    - (100 - r.data_completeness_pct) * 0.3D
  ), 0) AS health_score,
  CASE
    WHEN coalesce(a.critical_alerts, 0) > 3 THEN 'critical'
    WHEN coalesce(a.critical_alerts, 0) > 0 THEN 'at_risk'
    WHEN r.anomaly_rate_pct > 10 THEN 'degraded'
    ELSE 'healthy'
  END AS health_category,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_created_at
FROM daily_readings r
LEFT JOIN daily_alerts a
  ON r.device_id = a.device_id AND r.reading_date = a.alert_date
"""

# Flattened anomaly events with threshold context and breach direction.
FCT_ANOMALY_EVENTS = """
SELECT
  md5(concat_ws('-',
    coalesce(CAST(reading_id AS STRING), '_dbt_utils_surrogate_key_null_')
  )) AS anomaly_event_key,
  reading_id, device_id, device_name, device_type, plant_location,
  factory_zone, manufacturer, metric_name,
  metric_value AS actual_value,
  CASE
    WHEN metric_name = 'temperature' THEN :temperature_upper
    WHEN metric_name = 'vibration' THEN :vibration_upper
    WHEN metric_name = 'humidity' THEN :humidity_upper
    WHEN metric_name = 'pressure' THEN :pressure_upper
  END AS upper_threshold,
  CASE
    WHEN metric_name = 'temperature' THEN :temperature_lower
    WHEN metric_name = 'humidity' THEN :humidity_lower
    WHEN metric_name = 'pressure' THEN :pressure_lower
    ELSE CAST(NULL AS DOUBLE)
  END AS lower_threshold,
  reading_ts AS anomaly_ts,
  to_date(reading_ts) AS anomaly_date,
  hour(reading_ts) AS anomaly_hour,
  CASE
    WHEN metric_name IN ('temperature', 'humidity', 'pressure')
         AND metric_value > CASE
           WHEN metric_name = 'temperature' THEN :temperature_upper
           WHEN metric_name = 'humidity' THEN :humidity_upper
           WHEN metric_name = 'pressure' THEN :pressure_upper
         END
      THEN 'above_upper'
    ELSE 'below_lower'
  END AS breach_direction,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_created_at
FROM {int_sensor_readings_cleaned}
WHERE is_anomaly
"""

# SCD1-style device dimension with lifetime reading stats.
DIM_DEVICES = """
WITH devices AS (
  SELECT * FROM {stg_devices}
),
reading_stats AS (
  SELECT
    device_id,
    count(1) AS total_readings,
    sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS total_anomalies,
    sum(CASE WHEN is_missing_value THEN 1 ELSE 0 END) AS total_missing,
    min(reading_ts) AS first_reading_ts,
    max(reading_ts) AS last_reading_ts
  FROM {int_sensor_readings_cleaned}
  GROUP BY device_id
)
SELECT
  md5(concat_ws('-',
    coalesce(CAST(d.device_id AS STRING), '_dbt_utils_surrogate_key_null_')
  )) AS device_key,
  d.device_id, d.device_name, d.device_type, d.plant_location,
  d.factory_zone, d.install_date, d.manufacturer, d.firmware_version,
  d.is_active, d.days_since_install,
  coalesce(s.total_readings, 0) AS lifetime_readings,
  coalesce(s.total_anomalies, 0) AS lifetime_anomalies,
  coalesce(s.total_missing, 0) AS lifetime_missing_readings,
  s.first_reading_ts, s.last_reading_ts,
  CASE
    WHEN s.total_readings > 0
      THEN round(s.total_anomalies * 100.0D / s.total_readings, 2)
    ELSE CAST(0 AS DOUBLE)
  END AS lifetime_anomaly_rate_pct,
  coalesce(:frozen_now, current_timestamp()) AS _valid_from,
  CAST(NULL AS TIMESTAMP) AS _valid_to,
  true AS _is_current,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_created_at
FROM devices d
LEFT JOIN reading_stats s ON d.device_id = s.device_id
"""
