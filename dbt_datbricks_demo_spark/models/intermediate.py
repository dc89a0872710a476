"""Silver intermediate models — dedup/enrich/flag, hourly health agg,
alert enrichment.

Parity targets (behavior, not text):
  int_sensor_readings_cleaned — reference models/intermediate/
      int_sensor_readings_cleaned.sql (dedup W1, enrichment join J1,
      missing/anomaly flags)
  int_device_health — reference int_device_health.sql (hourly agg A1)
  int_alerts_enriched — reference int_alerts_enriched.sql (join J2,
      resolution math, severity score)

All three are incremental: on an increment the first ref is filtered to
rows past the target's high-water mark before the text runs
(``plans.dag.ModelDef.build``). The reference's F1 is a strict ``>`` —
ties and late rows drop by design, and that semantic is reproduced.

Scale notes:
  * The devices dimension is tiny relative to readings at any scale the
    reference contemplates, so the enrichment joins carry an explicit
    BROADCAST hint — no shuffle of the fact side.
  * The dedup window partitions by reading_id (the natural key); at 100 TB
    this is a single hash-partitioned exchange over the key, which Spark
    executes as one shuffle — there is no cheaper way to express
    keep-latest-per-key, and AQE coalesces the output partitions.
  * The hourly aggregation keys include the device attributes only because
    they are functionally dependent on device_id; they ride along in the
    same hash and add no extra shuffle.
"""

# The reference's threshold CASE (int_sensor_readings_cleaned.sql:74-95),
# also the streaming silver flag (streaming.pipeline). Vibration has an
# upper bound only — no lower threshold exists in the config
# (dbt_project.yml:18-26).
ANOMALY_CASE = """CASE
    WHEN metric_name = 'temperature' AND metric_value IS NOT NULL
         AND (metric_value > :temperature_upper OR metric_value < :temperature_lower)
      THEN true
    WHEN metric_name = 'vibration' AND metric_value IS NOT NULL
         AND metric_value > :vibration_upper
      THEN true
    WHEN metric_name = 'humidity' AND metric_value IS NOT NULL
         AND (metric_value > :humidity_upper OR metric_value < :humidity_lower)
      THEN true
    WHEN metric_name = 'pressure' AND metric_value IS NOT NULL
         AND (metric_value > :pressure_upper OR metric_value < :pressure_lower)
      THEN true
    ELSE false
  END"""

# Dedup semantics (reference W1, SURVEY.md §2.6): *key-based* keep-latest
# ingest per reading_id. Content duplicates with distinct reading_ids
# survive — do not "fix".
INT_SENSOR_READINGS_CLEANED = f"""
WITH deduped AS (
  SELECT * FROM (
    SELECT
      *,
      row_number() OVER (PARTITION BY reading_id ORDER BY ingested_at DESC)
        AS _row_num
    FROM {{stg_sensor_readings}}
  )
  WHERE _row_num = 1
)
SELECT /*+ BROADCAST(d) */
  r.reading_id, r.device_id, r.metric_name, r.metric_value, r.reading_ts,
  r.ingested_at, d.device_name, d.device_type, d.plant_location,
  d.factory_zone, d.manufacturer,
  r.metric_value IS NULL AS is_missing_value,
  {ANOMALY_CASE} AS is_anomaly,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_processed_at
FROM deduped r
LEFT JOIN {{stg_devices}} d ON r.device_id = d.device_id
"""

# One hash aggregation: partial aggregates map-side, final after a single
# shuffle on the composite key. stddev is sample stddev (stddev_samp) —
# null for 1-row groups, preserved through round().
INT_DEVICE_HEALTH = """
WITH hourly AS (
  SELECT
    device_id, device_name, device_type, plant_location, factory_zone,
    metric_name,
    date_trunc('hour', reading_ts) AS reading_hour,
    count(1) AS reading_count,
    round(avg(metric_value), 2) AS avg_value,
    round(min(metric_value), 2) AS min_value,
    round(max(metric_value), 2) AS max_value,
    round(stddev_samp(metric_value), 2) AS stddev_value,
    sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomaly_count,
    round(sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) * 100.0D
          / nullif(count(1), 0), 1) AS anomaly_rate_pct,
    max(reading_ts) AS latest_reading_ts
  FROM {int_sensor_readings_cleaned}
  WHERE NOT is_missing_value
  GROUP BY device_id, device_name, device_type, plant_location, factory_zone,
           metric_name, date_trunc('hour', reading_ts)
)
SELECT
  md5(concat_ws('-',
    coalesce(CAST(device_id AS STRING), '_dbt_utils_surrogate_key_null_'),
    coalesce(CAST(metric_name AS STRING), '_dbt_utils_surrogate_key_null_'),
    coalesce(CAST(reading_hour AS STRING), '_dbt_utils_surrogate_key_null_')
  )) AS device_health_key,
  device_id, device_name, device_type, plant_location, factory_zone,
  metric_name, reading_hour, reading_count, avg_value, min_value, max_value,
  stddev_value, anomaly_count, anomaly_rate_pct, latest_reading_ts,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_processed_at
FROM hourly
"""

INT_ALERTS_ENRICHED = """
SELECT /*+ BROADCAST(d) */
  a.alert_id, a.device_id, a.alert_type, a.severity, a.metric_name,
  a.threshold_value, a.actual_value, a.alert_ts, a.resolved_at,
  a.resolution_notes, a.is_resolved, d.device_name, d.device_type,
  d.plant_location, d.factory_zone, d.manufacturer, d.days_since_install,
  CASE
    WHEN a.is_resolved
      THEN round((unix_timestamp(a.resolved_at) - unix_timestamp(a.alert_ts))
                 / 60.0D, 1)
    ELSE CAST(NULL AS DOUBLE)
  END AS minutes_to_resolve,
  CASE
    WHEN a.severity = 'critical' THEN 3
    WHEN a.severity = 'warning' THEN 2
    WHEN a.severity = 'info' THEN 1
    ELSE 0
  END AS severity_score,
  coalesce(:frozen_now, current_timestamp()) AS _dbt_processed_at
FROM {stg_alerts} a
LEFT JOIN {stg_devices} d ON a.device_id = d.device_id
"""
