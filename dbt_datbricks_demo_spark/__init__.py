"""dbt_datbricks_demo_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the query and data-processing
capabilities of the ``saruparu/dbt-datbricks-demo`` dbt project
(IoT medallion pipeline: bronze staging views, incremental silver
tables, gold marts, 54-test data-quality suite), expressed natively
in the PySpark DataFrame API so Catalyst/Tungsten/AQE perform the
optimization the reference delegated to Databricks SQL.

Layout:
  config       — pipeline thresholds (the reference's dbt vars) + run params
  session      — SparkSession factory (AQE, UTC timezone, tuned shuffles)
  functions    — scalar helpers (dbt_utils-compatible surrogate keys, ...)
  sources      — typed seed/parquet loaders, source registry, freshness
  models       — the 10 reference models as Spark SQL text
  plans        — model registry, DAG runner, materializations (view/table/
                 incremental-merge), orchestration control flow
  testing      — data-quality test framework (not_null/unique/accepted_values/
                 relationships/value_in_range + singular tests)
  operators    — scale-out operators beyond the reference: dedup (exact/
                 minhash-LSH/simhash), similarity search, text analysis,
                 multimodal column plumbing
  streaming    — Structured Streaming variant of the bronze→silver flow
  queries      — the reference's EDA / maintenance query surface
"""

__version__ = "0.1.0"
