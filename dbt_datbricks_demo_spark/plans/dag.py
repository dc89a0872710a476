"""Model registry and DAG (reference operators S2/S3: source()/ref()
resolution).

Each ModelDef holds its model's SQL text (``models/``) and its
materialization config; its upstream dependencies are the text's
``{name}`` placeholders, which the runner resolves from a relations dict
— the Spark-native equivalent of dbt's manifest graph. Tags drive layer
selection (reference dbt_project.yml: bronze/staging,
silver/intermediate, gold/marts).
"""

from __future__ import annotations

import re
from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.models import intermediate, marts, run_sql, staging

_REF = re.compile(r"\{(\w+)\}")


@dataclass(frozen=True)
class ModelDef:
    name: str
    sql: str
    materialization: str = "view"  # view | table | incremental
    unique_key: str | None = None
    watermark_col: str | None = None  # incremental high-water column
    tags: tuple[str, ...] = field(default=())
    schema_suffix: str = "bronze"  # medallion routing (generate_schema_name)

    @property
    def deps(self) -> tuple[str, ...]:
        """The refs of the text, in order of first appearance."""
        return tuple(dict.fromkeys(_REF.findall(self.sql)))

    def build(
        self, relations: Mapping[str, DataFrame], cfg: RunConfig, watermark=None
    ) -> DataFrame:
        """The model's lazy DataFrame over ``relations``. A ``watermark``
        (the target's high-water mark, on an increment) keeps the first
        ref's rows whose ``watermark_col`` is past it — a driver-side
        literal rather than a scalar subquery, so the scan gets parquet
        min/max file skipping."""
        refs = {d: relations[d] for d in self.deps}
        if watermark is not None:
            first = self.deps[0]
            refs[first] = refs[first].filter(
                F.col(self.watermark_col) > F.lit(watermark)
            )
        return run_sql(self.sql, cfg, **refs)


MODELS: dict[str, ModelDef] = {
    m.name: m
    for m in [
        ModelDef(
            "stg_sensor_readings", staging.STG_SENSOR_READINGS,
            "view", tags=("bronze", "staging"), schema_suffix="bronze",
        ),
        ModelDef(
            "stg_devices", staging.STG_DEVICES,
            "view", tags=("bronze", "staging"), schema_suffix="bronze",
        ),
        ModelDef(
            "stg_alerts", staging.STG_ALERTS,
            "view", tags=("bronze", "staging"), schema_suffix="bronze",
        ),
        ModelDef(
            "int_sensor_readings_cleaned", intermediate.INT_SENSOR_READINGS_CLEANED,
            "incremental", unique_key="reading_id", watermark_col="ingested_at",
            tags=("silver", "intermediate", "incremental"), schema_suffix="silver",
        ),
        ModelDef(
            "int_device_health", intermediate.INT_DEVICE_HEALTH,
            "incremental", unique_key="device_health_key",
            watermark_col="_dbt_processed_at",
            tags=("silver", "intermediate"), schema_suffix="silver",
        ),
        ModelDef(
            "int_alerts_enriched", intermediate.INT_ALERTS_ENRICHED,
            "incremental", unique_key="alert_id", watermark_col="alert_ts",
            tags=("silver", "intermediate"), schema_suffix="silver",
        ),
        ModelDef(
            "fct_hourly_metrics", marts.FCT_HOURLY_METRICS,
            "table", tags=("gold", "marts", "fact"), schema_suffix="gold",
        ),
        ModelDef(
            "fct_device_summary", marts.FCT_DEVICE_SUMMARY,
            "table", tags=("gold", "marts", "fact"), schema_suffix="gold",
        ),
        ModelDef(
            "fct_anomaly_events", marts.FCT_ANOMALY_EVENTS,
            "table", tags=("gold", "marts", "fact"), schema_suffix="gold",
        ),
        ModelDef(
            "dim_devices", marts.DIM_DEVICES,
            "table", tags=("gold", "marts", "dimension"), schema_suffix="gold",
        ),
    ]
}


def topo_order(
    models: Mapping[str, ModelDef] = MODELS, select_tags: set[str] | None = None
) -> list[str]:
    """Kahn topological sort; with tag selection, upstream deps of selected
    models are still ordered but the caller decides whether to rebuild them."""
    # in-degree counts only in-registry deps (raw sources live outside)
    indeg = {n: sum(1 for d in m.deps if d in models) for n, m in models.items()}
    order: list[str] = []
    ready = sorted(n for n, k in indeg.items() if k == 0)
    while ready:
        n = ready.pop(0)
        order.append(n)
        for m in models.values():
            if n in m.deps:
                indeg[m.name] -= 1
                if indeg[m.name] == 0:
                    ready.append(m.name)
        ready.sort()
    if len(order) != len(models):  # pragma: no cover
        raise ValueError("cycle detected in model DAG")
    if select_tags:
        order = [n for n in order if set(models[n].tags) & select_tags]
    return order
