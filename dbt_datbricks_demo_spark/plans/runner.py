"""Pipeline runner — the engine's ``dbt run`` / orchestration layer.

Executes the model registry in topological order with per-model
materialization, reproducing the reference's control flow
(SURVEY.md §2.12, notebooks/databricks_control_flow.py):

  * tag selection (run only bronze / silver / gold)
  * silver-tests-gate-gold (gold is skipped if silver tests fail;
    reference databricks_control_flow.py:88-110)
  * conditional full-refresh branch (anomaly count > threshold → rebuild;
    reference databricks_control_flow.py:150-216)
  * per-plant foreach (reference databricks_control_flow.py:254-317)
  * retries (reference databricks_control_flow.py:354-391)
"""

from __future__ import annotations

import logging
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans.dag import MODELS, ModelDef, topo_order
from dbt_datbricks_demo_spark.plans.materialize import Materializer
from dbt_datbricks_demo_spark.testing import reference_suite, run_suite
from dbt_datbricks_demo_spark.testing.runner import TestResult

log = logging.getLogger(__name__)


class PipelineRunner:
    def __init__(self, spark: SparkSession, cfg: RunConfig):
        self.spark = spark
        self.cfg = cfg
        self.mat = Materializer(spark, cfg.warehouse_dir, cfg.target)

    def run(
        self,
        raw_sources: Mapping[str, DataFrame],
        select_tags: set[str] | None = None,
        full_refresh: bool | None = None,
        max_retries: int = 0,
        select_names: set[str] | None = None,
    ) -> dict[str, DataFrame]:
        """Build + materialize the DAG; returns name → materialized relation.

        ``select_names`` selects models by name (the `state:modified+`
        slim-CI path, plans/state.py); ``select_tags`` by layer tag. With
        either selection, unselected table/incremental models are reused
        from their existing materialization instead of rebuilt."""
        full_refresh = self.cfg.full_refresh if full_refresh is None else full_refresh
        relations: dict[str, DataFrame] = dict(raw_sources)
        for name in topo_order(MODELS):
            model = MODELS[name]
            deselected = (
                select_tags and not (set(model.tags) & select_tags)
            ) or (select_names is not None and name not in select_names)
            if deselected:
                # not selected: reuse an existing materialization (so
                # downstream selected models resolve their refs), else if
                # it's a free view rebuild it lazily, else skip entirely
                if model.materialization != "view":
                    if self.mat.exists(name, model.schema_suffix):
                        df = self.mat.read(name, model.schema_suffix)
                        df.createOrReplaceTempView(name)
                        relations[name] = df
                    continue
            missing = [d for d in model.deps if d not in relations]
            if missing:
                # without this, the build dies on a bare KeyError
                # (e.g. `run --select gold` on a fresh warehouse whose
                # silver tables were never materialized)
                raise RuntimeError(
                    f"model '{name}' depends on {missing}, which are not "
                    "materialized and were not selected "
                    f"(select_tags={sorted(select_tags or ())}). Run the "
                    "upstream models first or widen the selection."
                )
            relations[name] = self._run_model(
                model, relations, full_refresh, max_retries
            )
        return relations

    def _run_model(
        self,
        model: ModelDef,
        relations: Mapping[str, DataFrame],
        full_refresh: bool,
        max_retries: int = 0,
    ) -> DataFrame:
        attempt = 0
        while True:
            try:
                return self._run_model_once(model, relations, full_refresh)
            except Exception:
                attempt += 1
                if attempt > max_retries:
                    raise
                log.warning("model %s failed, retry %d/%d", model.name, attempt, max_retries)

    def _run_model_once(
        self, model: ModelDef, relations: Mapping[str, DataFrame], full_refresh: bool
    ) -> DataFrame:
        mat, cfg = self.mat, self.cfg
        if model.materialization == "view":
            return mat.as_view(model.name, model.build(relations, cfg, None))
        if model.materialization == "table":
            return mat.as_table(
                model.name, model.schema_suffix, model.build(relations, cfg, None)
            )
        if model.materialization == "incremental":
            is_incremental = (
                not full_refresh and mat.exists(model.name, model.schema_suffix)
            )
            # the write records watermark_col's high-water mark, which the
            # next run's high_water reads
            watermark = (
                mat.high_water(
                    model.name, model.schema_suffix, col=model.watermark_col
                )
                if is_incremental
                else None
            )
            new_rows = model.build(relations, cfg, watermark)
            if not is_incremental:
                return mat.as_table(
                    model.name, model.schema_suffix, new_rows,
                    watermark_col=model.watermark_col,
                )
            return mat.merge_upsert(
                model.name, model.schema_suffix, new_rows, model.unique_key,
                watermark_col=model.watermark_col,
            )
        raise ValueError(model.materialization)  # pragma: no cover

    # ---- orchestration control flow (§2.12) --------------------------------
    def run_gated(
        self, raw_sources: Mapping[str, DataFrame]
    ) -> tuple[dict[str, DataFrame], list[TestResult]]:
        """seed→bronze+silver→test silver→(gate)→gold, like the reference
        workflow DAG. Returns (relations, silver test results); gold is only
        built when every silver test passes."""
        relations = self.run(raw_sources, select_tags={"bronze", "silver"})
        silver_models = {n for n, m in MODELS.items() if "silver" in m.tags}
        results = run_suite(reference_suite(), relations, models=silver_models | {
            n for n, m in MODELS.items() if "bronze" in m.tags
        })
        if all(r.passed for r in results):
            relations = self.run(raw_sources, select_tags={"gold"})
        else:
            log.error("silver tests failed — gold layer not built (gate)")
        return relations, results

    def conditional_refresh(
        self,
        raw_sources: Mapping[str, DataFrame],
        anomaly_threshold: int = 50,
    ) -> dict[str, DataFrame]:
        """If anomaly volume exceeds the threshold, rebuild from scratch,
        else run incrementally (reference if/else branch)."""
        cleaned_exists = self.mat.exists("int_sensor_readings_cleaned", "silver")
        n_anomalies = (
            self.mat.read("int_sensor_readings_cleaned", "silver")
            .filter(F.col("is_anomaly"))
            .count()
            if cleaned_exists
            else 0
        )
        return self.run(raw_sources, full_refresh=n_anomalies > anomaly_threshold)

    def per_plant_health(self, relations: Mapping[str, DataFrame]) -> DataFrame:
        """ForEach-over-plants body, vectorized: instead of looping over
        collect()ed plants issuing one query each (the reference's workflow
        foreach with concurrency 3), one grouped aggregation computes every
        plant's health check — same output, one job, no driver loop."""
        return (
            relations["fct_device_summary"]
            .groupBy("plant_location")
            .agg(
                F.count(F.lit(1)).alias("device_days"),
                F.round(F.avg("health_score"), 1).alias("avg_health_score"),
                F.sum(
                    F.when(F.col("health_category") == "critical", 1).otherwise(0)
                ).alias("critical_devices"),
            )
        )
