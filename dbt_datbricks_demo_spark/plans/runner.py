"""Pipeline runner — the engine's ``dbt run`` / orchestration layer.

Builds and materializes the model registry, reproducing the reference's
control flow (SURVEY.md §2.12, notebooks/databricks_control_flow.py):

  * as-ready scheduling, as dbt's ``threads: 4``: a pool of
    ``config.THREADS`` driver threads builds each selected model as soon
    as every dependency it builds in the same run is materialized, so
    independent models (the four after ``int_sensor_readings_cleaned``,
    and ``int_alerts_enriched`` beside the readings branch) run at once.
    A model that fails after its retries stops the run: nothing new
    starts, the running builds finish, its dependants are skipped and
    its error is raised. ``run`` returns relations in topological order
    and keeps a per-model record in ``run_results``.
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
import time
from collections.abc import Mapping
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from dbt_datbricks_demo_spark import config
from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans.dag import MODELS, ModelDef, topo_order
from dbt_datbricks_demo_spark.plans.materialize import Materializer
from dbt_datbricks_demo_spark.testing import reference_suite, run_suite
from dbt_datbricks_demo_spark.testing.runner import TestResult

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class ModelRun:
    """One model of the last ``run`` (dbt's run_results.json): status
    ``success``, ``error`` or ``skipped`` (an upstream model failed), and
    the ``time.time()`` its build started and ended (retries included;
    None where it never started)."""

    name: str
    status: str
    start: float | None = None
    end: float | None = None


class PipelineRunner:
    def __init__(self, spark: SparkSession, cfg: RunConfig):
        self.spark = spark
        self.cfg = cfg
        self.mat = Materializer(spark, cfg.warehouse_dir, cfg.target)
        # the last run's models selected for building, in topological order
        self.run_results: list[ModelRun] = []

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
        self.run_results = []
        relations: dict[str, DataFrame] = dict(raw_sources)
        to_build: list[str] = []
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
            missing = [
                d for d in model.deps if d not in relations and d not in to_build
            ]
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
            to_build.append(name)
        self._build_as_ready(to_build, relations, full_refresh, max_retries)
        return {
            n: relations[n]
            for n in [*raw_sources, *topo_order(MODELS)]
            if n in relations
        }

    def _build_as_ready(
        self,
        names: list[str],
        relations: dict[str, DataFrame],
        full_refresh: bool,
        max_retries: int,
    ) -> None:
        """Build ``names`` (topologically ordered) into ``relations`` on
        ``config.THREADS`` driver threads, each model as soon as all of
        its dependencies among ``names`` are built. After a failure
        nothing new starts; the running builds finish, then the first
        failure (in topological order) is raised. Records ``run_results``."""
        waiting = {n: {d for d in MODELS[n].deps if d in names} for n in names}
        running: dict[Future, str] = {}
        times: dict[str, tuple[float, float]] = {}
        failed: dict[str, Exception] = {}
        with ThreadPoolExecutor(max_workers=config.THREADS) as pool:
            while True:
                # after a failure nothing new starts
                ready = [] if failed else [n for n, d in waiting.items() if not d]
                for name in ready:
                    del waiting[name]
                    # a copy per build of this thread's Spark local
                    # properties (job group, …): pool threads have none
                    build = inheritable_thread_target(self.spark)(self._run_model)
                    running[pool.submit(
                        build, MODELS[name], dict(relations), full_refresh,
                        max_retries, times,
                    )] = name
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for future in done:
                    name = running.pop(future)
                    try:
                        relations[name] = future.result()
                    except Exception as exc:
                        failed[name] = exc
                        continue
                    for deps in waiting.values():
                        deps.discard(name)
        self.run_results = [
            ModelRun(n, "skipped") if n not in times
            else ModelRun(n, "error" if n in failed else "success", *times[n])
            for n in names
        ]
        if failed:
            raise failed[min(failed, key=names.index)]

    def _run_model(
        self,
        model: ModelDef,
        relations: Mapping[str, DataFrame],
        full_refresh: bool,
        max_retries: int,
        times: dict[str, tuple[float, float]],
    ) -> DataFrame:
        """Build and materialize ``model``, retrying up to ``max_retries``
        times, on a pool thread whose Spark jobs the model's name
        describes; records the start and end in ``times``."""
        self.spark.sparkContext.setJobDescription(model.name)
        start, attempt = time.time(), 0
        try:
            while True:
                try:
                    return self._run_model_once(model, relations, full_refresh)
                except Exception:
                    attempt += 1
                    if attempt > max_retries:
                        raise
                    log.warning(
                        "model %s failed, retry %d/%d",
                        model.name, attempt, max_retries,
                    )
        finally:
            times[model.name] = (start, time.time())

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
