"""The runner's as-ready scheduling: independent models build at once on
``config.THREADS`` driver threads, the result and the per-model record
come back in topological order, a failure skips its dependants while
running builds finish, and the rows equal those of a one-thread run."""

from __future__ import annotations

import itertools
import sys
import threading
import time

import pytest

from dbt_datbricks_demo_spark import config
from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans import PipelineRunner
from dbt_datbricks_demo_spark.plans.dag import MODELS, topo_order
from dbt_datbricks_demo_spark.sources import load_seeds
from perfbench.datagen import IotSeeds
from tests.conftest import FROZEN_NOW

ORDER = topo_order(MODELS)
# the DAG is this wide after int_sensor_readings_cleaned
INDEPENDENT = {"dim_devices", "fct_anomaly_events", "fct_device_summary",
               "int_device_health"}


@pytest.fixture()
def runner(spark, tmp_path):
    cfg = RunConfig(invocation_id="concurrency-test", frozen_now=FROZEN_NOW,
                    warehouse_dir=str(tmp_path / "warehouse"))
    return PipelineRunner(spark, cfg)


def test_run_record_is_topological_and_independent_models_overlap(
    spark, runner, generated_seeds, monkeypatch
):
    described = {}
    as_table = runner.mat.as_table

    def describing(name, *args, **kwargs):
        described[name] = spark.sparkContext.getLocalProperty("spark.job.description")
        return as_table(name, *args, **kwargs)

    monkeypatch.setattr(runner.mat, "as_table", describing)
    rel = runner.run(generated_seeds, full_refresh=True)

    assert list(rel) == [*generated_seeds, *ORDER]
    record = runner.run_results
    assert [r.name for r in record] == ORDER
    assert {r.status for r in record} == {"success"}
    ends = {r.name: r.end for r in record}
    for r in record:
        assert r.start <= r.end
        assert all(ends[d] <= r.start for d in MODELS[r.name].deps if d in ends)
    spans = [(r.start, r.end) for r in record if r.name in INDEPENDENT]
    assert any(
        max(a[0], b[0]) < min(a[1], b[1])
        for a, b in itertools.combinations(spans, 2)
    )
    # each stored model's jobs are described by its name
    stored = {n for n, m in MODELS.items() if m.materialization != "view"}
    assert described == {n: n for n in stored}


class _Injected(RuntimeError):
    pass


def test_failure_skips_dependants_and_running_models_finish(
    runner, generated_seeds, monkeypatch
):
    """int_alerts_enriched fails while int_sensor_readings_cleaned runs:
    the cleaned table is still written, but none of its dependants
    start, and run raises the failing model's error."""
    cleaning, failed = threading.Event(), threading.Event()
    once = runner._run_model_once

    def run_once(model, relations, full_refresh):
        if model.name == "int_alerts_enriched":
            assert cleaning.wait(60)
            failed.set()
            raise _Injected(model.name)
        if model.name == "int_sensor_readings_cleaned":
            cleaning.set()
            assert failed.wait(60)
            # margin for the scheduler to take the failure in first
            time.sleep(0.5)
        return once(model, relations, full_refresh)

    monkeypatch.setattr(runner, "_run_model_once", run_once)
    with pytest.raises(_Injected, match="int_alerts_enriched"):
        runner.run(generated_seeds, full_refresh=True)

    status = {r.name: r.status for r in runner.run_results}
    ran = {"stg_alerts", "stg_devices", "stg_sensor_readings",
           "int_sensor_readings_cleaned"}
    assert status == {
        n: "success" if n in ran
        else "error" if n == "int_alerts_enriched"
        else "skipped"
        for n in ORDER
    }
    assert runner.mat.exists("int_sensor_readings_cleaned", "silver")
    for r in runner.run_results:
        if r.status == "skipped":
            assert r.start is None
            assert not runner.mat.exists(r.name, MODELS[r.name].schema_suffix)


def test_scheduler_under_thread_switching(runner, generated_seeds, monkeypatch):
    """More threads than the DAG is wide and a short switch interval:
    every model still builds once, after all of its dependencies, and
    its times are recorded. The builds are stubs, so only the
    scheduler runs."""
    monkeypatch.setattr(config, "THREADS", 8)
    built: list[str] = []

    def stub(model, relations, full_refresh):
        assert all(d in relations for d in model.deps), model.name
        built.append(model.name)
        return relations[model.deps[0]]

    monkeypatch.setattr(runner, "_run_model_once", stub)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(20):
            built.clear()
            rel = runner.run(generated_seeds)
            assert sorted(built) == sorted(ORDER)
            assert list(rel) == [*generated_seeds, *ORDER]
            assert [(r.name, r.status) for r in runner.run_results] == [
                (n, "success") for n in ORDER
            ]
    finally:
        sys.setswitchinterval(interval)


def _rows_per_run(spark, batches, warehouse):
    """Every model's rows, collected after each batch's run (an
    increment replaces the files the earlier relations read)."""
    out = []
    for batch, (seeds_dir, _bytes) in enumerate(batches):
        cfg = RunConfig(invocation_id="threads", warehouse_dir=warehouse,
                        frozen_now=IotSeeds.frozen_now(batch))
        rel = PipelineRunner(spark, cfg).run(
            load_seeds(spark, seeds_dir), full_refresh=batch == 0
        )
        out.append({n: sorted(map(repr, rel[n].collect())) for n in MODELS})
    return out


def test_rows_equal_a_one_thread_run(spark, tmp_path, monkeypatch):
    batches = IotSeeds(11, 10, 500, (100,)).write(str(tmp_path / "seeds"))
    concurrent = _rows_per_run(spark, batches, str(tmp_path / "wh4"))
    monkeypatch.setattr(config, "THREADS", 1)
    serial = _rows_per_run(spark, batches, str(tmp_path / "wh1"))
    for full_or_increment, (got, want) in enumerate(zip(concurrent, serial)):
        for name in MODELS:
            assert got[name] == want[name], (full_or_increment, name)
