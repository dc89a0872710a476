"""dbt `state:modified+` slim-CI parity: fingerprint the model
definitions, detect drift vs a saved state, select changed models plus
their downstream closure, and rebuild only those."""

from __future__ import annotations

import dataclasses
import os

import pytest

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans import state
from dbt_datbricks_demo_spark.plans.dag import MODELS
from dbt_datbricks_demo_spark.plans.runner import PipelineRunner


def test_unchanged_state_selects_nothing(tmp_path):
    state.save_state(str(tmp_path))
    assert state.modified(str(tmp_path)) == set()
    assert state.modified_plus_downstream(str(tmp_path)) == set()


def test_modified_model_selects_downstream_closure(tmp_path, monkeypatch):
    state.save_state(str(tmp_path))
    real = state.fingerprints()
    real["int_device_health"] = "deadbeef" + real["int_device_health"][8:]
    monkeypatch.setattr(state, "fingerprints", lambda: real)
    sel = state.modified_plus_downstream(str(tmp_path))
    assert "int_device_health" in sel
    assert "fct_hourly_metrics" in sel  # direct child
    assert "stg_devices" not in sel  # upstream stays untouched
    assert "fct_anomaly_events" not in sel  # sibling branch untouched


def test_new_model_counts_as_modified(tmp_path, monkeypatch):
    state.save_state(str(tmp_path))
    real = state.fingerprints()
    real["brand_new_model"] = "0" * 32
    monkeypatch.setattr(state, "fingerprints", lambda: real)
    assert "brand_new_model" in state.modified(str(tmp_path))


def test_runner_select_names_rebuilds_only_selection(spark, generated_seeds, tmp_path):
    cfg = RunConfig(warehouse_dir=str(tmp_path / "wh"))
    runner = PipelineRunner(spark, cfg)
    runner.run(dict(generated_seeds))  # full build materializes every table

    untouched = runner.mat.path("fct_device_summary", "gold")
    before = max(
        os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    )

    out = runner.run(
        dict(generated_seeds),
        select_names={"int_device_health", "fct_hourly_metrics"},
    )
    assert "fct_hourly_metrics" in out
    after = max(
        os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
    )
    assert after == before, "deselected gold table must not be rewritten"


def _downstream(name: str) -> set[str]:
    children = {n for n, m in MODELS.items() if name in m.deps}
    return {name}.union(*(_downstream(c) for c in children))


@pytest.mark.parametrize("name", sorted(MODELS))
def test_sql_edit_selects_model_and_downstream(tmp_path, monkeypatch, name):
    state.save_state(str(tmp_path))
    edited = dataclasses.replace(MODELS[name], sql=MODELS[name].sql + "-- edited\n")
    monkeypatch.setitem(MODELS, name, edited)
    assert state.modified(str(tmp_path)) == {name}
    assert state.modified_plus_downstream(str(tmp_path)) == _downstream(name)


def test_anomaly_case_edit_selects_cleaned_and_its_children(tmp_path, monkeypatch):
    state.save_state(str(tmp_path))
    name = "int_sensor_readings_cleaned"
    sql = MODELS[name].sql.replace(
        "metric_value > :vibration_upper", "metric_value >= :vibration_upper"
    )
    assert sql != MODELS[name].sql
    monkeypatch.setitem(MODELS, name, dataclasses.replace(MODELS[name], sql=sql))
    assert state.modified_plus_downstream(str(tmp_path)) == {
        name, "int_device_health", "fct_hourly_metrics", "fct_device_summary",
        "fct_anomaly_events", "dim_devices",
    }
