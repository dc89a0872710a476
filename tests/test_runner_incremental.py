"""End-to-end runner tests: full build, incremental merge semantics,
tag selection, gating, and control flow."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans import MODELS, PipelineRunner
from dbt_datbricks_demo_spark.sources import load_seeds
from tests.conftest import FROZEN_NOW, SEEDS_DIR


@pytest.fixture()
def runner(spark, tmp_path):
    cfg = RunConfig(
        invocation_id="runner-test",
        frozen_now=FROZEN_NOW,
        warehouse_dir=str(tmp_path / "warehouse"),
    )
    return PipelineRunner(spark, cfg)


def test_full_build_then_incremental_noop(spark, runner, seeds):
    rel = runner.run(seeds)
    assert rel["int_sensor_readings_cleaned"].count() == 209
    assert rel["fct_device_summary"].count() == 10

    # second run: watermark filter (strict >) sees no new rows; silver
    # tables keep their contents, gold rebuilds identically
    rel2 = runner.run(seeds)
    assert rel2["int_sensor_readings_cleaned"].count() == 209
    assert rel2["fct_device_summary"].count() == 10


def test_incremental_upsert_updates_and_inserts(spark, runner, seeds):
    runner.run(seeds)

    # simulate a late batch: one updated reading (same key, newer ingest,
    # new value) + one brand-new reading
    updated = spark.createDataFrame(
        [
            ("R001", "DEV001", "temperature", 99.9,
             dt.datetime(2025, 1, 15, 8, 0, 0), dt.datetime(2025, 1, 15, 12, 0, 0)),
            ("R999", "DEV001", "temperature", 70.0,
             dt.datetime(2025, 1, 15, 11, 0, 0), dt.datetime(2025, 1, 15, 12, 0, 0)),
        ],
        seeds["raw_sensor_readings"].schema,
    )
    bumped = dict(seeds)
    bumped["raw_sensor_readings"] = seeds["raw_sensor_readings"].unionByName(updated)

    rel = runner.run(bumped)
    cleaned = rel["int_sensor_readings_cleaned"]
    assert cleaned.count() == 210  # 209 + R999; R001 merged, not duplicated
    r001 = cleaned.filter("reading_id = 'R001'").collect()
    assert len(r001) == 1
    assert r001[0]["metric_value"] == 99.9  # MERGE whenMatchedUpdateAll
    assert r001[0]["is_anomaly"] is True  # 99.9 > temperature_upper=85
    assert cleaned.filter("reading_id = 'R999'").count() == 1


def test_full_refresh_flag(spark, runner, seeds):
    runner.run(seeds)
    rel = runner.run(seeds, full_refresh=True)
    assert rel["int_sensor_readings_cleaned"].count() == 209


def test_tag_selection_bronze_only(spark, runner, generated_seeds):
    rel = runner.run(generated_seeds, select_tags={"bronze"})
    assert "stg_devices" in rel
    # gold models not built (not selected, never materialized)
    assert "fct_device_summary" not in rel or rel["fct_device_summary"] is None


def test_gated_run_builds_gold_when_silver_passes(spark, runner, seeds):
    rel, results = runner.run_gated(seeds)
    assert all(r.passed for r in results)
    assert rel["fct_device_summary"].count() == 10


def test_gate_blocks_gold_on_bad_data(spark, tmp_path, generated_seeds):
    cfg = RunConfig(
        invocation_id="gate-test", frozen_now=FROZEN_NOW,
        warehouse_dir=str(tmp_path / "wh2"),
    )
    runner = PipelineRunner(spark, cfg)
    # orphan alert → singular test fails → gold must not be built
    orphan = spark.createDataFrame(
        [("ALT999", "DEV_MISSING", "threshold_breach", "critical", "temperature",
          85.0, 99.0, dt.datetime(2025, 1, 15, 9, 0), None, None)],
        generated_seeds["raw_alerts"].schema,
    )
    bad = dict(generated_seeds)
    bad["raw_alerts"] = generated_seeds["raw_alerts"].unionByName(orphan)
    rel, results = runner.run_gated(bad)
    failed = {r.name for r in results if not r.passed}
    assert "assert_no_orphan_alerts" in failed
    assert not runner.mat.exists("fct_device_summary", "gold")


def test_conditional_refresh_branches_on_anomaly_count(
    runner, generated_seeds, monkeypatch
):
    """Reference if/else branch: more anomalies in the built silver table
    than the threshold → full refresh (incremental models rewritten, no
    merge), else an incremental run (incremental models merged)."""
    rel = runner.run(generated_seeds)
    n = rel["int_sensor_readings_cleaned"].filter("is_anomaly").count()
    merged = []
    merge = runner.mat.merge_upsert
    monkeypatch.setattr(
        runner.mat,
        "merge_upsert",
        lambda name, *a, **kw: merged.append(name) or merge(name, *a, **kw),
    )
    runner.conditional_refresh(generated_seeds, anomaly_threshold=n - 1)
    assert merged == []
    runner.conditional_refresh(generated_seeds, anomaly_threshold=n + 1)
    assert "int_sensor_readings_cleaned" in merged


def test_per_plant_health(spark, runner, seeds):
    rel = runner.run(seeds)
    plants = runner.per_plant_health(rel)
    rows = {r["plant_location"]: r for r in plants.collect()}
    assert set(rows) == {"Plant-Detroit", "Plant-Chicago", "Plant-Austin"}
    assert sum(r["device_days"] for r in rows.values()) == 10


def test_merge_upsert_at_testdata_scale(spark, tmp_path):
    """Incremental merge on the 60k-row events table: two watermarked
    batches must converge to the same table as one full build — the
    materialization layer's semantics hold beyond the 209-row seeds."""
    from pyspark.sql import functions as F

    from dbt_datbricks_demo_spark.plans.materialize import Materializer

    from dbt_datbricks_demo_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    cutoff = ev.selectExpr("percentile_approx(ts, 0.6) as c").first()["c"]
    batch1 = ev.filter(F.col("ts") <= F.lit(cutoff))
    batch2 = ev.filter(F.col("ts") > F.lit(cutoff))
    assert batch1.count() > 0 and batch2.count() > 0

    mat = Materializer(spark, str(tmp_path / "wh"), target="t")
    mat.as_table("events_inc", "silver", batch1)
    hw = mat.high_water("events_inc", "silver", "ts")
    assert hw is not None
    # watermark filter then merge — the reference's incremental protocol
    late = ev.filter(F.col("ts") > F.lit(hw))
    mat.merge_upsert("events_inc", "silver", late, unique_key="event_id")

    merged = mat.read("events_inc", "silver")
    assert merged.count() == ev.count()
    # value-level equivalence with the one-shot build
    assert merged.select("event_id", "value").subtract(
        ev.select("event_id", "value")
    ).count() == 0


def test_merge_upsert_schema_evolution(spark, tmp_path):
    """append_new_columns semantics (on_schema_change,
    int_sensor_readings_cleaned.sql:15): a new column in the source
    lands in the target; pre-existing rows carry null."""
    from pyspark.sql import functions as F

    from dbt_datbricks_demo_spark.plans.materialize import Materializer

    mat = Materializer(spark, str(tmp_path / "wh"), target="t")
    v1 = spark.range(5).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    mat.as_table("evo", "silver", v1)
    v2 = spark.range(3, 8).select(
        F.col("id").alias("k"), F.lit("b").alias("v"), F.lit(1.5).alias("extra")
    )
    mat.merge_upsert("evo", "silver", v2, unique_key="k")
    out = mat.read("evo", "silver")
    assert set(out.columns) == {"k", "v", "extra"}
    rows = {r["k"]: r for r in out.collect()}
    assert len(rows) == 8
    assert rows[0]["extra"] is None and rows[0]["v"] == "a"  # untouched row
    assert rows[4]["v"] == "b" and rows[4]["extra"] == 1.5  # updated row


def test_selected_model_with_missing_upstream_raises_descriptive(runner, generated_seeds):
    # fresh warehouse: gold's silver dependencies were never materialized
    with pytest.raises(RuntimeError, match="not materialized") as err:
        runner.run(generated_seeds, select_tags={"gold"})
    # the first gold model in topological order names its silver refs
    assert "model 'dim_devices' depends on ['int_sensor_readings_cleaned']" in str(
        err.value
    )
    # the selection is checked before any model is built
    assert runner.run_results == []
    assert not any(
        runner.mat.exists(n, m.schema_suffix) for n, m in MODELS.items()
    )
