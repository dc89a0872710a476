"""Contracts on the Spark jobs and py4j round trips the medallion write
path pays for: the 54-test suite over a full-refresh DAG; reading a
table, which takes the schema stored in its parquet footer instead of
inferring it; an increment's high-water marks, which the previous write
recorded; the one-shuffle merges; building a gold model's plan from its
SQL text; and building a registered query's plan, from ``F.*`` calls,
with PySpark's per-call query-context capture off. Inputs are the
benchmark's seeded sensor seeds, small, and the smoke-scale testdata."""

from __future__ import annotations

import itertools
import os

import pytest
from py4j.java_gateway import GatewayClient
from pyspark.errors import utils as pyspark_error_utils

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans import PipelineRunner
from dbt_datbricks_demo_spark.plans.dag import MODELS
from dbt_datbricks_demo_spark.queries import QUERIES
from dbt_datbricks_demo_spark.sources import load_seeds
from dbt_datbricks_demo_spark.testing import reference_suite, run_suite
from perfbench.datagen import IotSeeds

from conftest import SF_SMOKE

# one statement decides the 54 tests in 4 jobs: a broadcast of the
# devices the anti-joins read, the two exchanges of count(DISTINCT) and
# the result. Per-model aggregates and an isEmpty() query per
# relationships and singular test fired 38
SUITE_JOB_BUDGET = 4
# the three merges of one increment fire 10 jobs; the anti-join + union
# merge, which computed the new rows twice and inferred the target's
# schema, fired 16
MERGE_JOB_BUDGET = 10
# building fct_device_summary's plan (no action) from its SQL text sends
# 15 py4j commands, with the query-context capture off or on; its
# Column-DSL builder sent ~500 off, ~2 100 on
PLAN_ROUND_TRIP_BUDGET = 25
# building daily_summary_join's plan, the same shape from F.* calls,
# sends ~330 py4j commands with the capture off, over 1 000 with it on
QUERY_ROUND_TRIP_BUDGET = 600
STORED = sorted(n for n, m in MODELS.items() if m.materialization != "view")
# one job group per measured call: a group name reused by a later call
# would count the earlier call's jobs again
_GROUP_IDS = itertools.count()


def _jobs_fired(spark, fn):
    """Run fn() inside a fresh job group of the calling thread; return
    (result, ids of the group's jobs). The pool threads of
    ``PipelineRunner.run`` take a copy of their caller's local
    properties, so the jobs fn starts there count, and jobs that other
    threads run meanwhile (a concurrent model's) do not. The thread's
    group and description are restored afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"write-path-{next(_GROUP_IDS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _sql_executions(spark, jobs) -> set[int]:
    """Ids of the SQL executions (one per action) that ran ``jobs``,
    looked up among the 100 latest the SQL status store keeps."""
    store = spark._jsparkSession.sharedState().statusStore()
    recent = store.executionsList(max(0, store.executionsCount() - 100), 100)
    found = set()
    for k in range(recent.size()):
        execution = recent.apply(k)
        ran = execution.jobs().keys().mkString(",")
        if ran and set(jobs) & {int(j) for j in ran.split(",")}:
            found.add(execution.executionId())
    return found


class _CountingCalls:
    """Wraps the named ``Materializer`` methods and records the jobs
    each call fires, by (method, model name)."""

    METHODS = ("_read_back", "high_water", "merge_upsert")

    def __init__(self, spark, mat):
        self.jobs: dict[tuple[str, str], int] = {}
        for method in self.METHODS:
            setattr(mat, method, self._counting(spark, method, getattr(mat, method)))

    def _counting(self, spark, method, original):
        def call(name, *args, **kwargs):
            out, ids = _jobs_fired(spark, lambda: original(name, *args, **kwargs))
            self.jobs[method, name] = len(ids)
            return out
        return call

    def of(self, method: str) -> dict[str, int]:
        return {name: n for (m, name), n in self.jobs.items() if m == method}


@pytest.fixture(scope="module")
def medallion(spark, tmp_path_factory):
    """A full refresh on the base batch, the suite over it, then one
    increment (which replaces the files the first relations read)."""
    root = tmp_path_factory.mktemp("medallion")
    batches = IotSeeds(7, 10, 2_000, (200,)).write(str(root / "seeds"))
    warehouse = str(root / "warehouse")
    runs = []
    for batch, (seeds_dir, _bytes) in enumerate(batches):
        cfg = RunConfig(invocation_id="write-path",
                        frozen_now=IotSeeds.frozen_now(batch),
                        warehouse_dir=warehouse)
        runner = PipelineRunner(spark, cfg)
        probe = _CountingCalls(spark, runner.mat)
        rel = runner.run(load_seeds(spark, seeds_dir), full_refresh=batch == 0)
        schemas = {
            n: (rel[n].schema,
                spark.read.parquet(runner.mat.path(n, MODELS[n].schema_suffix)).schema)
            for n in STORED
        }
        runs.append({"calls": probe, "schemas": schemas, "runner": runner,
                     "rel": rel, "cfg": cfg})
        if batch == 0:
            runs[0]["suite"] = _jobs_fired(
                spark, lambda: run_suite(reference_suite(), rel)
            )
    return runs


def test_suite_on_full_refresh_fits_job_budget(spark, medallion):
    results, jobs = medallion[0]["suite"]
    assert len(results) == 54
    assert [r.name for r in results if not r.passed] == []
    # above 0: the suite runs in the caller's job group
    assert 0 < len(jobs) <= SUITE_JOB_BUDGET
    # a passing suite is one statement with one action
    assert len(_sql_executions(spark, jobs)) == 1


@pytest.mark.parametrize("run", [0, 1], ids=["full_refresh", "increment"])
def test_read_back_fires_no_job(medallion, run):
    jobs = medallion[run]["calls"].of("_read_back")
    assert sorted(jobs) == STORED
    assert jobs == {n: 0 for n in STORED}


@pytest.mark.parametrize("run", [0, 1], ids=["full_refresh", "increment"])
def test_read_back_schema_is_the_inferred_schema(medallion, run):
    for name, (given, inferred) in medallion[run]["schemas"].items():
        assert given == inferred, name


def test_read_fires_no_job_and_takes_the_inferred_schema(spark, medallion):
    mat = medallion[1]["runner"].mat
    for name in STORED:
        suffix = MODELS[name].schema_suffix
        df, jobs = _jobs_fired(spark, lambda: mat.read(name, suffix))
        assert jobs == [], name
        assert df.schema == spark.read.parquet(mat.path(name, suffix)).schema, name


INCREMENTAL = sorted(n for n, m in MODELS.items() if m.materialization == "incremental")


def test_increment_high_water_fires_no_job(medallion):
    jobs = medallion[1]["calls"].of("high_water")
    assert jobs == {n: 0 for n in INCREMENTAL}


def test_increment_merges_fit_job_budget(medallion):
    jobs = medallion[1]["calls"].of("merge_upsert")
    assert sorted(jobs) == INCREMENTAL
    assert 0 < sum(jobs.values()) <= MERGE_JOB_BUDGET, jobs


def _round_trips(fn) -> int:
    """py4j commands the driver sends while fn() runs."""
    sent = 0
    original = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        nonlocal sent
        sent += 1
        return original(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        fn()
    finally:
        GatewayClient.send_command = original
    return sent


def _build_gold(medallion):
    run = medallion[1]
    model = MODELS["fct_device_summary"]
    return lambda: model.build(run["rel"], run["cfg"], None)


def test_gold_plan_build_fits_round_trip_budget(medallion):
    assert pyspark_error_utils.is_debugging_enabled() is False
    assert _round_trips(_build_gold(medallion)) <= PLAN_ROUND_TRIP_BUDGET


def _build_query(spark):
    if not os.path.isdir(SF_SMOKE):
        pytest.skip(f"{SF_SMOKE} absent")
    build = QUERIES["daily_summary_join"].build
    return lambda: build(spark, SF_SMOKE)


def test_query_plan_build_fits_round_trip_budget(spark):
    assert pyspark_error_utils.is_debugging_enabled() is False
    assert _round_trips(_build_query(spark)) <= QUERY_ROUND_TRIP_BUDGET


def test_round_trip_budget_fails_with_query_context_capture(spark, monkeypatch):
    """The budget above tells the capture apart: with it on (PySpark
    caches the flag per process, so the cache is flipped) the same
    build exceeds it."""
    monkeypatch.setattr(pyspark_error_utils, "_enable_debugging_cache", True)
    assert _round_trips(_build_query(spark)) > QUERY_ROUND_TRIP_BUDGET
