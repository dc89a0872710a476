"""Contracts on the Spark jobs the medallion write path pays for: the
54-test suite over a full-refresh DAG, and reading a table back right
after writing it, which takes the written schema instead of inferring
it. Inputs are the benchmark's seeded sensor seeds, small."""

from __future__ import annotations

import pytest

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans import PipelineRunner
from dbt_datbricks_demo_spark.plans.dag import MODELS
from dbt_datbricks_demo_spark.sources import load_seeds
from dbt_datbricks_demo_spark.testing import reference_suite, run_suite
from perfbench.datagen import IotSeeds

# the parent's one isEmpty() query per test fired 70 jobs here
SUITE_JOB_BUDGET = 40
STORED = sorted(n for n, m in MODELS.items() if m.materialization != "view")


def _jobs_fired(spark, fn):
    """Run fn() inside a fresh job group; return (result, #jobs). Jobs
    from threads fn starts carry no group, so new ungrouped jobs count
    too (nothing else runs meanwhile)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    floor = max(tracker.getJobIdsForGroup(None), default=-1)
    group = f"write-path-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    stray = [j for j in tracker.getJobIdsForGroup(None) if j > floor]
    return out, len(tracker.getJobIdsForGroup(group)) + len(stray)


class _CountingReadBack:
    """Wraps ``Materializer._read_back`` and records the jobs each call
    fires, by model name."""

    def __init__(self, spark, mat):
        self.jobs: dict[str, int] = {}
        original = mat._read_back

        def read_back(name, schema_suffix, written):
            out, n = _jobs_fired(
                spark, lambda: original(name, schema_suffix, written)
            )
            self.jobs[name] = n
            return out

        mat._read_back = read_back


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
        probe = _CountingReadBack(spark, runner.mat)
        rel = runner.run(load_seeds(spark, seeds_dir), full_refresh=batch == 0)
        schemas = {
            n: (rel[n].schema,
                spark.read.parquet(runner.mat.path(n, MODELS[n].schema_suffix)).schema)
            for n in STORED
        }
        runs.append({"read_back_jobs": probe.jobs, "schemas": schemas})
        if batch == 0:
            runs[0]["suite"] = _jobs_fired(
                spark, lambda: run_suite(reference_suite(), rel)
            )
    return runs


def test_suite_on_full_refresh_fits_job_budget(medallion):
    results, jobs = medallion[0]["suite"]
    assert len(results) == 54
    assert [r.name for r in results if not r.passed] == []
    assert jobs <= SUITE_JOB_BUDGET


@pytest.mark.parametrize("run", [0, 1], ids=["full_refresh", "increment"])
def test_read_back_fires_no_job(medallion, run):
    jobs = medallion[run]["read_back_jobs"]
    assert sorted(jobs) == STORED
    assert jobs == {n: 0 for n in STORED}


@pytest.mark.parametrize("run", [0, 1], ids=["full_refresh", "increment"])
def test_read_back_schema_is_the_inferred_schema(medallion, run):
    for name, (given, inferred) in medallion[run]["schemas"].items():
        assert given == inferred, name
