"""Shared pytest fixtures: one local SparkSession, reference seed data,
generated seed data, a frozen-clock RunConfig, and the built model DAG.

The reference seed CSVs (SEEDS_DIR) are a snapshot outside the
repository; tests that assert their golden numbers skip where it is
absent. Tests whose assertions hold for any well-formed seeds run on
seeds generated in the checkout instead."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans.dag import MODELS, topo_order
from dbt_datbricks_demo_spark.session import get_spark
from dbt_datbricks_demo_spark.sources import load_seeds
from perfbench.datagen import IotSeeds

SEEDS_DIR = "/root/reference/seeds"
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

FROZEN_NOW = dt.datetime(2025, 1, 16, 12, 0, 0)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def cfg():
    return RunConfig(invocation_id="test-run", frozen_now=FROZEN_NOW)


@pytest.fixture(scope="session")
def seeds(spark):
    """The reference seeds, for assertions on the reference's own
    numbers (FIXTURES.md); skips where the snapshot is absent."""
    if not os.path.isdir(SEEDS_DIR):
        pytest.skip(f"{SEEDS_DIR} absent")
    return load_seeds(spark, SEEDS_DIR)


@pytest.fixture(scope="session")
def generated_seeds_dir(tmp_path_factory):
    """A seeds directory holding the base batch of the deterministic
    ``IotSeeds(7, 10, 500, ())``: 10 devices, ~500 readings, alerts that
    all point at known devices, timestamps on 2025-01-15.

    Only for tests whose assertions do not depend on what the seed rows
    contain (row counts of built relations, lineage, schemas, planted
    failures). An assertion on a reference value belongs on ``seeds``.
    """
    root = tmp_path_factory.mktemp("generated_seeds")
    [(seeds_dir, _bytes)] = IotSeeds(7, 10, 500, ()).write(str(root))
    return seeds_dir


@pytest.fixture(scope="session")
def generated_seeds(spark, generated_seeds_dir):
    """``generated_seeds_dir`` loaded, keyed by seed name; the same
    restriction applies."""
    return load_seeds(spark, generated_seeds_dir)


@pytest.fixture(scope="session")
def dag(spark, seeds, cfg):
    """All 10 models built (full-refresh mode), keyed by model name."""
    out = dict(seeds)
    for name in topo_order(MODELS):
        out[name] = MODELS[name].build(out, cfg)
    out = {name: out[name] for name in MODELS}
    # cache: every test reuses these tiny frames
    for df in out.values():
        df.cache()
    return out
