"""The reference's 54-test data-quality suite must pass on the fixture
pipeline, and each generic test must actually detect violations."""

from __future__ import annotations

import pyspark.sql.functions as F

from dbt_datbricks_demo_spark.testing import (
    accepted_values,
    not_null,
    reference_suite,
    relationships,
    run_suite,
    unique,
    value_in_range,
)


def test_54_tests_all_pass(dag):
    specs = reference_suite()
    assert len(specs) == 54
    results = run_suite(specs, dag)
    failed = [r for r in results if not r.passed]
    assert not failed, f"failing tests: {[r.name for r in failed]}"


def test_generic_tests_detect_violations(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", None, "y"), (None, 3, "zz")],
        "id string, v int, cat string",
    )
    assert not_null(df, "id").count() == 1
    assert not_null(df, "v").count() == 1
    assert unique(df, "id").count() == 1  # 'a' twice; null ignored
    assert accepted_values(df, "cat", ["x", "y"]).count() == 1  # 'zz'
    parent = spark.createDataFrame([("a",)], "id string")
    assert relationships(df, "id", parent, "id").count() == 0  # nulls skipped
    child = spark.createDataFrame([("b",)], "id string")
    assert relationships(child, "id", parent, "id").count() == 1
    nums = spark.createDataFrame([(5,), (500,), (500,), (None,)], "v int")
    viol = value_in_range(nums, "v", 0, 100).collect()
    assert len(viol) == 1 and viol[0]["occurrences"] == 2


def test_relationships_ignores_duplicate_parent_keys(spark):
    """The anti-join reads the parent's keys as they are: repeating them
    leaves the violating child rows unchanged."""
    child = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("c",), (None,)], "id string"
    )
    parent = spark.createDataFrame([("a",), ("c",)], "id string")
    repeated = parent.union(parent).union(parent.filter("id = 'a'"))
    want = sorted(relationships(child, "id", parent, "id").collect())
    assert sorted(relationships(child, "id", repeated, "id").collect()) == want
    assert [r.id for r in want] == ["b", "b"]


def test_failing_suite_reports_counts(spark, dag):
    from dbt_datbricks_demo_spark.testing.runner import TestSpec

    bad = TestSpec(
        "always_fails", "stg_devices",
        lambda rel: rel["stg_devices"].filter(F.col("is_active")),
    )
    [res] = run_suite([bad], dag)
    assert not res.passed and res.failures == 10


def test_store_failures_persists_violations(spark, tmp_path):
    """dbt --store-failures parity: a failing test writes its violating
    rows to an audit path named after the test; passing tests write
    nothing."""
    from pyspark.sql import Row

    from dbt_datbricks_demo_spark.testing import not_null, unique
    from dbt_datbricks_demo_spark.testing.runner import TestSpec, run_suite

    df = spark.createDataFrame(
        [Row(id=1), Row(id=1), Row(id=None)]
    )
    relations = {"t": df}
    specs = [
        TestSpec("unique_t_id", "t", lambda r: unique(r["t"], "id")),
        TestSpec("not_null_t_id", "t", lambda r: not_null(r["t"], "id")),
    ]
    audit = str(tmp_path / "audit")
    results = run_suite(specs, relations, store_failures_dir=audit)
    assert all(not r.passed for r in results)
    stored = spark.read.parquet(f"{audit}/unique_t_id").collect()
    assert len(stored) == 1  # one duplicated key group
    stored_nn = spark.read.parquet(f"{audit}/not_null_t_id").collect()
    assert len(stored_nn) == 1
