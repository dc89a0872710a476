"""The one statement run_suite decides a suite with: each column test's
excess (count_if(bad) + count(v) − count(DISTINCT v)) is 0 exactly when
its violations DataFrame is empty, unique columns of several Spark types
share the statement, and run_suite reports and stores what it reports
and stores when run on one spec at a time."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.testing import column_test, reference_suite, run_suite
from dbt_datbricks_demo_spark.testing import runner

_KINDS = [("not_null", None), ("unique", None), ("accepted_values", ("a", "b"))]

# (rows of column c, kinds expected to fail)
_CASES = {
    "planted": ([("a",), ("a",), (None,), ("zz",)],
                {"not_null", "unique", "accepted_values"}),
    "clean": ([("a",), ("b",)], set()),
    "empty": ([], set()),
    "all_null": ([(None,), (None,), (None,)], {"not_null"}),
    "all_duplicate": ([("b",), ("b",), ("b",)], {"unique"}),
    # NULLs are not outside the accepted set
    "nulls_in_accepted": ([("a",), (None,), ("b",)], {"not_null"}),
}


def _alone(spec, relations, **kwargs):
    """``spec`` decided by a statement of its own."""
    return run_suite([spec], relations, **kwargs)[0]


def _excess(spark, specs, relations) -> dict[int, int]:
    """The suite statement's non-zero excess per spec index."""
    sql, refs = runner._suite_sql(specs, relations)
    return dict(spark.sql(sql, **refs).collect())


@pytest.mark.parametrize("case", sorted(_CASES))
@pytest.mark.parametrize("kind,values", _KINDS, ids=[k for k, _ in _KINDS])
def test_aggregate_is_zero_iff_violations_empty(spark, case, kind, values):
    rows, failing = _CASES[case]
    df = spark.createDataFrame(rows, "c string")
    spec = column_test("t", "c", kind, values)
    excess = _excess(spark, [spec], {"t": df}).get(0, 0)
    empty = spec.build({"t": df}).isEmpty()
    assert (excess == 0) == empty
    assert empty == (kind not in failing)


def test_aggregate_matches_grouping_on_float_edge_values(spark):
    # NaN equals NaN and -0.0 equals 0.0 in both GROUP BY and DISTINCT
    df = spark.createDataFrame(
        [(math.nan,), (math.nan,), (0.0,), (-0.0,), (1.0,)], "c double"
    )
    spec = column_test("t", "c", "unique")
    assert _excess(spark, [spec], {"t": df}) == {0: 2}
    assert spec.build({"t": df}).count() == 2


def test_unique_columns_of_three_types_share_one_statement(spark):
    """One value column per Spark type: a string, a bigint and a double
    column are compared uncast, so 0.0 and -0.0 repeat (as strings they
    would not) while '1' and 1 in different columns do not."""
    df = spark.createDataFrame(
        [("1", 1, 0.0), ("2", 1, -0.0), ("3", 2, 1.0)],
        "s string, n bigint, d double",
    )
    clean = spark.createDataFrame([("x", 7, math.nan)], "s string, n bigint, d double")
    rel = {"t": df, "u": clean}
    specs = [column_test(m, c, "unique") for m in ("t", "u") for c in ("s", "n", "d")]
    sql, _refs = runner._suite_sql(specs, rel)
    assert all(f"CAST(NULL AS {t})" in sql for t in ("string", "bigint", "double"))
    assert _excess(spark, specs, rel) == {1: 1, 2: 1}
    assert run_suite(specs, rel) == [
        runner.TestResult(s.name, n == 0, n)
        for s in specs
        for n in [s.build(rel).count()]
    ]


def _relations(spark):
    """Models with planted failures of all five kinds: ``p`` is the
    parent of ``t.k``; ``stg_alerts`` has an alert whose device is not
    in ``stg_devices`` (the singular orphan test)."""
    t = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (None, "zz", 30), (2, None, 40),
         (3, "qq", 50), (3, "qq", 60)],
        "k int, cat string, v int",
    )
    p = spark.createDataFrame([(1, "x"), (2, "x"), (2, "y")], "k int, g string")
    alerts = spark.createDataFrame(
        [("A1", "D1"), ("A2", "D9"), ("A3", "D9")], "alert_id string, device_id string"
    )
    devices = spark.createDataFrame([("D1",), ("D2",)], "device_id string")
    return {"t": t, "p": p, "stg_alerts": alerts, "stg_devices": devices}


def _specs():
    orphan = [s for s in reference_suite() if s.name == "assert_no_orphan_alerts"]
    return [
        column_test("t", "k", "not_null"),
        column_test("t", "k", "unique"),
        column_test("t", "cat", "accepted_values", ["a", "b"]),
        column_test("t", "cat", "not_null"),
        column_test("t", "v", "unique"),
        column_test("t", "k", "relationships", ("p", "k")),
        column_test("p", "k", "unique"),
        column_test("p", "g", "accepted_values", ["x", "y"]),
        column_test("p", "k", "not_null"),
        runner.TestSpec("big_v", "t", lambda r: r["t"].filter(F.col("v") > 35)),
        column_test("stg_alerts", "alert_id", "unique"),
        *orphan,
    ]


_PLANTED = {
    "not_null_t_k", "unique_t_k", "accepted_values_t_cat", "not_null_t_cat",
    "relationships_t_k__p_k", "unique_p_k", "big_v", "assert_no_orphan_alerts",
}


def test_run_suite_matches_run_test_per_spec(spark):
    rel = _relations(spark)
    specs = _specs()
    fused = run_suite(specs, rel)
    alone = [_alone(s, rel) for s in specs]
    assert fused == alone
    # and both equal the violation count of each spec's build()
    assert fused == [
        runner.TestResult(s.name, n == 0, n) for s in specs for n in [s.build(rel).count()]
    ]
    # the fixture really plants failures
    assert {r.name for r in fused if not r.passed} == _PLANTED
    for models in ({"p"}, {"t", "stg_alerts"}):
        selected = run_suite(specs, rel, models=models)
        assert selected == [r for r, s in zip(alone, specs) if s.model in models]


def test_run_suite_stores_the_same_failures_as_run_test(spark, tmp_path):
    rel = _relations(spark)
    specs = _specs()
    models = {"t", "stg_alerts"}
    run_suite(specs, rel, models=models, store_failures_dir=str(tmp_path / "fused"))
    for s in specs:
        if s.model in models:
            _alone(s, rel, store_failures_dir=str(tmp_path / "alone"))
    fused = sorted(p.name for p in (tmp_path / "fused").iterdir())
    assert fused == sorted(p.name for p in (tmp_path / "alone").iterdir())
    assert fused == sorted(_PLANTED - {"unique_p_k"})
    for name in fused:
        got = spark.read.parquet(str(tmp_path / "fused" / name))
        want = spark.read.parquet(str(tmp_path / "alone" / name))
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_run_suite_labels_its_jobs_and_restores_the_callers(spark):
    sc = spark.sparkContext
    sc.setJobGroup("fused-suite-label", "the caller's description")
    try:
        run_suite(_specs(), _relations(spark), models={"p"})
        restored = sc.getLocalProperty("spark.job.description")
        jobs = sc.statusTracker().getJobIdsForGroup("fused-suite-label")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert restored == "the caller's description"
    store = sc._jsc.sc().statusStore()
    labels = {store.job(j).description().get() for j in jobs}
    assert labels == {"dbt test: 3 specs"}


def test_column_test_rejects_unknown_kind():
    with pytest.raises(ValueError, match="unknown column test kind"):
        column_test("t", "c", "not_a_kind")
