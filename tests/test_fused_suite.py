"""The per-model aggregate check run_suite uses for the generic column
tests: each kind's aggregate is 0 exactly when its violations
DataFrame is empty, and run_suite reports what run_test reports spec
by spec."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark import config
from dbt_datbricks_demo_spark.testing import column_test, run_suite
from dbt_datbricks_demo_spark.testing import runner
from dbt_datbricks_demo_spark.testing.runner import run_test

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


@pytest.mark.parametrize("case", sorted(_CASES))
@pytest.mark.parametrize("kind,values", _KINDS, ids=[k for k, _ in _KINDS])
def test_aggregate_is_zero_iff_violations_empty(spark, case, kind, values):
    rows, failing = _CASES[case]
    df = spark.createDataFrame(rows, "c string")
    spec = column_test("t", "c", kind, values)
    agg = df.agg(spec.aggregate()).first()[0]
    empty = spec.build({"t": df}).isEmpty()
    assert (agg == 0) == empty
    assert empty == (kind not in failing)


def test_aggregate_matches_grouping_on_float_edge_values(spark):
    # NaN equals NaN and -0.0 equals 0.0 in both GROUP BY and DISTINCT
    df = spark.createDataFrame(
        [(math.nan,), (math.nan,), (0.0,), (-0.0,), (1.0,)], "c double"
    )
    spec = column_test("t", "c", "unique")
    assert df.agg(spec.aggregate()).first()[0] == 2
    assert spec.build({"t": df}).count() == 2


def _relations(spark):
    """Two models with planted failures of every kind; ``p`` is the
    parent of ``t.k``."""
    t = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (None, "zz", 30), (2, None, 40),
         (3, "qq", 50), (3, "qq", 60)],
        "k int, cat string, v int",
    )
    p = spark.createDataFrame([(1, "x"), (2, "x"), (2, "y")], "k int, g string")
    return {"t": t, "p": p}


def _specs():
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
    ]


def test_run_suite_matches_run_test_per_spec(spark, monkeypatch):
    rel = _relations(spark)
    specs = _specs()
    fused = run_suite(specs, rel)
    alone = [run_test(s, rel) for s in specs]
    assert fused == alone
    # the fixture really plants failures on both paths
    assert {r.name for r in fused if not r.passed} == {
        "not_null_t_k", "unique_t_k", "accepted_values_t_cat",
        "not_null_t_cat", "relationships_t_k__p_k", "unique_p_k", "big_v",
    }
    monkeypatch.setattr(config, "THREADS", 1)
    selected = run_suite(specs, rel, models={"p"})
    assert selected == [r for r, s in zip(alone, specs) if s.model == "p"]


def test_run_suite_stores_the_same_failures_as_run_test(spark, tmp_path):
    rel = _relations(spark)
    specs = _specs()
    run_suite(specs, rel, store_failures_dir=str(tmp_path / "fused"))
    for s in specs:
        run_test(s, rel, store_failures_dir=str(tmp_path / "alone"))
    fused = sorted(p.name for p in (tmp_path / "fused").iterdir())
    assert fused == sorted(p.name for p in (tmp_path / "alone").iterdir())
    assert "unique_p_k" in fused and "not_null_p_k" not in fused
    for name in fused:
        got = spark.read.parquet(str(tmp_path / "fused" / name))
        want = spark.read.parquet(str(tmp_path / "alone" / name))
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_column_test_rejects_unknown_kind():
    with pytest.raises(ValueError, match="unknown column test kind"):
        column_test("t", "c", "not_a_kind")
