"""Test suite runner: executes TestSpecs, reports PASS/FAIL counts like
``dbt test`` (reference SETUP_GUIDE.md:347-351 'Done. PASS=54').

``run_suite`` decides every selected spec in one Spark statement with
one action: a ``UNION ALL`` of ``(test_id, bad, v…)`` rows under one
``GROUP BY test_id`` that computes, per test,

    count_if(bad) + Σ (count(v) − count(DISTINCT v))

which is 0 exactly when the test's violations are empty. A spec with a
column form stacks one row per row of its model: ``bad`` is its
predicate, ``v`` the value that must not repeat, in the value column of
its Spark type (no cast, so ``count(DISTINCT)`` groups NaN and ±0.0 as
``GROUP BY`` does). A spec without one (``relationships``, singular and
ad-hoc tests) adds its ``build()`` rows with ``bad`` true. Only a
failing test builds its violations, to count them and, with
``store_failures_dir``, to write them."""

from __future__ import annotations

from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class TestSpec:
    name: str  # e.g. "not_null_stg_devices_device_id"
    model: str  # model the test targets (for layer/tag selection)
    build: Callable[[Mapping[str, DataFrame]], DataFrame]  # → violations
    # the column form, over relations[model]: a SQL predicate true on a
    # violating row, and a column whose non-NULL values must not repeat.
    # build() is empty exactly when neither finds one. A spec with
    # neither is decided on build()'s rows.
    bad: str | None = None
    value: str | None = None


@dataclass(frozen=True)
class TestResult:
    name: str
    passed: bool
    failures: int  # number of violating rows (0 when passed)


def _failed(
    spec: TestSpec, violations: DataFrame, store_failures_dir: str | None
) -> TestResult:
    """A failing test pays for the full count. With store_failures (dbt
    `--store-failures`), the violating rows are also persisted under an
    audit path named after the test so a failure can be debugged without
    re-running the query."""
    if store_failures_dir is not None:
        violations.write.mode("overwrite").parquet(
            f"{store_failures_dir}/{spec.name}"
        )
    return TestResult(spec.name, False, violations.count())


def _quote(column: str) -> str:
    return "`" + column.replace("`", "``") + "`"


def _suite_sql(
    specs: list[TestSpec], relations: Mapping[str, DataFrame]
) -> tuple[str, dict[str, DataFrame]]:
    """The statement deciding ``specs`` and the DataFrames its
    placeholders name; its rows are ``(test_id, excess)`` for the
    failing specs only (test_id = index in ``specs``). Column-form
    specs stack rows over their model, one placeholder per model; any
    other spec stacks one row per row of its own ``build()``."""
    typed = {i: relations[s.model].schema[s.value].dataType.simpleString()
             for i, s in enumerate(specs) if s.value is not None}
    types = list(dict.fromkeys(typed.values()))  # one value column per type
    names = ", ".join(["test_id", "bad", *(f"v{k}" for k in range(len(types)))])

    def row(i: int) -> str:
        s = specs[i]
        bad = s.bad or ("false" if s.value is not None else "true")
        vs = (_quote(s.value) if typed.get(i) == t else f"CAST(NULL AS {t})"
              for t in types)
        # literal text of the format string spark.sql fills in
        return ", ".join([str(i), bad, *vs]).replace("{", "{{").replace("}", "}}")

    groups: dict[object, list[int]] = {}
    for i, s in enumerate(specs):
        groups.setdefault(s.model if s.bad or s.value else i, []).append(i)
    refs, parts = {}, []
    for g, idx in enumerate(groups.values()):
        s = specs[idx[0]]
        refs[f"r{g}"] = relations[s.model] if s.bad or s.value else s.build(relations)
        rows = ", ".join(map(row, idx))
        parts.append(f"SELECT stack({len(idx)}, {rows}) AS ({names}) FROM {{r{g}}}")
    excess = " + ".join(["count_if(bad)", *(
        f"count(v{k}) - count(DISTINCT v{k})" for k in range(len(types))
    )])
    return (
        f"SELECT test_id, {excess} AS excess FROM ({' UNION ALL '.join(parts)}) "
        "GROUP BY test_id HAVING excess <> 0"
    ), refs


def run_suite(
    specs: list[TestSpec],
    relations: Mapping[str, DataFrame],
    models: set[str] | None = None,
    store_failures_dir: str | None = None,
) -> list[TestResult]:
    """Run (a selection of) the suite; results come back in spec order.

    One statement, one action decides every selected spec (module
    docstring); its jobs carry the description ``dbt test: <n> specs``,
    and the caller's description is restored afterwards."""
    selected = [s for s in specs if models is None or s.model in models]
    if not selected:
        return []
    spark = SparkSession.active()
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"dbt test: {len(selected)} specs")
    try:
        sql, refs = _suite_sql(selected, relations)
        failing = dict(spark.sql(sql, **refs).collect())
        return [
            _failed(s, s.build(relations), store_failures_dir)
            if i in failing
            else TestResult(s.name, True, 0)
            for i, s in enumerate(selected)
        ]
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def summarize(results: list[TestResult]) -> str:
    passed = sum(r.passed for r in results)
    failed = [r for r in results if not r.passed]
    lines = [f"Done. PASS={passed} FAIL={len(failed)} TOTAL={len(results)}"]
    for r in failed:
        lines.append(f"  FAIL {r.name}: {r.failures} violating rows")
    return "\n".join(lines)
