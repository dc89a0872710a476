"""Test suite runner: executes TestSpecs, reports PASS/FAIL counts like
``dbt test`` (reference SETUP_GUIDE.md:347-351 'Done. PASS=54')."""

from __future__ import annotations

from collections.abc import Callable, Mapping
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from dbt_datbricks_demo_spark import config


@dataclass(frozen=True)
class TestSpec:
    name: str  # e.g. "not_null_stg_devices_device_id"
    model: str  # model the test targets (for layer/tag selection)
    build: Callable[[Mapping[str, DataFrame]], DataFrame]  # → violations
    # an aggregate over relations[model] that is 0 exactly when build()
    # is empty; run_suite checks all of a model's aggregates in one scan.
    # None: the test runs on its own (isEmpty() on build()).
    aggregate: Callable[[], Column] | None = None


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


def run_test(
    spec: TestSpec,
    relations: Mapping[str, DataFrame],
    store_failures_dir: str | None = None,
) -> TestResult:
    violations = spec.build(relations)
    # isEmpty() avoids counting all violations just to learn pass/fail
    if violations.isEmpty():
        return TestResult(spec.name, True, 0)
    return _failed(spec, violations, store_failures_dir)


def _run_model_checks(
    specs: list[TestSpec],
    relations: Mapping[str, DataFrame],
    store_failures_dir: str | None,
) -> list[TestResult]:
    """Every aggregate of one model in a single scan; only a test whose
    aggregate is non-zero builds its violations."""
    row = relations[specs[0].model].agg(
        *(s.aggregate().alias(f"t{i}") for i, s in enumerate(specs))
    ).first()
    return [
        TestResult(s.name, True, 0)
        if row[i] == 0
        else _failed(s, s.build(relations), store_failures_dir)
        for i, s in enumerate(specs)
    ]


def run_suite(
    specs: list[TestSpec],
    relations: Mapping[str, DataFrame],
    models: set[str] | None = None,
    store_failures_dir: str | None = None,
) -> list[TestResult]:
    """Run (a selection of) the suite; results come back in spec order.

    Specs with an ``aggregate`` are grouped by model, and each group is
    checked with one ``agg(...).first()`` over the model — one scan
    instead of one query per test. Specs without one (relationships,
    singular tests) run their own ``isEmpty()`` query. The per-model
    checks and those queries share a pool of ``config.THREADS`` driver
    threads, each batch with a copy of the caller's Spark local
    properties (its job group, …); Spark jobs from separate driver
    threads run concurrently on the cluster."""
    selected = [s for s in specs if models is None or s.model in models]
    groups: dict[str, list[int]] = {}
    for i, s in enumerate(selected):
        if s.aggregate is not None:
            groups.setdefault(s.model, []).append(i)
    batches = list(groups.values()) + [
        [i] for i, s in enumerate(selected) if s.aggregate is None
    ]

    def check(idx: list[int]) -> list[TestResult]:
        batch = [selected[i] for i in idx]
        if batch[0].aggregate is None:
            return [run_test(batch[0], relations, store_failures_dir)]
        return _run_model_checks(batch, relations, store_failures_dir)

    results: list[TestResult] = [None] * len(selected)  # type: ignore[list-item]
    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=config.THREADS) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(check), idx)
            for idx in batches
        ]
        for idx, future in zip(batches, futures):
            for i, r in zip(idx, future.result()):
                results[i] = r
    return results


def summarize(results: list[TestResult]) -> str:
    passed = sum(r.passed for r in results)
    failed = [r for r in results if not r.passed]
    lines = [f"Done. PASS={passed} FAIL={len(failed)} TOTAL={len(results)}"]
    for r in failed:
        lines.append(f"  FAIL {r.name}: {r.failures} violating rows")
    return "\n".join(lines)
