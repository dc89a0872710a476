"""Data-quality test framework (reference entry point 2: ``dbt test``).

A test is a function producing a DataFrame of *violating rows*; it passes
iff that DataFrame is empty (the dbt generic-test contract, visible in
reference macros/test_value_in_range.sql:10-23). Four generic kinds are
used by the reference plus one custom generic and one singular test
(SURVEY.md §5).

Execution: ``run_suite`` decides every selected spec in one Spark
statement with one action, a ``UNION ALL`` of per-test rows under one
``GROUP BY test_id`` whose per-test excess is 0 exactly when the
violations are empty (testing/runner.py). ``column_test`` gives the
``not_null``, ``unique`` and ``accepted_values`` specs a column form
that stacks rows over their model; ``relationships`` (which reads a
second model) and singular tests add their violation rows. Only a
failing test builds its violations, to count them and, with
``store_failures_dir``, to write them.
"""

from dbt_datbricks_demo_spark.testing.generic import (  # noqa: F401
    accepted_values,
    column_test,
    not_null,
    relationships,
    unique,
    value_in_range,
)
from dbt_datbricks_demo_spark.testing.runner import (  # noqa: F401
    TestResult,
    TestSpec,
    run_suite,
)
from dbt_datbricks_demo_spark.testing.suite import reference_suite  # noqa: F401
