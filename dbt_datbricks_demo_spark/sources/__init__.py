"""Source loading: typed seed CSVs, testdata parquet, freshness checks."""

from dbt_datbricks_demo_spark.sources.seeds import (  # noqa: F401
    SEED_SCHEMAS,
    load_seed,
    load_seeds,
)
from dbt_datbricks_demo_spark.sources.testdata import load_table  # noqa: F401
from dbt_datbricks_demo_spark.sources.freshness import check_freshness, FreshnessResult  # noqa: F401
