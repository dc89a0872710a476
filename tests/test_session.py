"""get_spark sessions work from any working directory: the Python
workers that run Arrow UDFs import the package by name, so they must
find it even when the driver starts outside the repository."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="needs the sf0.001 testdata")
def test_workers_import_package_when_driver_starts_outside_repo(tmp_path):
    assert not str(tmp_path).startswith(REPO)
    # the repo reaches the driver's sys.path only, not the environment
    # the JVM and its Python workers inherit
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from dbt_datbricks_demo_spark.queries import QUERIES
from dbt_datbricks_demo_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2)
df = QUERIES["multimodal_features"].build(spark, {SF_SMOKE!r})
df.write.format("noop").mode("overwrite").save()
print("WORKERS_OK")
"""
    keep = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.abspath(p) != REPO]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(keep),
               SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "ModuleNotFoundError" not in out.stderr
    assert out.returncode == 0 and "WORKERS_OK" in out.stdout, out.stderr[-2000:]


def test_missing_column_still_names_the_column(spark):
    """With the DataFrame query-context capture off, an analysis error
    still says which column is missing."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="no_such_col"):
        spark.range(3).select("no_such_col").schema
