"""Materialization strategies (reference operators S4-S6).

view        — no storage: register a temp view over the lazy DataFrame
              (reference dbt_project.yml:31 — bronze models are views).
table       — full refresh: write parquet, re-read (reference gold marts).
incremental — first run = CTAS; later runs = keyed upsert of rows newer
              than the target's high-water mark (reference
              int_*.sql config blocks + MERGE shape documented at
              databricks_data_flow.sql:193-203).

Delta Lake note: the reference's MERGE runs on Delta. delta-spark is not
available in this environment, so the upsert is expressed as
anti-join + unionByName + atomic directory swap over parquet — the same
row-level semantics as ``whenMatchedUpdateAll().whenNotMatchedInsertAll()``.
When delta-spark IS importable we use a native DeltaTable.merge instead
(one shuffle, no rewrite of untouched files at 100 TB — see _HAVE_DELTA
path). Schema evolution (`on_schema_change='append_new_columns'`) is
handled in both paths by unioning with missing columns added as nulls.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # delta-spark is optional in this environment
    from delta.tables import DeltaTable  # type: ignore

    _HAVE_DELTA = True
except ImportError:
    _HAVE_DELTA = False


def table_exists(path: str) -> bool:
    """Does a table live at ``path``: a directory holding parquet files,
    a ``_SUCCESS`` marker or a Delta log?"""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") or f in ("_SUCCESS", "_delta_log")
        for f in os.listdir(path)
    )


def swap_write(df: DataFrame, path: str) -> None:
    """Write ``df`` as parquet to a uuid-suffixed sibling of ``path``,
    then swap it in: readers never see a half-written table, and a plan
    that reads the table it replaces (a merge) is computed before the
    old data disappears."""
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def parquet_merge_upsert(
    spark: SparkSession, path: str, new_rows: DataFrame, unique_key: str
) -> DataFrame:
    """Keyed upsert into the parquet table at ``path`` with MERGE
    whenMatchedUpdateAll / whenNotMatchedInsertAll semantics: target rows
    whose key is in ``new_rows`` are dropped (anti-join), ``new_rows``
    are unioned in (``append_new_columns``: missing columns become
    nulls) and the result is swapped in (``swap_write``, a full
    rewrite). Returns the merged frame that was written. The one upsert
    of the incremental materialization (``Materializer.merge_upsert``)
    and the streaming silver merge (``streaming.write_silver_merge``)."""
    target = spark.read.parquet(path)
    kept = target.join(
        new_rows.select(unique_key).distinct(), on=unique_key, how="left_anti"
    )
    merged = kept.unionByName(new_rows, allowMissingColumns=True)
    swap_write(merged, path)
    return merged


class Materializer:
    """Writes/reads relations under ``warehouse_dir`` with medallion
    schema routing ``<target>_<suffix>.<name>`` (reference
    macros/generate_schema_name.sql:9-23)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        target: str = "iot_dev",
        table_format: str = "parquet",
    ):
        if table_format not in ("parquet", "delta"):
            raise ValueError(f"unsupported table_format {table_format!r}")
        if table_format == "delta" and not _HAVE_DELTA:
            raise RuntimeError(
                "table_format='delta' requires delta-spark, which is not "
                "importable here — run on a Delta-enabled cluster or "
                "install delta-spark (see tests/test_delta_path.py for "
                "the test matrix)"
            )
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.target = target
        self.table_format = table_format
        os.makedirs(warehouse_dir, exist_ok=True)

    # ---- paths / existence -------------------------------------------------
    def path(self, name: str, schema_suffix: str) -> str:
        return os.path.join(self.warehouse_dir, f"{self.target}_{schema_suffix}", name)

    def exists(self, name: str, schema_suffix: str) -> bool:
        return table_exists(self.path(name, schema_suffix))

    def read(self, name: str, schema_suffix: str) -> DataFrame:
        return (
            self.spark.read.format(self.table_format)
            .load(self.path(name, schema_suffix))
        )

    def _read_back(self, name: str, schema_suffix: str, written: DataFrame) -> DataFrame:
        """Read a table just written from ``written`` with that frame's
        schema: the files hold exactly it, and without a schema Spark
        fires one job per read to infer it from the parquet footers.
        Delta rejects a user schema, so it infers."""
        if self.table_format == "parquet":
            out = self.spark.read.schema(written.schema).parquet(
                self.path(name, schema_suffix)
            )
        else:
            out = self.read(name, schema_suffix)
        out.createOrReplaceTempView(name)
        return out

    # ---- strategies --------------------------------------------------------
    def as_view(self, name: str, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView(name)
        return df

    def as_table(self, name: str, schema_suffix: str, df: DataFrame) -> DataFrame:
        """Full refresh: write ``df``, then read it back with ``df``'s
        schema, which saves the schema-inference job (``_read_back``)."""
        self._atomic_write(df, self.path(name, schema_suffix))
        return self._read_back(name, schema_suffix, df)

    def high_water(self, name: str, schema_suffix: str, col: str):
        """max(watermark_col) of the existing target — collected driver-side
        and pushed back as a literal so the scan of new data gets min/max
        file skipping (SURVEY.md §4)."""
        return self.read(name, schema_suffix).agg(F.max(col).alias("m")).first()["m"]


    def merge_upsert(
        self, name: str, schema_suffix: str, new_rows: DataFrame, unique_key: str
    ) -> DataFrame:
        """Keyed upsert: rows in `new_rows` replace same-key target rows,
        others append (MERGE whenMatchedUpdateAll/whenNotMatchedInsertAll).

        Delta targets use the native transactional MERGE — file-level
        rewrite of only the touched files, which is the whole point at
        100 TB. Parquet targets emulate the row-level semantics
        (``parquet_merge_upsert``: anti-join + unionByName + atomic swap,
        a full rewrite), then read the result back with the merged
        frame's schema, which saves the schema-inference job
        (``_read_back``)."""
        path = self.path(name, schema_suffix)
        if self.table_format == "delta":
            return self._merge_upsert_delta(path, name, new_rows, unique_key)
        merged = parquet_merge_upsert(self.spark, path, new_rows, unique_key)
        return self._read_back(name, schema_suffix, merged)

    def _merge_upsert_delta(
        self, path: str, name: str, new_rows: DataFrame, unique_key: str
    ) -> DataFrame:
        """Native Delta MERGE (reference MERGE shape,
        databricks_data_flow.sql:193-203). autoMerge carries the
        append_new_columns schema-evolution contract the parquet path
        implements via unionByName(allowMissingColumns)."""
        self.spark.conf.set(
            "spark.databricks.delta.schema.autoMerge.enabled", "true"
        )
        (
            DeltaTable.forPath(self.spark, path)
            .alias("t")
            .merge(new_rows.alias("s"), f"t.{unique_key} = s.{unique_key}")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        out = self.spark.read.format("delta").load(path)
        out.createOrReplaceTempView(name)
        return out

    # ---- internals ---------------------------------------------------------
    def _atomic_write(self, df: DataFrame, path: str) -> None:
        """Full-refresh write: parquet swaps a temp dir in
        (``swap_write``); Delta writes are transactional via the log, so
        they overwrite in place instead of directory-swapping."""
        if self.table_format == "delta":
            (
                df.write.format("delta")
                .mode("overwrite")
                .option("overwriteSchema", "true")
                .save(path)
            )
            return
        swap_write(df, path)
