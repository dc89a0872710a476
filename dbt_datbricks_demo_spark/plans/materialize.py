"""Materialization strategies (reference operators S4-S6).

view        — no storage: register a temp view over the lazy DataFrame
              (reference dbt_project.yml:31 — bronze models are views).
table       — full refresh: write parquet, re-read (reference gold marts).
incremental — first run = CTAS; later runs = keyed upsert of rows newer
              than the target's high-water mark (reference
              int_*.sql config blocks + MERGE shape documented at
              databricks_data_flow.sql:193-203).

Delta Lake note: the reference's MERGE runs on Delta. Here tables are
parquet, and the upsert is one keyed window over target ∪ new rows plus
an atomic directory swap — the same row-level semantics as
``whenMatchedUpdateAll().whenNotMatchedInsertAll()``, at the price of a
full rewrite instead of Delta's rewrite of only the touched files.
Schema evolution (`on_schema_change='append_new_columns'`) is handled
by unioning with missing columns added as nulls.

The parquet path pays no Spark job beyond the writes themselves:

* Every read of a warehouse table takes its schema from the Spark
  schema the writer stored in a part file's footer (``read_table``),
  read with pyarrow, instead of running Spark's schema-inference job.
* The write of an incremental model observes ``max(watermark_col)`` on
  the written frame (a ``pyspark.sql.Observation``: the write's own job
  computes it) and stores it as ``_high_water.json`` in the table
  directory before the swap, so the mark always belongs to the table
  beside it. ``Materializer.high_water`` reads the file and scans the
  table only where the file cannot answer.
* The merge computes the new rows once, in one shuffle
  (``parquet_merge_upsert``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

HIGH_WATER_FILE = "_high_water.json"
# the key under which Spark's parquet writer stores the frame's schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# watermark types whose value survives JSON in the type's internal form
# (epoch micros, epoch days, integers, strings) and comes back through
# ``fromInternal`` exactly as a scan's ``collect`` returns it
_MARK_TYPES = {
    t.typeName(): t
    for t in (
        TimestampType(), TimestampNTZType(), DateType(), LongType(),
        IntegerType(), ShortType(), ByteType(), StringType(),
    )
}
_UNRECORDED = object()
_ASIDE = "__old"
_PRIORITY, _MAX_PRIORITY = "__merge_priority", "__merge_max_priority"


def _recover_swap(path: str) -> None:
    """Finish or undo a ``swap_write`` that crashed between its steps:
    with no table at ``path`` the old table set aside is renamed back;
    with both present the aside copy is the retired table and goes."""
    old = path + _ASIDE
    if not os.path.isdir(old):
        return
    if os.path.isdir(path):
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(old, path)


def table_exists(path: str) -> bool:
    """Does a table live at ``path``: a directory holding parquet files
    or a ``_SUCCESS`` marker? A swap that crashed between its renames is
    rolled back first (``_recover_swap``)."""
    _recover_swap(path)
    return os.path.isdir(path) and any(
        f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(path)
    )


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema stored in the footer of one part file of the
    parquet table at ``path`` — what Spark's inference job would read —
    or None without a part file or without the key."""
    try:
        part = min(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    except (FileNotFoundError, ValueError):
        return None
    stored = (pq.read_metadata(os.path.join(path, part)).metadata or {}).get(
        _SPARK_SCHEMA_KEY
    )
    return None if stored is None else StructType.fromJson(json.loads(stored))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table at ``path``, read with its footer schema
    (``_footer_schema``), which saves Spark's schema-inference job; where
    the footer has none, Spark infers as usual."""
    _recover_swap(path)
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def swap_write(df: DataFrame, path: str, watermark_col: str | None = None) -> None:
    """Write ``df`` as parquet to a uuid-suffixed sibling of ``path``,
    then swap it in: readers never see a half-written table, and a plan
    that reads the table it replaces (a merge) is computed before the
    old data disappears. The old table is renamed aside, the new one
    renamed in, and only then the old one deleted, so a crash at any
    step leaves a table that ``_recover_swap`` restores.

    With ``watermark_col`` the write also records the column's maximum
    over ``df`` as ``HIGH_WATER_FILE`` (``Materializer.high_water``)."""
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    observed, mark = _observe_high_water(df, watermark_col)
    observed.write.mode("overwrite").parquet(tmp)
    if mark is not None:
        # only now: Observation.get waits forever on a failed action
        col, dtype, obs = mark
        with open(os.path.join(tmp, HIGH_WATER_FILE), "w") as fh:
            json.dump({"column": col, "type": dtype.typeName(),
                       "value": dtype.toInternal(obs.get["m"])}, fh)
    _recover_swap(path)
    old = path + _ASIDE
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _observe_high_water(df: DataFrame, col: str | None):
    """``df`` observing ``max(col)``, and what ``swap_write`` needs to
    record it; ``df`` unchanged where ``col`` is None or of a type the
    mark file cannot round-trip."""
    if col is None:
        return df, None
    dtype = df.schema[col].dataType
    if dtype.typeName() not in _MARK_TYPES:
        return df, None
    obs = Observation()
    return df.observe(obs, F.max(col).alias("m")), (col, dtype, obs)


def _recorded_high_water(path: str, col: str):
    """The high-water mark of ``col`` the last write of the table at
    ``path`` recorded, or ``_UNRECORDED`` where no file names ``col``
    with a type that round-trips."""
    try:
        with open(os.path.join(path, HIGH_WATER_FILE)) as fh:
            mark = json.load(fh)
    except (FileNotFoundError, ValueError):
        return _UNRECORDED
    dtype = _MARK_TYPES.get(mark.get("type"))
    if mark.get("column") != col or dtype is None:
        return _UNRECORDED
    return dtype.fromInternal(mark.get("value"))


def parquet_merge_upsert(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    unique_key: str,
    watermark_col: str | None = None,
) -> None:
    """Keyed upsert into the parquet table at ``path`` with MERGE
    whenMatchedUpdateAll / whenNotMatchedInsertAll semantics, in one
    shuffle: the target (priority 0) and ``new_rows`` (priority 1) are
    unioned (``append_new_columns``: missing columns become nulls), and
    a window over ``unique_key`` keeps the rows of the highest priority
    present for their key, plus every NULL-key row. So a matched key
    keeps all its new rows and none of its target rows, an unmatched
    key keeps its rows as they are, NULL keys never match, and
    ``new_rows`` is computed once. The result is swapped in
    (``swap_write``, a full rewrite, which records the high-water mark
    of ``watermark_col``). The one upsert of the incremental materialization
    (``Materializer.merge_upsert``) and the streaming silver merge
    (``streaming.write_silver_merge``)."""
    both = read_table(spark, path).withColumn(_PRIORITY, F.lit(0)).unionByName(
        new_rows.withColumn(_PRIORITY, F.lit(1)), allowMissingColumns=True
    )
    # Spark rejects a window inside a filter: take it as a column first
    top = F.max(_PRIORITY).over(Window.partitionBy(unique_key))
    merged = (
        both.withColumn(_MAX_PRIORITY, top)
        .filter(
            (F.col(_PRIORITY) == F.col(_MAX_PRIORITY))
            | F.col(unique_key).isNull()
        )
        .drop(_PRIORITY, _MAX_PRIORITY)
    )
    swap_write(merged, path, watermark_col)


class Materializer:
    """Writes/reads relations under ``warehouse_dir`` with medallion
    schema routing ``<target>_<suffix>.<name>`` (reference
    macros/generate_schema_name.sql:9-23)."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        target: str = "iot_dev",
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.target = target
        os.makedirs(warehouse_dir, exist_ok=True)

    # ---- paths / existence -------------------------------------------------
    def path(self, name: str, schema_suffix: str) -> str:
        return os.path.join(self.warehouse_dir, f"{self.target}_{schema_suffix}", name)

    def exists(self, name: str, schema_suffix: str) -> bool:
        return table_exists(self.path(name, schema_suffix))

    def read(self, name: str, schema_suffix: str) -> DataFrame:
        """The table, read with its footer schema (``read_table``: no
        inference job)."""
        return read_table(self.spark, self.path(name, schema_suffix))

    def _read_back(self, name: str, schema_suffix: str) -> DataFrame:
        """The table just written, read (``read``) and registered as a
        temp view under ``name``."""
        out = self.read(name, schema_suffix)
        out.createOrReplaceTempView(name)
        return out

    # ---- strategies --------------------------------------------------------
    def as_view(self, name: str, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView(name)
        return df

    def as_table(
        self,
        name: str,
        schema_suffix: str,
        df: DataFrame,
        watermark_col: str | None = None,
    ) -> DataFrame:
        """Full refresh: write ``df``, then read it back (``_read_back``).
        An incremental model passes its ``watermark_col``, whose
        high-water mark the write records (``swap_write``)."""
        swap_write(df, self.path(name, schema_suffix), watermark_col)
        return self._read_back(name, schema_suffix)

    def high_water(self, name: str, schema_suffix: str, col: str):
        """max(``col``) of the existing target — pushed back by the model
        as a literal, so the scan of new data gets min/max file skipping
        (SURVEY.md §4). The target's last write recorded it in
        ``HIGH_WATER_FILE``, which answers without a Spark job; the table
        is scanned where that file is missing, names another column or
        holds a type it cannot round-trip."""
        mark = _recorded_high_water(self.path(name, schema_suffix), col)
        if mark is not _UNRECORDED:
            return mark
        return self.read(name, schema_suffix).agg(F.max(col).alias("m")).first()["m"]

    def merge_upsert(
        self,
        name: str,
        schema_suffix: str,
        new_rows: DataFrame,
        unique_key: str,
        watermark_col: str | None = None,
    ) -> DataFrame:
        """Keyed upsert: rows in `new_rows` replace same-key target rows,
        others append (MERGE whenMatchedUpdateAll/whenNotMatchedInsertAll),
        in one shuffle (``parquet_merge_upsert``: a keyed window over
        target ∪ ``new_rows``, which are computed once, then an atomic
        swap and a full rewrite that records ``watermark_col``'s
        high-water mark), then read the result back (``_read_back``)."""
        parquet_merge_upsert(
            self.spark, self.path(name, schema_suffix), new_rows, unique_key,
            watermark_col,
        )
        return self._read_back(name, schema_suffix)
