"""Loaders for the driver's TPC-H-ish parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session-level TABLE METADATA cache — the local stand-in for what a
# production engine reads from the metastore/catalog instead of
# re-inferring per query: the parquet schema and the footer row count,
# keyed by (path, mtime, size) so a data swap invalidates.
# This caches METADATA only, never rows or results: every query still
# computes from the parquet inputs. Before this cache each of the ~250
# load_table calls in a bench sweep paid ~70 ms of driver-side footer
# schema inference plus ~36 ms of plan→RDD conversion in _spread's
# partition probe (measured at sf0.1) — pure fixed overhead that a
# catalog-backed engine never pays.
_SCHEMA_CACHE: dict = {}

_SPREAD_TARGET_SPLIT_BYTES = 128 * 1024 * 1024  # parquet scan split size


def _path_stamp(path: str) -> tuple:
    """(mtime_ns, size) stamp over the file, or all files of a dir."""
    if os.path.isdir(path):
        parts = []
        for f in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, f))
            parts.append((f, st.st_mtime_ns, st.st_size))
        return tuple(parts)
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
    return [path]


def footer_row_count(path: str) -> int:
    """Exact row count of a parquet file or directory from its footers
    (pyarrow metadata) — no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def _est_scan_partitions(path: str) -> int:
    """Scan-task estimate from file sizes alone (no Spark job, no RDD
    conversion): one split per ~128 MB per file — the same shape
    Spark's file packing produces for large files; tiny files may be
    packed together, so this can only OVER-estimate, making _spread
    skip a repartition it would otherwise add (safe: on a real
    multi-file table the input already exceeds the target)."""
    est = 0
    for f in _parquet_files(path):
        size = os.stat(f).st_size
        est += max(1, -(-size // _SPREAD_TARGET_SPLIT_BYTES))
    return max(1, est)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; transparently handles TIMESTAMP(NANOS) parquet.

    events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    natively (PARQUET_TYPE_ILLEGAL). We read it as epoch-nanos long
    (legacy.parquet.nanosAsLong — runtime-settable) and convert to a
    microsecond TimestampType; sub-µs precision is dropped, matching
    Spark's native timestamp resolution.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (os.path.abspath(path), _path_stamp(path))
    cached = _SCHEMA_CACHE.get(key)
    if cached is None:
        df = spark.read.parquet(path)
        rows = footer_row_count(path)
        _SCHEMA_CACHE[key] = (df.schema, rows)
    else:
        schema, rows = cached
        df = spark.read.schema(schema).parquet(path)
    scan_est = _est_scan_partitions(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # parquet TIMESTAMP(NANOS): epoch-nanos long -> micros
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # parquet timestamp[us] without tz loads as TIMESTAMP_NTZ in
            # Spark 4; normalize to session-time TimestampType so
            # timestamp-only functions (unix_micros, ...) resolve. The
            # session timezone is pinned UTC (session.py), so the cast is
            # value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # table name, footer row count and scan-partition estimate for
    # _spread's width rule — Python-side attributes, invisible to the
    # plan
    df._graft_table = name
    df._graft_rows = rows
    df._graft_scan_partitions = scan_est
    return df
