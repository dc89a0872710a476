"""The parquet materialization against plain-Python references: the
keyed MERGE of ``Materializer.merge_upsert`` and of the streaming silver
merge, the high-water mark a write records, and the recovery of a swap
that crashed between its renames."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans import PipelineRunner
from dbt_datbricks_demo_spark.plans.dag import MODELS
from dbt_datbricks_demo_spark.plans.materialize import (
    HIGH_WATER_FILE,
    Materializer,
    read_table,
    swap_write,
)
from dbt_datbricks_demo_spark.sources import load_seeds
from dbt_datbricks_demo_spark.streaming import write_silver_merge
from perfbench.datagen import IotSeeds

TARGET_SCHEMA = "k string, v long, t_only string"
NEW_SCHEMA = "k string, v long, n_only double"
TARGET = [("a", 1, "x"), ("b", 2, "y"), ("b", 3, "z"), (None, 4, "n"), ("c", 5, None)]
MERGE_CASES = {
    # duplicate new keys all land; a matched key drops every target row
    "duplicate_new_keys": [("b", 20, 0.5), ("b", 21, 1.5), ("d", 22, None)],
    # NULL keys on either side never match: all of them stay
    "null_keys": [(None, 40, 2.0), (None, 41, None), ("a", 10, 3.0)],
    # only new keys: every target row stays, with the new-only column null
    "insert_only": [("e", 50, 4.0)],
    "empty": [],
}


def merge_reference(target: list[dict], new: list[dict], key: str) -> list[tuple]:
    """MERGE whenMatchedUpdateAll / whenNotMatchedInsertAll by hand: a
    target row survives unless a new row has its (non-NULL) key; every
    new row lands; columns missing on either side are NULL."""
    new_keys = {r[key] for r in new if r[key] is not None}
    cols = list(target[0]) + [c for c in (new[0] if new else {}) if c not in target[0]]
    rows = [r for r in target if r[key] is None or r[key] not in new_keys] + new
    return _sorted([tuple(r.get(c) for c in cols) for r in rows])


def _sorted(rows):
    return sorted(rows, key=repr)


def _rows(df) -> list[tuple]:
    return _sorted([tuple(r) for r in df.collect()])


def _dicts(spark, data, schema) -> list[dict]:
    return [r.asDict() for r in spark.createDataFrame(data, schema).collect()]


def _expected(spark, new):
    target = _dicts(spark, TARGET, TARGET_SCHEMA)
    new_dicts = _dicts(spark, new, NEW_SCHEMA)
    if not new:  # an empty frame still carries its columns
        target = [dict(r, n_only=None) for r in target]
    return merge_reference(target, new_dicts, "k")


@pytest.mark.parametrize("case", sorted(MERGE_CASES))
def test_merge_upsert_matches_reference(spark, tmp_path, case):
    new = MERGE_CASES[case]
    mat = Materializer(spark, str(tmp_path / "wh"), target="t")
    mat.as_table("m", "silver", spark.createDataFrame(TARGET, TARGET_SCHEMA))
    out = mat.merge_upsert(
        "m", "silver", spark.createDataFrame(new, NEW_SCHEMA), unique_key="k"
    )
    assert out.columns == ["k", "v", "t_only", "n_only"]
    assert _rows(out) == _expected(spark, new)
    assert _rows(mat.read("m", "silver")) == _rows(out)


@pytest.mark.parametrize("case", sorted(MERGE_CASES))
def test_streaming_silver_merge_matches_reference(spark, tmp_path, case):
    new = MERGE_CASES[case]
    target = str(tmp_path / "silver")
    swap_write(spark.createDataFrame(TARGET, TARGET_SCHEMA), target)
    inbox = tmp_path / "inbox"
    spark.createDataFrame(new, NEW_SCHEMA).coalesce(1).write.parquet(str(inbox))
    stream = spark.readStream.schema(NEW_SCHEMA).parquet(str(inbox))
    q = (
        write_silver_merge(stream, target, str(tmp_path / "ckpt"), unique_key="k")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the empty case too writes one (empty) file, so one micro-batch runs
    assert _rows(read_table(spark, target)) == _expected(spark, new)


# ---- the recorded high-water mark ------------------------------------------
class _Scans:
    """Records the tables ``high_water`` scans through ``mat.read``."""

    def __init__(self, mat, monkeypatch):
        self.names: list[str] = []
        read = mat.read
        monkeypatch.setattr(
            mat, "read", lambda name, sfx: self.names.append(name) or read(name, sfx)
        )


def _scan(mat, name, sfx, col):
    return mat.read(name, sfx).agg(F.max(col).alias("m")).first()["m"]


INCREMENTAL = sorted(n for n, m in MODELS.items() if m.materialization == "incremental")


def test_high_water_equals_scan_after_refresh_and_increment(spark, tmp_path, monkeypatch):
    batches = IotSeeds(7, 10, 500, (50,)).write(str(tmp_path / "seeds"))
    for batch, (seeds_dir, _bytes) in enumerate(batches):
        cfg = RunConfig(invocation_id="high-water", frozen_now=IotSeeds.frozen_now(batch),
                        warehouse_dir=str(tmp_path / "wh"))
        runner = PipelineRunner(spark, cfg)
        runner.run(load_seeds(spark, seeds_dir), full_refresh=batch == 0)
        mat = runner.mat
        scans = _Scans(mat, monkeypatch)
        for name in INCREMENTAL:
            m = MODELS[name]
            recorded = mat.high_water(name, m.schema_suffix, m.watermark_col)
            assert scans.names == [], name
            assert recorded is not None
            assert recorded == _scan(mat, name, m.schema_suffix, m.watermark_col), name
            scans.names.clear()


TS = dt.datetime(2025, 1, 15, 8, 30, 0, 250)


@pytest.mark.parametrize(
    "schema, rows",
    [
        ("k long, w timestamp", [(1, TS), (2, TS - dt.timedelta(hours=1))]),
        ("k long, w timestamp_ntz", [(1, TS)]),
        ("k long, w date", [(1, TS.date())]),
        ("k long, w long", [(1, 7), (2, -3)]),
        ("k long, w string", [(1, "b"), (2, "a")]),
        ("k long, w timestamp", [(1, None), (2, None)]),  # all NULL
    ],
    ids=["timestamp", "timestamp_ntz", "date", "long", "string", "all_null"],
)
def test_recorded_high_water_round_trips(spark, tmp_path, monkeypatch, schema, rows):
    mat = Materializer(spark, str(tmp_path / "wh"), target="t")
    mat.as_table("hw", "silver", spark.createDataFrame(rows, schema), watermark_col="w")
    scans = _Scans(mat, monkeypatch)
    assert mat.high_water("hw", "silver", "w") == _scan(mat, "hw", "silver", "w")
    assert scans.names == ["hw"]  # the reference scan above, not high_water
    # an increment records the merged table's mark
    more = spark.createDataFrame(rows[:1], schema).withColumn("k", F.lit(9).cast("long"))
    mat.merge_upsert("hw", "silver", more, unique_key="k", watermark_col="w")
    scans.names.clear()
    assert mat.high_water("hw", "silver", "w") == _scan(mat, "hw", "silver", "w")
    assert scans.names == ["hw"]


def _fallback_missing_file(mat, path):
    os.remove(os.path.join(path, HIGH_WATER_FILE))
    return "w"


def _fallback_other_column(mat, path):
    return "k"


def _fallback_unsupported_type(mat, path):
    with open(os.path.join(path, HIGH_WATER_FILE), "w") as fh:
        json.dump({"column": "w", "type": "double", "value": 1.0}, fh)
    return "w"


@pytest.mark.parametrize(
    "make", [_fallback_missing_file, _fallback_other_column,
             _fallback_unsupported_type],
    ids=["missing_file", "other_column", "unsupported_type"],
)
def test_high_water_falls_back_to_scan(spark, tmp_path, monkeypatch, make):
    mat = Materializer(spark, str(tmp_path / "wh"), target="t")
    df = spark.createDataFrame([(1, TS), (5, TS - dt.timedelta(days=1))], "k long, w timestamp")
    mat.as_table("hw", "silver", df, watermark_col="w")
    path = mat.path("hw", "silver")
    col = make(mat, path)
    read = read_table(spark, path)
    scanned: list[str] = []
    monkeypatch.setattr(mat, "read", lambda name, sfx: scanned.append(name) or read)
    assert mat.high_water("hw", "silver", col) == {"w": TS, "k": 5}[col]
    assert scanned == ["hw"]


def test_unsupported_watermark_type_records_no_mark(spark, tmp_path):
    mat = Materializer(spark, str(tmp_path / "wh"), target="t")
    df = spark.createDataFrame([(1, 2.5)], "k long, w double")
    mat.as_table("hw", "silver", df, watermark_col="w")
    assert not os.path.exists(os.path.join(mat.path("hw", "silver"), HIGH_WATER_FILE))
    assert mat.high_water("hw", "silver", "w") == 2.5


# ---- the swap's crash window -----------------------------------------------
def _table(spark, tmp_path):
    mat = Materializer(spark, str(tmp_path / "wh"), target="t")
    mat.as_table("s", "silver", spark.range(3))
    return mat, mat.path("s", "silver")


def test_crash_between_renames_rolls_back(spark, tmp_path):
    mat, path = _table(spark, tmp_path)
    os.rename(path, path + "__old")  # the old table aside, the new one not in
    assert mat.exists("s", "silver")
    assert sorted(r.id for r in mat.read("s", "silver").collect()) == [0, 1, 2]
    assert not os.path.exists(path + "__old")


def test_read_rolls_back_without_exists(spark, tmp_path):
    mat, path = _table(spark, tmp_path)
    os.rename(path, path + "__old")
    assert mat.read("s", "silver").count() == 3


def test_crash_before_cleanup_drops_the_retired_table(spark, tmp_path):
    mat, path = _table(spark, tmp_path)
    mat.as_table("s", "silver", spark.range(5))
    os.rename(path, path + "__old")
    mat.as_table("s", "silver", spark.range(7))  # the swap recovers first
    os.makedirs(path + "__old")  # a crash after the second rename
    assert mat.exists("s", "silver")
    assert not os.path.exists(path + "__old")
    assert mat.read("s", "silver").count() == 7


def test_failed_write_keeps_the_old_table(spark, tmp_path):
    mat, path = _table(spark, tmp_path)
    boom = spark.range(3).select(
        F.raise_error(F.lit("boom")).cast("long").alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        mat.as_table("s", "silver", boom)
    assert mat.read("s", "silver").count() == 3
