"""dbt-style SCD2 snapshots (timestamp + check strategies).

The reference project declares the snapshot feature
(`/root/reference/dbt_project.yml:12` — ``snapshot-paths: ["snapshots"]``)
without shipping a snapshot model, so a reference user switching engines
still expects ``dbt snapshot`` to work. This module re-expresses dbt
core's snapshot semantics over DataFrames:

  * **timestamp strategy** — a source row replaces the current open row
    for its key iff ``updated_at`` advanced; the old row is closed with
    ``dbt_valid_to = new.dbt_valid_from``.
  * **check strategy** — a row is "changed" iff any of ``check_cols``
    differs null-safely; ``dbt_valid_from`` of the new row is the batch
    timestamp (dbt uses the transaction start; we take it as an explicit
    argument so replays are deterministic).
  * new keys insert an open row; vanished keys stay open unless
    ``invalidate_hard_deletes`` closes them at the batch timestamp.
  * ``dbt_scd_id = generate_surrogate_key(unique_key, dbt_updated_at)``
    byte-compatible with dbt_utils (functions/__init__.py).

Scale design (100 TB dimension): one key-partitioned shuffle join per
batch between the OPEN slice and the incoming batch — closed history is
a pass-through union that a table format (Delta MERGE) would never even
rewrite, and the open slice is bounded by the number of live keys, not
by history length. No window over the snapshot table, no broadcast of
anything O(history).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.functions import surrogate_key

META_COLS = ["dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to"]


@dataclass(frozen=True)
class SnapshotConfig:
    """Mirror of a dbt snapshot block's config() arguments."""

    unique_key: str
    strategy: str  # "timestamp" | "check"
    updated_at: str | None = None  # timestamp strategy: source column
    check_cols: tuple[str, ...] | None = None  # check strategy
    invalidate_hard_deletes: bool = False

    def __post_init__(self) -> None:
        if self.strategy == "timestamp":
            if not self.updated_at:
                raise ValueError("timestamp strategy requires updated_at")
        elif self.strategy == "check":
            if not self.check_cols:
                raise ValueError("check strategy requires check_cols")
        else:
            raise ValueError(f"unknown snapshot strategy: {self.strategy!r}")


def _updated_at(cfg: SnapshotConfig, batch_ts: Column) -> Column:
    if cfg.strategy == "timestamp":
        return F.col(cfg.updated_at).cast("timestamp")
    return batch_ts


def _as_snapshot_rows(source: DataFrame, cfg: SnapshotConfig, batch_ts: Column) -> DataFrame:
    """Source batch → insertable open rows with the four meta columns."""
    u = _updated_at(cfg, batch_ts)
    return source.select(
        "*",
        surrogate_key(F.col(cfg.unique_key), u).alias("dbt_scd_id"),
        u.alias("dbt_updated_at"),
        u.alias("dbt_valid_from"),
        F.lit(None).cast("timestamp").alias("dbt_valid_to"),
    )


def _changed(cfg: SnapshotConfig, cur: str, new: str) -> Column:
    """dbt's row-changed predicate between the current open row (alias
    ``cur``) and the incoming row (alias ``new``)."""
    if cfg.strategy == "timestamp":
        return F.col(f"{new}.dbt_updated_at") > F.col(f"{cur}.dbt_updated_at")
    diffs = [
        ~F.col(f"{cur}.{c}").eqNullSafe(F.col(f"{new}.{c}")) for c in cfg.check_cols
    ]
    out = diffs[0]
    for d in diffs[1:]:
        out = out | d
    return out


def snapshot_apply(
    existing: DataFrame | None,
    source: DataFrame,
    cfg: SnapshotConfig,
    batch_ts=None,
) -> DataFrame:
    """One ``dbt snapshot`` invocation: merge a source batch into the
    SCD2 snapshot table and return the new table state.

    ``batch_ts`` (a timestamp literal/Column) stands in for dbt's
    transaction timestamp; it is required for the check strategy and for
    ``invalidate_hard_deletes``, and ignored otherwise — passing it
    explicitly keeps replays deterministic (no wall-clock in the plan).
    """
    if batch_ts is not None and not isinstance(batch_ts, Column):
        batch_ts = F.lit(batch_ts).cast("timestamp")
    if batch_ts is None:
        batch_ts = F.lit(None).cast("timestamp")

    if existing is None:
        return _as_snapshot_rows(source, cfg, batch_ts)

    key = cfg.unique_key
    data_cols = [c for c in existing.columns if c not in META_COLS]
    if set(data_cols) != set(source.columns):
        raise ValueError(
            f"snapshot schema mismatch: table has {sorted(data_cols)}, "
            f"source has {sorted(source.columns)}"
        )
    incoming = _as_snapshot_rows(source, cfg, batch_ts)

    open_rows = existing.filter(F.col("dbt_valid_to").isNull())
    closed_rows = existing.filter(F.col("dbt_valid_to").isNotNull())

    cur, new = open_rows.alias("cur"), incoming.alias("new")
    joined = cur.join(new, F.col(f"cur.{key}") == F.col(f"new.{key}"), "full_outer")
    changed = _changed(cfg, "cur", "new")
    cur_only = F.col(f"new.{key}").isNull()
    new_only = F.col(f"cur.{key}").isNull()

    out_cols = data_cols + META_COLS

    def _side(alias: str, valid_to: Column | None = None) -> list[Column]:
        cols = [F.col(f"{alias}.{c}").alias(c) for c in out_cols]
        if valid_to is not None:
            cols[-1] = valid_to.alias("dbt_valid_to")
        return cols

    # current open row survives untouched: key absent from the batch (and
    # hard deletes are kept), or present but unchanged
    keep_open_pred = (~new_only) & (
        (cur_only & F.lit(not cfg.invalidate_hard_deletes)) | (~cur_only & ~changed)
    )
    kept = joined.filter(keep_open_pred).select(*_side("cur"))

    # current open row closes: superseded by a changed incoming row, or
    # its key vanished under invalidate_hard_deletes
    closes = []
    closes.append(
        joined.filter(~cur_only & ~new_only & changed).select(
            *_side("cur", valid_to=F.col("new.dbt_valid_from"))
        )
    )
    if cfg.invalidate_hard_deletes:
        closes.append(
            joined.filter(~new_only & cur_only).select(
                *_side("cur", valid_to=batch_ts)
            )
        )

    # incoming row inserts: brand-new key, or it superseded the open row
    inserts = joined.filter(new_only | (~cur_only & changed)).select(*_side("new"))

    result = kept.unionByName(inserts)
    for c in closes:
        result = result.unionByName(c)
    return result.unionByName(closed_rows.select(*out_cols))
