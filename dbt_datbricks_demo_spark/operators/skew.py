"""Skew mitigation: two-phase salted aggregation.

AQE's skew-join splitting (enabled in session.py) handles most runtime
skew by splitting oversized shuffle partitions; this covers the case
AQE can't: a high-skew groupBy where one group dominates a reducer —
aggregate in two phases over (key, salt) then key.

Salts are DETERMINISTIC (hash of a row-unique column, not rand()), so
plans stay reproducible and retries/speculative tasks see stable data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def with_salt(df: DataFrame, from_col: str, buckets: int) -> DataFrame:
    """Deterministic salt in [0, buckets): hash of a row-distinguishing
    column (an id, line number …) — spreads a hot key's rows across
    `buckets` reducers."""
    return df.withColumn(
        SALT_COL, F.pmod(F.hash(F.col(from_col)), F.lit(buckets)).cast("int")
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    salt_from: str,
    buckets: int,
    exprs: dict[str, tuple[Column, "F.Column | object"]],
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    exprs: output_name -> (phase1_agg_over_rows, phase2_fn) where
    phase2_fn maps the phase-1 column to its fold (the pair must compose
    to the intended aggregate: sum/sum, count/sum, min/min, max/max …).
    Phase 1 groups by (keys, salt) — the hot key splits `buckets` ways —
    phase 2 folds the per-salt partials. Mirrors Spark's partial/final
    hash agg, but forces the split through the SHUFFLE, which matters
    when a single group overwhelms one reducer's memory.
    """
    salted = with_salt(df, salt_from, buckets)
    phase1 = salted.groupBy(*keys, SALT_COL).agg(
        *[p1.alias(name) for name, (p1, _p2) in exprs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[p2(F.col(name)).alias(name) for name, (_p1, p2) in exprs.items()]
    )
