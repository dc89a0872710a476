"""Deterministic domain-mixture sampling: downsample a corpus so the
kept documents follow target domain weights (the data-mixing step of a
pre-training pipeline — e.g. cap web crawl, upweight reference text).

Spark-first design with NO driver-side collect:
- per-domain counts are one hash aggregation (|domains| rows);
- the max-retention scale factor K = min_d(n_d / w_d) is a 1-row
  aggregate attached by cross-join (the idiomatic broadcast-scalar
  pattern also used by the watermark query);
- acceptance thresholds t_d = floor(K * w_d / n_d * mod) land back on
  the corpus through a broadcast join of the |domains|-row rate table;
- a document is kept iff md5(salt‖id) mod `mod` < t_d — content-free,
  so the decision is stable across runs, engines and partitionings,
  and downstream incremental loads re-derive identical samples.

Expected kept counts are n_d * t_d / mod ≈ K * w_d ∝ w_d: the output
follows the target mixture with the largest total sample that never
upsamples any domain (rates are capped at 1 by construction of K).

At 100 TB: two scans (one for counts, one filtered write) — or one, if
counts come from table statistics; nothing but the domain histogram
ever shuffles.

Reference parity: not in the reference (IoT demo); part of the
training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mixture_thresholds(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    mod: int = 10_000,
) -> DataFrame:
    """Per-domain acceptance thresholds: (domain, n_docs, threshold)
    with threshold = floor(K * w_d / n_d * mod), K = min_d(n_d / w_d).
    Domains absent from `weights` get weight 0 → threshold 0 (dropped).
    """
    from dbt_datbricks_demo_spark.functions import literal_df

    spark = df.sparkSession
    # pure-JVM literal relation — createDataFrame over a Python list
    # plans a PythonRDD whose 32 parallelize partitions each spin a
    # Python worker (round 13, guide §4)
    w = literal_df(
        spark,
        [(k, float(v)) for k, v in weights.items()],
        f"{domain_col} string, _weight double",
    )
    counts = (
        df.groupBy(domain_col)
        .agg(F.count(F.lit(1)).cast("double").alias("_n"))
        .join(F.broadcast(w), domain_col, "left")
        .withColumn("_weight", F.coalesce("_weight", F.lit(0.0)))
    )
    k = counts.filter(F.col("_weight") > 0).agg(
        F.min(F.col("_n") / F.col("_weight")).alias("_k")
    )
    return counts.crossJoin(F.broadcast(k)).select(
        domain_col,
        F.col("_n").cast("bigint").alias("n_docs"),
        F.when(F.col("_weight") > 0, F.floor(F.col("_k") * F.col("_weight") / F.col("_n") * mod))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("threshold"),
    )


def stratified_sample(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Exactly k documents per group (fewer if the group is smaller):
    the k smallest md5(salt‖id) draws win, ties broken by id. A
    deterministic reservoir — every engine/run/partitioning selects the
    same rows, and changing `salt` redraws.

    Plan: one hash exchange on the group key with a rank window;
    Spark's WindowGroupLimit pushes the k-row limit to the map side, so
    the shuffle carries ~k rows per group per input partition, not the
    corpus. Adds `sample_rank` (1..k within the group)."""
    from pyspark.sql import Window

    draw = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(draw.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    mod: int = 10_000,
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """The kept subset of `df` under the target mixture (original
    columns preserved). Deterministic in (salt, id). A caller that
    already holds ``mixture_thresholds(df, weights, ...)`` passes it as
    `thresholds`, which saves deriving it (a second corpus scan)."""
    if thresholds is None:
        thresholds = mixture_thresholds(df, weights, domain_col=domain_col, mod=mod)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % mod
    )
    return (
        df.join(F.broadcast(thresholds.select(domain_col, "threshold")), domain_col)
        .filter(bucket < F.col("threshold"))
        .drop("threshold")
    )
