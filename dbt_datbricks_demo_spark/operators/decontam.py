"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard pre-training hygiene step (GPT-3 appendix C / PaLM §7):
before training, any document with substantial n-gram overlap against
held-out benchmarks is dropped or flagged, otherwise eval numbers are
contaminated. Re-expressed Spark-first:

- the benchmark side collapses to its DISTINCT n-gram set once — that
  set is O(|benchmark|), orders of magnitude smaller than the corpus,
  and is broadcast under a counted size guard (same discipline as
  operators.dedup: never an unconditional broadcast of data-dependent
  size);
- the corpus side explodes each document's distinct n-grams and
  inner-joins the benchmark set — with the broadcast in place this is a
  map-side hash probe, so the 100 TB scan never shuffles document
  bodies; only (doc_id, matched-gram) survivors reach the per-doc
  aggregation, and those are O(contamination), not O(corpus);
- a left join back onto the document spine restores the zero-overlap
  documents (the common case) without ever shuffling text.

Reference parity: the reference repo has no decontamination (it is an
IoT demo); this module is part of the training-data-pipeline extension
surface alongside operators.dedup / operators.text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.functions import broadcast_if_small
from dbt_datbricks_demo_spark.operators.text import tokens


def distinct_ngram_set(
    df: DataFrame, text_col: str = "text", n: int = 5, out: str = "gram"
) -> DataFrame:
    """The distinct word n-gram set of a corpus as a 1-column DataFrame.
    Row-level codegen gram stream (text.word_gram_rows — position
    explode + concat_ws(slice), optimization round 13; the previous
    per-doc transform()-built gram ARRAY ran in Catalyst's interpreted
    HOF walker, the measured bimodal JIT lottery), then global
    distinct — the shuffle carries short gram strings only, map-side
    partially deduplicated. The per-doc array_distinct the array form
    applied first is subsumed by the global distinct: same set."""
    from dbt_datbricks_demo_spark.operators.text import word_gram_rows

    rows = word_gram_rows(df.select(F.lit(1).alias("_one"), text_col),
                          "_one", text_col, n)
    return rows.select(F.col("gram").alias(out)).distinct()


def contamination_report(
    corpus: DataFrame,
    benchmark_grams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    flag_threshold: float = 0.2,
) -> DataFrame:
    """Per-document benchmark overlap: distinct n-grams, how many occur
    in `benchmark_grams` (1 column: gram), the overlap fraction, and a
    contaminated flag at `flag_threshold`. Documents shorter than n
    tokens have no grams → overlap_frac NULL, flagged false.

    `benchmark_grams` is materialized and counted once; broadcast only
    under the limit (functions.broadcast_if_small; shuffled join
    fallback above it).
    """
    # both sides probe on a 60-bit md5-derived gram digest, not the gram
    # string: the checkpointed/broadcast benchmark relation is 8-byte
    # longs (~12x narrower than 5-gram strings) and the hash-relation
    # probe compares longs. A digest collision is deterministic — an
    # oracle computing the same digest sees the identical result.
    gh = F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("bigint")
    # DISK_ONLY (round-12 verdict item 6): the benchmark gram-digest
    # set is O(|benchmark| grams) — corpus-scale when the benchmark is
    # a held-out split of the corpus itself. Disk-backed blocks keep
    # the compute-once/read-twice structure (count guard + probe join)
    # without pinning executor memory at 100 TB.
    from pyspark import StorageLevel

    bench = broadcast_if_small(
        benchmark_grams.select(gh.alias("_gh")).distinct(),
        storage_level=StorageLevel.DISK_ONLY,
    )
    bench_hit = bench.withColumn("_hit", F.lit(1))

    # ONE gram derivation feeds everything, in the row-level codegen
    # form (the word_gram_rows / bloom_decontam pattern): the previous
    # explode_outer(array_distinct(word_ngrams_all(...))) built the
    # gram ARRAY with transform() lambdas, which Catalyst evaluates in
    # its interpreted HOF walker — the per-JVM JIT lottery measured
    # bimodal 3.7 s / 15 s on bloom_decontam before its round-12 fix.
    # explode_outer of the WHEN-guarded position sequence keeps one
    # null row per gram-less doc (null gram → null digest), so the
    # spine still never needs a second corpus pass; the (doc, gram)
    # distinct collapses map-side (a doc's rows are partition-local)
    # and n_grams = count of non-null rows — identical integers to
    # size(array_distinct(...)), string-distinct exactly like before
    # (digesting happens after the distinct). The benchmark probe
    # stays a broadcast LEFT join on the 8-byte digest.
    # PINNED doc-level exchange (optimization round 13, the
    # candidate_hash_arrays pattern): hash(id) clusters every
    # downstream grouping — the (doc, gram) distinct and the per-doc
    # aggregation — so the plan's only corpus-side exchange carries
    # narrow (id, text) DOC rows at the cluster parallelism instead of
    # a byte-tiny post-explode (id, gram) shuffle that AQE coalesced
    # to one partition, serializing the gram/md5/probe work of the
    # whole corpus into a single measured ~0.6 s task at sf0.1
    # (guide §2.3/§2.5). Tokenize runs above the pin.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    staged = (
        corpus.select(F.col(id_col), F.col(text_col))
        .repartition(par, F.col(id_col))
        .select(F.col(id_col), tokens(text_col).alias("_t"))
    )
    pos_seq = F.when(
        F.size("_t") >= n, F.sequence(F.lit(1), F.size("_t") - (n - 1))
    )
    dist = (
        staged.select(
            F.col(id_col), F.explode_outer(pos_seq).alias("_p"), F.col("_t")
        )
        .select(
            F.col(id_col),
            F.when(
                F.col("_p").isNotNull(),
                F.concat_ws(" ", F.slice(F.col("_t"), F.col("_p"), n)),
            ).alias("gram"),
        )
        .dropDuplicates([id_col, "gram"])
    )
    per_doc = (
        dist.select(F.col(id_col), gh.alias("_gh"))
        .join(bench_hit, "_gh", "left")
        .groupBy(id_col)
        .agg(
            F.count("_gh").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap") * 1.0 / F.nullif(F.col("n_grams"), F.lit(0))
    return per_doc.select(
        id_col,
        "n_grams",
        "n_overlap",
        frac.alias("overlap_frac"),
        F.coalesce(frac >= flag_threshold, F.lit(False)).alias("contaminated"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    flag_threshold: float = 0.2,
    flagged_bound: int | None = None,
) -> DataFrame:
    """Drop contaminated documents: corpus minus docs whose distinct
    n-gram overlap fraction against `benchmark` reaches the threshold.
    The removal is a left-anti join on the (small) contaminated id set,
    broadcast under the size guard (functions.broadcast_if_small);
    `flagged_bound` is a caller-known bound on that set (see
    functions.loose_bound) that decides the hint without a count."""
    grams = distinct_ngram_set(benchmark, text_col=text_col, n=n)
    flagged = (
        contamination_report(
            corpus, grams, text_col=text_col, id_col=id_col, n=n,
            flag_threshold=flag_threshold,
        )
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    return corpus.join(
        broadcast_if_small(flagged, flagged_bound), id_col, "left_anti"
    )
