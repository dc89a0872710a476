"""Full-text relevance search: TF-IDF / BM25 ranking over the token
stream — the retrieval primitive of a corpus analytics engine.

Spark-first inverted-stats design (no per-query index needed):
- the corpus is exploded to (doc, term) ONLY for terms in the query —
  the `isin` filter sits under the explode's generator output, so the
  shuffle carries O(matching postings), not the whole token stream;
- document frequencies and the corpus size/average-length are tiny
  aggregates broadcast back onto the postings;
- per-document scores fold term contributions in SORTED term order
  (array_sort before aggregate) — double addition is not associative,
  and an unordered SUM over shuffle arrival order would make scores
  run-dependent; the sorted fold makes them bit-stable across engines
  and partitionings (the same discipline as the decimal aggregates in
  queries/inventory.py).

idf modes:
- "log": ln((N − df + 0.5)/(df + 0.5) + 1) — the standard BM25+ idf for
  real use. Transcendental: libm results may differ by 1 ulp across
  engines, so oracle-checked queries use:
- "rational": (N − df + 0.5)/(df + 0.5) — same ordering, same zeros,
  exact IEEE arithmetic in every engine (+, /, literals only).

At 100 TB: one narrow scan + a postings shuffle bounded by the query's
selectivity; dfs/avgdl are |terms| + 1 rows. A standing search service
would materialize term_doc_freqs once and reuse it across queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.operators.text import tokens

K1 = 1.2
B = 0.75


def postings(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, term, tf, dl) for query terms only: explode the token
    array, filter to the query vocabulary (pushed below the shuffle),
    count per (doc, term)."""
    toks = df.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("bigint").alias("dl"),
        F.explode(tokens(text_col)).alias("term"),
    )
    return (
        toks.filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.first("dl").alias("dl"),
        )
    )


def corpus_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """1-row (n_docs, avgdl): avgdl as exact sum/count double division."""
    return df.select(F.size(tokens(text_col)).cast("bigint").alias("dl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )


def _idf(n_docs: Column, doc_freq: Column, mode: str) -> Column:
    ratio = (n_docs - doc_freq + F.lit(0.5)) / (doc_freq + F.lit(0.5))
    if mode == "log":
        return F.log(ratio + F.lit(1.0))
    if mode == "rational":
        return ratio
    raise ValueError(f"unknown idf mode: {mode!r}")


def _score_and_fold(
    post: DataFrame,
    dfs: DataFrame,
    stats: DataFrame,
    id_col: str,
    k1: float,
    b: float,
    idf_mode: str,
) -> DataFrame:
    """Shared scoring tail: attach idf/stats, compute per-(doc, term)
    contributions, fold them in sorted term order (bit-stable double
    sum — see module docstring)."""
    scored = (
        post.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_contrib",
            _idf(F.col("n_docs"), F.col("doc_freq"), idf_mode)
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "_contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_contrib"],
        ).alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_matched_terms"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    idf_mode: str = "log",
) -> DataFrame:
    """Per-document BM25 score against a bag of query terms, plus the
    count of matched terms. Only documents matching ≥1 term appear."""
    post = postings(df, query_terms, text_col=text_col, id_col=id_col)
    dfs = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_freq")
    )
    stats = corpus_stats(df, text_col=text_col)
    return _score_and_fold(post, dfs, stats, id_col, k1, b, idf_mode)


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
    idf_mode: str = "log",
) -> DataFrame:
    """Top-k documents by BM25; ties broken by id for determinism.
    Compiles to TakeOrderedAndProject — per-partition heaps, no global
    sort."""
    return (
        bm25_scores(
            df, query_terms, text_col=text_col, id_col=id_col,
            k1=k1, b=b, idf_mode=idf_mode,
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
