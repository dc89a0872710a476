"""Round-4 session-3 additions: graph / clustering / incremental
curation operators.

Extends the training-data-pipeline surface with the operators a mature
corpus build runs after the round-3 set: ranking documents by
similarity-graph centrality (PageRank), topic clustering by embedding
(fixed-iteration Lloyd), measuring duplicated-span mass (ExactSubstr),
model-based quality filtering (linear classifier inference), robust
outlier detection (median/MAD), and incremental batch-vs-corpus
deduplication (the operational form of dedup: a new crawl lands and
must be admitted against the standing corpus, not re-deduped globally).

Determinism contract (module-wide): every order-dependent float is
either (a) an exact integer/decimal aggregate, (b) a sequential
per-row fold over an array (engine-identical), or (c) rounded to
integer micro-units via the engine-portable `floor(x*1e6 + 0.5)`
before any cross-row sum. PageRank and the MAD outlier threshold go
further and stay in pure integer arithmetic (`div` / `//`), so the
oracle comparison is bit-exact by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.operators import (
    clustering,
    dedup,
    graph,
    index_store,
    text,
)
from dbt_datbricks_demo_spark.queries.inventory import (
    _register,
    _source,
    _spread,
    _stream_inputs,
    _t,
)
from dbt_datbricks_demo_spark.queries.llm_ops import (
    _SQL_SHINGLE_HASHES,
    _SQL_TOKENS,
    _sql_minhash_cols,
)

# micro-unit round-half-up, portable across Spark (half-even round()) and
# DuckDB (half-up round()) — same form the quantization query pinned
_MICRO = "cast(floor(({x}) * 1000000 + 0.5) as bigint)"


def _micro(col) -> F.Column:
    return F.floor(col * 1000000 + F.lit(0.5)).cast("bigint")


def _sql_bands(hashed_cte: str) -> str:
    """Band-key rows (doc_id, band_key) for 8 hashes × 2 bands — the
    same md5('-'-joined slice) keys operators.dedup.lsh_band_keys
    emits."""
    sigs = f"select doc_id, {', '.join(_sql_minhash_cols(8))} from {hashed_cte}"
    return f"""
        with s as ({sigs})
        select doc_id, md5(concat_ws('-', '0', h0, h1, h2, h3)) as band_key from s
        union all
        select doc_id, md5(concat_ws('-', '1', h4, h5, h6, h7)) as band_key from s
    """


# ---------------------------------------------------------------------------
# Model-based quality filtering: linear classifier inference
# ---------------------------------------------------------------------------
# fastText-style quality classifier reduced to its inference step: a
# fixed linear model over the engineered quality features. Weights are
# part of the operator contract (a deployment trains its own); keeping
# scores on the logit scale avoids exp()'s cross-engine low bits.
# Classifier weights, documented as x100 integer coefficients inside the
# integer-exact logit (see quality_classifier_report): bias -0.2,
# n_tokens 0.04, avg_token_len -0.45, punct_ratio -12.0,
# stopword_ratio 8.0.
@_register(
    "quality_classifier_report",
    "linear quality-classifier inference (fastText-style reduced to a "
    "fixed linear model over the §2.9 quality features): per-source "
    "doc counts, keep rate at logit>0, mean logit — scoring is a pure "
    "narrow projection (zero shuffle before the 1-key agg). The logit "
    "is INTEGER-EXACT end to end (round 5): each feature ratio "
    "quantizes to micro-units with integer half-up rounding "
    "((2a+b) div 2b), the x100-scaled integer weights combine in "
    "bigint arithmetic, and the final /100 rounds via a positive-"
    "offset integer div — no floating point anywhere, because the "
    "sf0.1 ceiling gate caught 4 docs whose double logit landed "
    "exactly on the .5-micro boundary and split by one engine ulp "
    "(FMA/association differences between engines are unfixable; "
    "integer arithmetic is)",
    f"""
    with raw as (
        select doc_id, source,
            len({_SQL_TOKENS}) as n,
            list_sum(list_transform({_SQL_TOKENS}, x -> length(x))) as suml,
            len(regexp_extract_all(text, '[^\\w\\s]')) as p,
            len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b'))
                as s,
            length(text) as c
        from documents
    ),
    q as (
        select doc_id, source, n,
            (2 * suml * 1000000 + n) // (2 * n) as avg_micro,
            case when c > 0 then (2 * p * 1000000 + c) // (2 * c) end
                as punct_micro,
            (2 * s * 1000000 + n) // (2 * n) as stop_micro
        from raw
    ),
    scored as (
        select source,
            ((-20000000 + 4000000 * n - 45 * avg_micro
              - 1200 * punct_micro + 800 * stop_micro
              + 50 + 100000000000) // 100) - 1000000000 as logit_micro
        from q
    )
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(case when logit_micro > 0 then 1 else 0 end) as bigint)
               as n_keep,
           sum(case when logit_micro > 0 then 1 else 0 end) * 1.0 / count(*)
               as keep_rate,
           cast(sum(logit_micro) as double) / count(*) as mean_logit_micro
    from scored
    group by source
    order by source
    """,
)
def quality_classifier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators.text import (
        stopword_count,
        tokens,
    )

    docs = _spread(_t(spark, sf_dir, "documents"))
    toks = tokens("text")
    raw = docs.select(
        "source",
        F.size(toks).cast("bigint").alias("n"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("suml"),
        F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
        .cast("bigint")
        .alias("p"),
        stopword_count("text").cast("bigint").alias("s"),
        F.length("text").cast("bigint").alias("c"),
    )

    def half_up(num, den):
        return F.expr(f"(2 * {num} * 1000000 + {den}) div (2 * {den})")

    q = raw.select(
        "source",
        "n",
        half_up("suml", "n").alias("avg_micro"),
        F.when(F.col("c") > 0, half_up("p", "c")).alias("punct_micro"),
        half_up("s", "n").alias("stop_micro"),
    )
    logit_micro = F.expr(
        "((-20000000 + 4000000 * n - 45 * avg_micro"
        " - 1200 * punct_micro + 800 * stop_micro"
        " + 50 + 100000000000) div 100) - 1000000000"
    )
    scored = q.select("source", logit_micro.alias("logit_micro"))
    keep = F.when(F.col("logit_micro") > 0, 1).otherwise(0)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep).cast("bigint").alias("n_keep"),
            (F.sum(keep) * 1.0 / F.count(F.lit(1))).alias("keep_rate"),
            (F.sum("logit_micro").cast("double") / F.count(F.lit(1))).alias(
                "mean_logit_micro"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: median / MAD
# ---------------------------------------------------------------------------
@_register(
    "mad_outlier_report",
    "median/MAD robust outlier detection per event_type (the filter a "
    "metrics pipeline runs before training on telemetry): exact "
    "interpolated medians, deviations and the 3-sigma-equivalent "
    "threshold compared in integer micro-units — two grouped medians + "
    "broadcast-joined group stats, shuffles carry only (type, value)",
    f"""
    with med as (
        select event_type, quantile_cont(value, 0.5) as med
        from events group by event_type
    ),
    dev as (
        select e.event_type, abs(e.value - m.med) as dev, m.med
        from events e join med m using (event_type)
    ),
    mad as (
        select event_type, {_MICRO.format(x='any_value(med)')} as med_micro,
               {_MICRO.format(x='quantile_cont(dev, 0.5)')} as mad_micro,
               count(*) as n_events
        from dev group by event_type
    )
    select d.event_type,
           cast(m.n_events as bigint) as n_events,
           m.med_micro, m.mad_micro,
           cast(sum(case when {_MICRO.format(x='d.dev')}
                              > (44478 * m.mad_micro) // 10000
                     then 1 else 0 end) as bigint) as n_outliers
    from dev d join mad m using (event_type)
    group by d.event_type, m.n_events, m.med_micro, m.mad_micro
    order by d.event_type
    """,
)
def mad_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _spread(_t(spark, sf_dir, "events")).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("dev"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        _micro(F.first("med")).alias("med_micro"),
        _micro(F.percentile("dev", F.lit(0.5))).alias("mad_micro"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # integer threshold: 3 * 1.4826 * mad == (44478 * mad_micro) div 10000
    joined = dev.join(F.broadcast(mad), "event_type")
    return (
        joined.groupBy("event_type", "n_events", "med_micro", "mad_micro")
        .agg(
            F.sum(
                F.when(
                    _micro(F.col("dev"))
                    > F.expr("(44478 * mad_micro) div 10000"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            "med_micro",
            "mad_micro",
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style duplicated-span measurement
# ---------------------------------------------------------------------------
_HOT_GRAM_VERDICTS: dict[str, bool] = {}


def _hot_gram_verdict(spark: SparkSession, sf_dir: str) -> bool:
    """The sampled hot-gram probe (dedup.hot_gram_probe), amortized per
    corpus directory: a production pipeline probes (or persists gram
    doc-frequency stats) once per ingest generation, not once per
    query over the same immutable corpus — so the verdict is cached on
    sf_dir and both span queries share it. The probe still decides; a
    different corpus (tests/test_skew.py's hostile fixtures call the
    operators directly) still flips the shape automatically."""
    if sf_dir not in _HOT_GRAM_VERDICTS:
        _HOT_GRAM_VERDICTS[sf_dir] = dedup.hot_gram_probe(
            _t(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            8,
            dedup.HOT_GRAM_DOC_FREQ,
        )
    return _HOT_GRAM_VERDICTS[sf_dir]
@_register(
    "duplicate_span_report",
    "duplicated-span mass per source (Lee et al. 2022 ExactSubstr, "
    "globalized as a word-8-gram frequency table — operators.dedup."
    "duplicate_gram_stats): ONE explode, corpus-wide totals via a "
    "window over a 60-bit md5 gram digest (narrow shuffle rows; the "
    "oracle computes the same digest, so a collision is deterministic "
    "and seen identically by both engines); only docs with >= 1 gram "
    "are measured (both engines drop shorter docs identically)",
    f"""
    with tok as (
        select doc_id, source, {_SQL_TOKENS} as t from documents
    ),
    grams as (
        select doc_id, source,
               (('0x' || substr(md5(gram), 1, 15))::ubigint)::bigint as gh
        from (
            select doc_id, source,
                   unnest(case when len(t) >= 8
                               then list_transform(range(1, len(t) - 6),
                                                   i -> array_to_string(t[i:i+7], ' '))
                               else []::varchar[] end) as gram
            from tok
        )
    ),
    counted as (
        select doc_id, source, count(*) over (partition by gh) as total
        from grams
    ),
    per_doc as (
        select doc_id, any_value(source) as source,
               count(*) as n_grams,
               sum(case when total >= 2 then 1 else 0 end) as n_dup
        from counted
        group by doc_id
    )
    select source,
           cast(count(*) as bigint) as n_docs_measured,
           cast(sum(n_grams) as bigint) as n_grams,
           cast(sum(n_dup) as bigint) as n_dup_grams,
           sum(n_dup) * 1.0 / sum(n_grams) as dup_gram_rate,
           cast(sum(case when 2 * n_dup > n_grams then 1 else 0 end) as bigint)
               as n_docs_majority_dup
    from per_doc
    group by source
    order by source
    """,
)
def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    stats = dedup.duplicate_gram_stats(
        docs, "doc_id", "text", n=8,
        hot_grams=_hot_gram_verdict(spark, sf_dir),
    )
    with_src = stats.join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return (
        with_src.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_measured"),
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("n_dup_grams").cast("bigint").alias("n_dup_grams"),
            (F.sum("n_dup_grams") * 1.0 / F.sum("n_grams")).alias(
                "dup_gram_rate"
            ),
            F.sum(
                F.when(2 * F.col("n_dup_grams") > F.col("n_grams"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_docs_majority_dup"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# ExactSubstr duplicated-span REMOVAL (operational rewrite; the report
# above only measures the mass)
# ---------------------------------------------------------------------------
@_register(
    "span_removal_report",
    "documents rewritten with corpus-duplicated word-8-gram spans CUT "
    "(Lee et al. 2022 ExactSubstr dedup as applied before training — "
    "operators.text.remove_duplicate_spans): one corpus gram explode, "
    "combiner-safe (id, digest) pre-agg, corpus totals via a window on "
    "the reduced stream, duplicate-bounded span expansion, in-plan "
    "token-filter reassembly; per-source removal accounting over the "
    "rewritten docs. The oracle re-derives covered token indices "
    "relationally (lag-window span count) — same digest, same spans",
    f"""
    with tok as (
        select doc_id, source, {_SQL_TOKENS} as t from documents
        where text is not null
    ),
    grams as (
        select doc_id, i as pos,
               (('0x' || substr(md5(array_to_string(t[i:i+7], ' ')),
                                1, 15))::ubigint)::bigint as gh
        from (
            select doc_id, t, unnest(range(1, len(t) - 6)) as i
            from tok where len(t) >= 8
        )
    ),
    counted as (
        select doc_id, pos, count(*) over (partition by gh) as total
        from grams
    ),
    covered as (
        select distinct doc_id, idx from (
            select doc_id, unnest(range(pos, pos + 8)) as idx
            from counted where total >= 2
        )
    ),
    marked as (
        select doc_id, idx,
               case when lag(idx) over (partition by doc_id order by idx)
                         is null
                      or idx - lag(idx) over (partition by doc_id
                                              order by idx) > 1
                    then 1 else 0 end as newspan
        from covered
    ),
    rem as (
        select doc_id, count(*) as tokens_removed, sum(newspan) as n_spans
        from marked group by doc_id
    ),
    toklens as (
        select doc_id, idx, len(t[idx]) as l
        from (select doc_id, t, unnest(range(1, len(t) + 1)) as idx
              from tok)
    ),
    chars as (
        select tl.doc_id,
               count(*) as tokens_total,
               sum(tl.l) as all_len,
               sum(case when c.idx is null then tl.l else 0 end) as kept_len,
               sum(case when c.idx is null then 1 else 0 end) as tokens_kept
        from toklens tl
        left join covered c on tl.doc_id = c.doc_id and tl.idx = c.idx
        group by tl.doc_id
    ),
    per_doc as (
        select ch.doc_id,
               coalesce(r.n_spans, 0) as n_spans,
               coalesce(r.tokens_removed, 0) as tokens_removed,
               ch.tokens_total, ch.tokens_kept,
               case when ch.tokens_kept > 0
                    then ch.kept_len + ch.tokens_kept - 1 else 0
               end as chars_kept,
               (ch.all_len + ch.tokens_total - 1)
                 - case when ch.tokens_kept > 0
                        then ch.kept_len + ch.tokens_kept - 1 else 0
                   end as chars_removed
        from chars ch left join rem r using (doc_id)
    )
    select t.source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(case when p.n_spans > 0 then 1 else 0 end) as bigint)
               as n_docs_affected,
           cast(sum(p.n_spans) as bigint) as n_spans_removed,
           cast(sum(p.tokens_removed) as bigint) as tokens_removed,
           cast(sum(p.tokens_kept) as bigint) as tokens_kept,
           cast(sum(p.chars_removed) as bigint) as chars_removed,
           cast(sum(p.chars_kept) as bigint) as chars_kept,
           sum(p.tokens_removed) * 1.0 / sum(p.tokens_total)
               as removed_token_rate
    from per_doc p join tok t using (doc_id)
    group by t.source
    order by t.source
    """,
)
def span_removal_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    cleaned = text.remove_duplicate_spans(
        docs, "doc_id", "text", n=8,
        hot_grams=_hot_gram_verdict(spark, sf_dir),
    )
    with_src = cleaned.join(docs.select("doc_id", "source"), "doc_id")
    return (
        with_src.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_spans_removed") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_affected"),
            F.sum("n_spans_removed").cast("bigint").alias("n_spans_removed"),
            F.sum("tokens_removed").cast("bigint").alias("tokens_removed"),
            F.sum("tokens_kept").cast("bigint").alias("tokens_kept"),
            F.sum("chars_removed").cast("bigint").alias("chars_removed"),
            F.sum("chars_kept").cast("bigint").alias("chars_kept"),
            (
                F.sum("tokens_removed") * 1.0 / F.sum("tokens_total")
            ).alias("removed_token_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Standing MinHash index lookup (round 5: the index path is now
# ORACLE-GATED, not just pytest-gated — same cached-index pattern as
# llm_ops._ivf_index_for)
# ---------------------------------------------------------------------------
def _minhash_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per testdata dir) a standing MinHash band index for
    the corpus split (doc_id % 10 != 7), hive-partitioned by band-key
    bucket. Cached on the source stamp (index_store.cached_build);
    signatures are deterministic, so a rebuild reproduces the identical
    index."""

    def build(path: str) -> None:
        corpus = _t(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 7
        )
        dedup.write_minhash_index(corpus, path)

    return index_store.cached_build(
        "mh", _source(sf_dir, "documents"), "k5h8b2|mod10ne7", build
    )


@_register(
    "minhash_index_lookup",
    "standing-index near-dup lookup: the corpus split's (id, band_key) "
    "LSH postings live in a hive-partitioned standing index "
    "(dedup.write_minhash_index, built once and cached per testdata "
    "dir); the incoming batch (doc_id % 10 == 7) computes its own band "
    "keys, prunes the index scan to its <= 32 bucket directories "
    "(PartitionFilters), and equi-joins on band_key — candidate "
    "(batch_id, corpus_id) pairs. The oracle recomputes the SAME "
    "signatures from scratch and band-joins directly, proving the "
    "standing index returns exactly the from-scratch candidate set",
    f"""
    with batch as (select * from documents where doc_id % 10 = 7),
    corpus as (select * from documents where doc_id % 10 <> 7),
    hb as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from batch),
    hc as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from corpus),
    bb as ({_sql_bands('hb')}),
    bc as ({_sql_bands('hc')})
    select distinct b.doc_id as batch_id, c.doc_id as corpus_id
    from bb b join bc c using (band_key)
    order by batch_id, corpus_id
    """,
)
def minhash_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _minhash_index_for(spark, sf_dir)
    batch = _spread(_t(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 10 == 7
    )
    return dedup.index_candidate_pairs(spark, path, batch).orderBy(
        "batch_id", "corpus_id"
    )


# ---------------------------------------------------------------------------
# Standing-index LIFECYCLE (round 6): build → append a second ingest
# generation → tombstone-delete a doc slice → compact → probe. The
# oracle recomputes the whole thing from scratch on the post-delete
# corpus, so the probe hash-matches only if the tombstones hid exactly
# the deleted postings AND compaction preserved every surviving one.
# ---------------------------------------------------------------------------
def _maintained_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per testdata dir) a standing index that has lived a
    full maintenance cycle: generation A (doc_id % 10 <= 4) written
    with mode='overwrite', generation B (doc_id % 10 in 5,6,8,9)
    appended, the doc_id % 17 == 3 slice tombstoned
    (delete_from_minhash_index), then compact_minhash_index — which
    must physically drop the tombstoned postings and collapse the two
    append generations to one file per bucket directory. Deterministic
    end state, cached on the source stamp like _minhash_index_for."""

    def build(path: str) -> None:
        docs = _t(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 10 != 7)
        gen_a = corpus.filter(F.col("doc_id") % 10 <= 4)
        gen_b = corpus.filter(F.col("doc_id") % 10 > 4)
        dedup.write_minhash_index(gen_a, path, mode="overwrite")
        dedup.write_minhash_index(gen_b, path, mode="append")
        dedup.delete_from_minhash_index(
            spark, path, corpus.filter(F.col("doc_id") % 17 == 3)
        )
        rows_before = spark.read.parquet(path).count()
        dedup.compact_minhash_index(spark, path)
        rows_after = spark.read.parquet(path).count()
        assert rows_after < rows_before, (rows_before, rows_after)

    return index_store.cached_build(
        "mhlc", _source(sf_dir, "documents"), "k5h8b2|lifecycle1", build
    )


@_register(
    "minhash_index_maintenance",
    "standing-index lifecycle probe: the index is built from ingest "
    "generation A (overwrite), generation B appended, the doc_id % 17 "
    "== 3 slice tombstoned (dedup.delete_from_minhash_index — logical "
    "delete, O(deleted) bytes), then compacted "
    "(dedup.compact_minhash_index — per-bucket rewrite to one file, "
    "tombstoned postings physically dropped, atomic directory swap). "
    "The batch (doc_id % 10 == 7) probes the post-lifecycle index; the "
    "oracle band-joins from scratch against the post-delete corpus, so "
    "a tombstone leak, a lost posting, or a compaction dup all "
    "hash-mismatch",
    f"""
    with batch as (select * from documents where doc_id % 10 = 7),
    corpus as (select * from documents
               where doc_id % 10 <> 7 and doc_id % 17 <> 3),
    hb as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from batch),
    hc as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from corpus),
    bb as ({_sql_bands('hb')}),
    bc as ({_sql_bands('hc')})
    select distinct b.doc_id as batch_id, c.doc_id as corpus_id
    from bb b join bc c using (band_key)
    order by batch_id, corpus_id
    """,
)
def minhash_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _maintained_index_for(spark, sf_dir)
    batch = _spread(_t(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 10 == 7
    )
    return dedup.index_candidate_pairs(spark, path, batch).orderBy(
        "batch_id", "corpus_id"
    )


# ---------------------------------------------------------------------------
# STREAM-ingested standing index (round-10 verdict item 6): the index
# probed here was built by the real Structured Streaming ingestion
# path — a file-source stream over JSONL micro-batches driving
# streaming/corpus.index_ingest_batch_fn under Trigger.AvailableNow,
# including an IN-STREAM cadence compaction — then gated against the
# same DuckDB from-scratch derivation as the batch-built index.
# ---------------------------------------------------------------------------
def _stream_ingested_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per testdata dir) a standing MinHash band index by
    STREAMING the corpus split in: the corpus (doc_id % 10 != 7) is
    split into 3 JSONL files, a file-source stream
    (streaming/corpus.read_document_stream, maxFilesPerTrigger=1)
    feeds index_ingest_batch_fn via foreachBatch with compact_every=2,
    so the resulting index has lived multiple append generations AND
    an in-stream compaction before any probe sees it. The ingest's
    near-dup admission gate is disabled (jaccard_threshold > 1 admits
    everything) so the indexed corpus is SQL-derivable — the
    admission-enabled path is pytest-gated for parity in
    tests/test_streaming.py. The stream's inputs, corpus and checkpoint
    live beside the index in the build root, cached on the source stamp
    like _minhash_index_for; signatures are deterministic, so a rebuild
    reproduces the identical index."""

    def build(path: str) -> None:
        from dbt_datbricks_demo_spark.streaming.corpus import (
            index_ingest_batch_fn,
            read_document_stream,
        )

        root = os.path.dirname(path)
        corpus = (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 != 7)
            .select("doc_id", "text")
        )
        input_dir = _stream_inputs(corpus, "doc_id", root, "json")
        fn = index_ingest_batch_fn(
            os.path.join(root, "corpus"),
            path,
            jaccard_threshold=1.01,
            compact_every=2,
        )
        q = (
            read_document_stream(spark, input_dir)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return index_store.cached_build(
        "smh", _source(sf_dir, "documents"), "k5h8b2|streamidx1", build
    )


@_register(
    "minhash_stream_index_lookup",
    "STREAM-built standing-index near-dup lookup: the corpus split "
    "arrives as a JSONL file stream (3 micro-batches, "
    "maxFilesPerTrigger=1, Trigger.AvailableNow) and "
    "streaming/corpus.index_ingest_batch_fn maintains the standing "
    "band index per batch — overwrite, two appends, and an IN-STREAM "
    "cadence compaction (compact_every=2) — before the batch "
    "(doc_id % 10 == 7) probes it with the partition-pruned "
    "index_candidate_pairs. The oracle recomputes signatures from "
    "scratch and band-joins directly, proving the stream-built, "
    "mid-stream-compacted index returns exactly the from-scratch "
    "candidate set",
    f"""
    with batch as (select * from documents where doc_id % 10 = 7),
    corpus as (select * from documents where doc_id % 10 <> 7),
    hb as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from batch),
    hc as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from corpus),
    bb as ({_sql_bands('hb')}),
    bc as ({_sql_bands('hc')})
    select distinct b.doc_id as batch_id, c.doc_id as corpus_id
    from bb b join bc c using (band_key)
    order by batch_id, corpus_id
    """,
)
def minhash_stream_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stream_ingested_index_for(spark, sf_dir)
    batch = _spread(_t(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 10 == 7
    )
    return dedup.index_candidate_pairs(spark, path, batch).orderBy(
        "batch_id", "corpus_id"
    )


# ---------------------------------------------------------------------------
# Incremental batch-vs-corpus deduplication
# ---------------------------------------------------------------------------
@_register(
    "incremental_dedup_report",
    "incremental admission of a new batch (doc_id % 10 == 7 stands in "
    "for the incoming crawl) against the standing corpus: exact-digest "
    "anti-join, then MinHash band-collision anti-join for the "
    "survivors; per-source admission funnel. Both joins key on "
    "digest/band_key — batch-sized left sides, corpus-sized right "
    "sides, no text shuffles",
    f"""
    with batch as (select * from documents where doc_id % 10 = 7),
    corpus as (select * from documents where doc_id % 10 <> 7),
    bd as (select doc_id, source, md5(text) as digest from batch),
    cd as (select distinct md5(text) as digest from corpus),
    hb as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from batch),
    hc as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from corpus),
    bb as ({_sql_bands('hb')}),
    bc as ({_sql_bands('hc')}),
    near as (
        select distinct b.doc_id
        from bb b join (select distinct band_key from bc) c using (band_key)
    ),
    flags as (
        select bd.doc_id, bd.source,
               (cd.digest is not null) as is_exact,
               (near.doc_id is not null) as is_near
        from bd
        left join cd on bd.digest = cd.digest
        left join near on near.doc_id = bd.doc_id
    )
    select source,
           cast(count(*) as bigint) as n_batch,
           cast(sum(case when is_exact then 1 else 0 end) as bigint)
               as n_exact_dup,
           cast(sum(case when not is_exact and is_near then 1 else 0 end)
                as bigint) as n_near_dup,
           cast(sum(case when not is_exact and not is_near then 1 else 0 end)
                as bigint) as n_admitted
    from flags
    group by source
    order by source
    """,
)
def incremental_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)

    bd = batch.select("doc_id", "source", dedup.content_hash("text").alias("digest"))
    cd = corpus.select(dedup.content_hash("text").alias("digest")).distinct()

    def bands(side: DataFrame) -> DataFrame:
        rows = dedup.shingle_hash_rows(side, "doc_id", "text", k=5)
        sigs = dedup.minhash_sigs_from_rows(rows, "doc_id", num_hashes=8)
        return sigs.select(
            "doc_id",
            F.explode(dedup.lsh_band_keys("_sig", 2, 4)).alias("band_key"),
        )

    near = (
        bands(batch)
        .join(bands(corpus).select("band_key").distinct(), "band_key")
        .select("doc_id")
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    flags = (
        bd.join(cd.withColumn("_exact", F.lit(True)), "digest", "left")
        .join(near, "doc_id", "left")
        .select(
            "source",
            F.coalesce("_exact", F.lit(False)).alias("is_exact"),
            F.coalesce("_near", F.lit(False)).alias("is_near"),
        )
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            one(F.col("is_exact")).alias("n_exact_dup"),
            one(~F.col("is_exact") & F.col("is_near")).alias("n_near_dup"),
            one(~F.col("is_exact") & ~F.col("is_near")).alias("n_admitted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# PageRank over the LSH similarity graph
# ---------------------------------------------------------------------------
_SQL_PAIRS = f"""
    hashed as (select doc_id, {_SQL_SHINGLE_HASHES} as hs from documents),
    bands as ({_sql_bands('hashed')}),
    pairs as (
        select distinct a.doc_id as id_a, b.doc_id as id_b
        from bands a join bands b
          on a.band_key = b.band_key and a.doc_id < b.doc_id
    )
"""


@_register(
    "pagerank_similarity_graph",
    "fixed-point PageRank (3 iterations, d=0.85) over the MinHash-LSH "
    "candidate-pair graph — operators.graph.pagerank_fixed: ranks in "
    "integer parts-per-billion with integer-division contributions, so "
    "both engines are bit-identical by construction; adjacency built "
    "and checkpointed once, each round is two keyed shuffles over "
    "O(nodes+edges) rows; top 20 by rank",
    f"""
    with {_SQL_PAIRS},
    edges as (
        select id_a as src, id_b as dst from pairs
        union all
        select id_b as src, id_a as dst from pairs
    ),
    deg as (select src as node, count(*) as deg from edges group by src),
    nn as (select count(*) as n from deg),
    r0 as (
        select node, deg, cast(1000000000::bigint // n as bigint) as r from deg, nn
    ),
    r1 as (
        select e.dst as node,
               cast(sum((85 * r.r) // (100 * r.deg))
                    + (15 * 1000000000::bigint) // (100 * (select n from nn))
                    as bigint) as r
        from edges e join r0 r on r.node = e.src
        group by e.dst
    ),
    r2 as (
        select e.dst as node,
               cast(sum((85 * r.r) // (100 * d.deg))
                    + (15 * 1000000000::bigint) // (100 * (select n from nn))
                    as bigint) as r
        from edges e
        join r1 r on r.node = e.src
        join deg d on d.node = e.src
        group by e.dst
    ),
    r3 as (
        select e.dst as node,
               cast(sum((85 * r.r) // (100 * d.deg))
                    + (15 * 1000000000::bigint) // (100 * (select n from nn))
                    as bigint) as r
        from edges e
        join r2 r on r.node = e.src
        join deg d on d.node = e.src
        group by e.dst
    )
    select r3.node as doc_id, cast(deg.deg as bigint) as deg,
           r3.r as rank_ppb
    from r3 join deg on deg.node = r3.node
    order by rank_ppb desc, doc_id
    limit 20
    """,
)
def pagerank_similarity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_candidate_pairs(
        docs, "doc_id", num_hashes=8, bands=2
    ).localCheckpoint(eager=True)
    ranked = graph.pagerank_fixed(pairs, iterations=3, damping_pct=85)
    return (
        ranked.select(
            F.col("node").alias("doc_id"),
            F.col("deg").cast("bigint").alias("deg"),
            "rank_ppb",
        )
        .orderBy(F.desc("rank_ppb"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Fixed-iteration k-means topic clustering
# ---------------------------------------------------------------------------
_SQL_KM_DIST = (
    "list_sum(list_transform(list_zip({v}, {m}), "
    "p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


@_register(
    "kmeans_cluster_report",
    "deterministic fixed-iteration Lloyd k-means over embeddings "
    "(k=8 lowest-id seeds, 2 iterations — operators.clustering."
    "kmeans_fixed): micro-quantized vectors make centroid means exact "
    "integer ratios; per-cluster sizes + micro-int inertia. Each "
    "iteration is one k-row broadcast + argmin + per-dim integer agg — "
    "the MLlib KMeans shape with every float nondeterminism pinned",
    f"""
    with q as (
        select vec_id,
               list_transform(embedding,
                   x -> cast(floor(cast(x as double) * 1000000 + 0.5) as bigint))
                   as q
        from embeddings
    ),
    v as (
        select vec_id, q,
               list_transform(q, y -> cast(y as double) / 1000000) as v
        from q
    ),
    c0 as (select vec_id as cid, v as m from v where vec_id < 8),
    s1 as (
        select v.vec_id, c.cid,
               {_SQL_KM_DIST.format(v='v.v', m='c.m')} as d, v.q
        from v cross join c0 c
    ),
    a1 as (
        select vec_id, cid, q from (
            select *, row_number() over (partition by vec_id
                                         order by d, cid) as rn
            from s1
        ) where rn = 1
    ),
    pd1 as (
        select cid, dim, sum(q[dim]) as s, count(*) as n
        from a1 cross join (select unnest(range(1, 65)) as dim) dims
        group by cid, dim
    ),
    c1 as (
        select cid,
               list(cast(s as double) / (n * 1000000) order by dim) as m
        from pd1 group by cid
    ),
    s2 as (
        select v.vec_id, c.cid,
               {_SQL_KM_DIST.format(v='v.v', m='c.m')} as d
        from v cross join c1 c
    ),
    a2 as (
        select vec_id, cid, d from (
            select *, row_number() over (partition by vec_id
                                         order by d, cid) as rn
            from s2
        ) where rn = 1
    )
    select cid,
           cast(count(*) as bigint) as n_vectors,
           cast(sum({_MICRO.format(x='d')}) as bigint) as inertia_micro
    from a2
    group by cid
    order by cid
    """,
)
def kmeans_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    assign = clustering.kmeans_fixed(emb, k=8, iterations=2)
    return (
        assign.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(_micro(F.col("dist"))).cast("bigint").alias("inertia_micro"),
        )
        .orderBy("cid")
    )
