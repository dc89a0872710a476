"""Round-6 continuation: compressed-domain + representation mining ops.

Additions a training-data platform layers on the existing dedup /
similarity / curation surface:

  * ann_pq_adc_topk — product-quantization ANN (Jégou et al. 2011):
    encode the corpus to M=8 4-bit codes (4 bytes vs 256 bytes of
    float32 — the 64× scan-size reduction that makes exhaustive
    compressed-domain search viable at 100 TB), then search by
    asymmetric distance: M table lookups per candidate, no float vector
    math at query time.
  * ann_ivfpq_topk — the COMPOSED IVF-PQ index (FAISS IndexIVFPQ):
    hive-partitioned coarse cells × PQ code payloads — probes prune to
    nprobe/|cells| of the data via the planner and ADC-score only the
    4-byte codes they read.
  * random_projection_report — Johnson-Lindenstrauss ±1 sign projection
    (Achlioptas 2003) 64→16 dims with a bounded all-pairs distortion
    audit: the cheap-similarity backfill every embedding pipeline runs
    before pair mining.
  * ngram_diversity_report — corpus diversity (type/token ratio at n =
    1/2/3) per source: the repetition/diversity health metric for
    training mixes.
  * bigram_lm_report — stupid-backoff bigram LM (Brants et al. 2007)
    trained on the target domain, scoring HELD-OUT sources: the
    next-step-up from unigram perplexity filtering, with the backoff
    rate (unseen-transition mass) measured per source.
  * bpe_merge_training — BPE tokenizer training (Sennrich et al. 2016)
    in-engine: sequential merge rounds on the vocabulary-sized symbol
    table, left-to-right non-overlapping merges via gaps-and-islands
    parity windows, hash-matched by an unrolled-CTE oracle.

Shared determinism conventions (module docstrings of llm_ops /
selection_ops): tokens are string_split_regex(trim(lower(text)),
'\\s+') in both engines, corpus-string shuffle keys are first-15-md5-hex
60-bit digests, ln()/double folds run in fixed sequential order and
round to 6 dp, group means aggregate exact micro-unit integers, PQ/JL
matrix literals are exact binary fractions (k/1024 or ±1.0) whose
decimal spellings round-trip through both engines' parsers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.functions import literal_df
from dbt_datbricks_demo_spark.operators import dedup, index_store, similarity, text
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
    _sql_dot,
    _sql_minhash_cols,
)
from dbt_datbricks_demo_spark.queries.pipeline_ops import _sql_ngram_list

# ---------------------------------------------------------------------------
# Product quantization: encode + ADC search
# ---------------------------------------------------------------------------
_PQ_M, _PQ_SUB, _PQ_K = 8, 8, 16
_PQ_BOOKS = similarity.pq_codebooks(_PQ_M, _PQ_SUB, _PQ_K)


def _dlit(x: float) -> str:
    """Exact double literal for DuckDB: string→double cast is a
    correctly-rounded strtod, so repr() round-trips bit-for-bit (a bare
    decimal literal would detour through DECIMAL and can land 1 ulp
    off for long fractions)."""
    return f"cast('{x!r}' as double)"


def _pq_parts() -> tuple[list[str], list[str]]:
    """Per-subspace SQL pieces shared by the PQ and IVF-PQ oracles:
    sc{s} = the 16 corpus-side assignment scores of subspace s, t{s} =
    the 16 query-side ADC table entries (computed from the stored query
    vector, mirroring pq_adc_table's driver fold bit-for-bit)."""
    sc_cols, qt_cols = [], []
    for s, book in enumerate(_PQ_BOOKS):
        off = s * _PQ_SUB
        c2s = similarity._book_c2(book)
        exprs, qexprs = [], []
        for c, c2 in zip(book, c2s):
            w = "[" + ", ".join(repr(x) for x in c) + "]"
            dot = (
                f"list_sum(list_transform(range(1, {_PQ_SUB + 1}), i -> "
                f"cast(embedding[i + {off}] as double) * ({w})[i]))"
            )
            exprs.append(f"(-2.0 * {dot} + {_dlit(c2)})")
            qdot = (
                f"list_sum(list_transform(range(1, {_PQ_SUB + 1}), i -> "
                f"qv[i + {off}] * ({w})[i]))"
            )
            qexprs.append(f"(-2.0 * {qdot} + {_dlit(c2)})")
        sc_cols.append("[" + ",\n               ".join(exprs) + f"] as sc{s}")
        qt_cols.append("[" + ",\n               ".join(qexprs) + f"] as t{s}")
    return sc_cols, qt_cols


def _pq_codes_sql() -> str:
    return ",\n               ".join(
        f"list_position(sc{s}, list_min(sc{s})) - 1 as c{s}"
        for s in range(_PQ_M)
    )


def _pq_pack_sql() -> str:
    pack = "cast(c0 as bigint)"
    for s in range(1, _PQ_M):
        pack = f"({pack}*{_PQ_K} + c{s})"
    return pack


def _pq_adc_sql() -> str:
    return " + ".join(f"t{s}[c{s} + 1]" for s in range(_PQ_M))


def _sql_pq() -> str:
    sc_cols, qt_cols = _pq_parts()
    codes = _pq_codes_sql()
    pack = _pq_pack_sql()
    adc = _pq_adc_sql()
    self_dot = _sql_dot(
        "embedding", "list_transform(embedding, x -> cast(x as double))"
    )
    return f"""
    with q as (
        select list_transform(embedding, x -> cast(x as double)) as qv
        from embeddings where vec_id = 0
    ),
    enc as (
        select vec_id,
               {codes}
        from (select vec_id,
               {','.join(sc_cols)}
              from embeddings)
    ),
    qt as (select {','.join(qt_cols)} from q),
    brute as (
        select vec_id
        from (select vec_id,
                     {_sql_dot('embedding', 'qv')}
                     / (sqrt({self_dot}) * sqrt({_sql_dot('qv', 'qv')}))
                         as cosine
              from embeddings, q)
        order by cosine desc, vec_id
        limit 10
    ),
    scored as (
        select vec_id,
               cast({pack} as bigint) as pq_code,
               round(cast(0.0 as double) + {adc}, 6) as adc_score
        from enc, qt
    )
    select s.vec_id, s.pq_code, s.adc_score,
           (b.vec_id is not null) as in_exact_top10
    from scored s left join brute b using (vec_id)
    order by adc_score asc, vec_id asc
    limit 10
    """


@_register(
    "ann_pq_adc_topk",
    "product-quantization ANN: each vector encodes to 8 4-bit "
    "per-subspace centroid ids (md5-derived fixed codebooks — 4 bytes "
    "per vector vs 256 of float32), the query builds an 8x16 "
    "asymmetric-distance table driver-side, and top-10 is M table "
    "lookups per candidate — no float vector math at query time; the "
    "in_exact_top10 column measures recall against the brute-force "
    "top-10 in-result (operators.similarity.pq_encode/pq_adc_topk)",
    _sql_pq(),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    top = similarity.pq_adc_topk(emb, _PQ_BOOKS, query, k=10)
    # evaluation column: membership in the exact top-10 (the same brute
    # scan ann_recall_report uses to certify the LSH path — a REPORT
    # column; a production search serves from the codes alone)
    brute = similarity.cosine_topk(emb, query, 10).select(
        "vec_id", F.lit(True).alias("_hit")
    )
    return (
        top.join(F.broadcast(brute), "vec_id", "left")
        .select(
            "vec_id",
            "pq_code",
            "adc_score",
            F.coalesce(F.col("_hit"), F.lit(False)).alias("in_exact_top10"),
        )
        .orderBy(F.col("adc_score").asc(), F.col("vec_id").asc())
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection + distortion audit
# ---------------------------------------------------------------------------
_JL_P = 16
_JL_SIGNS = similarity.sign_matrix(_JL_P, 64)
_JL_SAMPLE = 100


def _sql_jl() -> str:
    proj = []
    for row in _JL_SIGNS:
        w = "[" + ", ".join(f"{float(x)!r}" for x in row) + "]"
        proj.append(
            f"list_sum(list_transform(range(1, 65), i -> "
            f"cast(embedding[i] as double) * ({w})[i]))"
        )
    y = "[" + ",\n               ".join(proj) + "]"
    return f"""
    with base as (
        select vec_id, embedding,
               {y} as y
        from embeddings where vec_id < {_JL_SAMPLE}
    ),
    pairs as (
        select a.vec_id as id_a, b.vec_id as id_b,
               list_sum(list_transform(range(1, 65), i ->
                   (cast(a.embedding[i] as double)
                    - cast(b.embedding[i] as double))
                 * (cast(a.embedding[i] as double)
                    - cast(b.embedding[i] as double)))) as d2o,
               list_sum(list_transform(range(1, {_JL_P + 1}), i ->
                   (a.y[i] - b.y[i]) * (a.y[i] - b.y[i]))) as d2p
        from base a join base b on a.vec_id < b.vec_id
    ),
    m as (
        select id_a, id_b, d2p / (16.0 * d2o) as distortion
        from pairs where d2o > 0
    ),
    mm as (
        select *, cast(round(distortion * 1e6, 0) as bigint) as dist_micro
        from m
    )
    select cast(floor(distortion * 10) as bigint)       as bucket,
           cast(count(*) as bigint)                     as n_pairs,
           cast(sum(dist_micro) as double) / count(*) / 1e6 as mean_distortion,
           round(min(distortion), 6)                    as min_distortion,
           round(max(distortion), 6)                    as max_distortion
    from mm
    group by 1
    order by bucket
    """


@_register(
    "random_projection_report",
    "Johnson-Lindenstrauss ±1 sign projection 64→16 dims "
    "(operators.similarity.sign_matrix/project_signs — one narrow "
    "zero-shuffle backfill pass at corpus scale) with a distortion "
    f"audit over the bounded all-pairs sample of the first {_JL_SAMPLE} "
    "vectors: histogram of ||y_a−y_b||²/(P·||v_a−v_b||²) — the "
    "JL estimator whose expectation is 1 — bucketed at 0.1 width; "
    "group means aggregate exact micro-unit integers",
    _sql_jl(),
)
def random_projection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    # the audit sample is FIXED-SIZE (first 100 ids → 4 950 pairs) no
    # matter the corpus scale; the pair join is a bounded broadcast
    # nested loop by construction
    staged = (
        emb.filter(F.col("vec_id") < _JL_SAMPLE)
        .select(
            "vec_id",
            "embedding",
            similarity.project_signs(F.col("embedding"), _JL_SIGNS).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    a = staged.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        F.col("y").alias("_ya"),
    )
    b = staged.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        F.col("y").alias("_yb"),
    )
    diff2 = lambda x, y: (x.cast("double") - y.cast("double")) * (  # noqa: E731
        x.cast("double") - y.cast("double")
    )
    d2o = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), diff2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d2p = F.aggregate(
        F.zip_with(F.col("_ya"), F.col("_yb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(d2o.alias("d2o"), d2p.alias("d2p"))
        .filter(F.col("d2o") > 0)
        .select((F.col("d2p") / (F.lit(16.0) * F.col("d2o"))).alias("distortion"))
        .withColumn(
            "dist_micro",
            F.round(F.col("distortion") * 1e6, 0).cast("bigint"),
        )
    )
    return (
        pairs.groupBy(
            F.floor(F.col("distortion") * 10).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            (
                F.sum("dist_micro").cast("double") / F.count(F.lit(1)) / F.lit(1e6)
            ).alias("mean_distortion"),
            F.round(F.min("distortion"), 6).alias("min_distortion"),
            F.round(F.max("distortion"), 6).alias("max_distortion"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# n-gram diversity (type/token ratio per source)
# ---------------------------------------------------------------------------
_SQL_GH = "('0x' || substr(md5(g), 1, 15))::ubigint::bigint"


def _sql_diversity() -> str:
    def level(n: int) -> str:
        src = (
            "select source, unnest(t) as g from tok"
            if n == 1
            else f"select source, unnest({_sql_ngram_list('t', n)}) as g from tok"
        )
        return f"""
    g{n} as (select source, {_SQL_GH} as gh from ({src})),
    d{n} as (select source, gh, count(*) as c from g{n} group by 1, 2),
    s{n} as (select source, sum(c) as total_{n}, count(*) as distinct_{n}
             from d{n} group by 1)"""

    return f"""
    with tok as (select doc_id, source, {_SQL_TOKENS} as t from documents),
    {','.join(level(n) for n in (1, 2, 3))}
    select s1.source,
           cast(total_1 as bigint)    as total_1,
           cast(distinct_1 as bigint) as distinct_1,
           round(cast(distinct_1 as double) / cast(total_1 as double), 6)
               as ttr_1,
           cast(total_2 as bigint)    as total_2,
           cast(distinct_2 as bigint) as distinct_2,
           round(cast(distinct_2 as double) / cast(total_2 as double), 6)
               as ttr_2,
           cast(total_3 as bigint)    as total_3,
           cast(distinct_3 as bigint) as distinct_3,
           round(cast(distinct_3 as double) / cast(total_3 as double), 6)
               as ttr_3
    from s1 join s2 using (source) join s3 using (source)
    order by source
    """


@_register(
    "ngram_diversity_report",
    "per-source n-gram diversity (type/token ratio at n=1/2/3): the "
    "corpus-health diversity metric for training mixes — each level is "
    "a position-explode (codegen, no interpreted HOF) into a two-stage "
    "digest aggregation (never count(*)+count(distinct) in one groupBy, "
    "which plans the row-duplicating Expand); 60-bit gram digests keep "
    "the shuffle narrow at corpus scale",
    _sql_diversity(),
)
def ngram_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    # ONE position explode emits all three gram levels (optimization
    # round 12): per token position p, the 1/2/3-gram digests (null
    # where the gram would run off the document) stack to (source, n,
    # gh) rows, so the whole report is one narrow pass + one two-stage
    # digest aggregation — the previous form ran three separate
    # explode+agg subtrees over an eagerly checkpointed token table
    # (6 exchanges + a blocking checkpoint job; measured 2.32 s vs
    # ~1.2 s). Same md5 count (one per gram occurrence), same digests,
    # identical integers; the single exchange carries the union of the
    # three levels' digest streams (still map-side-collapsed to
    # per-partition distincts). Never count(*)+count(distinct) in one
    # groupBy — that plans the row-duplicating Expand (round 7).
    t = F.col("_t")
    staged = docs.select("source", text.tokens("text").alias("_t"))
    pos = F.explode(
        F.when(F.size(t) >= 1, F.sequence(F.lit(1), F.size(t))).otherwise(
            F.array().cast("array<int>")
        )
    ).alias("_p")
    p = F.col("_p")

    def gh(n: int):
        g = F.concat_ws(" ", F.slice(t, p, n))
        digest = F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")
        return F.when(p <= F.size(t) - (n - 1), digest)

    rows = (
        staged.select("source", t.alias("_t"), pos)
        .select(
            "source",
            gh(1).alias("_h1"),
            gh(2).alias("_h2"),
            gh(3).alias("_h3"),
        )
        .select(
            "source",
            F.expr("stack(3, 1, _h1, 2, _h2, 3, _h3) as (n, gh)"),
        )
        .where(F.col("gh").isNotNull())
    )
    per_digest = rows.groupBy("source", "n", "gh").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_level = per_digest.groupBy("source", "n").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("distinct"),
    )
    one = per_level.groupBy("source").agg(
        *[
            a
            for n in (1, 2, 3)
            for a in (
                F.max(F.when(F.col("n") == n, F.col("total"))).alias(
                    f"total_{n}"
                ),
                F.max(F.when(F.col("n") == n, F.col("distinct"))).alias(
                    f"distinct_{n}"
                ),
            )
        ]
    )
    # oracle parity in the degenerate case (round-12 advice): the SQL
    # oracle inner-joins the three per-level subqueries, so a source
    # whose docs ALL have < 2 (or < 3) tokens is dropped entirely; the
    # pivot would instead emit it with NULL total_2/total_3 — filter to
    # sources present at every level.
    final = one.where(
        F.col("total_2").isNotNull() & F.col("total_3").isNotNull()
    ).select(
        "source",
        *[
            c
            for n in (1, 2, 3)
            for c in (
                F.col(f"total_{n}"),
                F.col(f"distinct_{n}"),
                F.round(
                    F.col(f"distinct_{n}").cast("double")
                    / F.col(f"total_{n}").cast("double"),
                    6,
                ).alias(f"ttr_{n}"),
            )
        ],
    )
    return final.orderBy("source")


# ---------------------------------------------------------------------------
# Stupid-backoff bigram LM over held-out documents
# ---------------------------------------------------------------------------
def _sql_bigram_lm() -> str:
    return f"""
    with base as (
        select doc_id, source, {_SQL_TOKENS} as t,
               (source = 'src0') as is_train
        from documents
    ),
    pairs as (
        select doc_id, source, is_train, t[i] as w1, t[i + 1] as w2
        from (select doc_id, source, is_train, t,
                     unnest(range(1, len(t))) as i
              from base where len(t) >= 2)
    ),
    uni as (
        select term, count(*) as c_uni
        from (select unnest(t) as term from base where is_train)
        group by 1
    ),
    tot as (select cast(sum(c_uni) as double) as n,
                   cast(count(*) as double) as v
            from uni),
    big as (select w1, w2, count(*) as c_big
            from pairs where is_train group by 1, 2),
    tf as (select doc_id, source, w1, w2, count(*) as tf
           from pairs where not is_train group by 1, 2, 3, 4),
    scored as (
        select tf.doc_id, tf.source,
               cast(sum(tf) as bigint) as n_trans,
               cast(sum(case when b.c_big is null then tf else 0 end)
                    as bigint) as n_backoff,
               cast(round(round(sum(-tf * ln(
                   case when b.c_big is not null
                        then cast(b.c_big as double) / cast(u1.c_uni as double)
                        else cast(0.4 as double)
                             * (cast(coalesce(u2.c_uni, 0) + 1 as double)
                                / (n + v))
                   end)) / sum(tf), 6) * 1e6, 0) as bigint) as nll_micro
        from tf
        left join big b on b.w1 = tf.w1 and b.w2 = tf.w2
        left join uni u1 on u1.term = tf.w1
        left join uni u2 on u2.term = tf.w2, tot
        group by tf.doc_id, tf.source
    )
    select source,
           cast(count(*) as bigint)       as n_docs,
           cast(sum(n_trans) as bigint)   as n_transitions,
           cast(sum(n_backoff) as bigint) as n_backoff,
           round(cast(sum(n_backoff) as double)
                 / cast(sum(n_trans) as double), 6) as backoff_rate,
           cast(sum(nll_micro) as double) / count(*) / 1e6 as mean_nll,
           cast(max(nll_micro) as double) / 1e6            as max_nll
    from scored
    group by source
    order by source
    """


@_register(
    "bigram_lm_report",
    "stupid-backoff bigram LM (Brants et al. 2007) trained on the "
    "TARGET DOMAIN (source src0 — the DSIR-style target), scoring the "
    "held-out sources: S(w2|w1) = c12/c1 when the transition was seen "
    "in-domain, else 0.4·(c(w2)+1)/(N+V) — train/score separation is "
    "what makes backoff real (a random 90% split of this corpus sees "
    "every bigram and the backoff leg never fires); per-source NLL "
    "stats over exact micro-nat integers plus the unseen-transition "
    "(backoff) rate (operators.text.bigram_backoff_nll: partial-agg-"
    "absorbed model passes, vocabulary-keyed joins, one-row totals "
    "broadcast)",
    _sql_bigram_lm(),
)
def bigram_lm_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    is_train = F.col("source") == F.lit("src0")
    per_doc = text.bigram_backoff_nll(
        docs, is_train, keep_cols=("source",)
    ).withColumn(
        "nll_micro", F.round(F.col("avg_nll") * 1e6, 0).cast("bigint")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_trans").cast("bigint").alias("n_transitions"),
            F.sum("n_backoff").cast("bigint").alias("n_backoff"),
            F.round(
                F.sum("n_backoff").cast("double")
                / F.sum("n_trans").cast("double"),
                6,
            ).alias("backoff_rate"),
            (
                F.sum("nll_micro").cast("double") / F.count(F.lit(1)) / F.lit(1e6)
            ).alias("mean_nll"),
            (F.max("nll_micro").cast("double") / F.lit(1e6)).alias("max_nll"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composed scale-path index (pruned cells × compressed codes)
# ---------------------------------------------------------------------------
_IVFPQ_CELLS = 16
_IVFPQ_NPROBE = 4
_IVFPQ_COARSE = similarity.pq_codebooks(
    1, 64, k=_IVFPQ_CELLS, prefix="ivfq"
)[0]


def _ivfpq_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) and locate the IVF-PQ index for a testdata dir,
    cached on the source stamp (index_store.cached_build); the
    quantizers are fixed, so a rebuild reproduces the identical
    index."""

    def build(path: str) -> None:
        similarity.write_ivfpq_index(
            _spread(_t(spark, sf_dir, "embeddings")),
            _IVFPQ_COARSE,
            _PQ_BOOKS,
            path,
        )

    params = f"ivfpq|cells{_IVFPQ_CELLS}|m{_PQ_M}|k{_PQ_K}"
    return index_store.cached_build(
        "ivfpq", _source(sf_dir, "embeddings"), params, build
    )


def _sql_ivfpq() -> str:
    sc_cols, qt_cols = _pq_parts()
    coarse_c2 = similarity._book_c2(_IVFPQ_COARSE)
    csc, qcsc = [], []
    for c, c2 in zip(_IVFPQ_COARSE, coarse_c2):
        csc.append(f"(-2.0 * {_sql_dot('embedding', c)} + {_dlit(c2)})")
        qcsc.append(f"(-2.0 * {_sql_dot('qv', c)} + {_dlit(c2)})")
    return f"""
    with q as (
        select list_transform(embedding, x -> cast(x as double)) as qv
        from embeddings where vec_id = 0
    ),
    enc as (
        select vec_id,
               list_position(csc, list_min(csc)) - 1 as cell,
               {_pq_codes_sql()}
        from (select vec_id,
               [{','.join(csc)}] as csc,
               {','.join(sc_cols)}
              from embeddings)
    ),
    qt as (select {','.join(qt_cols)} from q),
    qroute as (
        select i - 1 as cell from (
            select unnest(qsc) as s, generate_subscripts(qsc, 1) as i
            from (select [{','.join(qcsc)}] as qsc from q)
        ) order by s, i limit {_IVFPQ_NPROBE}
    )
    select e.vec_id, e.cell,
           {_pq_pack_sql()} as pq_code,
           round(cast(0.0 as double) + {_pq_adc_sql()}, 6) as adc_score
    from enc e join qroute using (cell), qt
    order by adc_score asc, vec_id asc
    limit 10
    """


@_register(
    "ann_ivfpq_topk",
    "IVF-PQ composed index (the FAISS IndexIVFPQ architecture, raw-"
    "vector codes — no residual re-encoding, documented): the corpus is "
    "written ONCE hive-partitioned by fixed-coarse-quantizer cell with "
    "4-byte PQ codes as the payload; a query probes nprobe=4 of 16 cell "
    "DIRECTORIES (planner partition pruning) and ADC-scores only the "
    "codes it reads — the two scale levers (nprobe/|cells| data read, "
    "64× smaller rows) composed in one layout (operators.similarity."
    "write_ivfpq_index/ivfpq_index_topk); every stage value-hash-exact "
    "vs the oracle's from-scratch assignment + routing + table lookups",
    _sql_ivfpq(),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx_path = _ivfpq_index_for(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    return similarity.ivfpq_index_topk(
        spark,
        idx_path,
        _IVFPQ_COARSE,
        _PQ_BOOKS,
        query,
        k=10,
        nprobe=_IVFPQ_NPROBE,
    )


# ---------------------------------------------------------------------------
# BATCH ANN through the standing index (round-7 verdict item 1): the
# operational form of batch similarity search. The brute baseline
# (ann_batch_brute_topk) is |corpus| x |batch| work — measured 4.6-8.3x
# wall at 10x data in round 6; this one is one O(N) codes-only scan for
# the whole batch + O(batch x width) scored candidates, width held
# ~constant by the adaptive sub-bucket plane count.
# ---------------------------------------------------------------------------
_BATCH_NPROBE = 4        # coarse cells probed per query (score-ranked)
# sub-bucket probing is a COMPLETE Hamming ball whose radius grows with
# the adaptive plane count (similarity.adaptive_subprobe_radius) — the
# round-8 probe escalation that holds certified recall at any N; the
# legacy fixed margin-flip budget (4) lives on in batch_ivfpq_index_topk
# as the probes_sub default for bounded ad-hoc callers
_BATCH_WIDTH = 16        # target (cell, sub_bucket) width
_BATCH_MAX_PLANES = 20
_BATCH_K = 5
# fixed-SIZE certification subset (q_ids 0,100,...,700 — never grows
# with the corpus, so the same-scorer full-scan reference stays O(N))
_BATCH_CERT_MAX = 800
# counted guard: at/below this corpus size the brute exact scan is both
# faster and better — the index path needs the build amortized
_BATCH_BRUTE_MAX = 256
_BATCH_PLANES_W = similarity.hyperplane_weights(
    _BATCH_MAX_PLANES, 64, prefix="bq"
)


def _batch_index_for(spark: SparkSession, sf_dir: str, planes: int) -> str:
    """Build (once) and locate the batch IVF-PQ index for a testdata
    dir — the _ivfpq_index_for stamp cache, keyed also by the adaptive
    plane count so a corpus-size change invalidates."""

    def build(path: str) -> None:
        similarity.write_batch_ivfpq_index(
            _spread(_t(spark, sf_dir, "embeddings")),
            _IVFPQ_COARSE,
            _PQ_BOOKS,
            planes,
            path,
        )

    params = f"bqidx|pl{planes}|cells{_IVFPQ_CELLS}|m{_PQ_M}|k{_PQ_K}"
    return index_store.cached_build(
        "bqidx", _source(sf_dir, "embeddings"), params, build
    )


def _sql_batch_planes() -> str:
    """adaptive_planes(n, 16, width=16) as an integer CASE chain over
    count(*) — same thresholds as the Spark-side loop."""
    branches = " ".join(
        f"when n <= {(_IVFPQ_CELLS * _BATCH_WIDTH) << p} then {p}"
        for p in range(_BATCH_MAX_PLANES)
    )
    return f"(case {branches} else {_BATCH_MAX_PLANES} end)"


def _batch_sql_fragments() -> dict:
    """The hoisted-literal weight CTE plus per-row / per-query encoding
    fragments shared by the ann_batch_topk and ann_index_maintenance
    oracles (round 8 factored them out — both re-derive the identical
    IVF-PQ encodings; only the corpus/query source CTEs differ)."""
    # --- hoisted literal CTE: coarse centroids, bq planes, PQ books
    wcols = []
    csc_corpus, csc_query = [], []
    coarse_c2 = similarity._book_c2(_IVFPQ_COARSE)
    for i, (c, c2) in enumerate(zip(_IVFPQ_COARSE, coarse_c2)):
        wcols.append("[" + ", ".join(f"{x!r}::double" for x in c) + f"] as g{i}")
        dot_e = (
            f"list_sum(list_transform(range(1, 65), i -> "
            f"cast(embedding[i] as double) * g{i}[i]))"
        )
        dot_q = (
            f"list_sum(list_transform(range(1, 65), i -> qv[i] * g{i}[i]))"
        )
        csc_corpus.append(f"(-2.0 * {dot_e} + {_dlit(c2)})")
        csc_query.append(f"(-2.0 * {dot_q} + {_dlit(c2)})")
    mg_terms = []
    for p, row in enumerate(_BATCH_PLANES_W):
        wcols.append(
            "[" + ", ".join(f"{float(x)!r}::double" for x in row) + f"] as sp{p}"
        )
        mg_terms.append(
            f"list_sum(list_transform(range(1, 65), i -> qv[i] * sp{p}[i]))"
        )
    sub_bits_e = []
    for p in range(_BATCH_MAX_PLANES):
        dot_e = (
            f"list_sum(list_transform(range(1, 65), i -> "
            f"cast(embedding[i] as double) * sp{p}[i]))"
        )
        sub_bits_e.append(
            f"(case when {p} < planes and {dot_e} >= 0 "
            f"then {1 << p}::bigint else 0::bigint end)"
        )
    sc_cols, qt_cols = [], []
    for s, book in enumerate(_PQ_BOOKS):
        off = s * _PQ_SUB
        c2s = similarity._book_c2(book)
        exprs, qexprs = [], []
        for j, (c, c2) in enumerate(zip(book, c2s)):
            wcols.append(
                "[" + ", ".join(repr(x) for x in c) + f"] as b{s}_{j}"
            )
            dot = (
                f"list_sum(list_transform(range(1, {_PQ_SUB + 1}), i -> "
                f"cast(embedding[i + {off}] as double) * b{s}_{j}[i]))"
            )
            exprs.append(f"(-2.0 * {dot} + {_dlit(c2)})")
            qdot = (
                f"list_sum(list_transform(range(1, {_PQ_SUB + 1}), i -> "
                f"qv[i + {off}] * b{s}_{j}[i]))"
            )
            qexprs.append(f"(-2.0 * {qdot} + {_dlit(c2)})")
        sc_cols.append("[" + ",\n               ".join(exprs) + f"] as sc{s}")
        qt_cols.append("[" + ",\n               ".join(qexprs) + f"] as t{s}")
    adc = " + ".join(f"t{s}[c{s} + 1]" for s in range(_PQ_M))
    qbase_bits = " + ".join(
        f"(case when {p} < planes and m[{p + 1}] >= 0 "
        f"then {1 << p}::bigint else 0::bigint end)"
        for p in range(_BATCH_MAX_PLANES)
    )
    return {
        "wcols": wcols,
        "csc_corpus": csc_corpus,
        "csc_query": csc_query,
        "mg_terms": mg_terms,
        "sub_bits_e": sub_bits_e,
        "sc_cols": sc_cols,
        "qt_cols": qt_cols,
        "adc": adc,
        "qbase_bits": qbase_bits,
    }


# the SQL probe-ball enumeration is `unnest(range(0, 2^14))` filtered
# by bit_count — its domain therefore ends at planes = 14, BELOW the
# Python schedule's last steps (<=17 -> 3, else 4)
_SQL_BALL_MAX_PLANES = 14


def _sql_ball_radius() -> str:
    """The radius CASE shared by both index oracles, GENERATED from the
    one shared threshold table (similarity.SUBPROBE_RADIUS_STEPS) so
    the Python schedule and the oracle cannot diverge (round-9 advice:
    the hand-kept copy already disagreed for planes 15-17). The SQL
    domain is TRUNCATED at _SQL_BALL_MAX_PLANES — the mask CTE
    enumerates range(0, 2^14) — and errors loudly above it; the Python
    schedule keeps going (<=17 -> 3, else 4), so growing the oracle
    domain means raising the unnest bound, NOT editing this CASE."""
    branches = []
    for threshold, radius in similarity.SUBPROBE_RADIUS_STEPS:
        branches.append(
            f"when planes <= {min(threshold, _SQL_BALL_MAX_PLANES)} "
            f"then {radius}"
        )
        if threshold >= _SQL_BALL_MAX_PLANES:
            break
    cases = "\n                    ".join(branches)
    return f"""case {cases}
                    else cast(error(
                        'oracle probe-ball domain truncates at planes'
                        ' <= {_SQL_BALL_MAX_PLANES} (the mask CTE'
                        ' enumerates range(0, {1 << _SQL_BALL_MAX_PLANES}));'
                        ' the Python schedule continues past it —'
                        ' raise the unnest bound to grow this domain,'
                        ' do not edit the generated CASE'
                    ) as int) end"""


_SQL_BALL_RADIUS = _sql_ball_radius()


def _sql_batch() -> str:
    """Oracle for the index-routed batch ANN: re-derives the WHOLE
    stack from the embeddings table — adaptive plane count from its own
    count(*), per-row (cell, sub_bucket, PQ codes), per-query coarse
    routing / Hamming-ball multiprobe sub-buckets / ADC tables, the
    (cell, sub) candidate join, per-query ADC top-k, and the
    fixed-subset same-scorer certification. All literal weight matrices
    are HOISTED into a one-row CTE (inline lists inside lambdas are
    rebuilt per element — measured 124x slower) and the shared per-row
    encodings are MATERIALIZED once."""
    fr = _batch_sql_fragments()
    wcols = fr["wcols"]
    csc_corpus, csc_query = fr["csc_corpus"], fr["csc_query"]
    mg_terms, sub_bits_e = fr["mg_terms"], fr["sub_bits_e"]
    sc_cols, qt_cols = fr["sc_cols"], fr["qt_cols"]
    adc, qbase_bits = fr["adc"], fr["qbase_bits"]
    return f"""
    with pl as (
        select planes,
               {_SQL_BALL_RADIUS} as radius,
               _domain_ok
        from (
        select {_sql_batch_planes()} as planes,
               case when n > {_BATCH_BRUTE_MAX} then 1 else cast(error(
                   'ann_batch_topk oracle domain is n > {_BATCH_BRUTE_MAX}: '
                   'at/below the counted guard the Spark side returns the '
                   'EXACT brute path (descending exact-cosine scores), not '
                   'the index-routed ADC derivation this oracle computes — '
                   'a silent hash mismatch otherwise (round-8 advice item)'
               ) as int) end as _domain_ok
        from (select count(*) as n from embeddings)
        )
    ),
    w as (select {', '.join(wcols)}),
    enc as materialized (
        select vec_id,
               list_position(csc, list_min(csc)) - 1 as cell,
               sub,
               {_pq_codes_sql()}
        from (select vec_id,
               [{','.join(csc_corpus)}] as csc,
               {','.join(sc_cols)},
               ({' + '.join(sub_bits_e)}) as sub
              from embeddings, pl, w) q0
    ),
    qm as materialized (
        select q_id,
               [{','.join(csc_query)}] as qsc,
               [{','.join(mg_terms)}] as m,
               planes,
               {','.join(qt_cols)}
        from (select vec_id as q_id,
                     list_transform(embedding, x -> cast(x as double)) as qv
              from embeddings where vec_id % 100 = 0), pl, w
    ),
    qb as (
        select q_id, ({qbase_bits}) as base
        from qm
    ),
    routes as (
        select q_id, i - 1 as cell from (
            select q_id, s, i,
                   row_number() over (partition by q_id
                                      order by s, i) as rn
            from (select q_id, unnest(qsc) as s,
                         generate_subscripts(qsc, 1) as i
                  from qm)
        ) where rn <= {_BATCH_NPROBE}
    ),
    qsubs as (
        -- COMPLETE Hamming ball of adaptive radius around each query's
        -- base sub-bucket (round-8 probe escalation): order-free set,
        -- so range() + bit_count() enumerates exactly the driver's
        -- hamming_ball_masks without mirroring an enumeration order
        select b.q_id, xor(b.base, m.mask) as sub
        from qb b, pl,
             (select unnest(range(0, 16384)) as mask) m
        where m.mask < (1::bigint << pl.planes)
          and bit_count(m.mask) <= pl.radius
    ),
    cand as (
        select r.q_id, e.vec_id, e.cell,
               {','.join(f'e.c{s} as c{s}' for s in range(_PQ_M))}
        from enc e
        join routes r on e.cell = r.cell
        join qsubs s on s.q_id = r.q_id and e.sub = s.sub
        where e.vec_id <> r.q_id
    ),
    scored as (
        select c.q_id, c.vec_id,
               round(cast(0.0 as double) + {adc}, 6) as score
        from cand c join qm using (q_id)
    ),
    ranked as (
        select q_id, vec_id, score,
               row_number() over (partition by q_id
                                  order by score asc, vec_id) as rank
        from scored
    ),
    refq as (
        select e.vec_id, q.q_id,
               round(cast(0.0 as double) + {adc}, 6) as score
        from enc e, (select * from qm where q_id < {_BATCH_CERT_MAX}) q
        where e.vec_id <> q.q_id
    ),
    refhits as (
        select q_id, vec_id, true as hit from (
            select q_id, vec_id,
                   row_number() over (partition by q_id
                                      order by score asc, vec_id) as rank
            from refq
        ) where rank <= {_BATCH_K}
    )
    select r.q_id, r.vec_id, cast(r.rank as int) as rank, r.score,
           cast(case when r.q_id < {_BATCH_CERT_MAX}
                     then coalesce(h.hit, false)::int
                     else -1 end as int) as cert_hit
    from ranked r left join refhits h using (q_id, vec_id), pl
    where r.rank <= {_BATCH_K} and pl._domain_ok = 1
    order by r.q_id, r.rank
    """


@_register(
    "ann_batch_topk",
    "BATCH similarity search through the STANDING index (round 7 — "
    "operators.similarity.write_batch_ivfpq_index/batch_ivfpq_index_"
    "topk): above a counted corpus-size guard the batch is served from "
    "the IVF-PQ layout — per-query coarse routing (score-ranked "
    "nprobe=4 cells), COMPLETE-Hamming-ball sub-bucket multiprobe whose "
    "radius GROWS with the adaptive plane count (round 8 — "
    "similarity.adaptive_subprobe_radius: breadth tracks bucket "
    "specificity, the standard multiprobe-LSH schedule, so certified "
    "recall holds its floor at any corpus size; plane count ADAPTIVE "
    "to the counted corpus so (cell,sub) width stays ~16), "
    "driver-routed bounded-batch ADC tables, one "
    "codes-only scan for the whole batch, WindowGroupLimit per-query "
    "top-5 — O(N) total vs the brute baseline's |corpus|x|batch| "
    "(measured 4.6-8.3x at 10x in round 6; ann_batch_brute_topk "
    "retains that baseline for bounded ad-hoc corpora). Recall is "
    "certified IN-RESULT on a fixed-size query subset against the "
    "same-scorer full-scan reference (cert_hit: 1/0 on the certified subset, -1 otherwise); every stage "
    "value-hash-exact vs the oracle's from-scratch derivation",
    _sql_batch(),
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.queries.inventory import _t_rowcount

    n = _t_rowcount(sf_dir, "embeddings")
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    if n <= _BATCH_BRUTE_MAX:
        # the brute path broadcasts the batch straight into its one
        # corpus scan — no driver collect at all
        queries = queries.localCheckpoint(eager=False)
        # bounded ad-hoc corpus: the exact brute scan is optimal and
        # exact — same schema, score = exact cosine (rank descending),
        # certification trivially true (it IS the reference)
        top = similarity.batch_cosine_topk(emb, queries, k=_BATCH_K)
        return top.select(
            "q_id",
            "vec_id",
            "rank",
            F.round(F.col("cosine"), 6).alias("score"),
            F.when(F.col("q_id") < _BATCH_CERT_MAX, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("int")
            .alias("cert_hit"),
        ).orderBy("q_id", "rank")
    planes = similarity.adaptive_planes(
        n, _IVFPQ_CELLS, _BATCH_WIDTH, _BATCH_MAX_PLANES
    )
    idx_path = _batch_index_for(spark, sf_dir, planes)
    return _probe_batch_index(spark, idx_path, planes, queries)


def _probe_batch_index(
    spark: SparkSession, idx_path: str, planes: int, queries: DataFrame
) -> DataFrame:
    """Serve a query batch from a standing IVF-PQ index and attach the
    fixed-subset same-scorer certification — shared by ann_batch_topk
    (batch-built index) and ann_stream_index_topk (stream-built index):
    both must return the identical rows for the same index content, so
    the probe path is one function by construction."""
    # ONE collect serves both the probe routing and the cert subset
    # (round 9: the routing collect and the cert collect each scanned
    # the corpus — two jobs for one bounded batch)
    qrows = queries.collect()
    top = similarity.batch_ivfpq_index_topk(
        spark,
        idx_path,
        _IVFPQ_COARSE,
        _PQ_BOOKS,
        planes,
        queries,
        k=_BATCH_K,
        nprobe=_BATCH_NPROBE,
        probe_radius=similarity.adaptive_subprobe_radius(planes),
        queries_rows=qrows,
    ).withColumnRenamed("adc_score", "score")
    # same-scorer certification reference: full-scan ADC top-5 for the
    # FIXED-size cert subset, over the same stored codes (O(N), never
    # O(N x batch)) — isolates the routing loss from the PQ
    # quantization loss (the latter is certified corpus-wide by
    # ann_pq_adc_topk's in_exact_top10). The <=8 cert queries get
    # driver-built ADC tables (pq_adc_table — the oracle-matched fold).
    cert_rows = [
        (r["q_id"], similarity.pq_adc_table(
            [float(x) for x in r["q_vec"]], _PQ_BOOKS))
        for r in qrows
        if r["q_id"] < _BATCH_CERT_MAX
    ]
    # the <=8 cert queries' ADC tables ride as ONE literal 3-deep array
    # indexed by a posexploded query ordinal — one codes-only scan and
    # one 16-term codegen method for ALL cert queries (round 9: the
    # previous one-leg-per-query union re-planned and re-scanned the
    # index 8 times; at sf0.1 the legs were over half the query's wall).
    # The per-term shape stays element_at chains of constant depth —
    # NOT the round-7 giant-unrolled-chain (8x16 terms in one method,
    # measured bimodal 3 s / 12 s), and NOT the M x K-per-row broadcast
    # join widening (measured ~2 s of row-copy at 10x): the explode
    # emits (ordinal, q_id) ints only and each of the 16 terms indexes
    # the shared literal by ordinal.
    from pyspark.sql.window import Window

    # codes-only, coalesced: 8 query ordinals x 30 file-partitions
    # would schedule ~240 tiny tasks; 8 partitions keep it one stage
    idxdf = (
        index_store.read_with_retry(spark, idx_path)
        .select("vec_id", "pq_codes")
        .coalesce(8)
    )
    cert_qids = [int(q) for q, _ in cert_rows]
    # packed flat literal (round 10): F.lit(<nested list>) built one
    # Literal node + py4j call per element (~1k for the cert legs);
    # the packed string literal folds to the same ArrayData with O(1)
    # plan-construction cost (similarity.packed_double_array_lit)
    tlit = similarity.packed_double_array_lit([t for _, t in cert_rows])
    ref = idxdf.select(
        "vec_id",
        "pq_codes",
        F.posexplode(F.lit(cert_qids)).alias("_qi", "q_id"),
    ).filter(F.col("vec_id") != F.col("q_id"))
    cert_base = F.col("_qi") * (_PQ_M * _PQ_K)
    adc = F.lit(0.0)
    for s in range(_PQ_M):
        adc = adc + F.element_at(
            tlit,
            cert_base + s * _PQ_K
            + F.element_at(F.col("pq_codes"), s + 1) + 1,
        )
    refwin = Window.partitionBy("q_id").orderBy(
        F.col("_ref_score").asc(), F.col("vec_id")
    )
    refhits = (
        ref.select(
            F.col("q_id").cast("long").alias("q_id"),
            "vec_id",
            F.round(adc, 6).alias("_ref_score"),
        )
        .withColumn("_rn", F.row_number().over(refwin))
        .filter(F.col("_rn") <= _BATCH_K)
        .select("q_id", "vec_id", F.lit(True).alias("_hit"))
    )
    # refhits is k x |cert| rows BY CONSTRUCTION (<= 40): broadcast it
    # so the final certification attach never sort-merge-shuffles the
    # ranked results
    return (
        top.join(F.broadcast(refhits), ["q_id", "vec_id"], "left")
        .select(
            "q_id",
            "vec_id",
            "rank",
            "score",
            F.when(
                F.col("q_id") < _BATCH_CERT_MAX,
                F.coalesce(F.col("_hit"), F.lit(False)).cast("int"),
            )
            .otherwise(F.lit(-1))
            .cast("int")
            .alias("cert_hit"),
        )
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# STREAM-ingested batch IVF-PQ index (round-11 verdict item 6): the
# index probed here was built by the real Structured Streaming
# ingestion path — a parquet file-source stream over 3 micro-batches
# driving streaming/vectors.ann_index_ingest_batch_fn under
# Trigger.AvailableNow, including an IN-STREAM cadence compaction —
# then gated against the SAME from-scratch DuckDB derivation as the
# batch-built index (mirrors minhash_stream_index_lookup).
# ---------------------------------------------------------------------------
def _stream_ingested_batch_index_for(
    spark: SparkSession, sf_dir: str, planes: int
) -> str:
    """Build (once per testdata dir) a standing batch IVF-PQ index by
    STREAMING the embeddings in: the corpus is split into 3 parquet
    files (vec_id % 3), a parquet file-source stream
    (maxFilesPerTrigger=1) feeds ann_index_ingest_batch_fn via
    foreachBatch with compact_every=2, so the resulting index has
    lived a write, appends, and an in-stream compaction before any
    probe sees it. Parquet micro-batch files keep the float32
    embeddings bit-exact across the stream boundary. Cached on the
    source stamp like _batch_index_for; encodings are deterministic
    given the frozen (coarse, books, planes), so a rebuild reproduces
    the identical index."""

    def build(path: str) -> None:
        from dbt_datbricks_demo_spark.streaming.vectors import (
            write_vector_index_ingest,
        )

        root = os.path.dirname(path)
        emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        input_dir = _stream_inputs(emb, "vec_id", root, "parquet")
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
        )
        q = (
            write_vector_index_ingest(
                stream,
                path,
                os.path.join(root, "ckpt"),
                _IVFPQ_COARSE,
                _PQ_BOOKS,
                planes,
                compact_every=2,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    params = f"bqstream|pl{planes}|cells{_IVFPQ_CELLS}|m{_PQ_M}|k{_PQ_K}"
    return index_store.cached_build(
        "bqstr", _source(sf_dir, "embeddings"), params, build
    )


@_register(
    "ann_stream_index_topk",
    "BATCH similarity search through a STREAM-built standing index "
    "(round-11 verdict item 6, the ANN twin of "
    "minhash_stream_index_lookup): the embeddings arrive as a parquet "
    "file stream (3 micro-batches, maxFilesPerTrigger=1, "
    "Trigger.AvailableNow) and streaming/vectors."
    "ann_index_ingest_batch_fn maintains the standing IVF-PQ index "
    "per batch — write, appends, and an IN-STREAM cadence compaction "
    "(compact_every=2) — before the query batch (vec_id % 100 == 0) "
    "is served through the identical probe path as ann_batch_topk "
    "(_probe_batch_index: score-ranked nprobe routing, "
    "complete-Hamming-ball sub-bucket multiprobe, bounded-batch ADC, "
    "fixed-subset same-scorer certification). The oracle re-derives "
    "the whole stack from the embeddings table from scratch, so the "
    "stream-built index must serve probes hash-identically to both "
    "the batch-built index and the oracle",
    _sql_batch(),
)
def ann_stream_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.queries.inventory import _t_rowcount

    n = _t_rowcount(sf_dir, "embeddings")
    if n <= _BATCH_BRUTE_MAX:
        # below the counted guard ann_batch_topk serves the exact brute
        # path with no index at all — identical here by delegation
        return ann_batch_topk(spark, sf_dir)
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    planes = similarity.adaptive_planes(
        n, _IVFPQ_CELLS, _BATCH_WIDTH, _BATCH_MAX_PLANES
    )
    idx_path = _stream_ingested_batch_index_for(spark, sf_dir, planes)
    return _probe_batch_index(spark, idx_path, planes, queries)


# ---------------------------------------------------------------------------
# Batch-index LIFECYCLE (round-8 verdict item 6): build generation A →
# append generation B → tombstone-delete a slice → compact → serve a
# query batch from the maintained index. The oracle re-derives the
# routed result from scratch on the post-delete corpus (planes from the
# PRE-delete ingest count, exactly what the index was built with), so a
# tombstone leak, a lost row, or a compaction duplicate all
# hash-mismatch. The minhash index's lifecycle discipline applied to
# the ANN layer (minhash_index_maintenance is the template).
# ---------------------------------------------------------------------------
def _maintained_batch_index_for(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Build (once per testdata dir, cached on the source stamp by
    index_store.cached_build) a batch IVF-PQ index that has lived a
    full maintenance cycle: generation A (vec_id % 10 <= 4) written
    fresh, generation B (vec_id % 10 in 5,6,8,9) appended, the
    vec_id % 17 == 3 slice tombstoned, then compacted. Returns
    (index_path, planes) — planes are adaptive to the PRE-delete ingest
    count, what a standing index would have been built with; they are
    counted once at build and kept beside the index (planes.json), so a
    warm call fires no job."""

    def build(path: str) -> None:
        pre = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 != 7)
        planes = similarity.adaptive_planes(
            pre.count(), _IVFPQ_CELLS, _BATCH_WIDTH, _BATCH_MAX_PLANES
        )
        gen_a = pre.filter(F.col("vec_id") % 10 <= 4)
        gen_b = pre.filter(F.col("vec_id") % 10 > 4)
        similarity.write_batch_ivfpq_index(
            gen_a, _IVFPQ_COARSE, _PQ_BOOKS, planes, path
        )
        similarity.append_batch_ivfpq_index(
            gen_b, _IVFPQ_COARSE, _PQ_BOOKS, planes, path
        )
        similarity.delete_from_batch_ivfpq_index(
            spark, path, pre.filter(F.col("vec_id") % 17 == 3)
        )
        rows_before = spark.read.parquet(path).count()
        stats = similarity.compact_batch_ivfpq_index(spark, path)
        rows_after = spark.read.parquet(path).count()
        assert rows_after < rows_before, (rows_before, rows_after)
        assert stats["files_after"] <= stats["files_before"], stats
        with open(os.path.join(os.path.dirname(path), "planes.json"), "w") as fh:
            json.dump(planes, fh)

    params = f"bqmaint|cells{_IVFPQ_CELLS}|m{_PQ_M}|k{_PQ_K}"
    path = index_store.cached_build(
        "bqmnt", _source(sf_dir, "embeddings"), params, build
    )
    with open(os.path.join(os.path.dirname(path), "planes.json")) as fh:
        return path, json.load(fh)


def _sql_index_maint() -> str:
    """Oracle for ann_index_maintenance: the from-scratch index-routed
    batch ANN over the POST-delete corpus, with the plane count derived
    from the PRE-delete ingest count — the state a correctly maintained
    index must be in. Shares every encoding fragment with the
    ann_batch_topk oracle (_batch_sql_fragments)."""
    fr = _batch_sql_fragments()
    wcols = fr["wcols"]
    csc_corpus, csc_query = fr["csc_corpus"], fr["csc_query"]
    mg_terms, sub_bits_e = fr["mg_terms"], fr["sub_bits_e"]
    sc_cols, qt_cols = fr["sc_cols"], fr["qt_cols"]
    adc, qbase_bits = fr["adc"], fr["qbase_bits"]
    return f"""
    with pl as (
        select planes, {_SQL_BALL_RADIUS} as radius
        from (select {_sql_batch_planes()} as planes
              from (select count(*) as n from embeddings
                    where vec_id % 10 <> 7))
    ),
    w as (select {', '.join(wcols)}),
    corpus as (
        select vec_id, embedding from embeddings
        where vec_id % 10 <> 7 and vec_id % 17 <> 3
    ),
    enc as materialized (
        select vec_id,
               list_position(csc, list_min(csc)) - 1 as cell,
               sub,
               {_pq_codes_sql()}
        from (select vec_id,
               [{','.join(csc_corpus)}] as csc,
               {','.join(sc_cols)},
               ({' + '.join(sub_bits_e)}) as sub
              from corpus, pl, w) q0
    ),
    qm as materialized (
        select q_id,
               [{','.join(csc_query)}] as qsc,
               [{','.join(mg_terms)}] as m,
               planes,
               {','.join(qt_cols)}
        from (select vec_id as q_id,
                     list_transform(embedding, x -> cast(x as double)) as qv
              from corpus where vec_id % 100 = 0), pl, w
    ),
    qb as (
        select q_id, ({qbase_bits}) as base
        from qm
    ),
    routes as (
        select q_id, i - 1 as cell from (
            select q_id, s, i,
                   row_number() over (partition by q_id
                                      order by s, i) as rn
            from (select q_id, unnest(qsc) as s,
                         generate_subscripts(qsc, 1) as i
                  from qm)
        ) where rn <= {_BATCH_NPROBE}
    ),
    qsubs as (
        select b.q_id, xor(b.base, m.mask) as sub
        from qb b, pl,
             (select unnest(range(0, 16384)) as mask) m
        where m.mask < (1::bigint << pl.planes)
          and bit_count(m.mask) <= pl.radius
    ),
    cand as (
        select r.q_id, e.vec_id, e.cell,
               {','.join(f'e.c{s} as c{s}' for s in range(_PQ_M))}
        from enc e
        join routes r on e.cell = r.cell
        join qsubs s on s.q_id = r.q_id and e.sub = s.sub
        where e.vec_id <> r.q_id
    ),
    scored as (
        select c.q_id, c.vec_id,
               round(cast(0.0 as double) + {adc}, 6) as score
        from cand c join qm using (q_id)
    ),
    ranked as (
        select q_id, vec_id, score,
               row_number() over (partition by q_id
                                  order by score asc, vec_id) as rank
        from scored
    )
    select q_id, vec_id, cast(rank as int) as rank, score
    from ranked
    where rank <= {_BATCH_K}
    order by q_id, rank
    """


@_register(
    "ann_index_maintenance",
    "standing batch-index LIFECYCLE probe (round 8 — operators."
    "similarity.append_batch_ivfpq_index / delete_from_batch_ivfpq_"
    "index / compact_batch_ivfpq_index): ingest generation A written "
    "fresh, generation B appended into the same cell directories, the "
    "vec_id % 17 == 3 slice tombstoned (logical delete, O(deleted) "
    "bytes), then compacted (tombstoned rows dropped, replayed-append "
    "dups retired, one sub_bucket-sorted file per cell, two-rename "
    "atomic swap + recovery — the minhash index's discipline at the "
    "ANN layer). The query batch is served THROUGH the maintained "
    "index; the oracle re-derives the routed result from scratch on "
    "the post-delete corpus, so a tombstone leak, lost row, or "
    "compaction dup all hash-mismatch",
    _sql_index_maint(),
)
def ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx_path, planes = _maintained_batch_index_for(spark, sf_dir)
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    queries = (
        emb.filter(
            (F.col("vec_id") % 100 == 0) & (F.col("vec_id") % 17 != 3)
        )
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        .localCheckpoint(eager=False)
    )
    top = similarity.batch_ivfpq_index_topk(
        spark,
        idx_path,
        _IVFPQ_COARSE,
        _PQ_BOOKS,
        planes,
        queries,
        k=_BATCH_K,
        nprobe=_BATCH_NPROBE,
        probe_radius=similarity.adaptive_subprobe_radius(planes),
    )
    return top.select(
        "q_id", "vec_id", "rank", F.col("adc_score").alias("score")
    ).orderBy("q_id", "rank")


def staged_ann_lifecycle_sql(
    plant_base: int, planted_ids: list[int], probe_mod: int
) -> list[tuple[str, str]]:
    """The ANN-index lifecycle probe oracle as BOUNDED DuckDB passes
    (round-11 verdict item 3 — scripts/ann_lifecycle.py, the IVF-PQ
    twin of the prod2m MinHash lifecycle): the from-scratch
    index-routed batch ANN over the POST-delete corpus, planes from
    the PRE-delete ingest count, queries = the never-indexed probe
    batch (vec_id % probe_mod == 7) plus the planted twins (corpus
    vectors re-sent verbatim under vec_id + plant_base — identical
    vector ⇒ identical (cell, sub) and the minimal possible ADC score,
    so each twin's rank-1 must be its source). Shares every encoding
    fragment with the ann_batch_topk / ann_index_maintenance oracles
    (_batch_sql_fragments); the heavy per-row encoding pass is sharded
    vec_id % 8 so peak temp is one shard's working set.

    Stage graph:
      al_pl       planes + ball radius from pre-delete count
      al_enc_k    encoded post-delete shard, k = 0..7   (embeddings+pl)
      al_qm       query encodings (probe batch + twins) (embeddings+pl)
      result      routes -> Hamming-ball subs -> candidate join ->
                  ADC top-5                             (al_enc_*+qm)
    """
    fr = _batch_sql_fragments()
    wcols = fr["wcols"]
    csc_corpus, csc_query = fr["csc_corpus"], fr["csc_query"]
    mg_terms, sub_bits_e = fr["mg_terms"], fr["sub_bits_e"]
    sc_cols, qt_cols = fr["sc_cols"], fr["qt_cols"]
    adc, qbase_bits = fr["adc"], fr["qbase_bits"]
    ids = ", ".join(str(i) for i in sorted(planted_ids))

    stages: list[tuple[str, str]] = []
    stages.append((
        "al_pl",
        f"""
        select planes, {_SQL_BALL_RADIUS} as radius
        from (select {_sql_batch_planes()} as planes
              from (select count(*) as n from embeddings
                    where vec_id % 10 <> 7))
        """,
    ))
    for k in range(8):
        stages.append((
            f"al_enc_{k}",
            f"""
            with w as (select {', '.join(wcols)}),
            corpus as (
                select vec_id, embedding from embeddings
                where vec_id % 10 <> 7 and vec_id % 17 <> 3
                  and vec_id % 8 = {k}
            )
            select vec_id,
                   list_position(csc, list_min(csc)) - 1 as cell,
                   sub,
                   {_pq_codes_sql()}
            from (select vec_id,
                   [{','.join(csc_corpus)}] as csc,
                   {','.join(sc_cols)},
                   ({' + '.join(sub_bits_e)}) as sub
                  from corpus, al_pl pl, w) q0
            """,
        ))
    stages.append((
        "al_qm",
        f"""
        with w as (select {', '.join(wcols)}),
        queries as (
            select vec_id as q_id, embedding from embeddings
            where vec_id % {probe_mod} = 7
            union all
            select vec_id + {plant_base} as q_id, embedding
            from embeddings where vec_id in ({ids})
        )
        select q_id,
               [{','.join(csc_query)}] as qsc,
               [{','.join(mg_terms)}] as m,
               planes,
               {','.join(qt_cols)}
        from (select q_id,
                     list_transform(embedding, x -> cast(x as double)) as qv
              from queries), al_pl pl, w
        """,
    ))
    enc_union = " union all ".join(
        f"select * from al_enc_{k}" for k in range(8)
    )
    stages.append((
        "result",
        f"""
        with enc as ({enc_union}),
        qb as (
            select q_id, ({qbase_bits}) as base from al_qm
        ),
        routes as (
            select q_id, i - 1 as cell from (
                select q_id, s, i,
                       row_number() over (partition by q_id
                                          order by s, i) as rn
                from (select q_id, unnest(qsc) as s,
                             generate_subscripts(qsc, 1) as i
                      from al_qm)
            ) where rn <= {_BATCH_NPROBE}
        ),
        qsubs as (
            select b.q_id, xor(b.base, m.mask) as sub
            from qb b, al_pl pl,
                 (select unnest(range(0, 16384)) as mask) m
            where m.mask < (1::bigint << pl.planes)
              and bit_count(m.mask) <= pl.radius
        ),
        cand as (
            select r.q_id, e.vec_id,
                   {','.join(f'e.c{s} as c{s}' for s in range(_PQ_M))}
            from enc e
            join routes r on e.cell = r.cell
            join qsubs s on s.q_id = r.q_id and e.sub = s.sub
            where e.vec_id <> r.q_id
        ),
        scored as (
            select c.q_id, c.vec_id,
                   round(cast(0.0 as double) + {adc}, 6) as score
            from cand c join al_qm using (q_id)
        ),
        ranked as (
            select q_id, vec_id, score,
                   row_number() over (partition by q_id
                                      order by score asc, vec_id) as rank
            from scored
        )
        select q_id, vec_id, cast(rank as int) as rank, score
        from ranked
        where rank <= {_BATCH_K}
        order by q_id, rank
        """,
    ))
    return stages


# ---------------------------------------------------------------------------
# BPE merge training (tokenizer construction in-engine)
# ---------------------------------------------------------------------------
_BPE_ROUNDS = 3


def _bpe_round_ctes(t: int) -> str:
    prev = f"syms{t - 1}"
    return f"""
    p{t} as (
        select *, lead(sym) over (partition by word order by pos) as nxt
        from {prev}
    ),
    best{t} as (
        select sym as s1, nxt as s2, cast(sum(freq) as bigint) as pair_freq
        from p{t} where nxt is not null
        group by 1, 2 order by pair_freq desc, s1, s2 limit 1
    ),
    m{t} as (
        select p.*, b.s1, b.s2, b.pair_freq,
               (p.sym = b.s1 and p.nxt = b.s2) as match
        from p{t} p, best{t} b
    ),
    m{t}b as (
        select *,
               sum(case when match then 1 else 0 end)
                   over (partition by word order by pos) as mrank
        from m{t}
    ),
    m{t}c as (
        select *, case when match then pos - mrank end as island from m{t}b
    ),
    m{t}d as (
        select *,
               case when match then row_number()
                    over (partition by word, island order by pos) - 1 end
                   as ioff
        from m{t}c
    ),
    m{t}e as (
        select *, (match and ioff % 2 = 0) as mstart,
               coalesce(lag(match and ioff % 2 = 0)
                   over (partition by word order by pos), false) as consumed
        from m{t}d
    ),
    syms{t} as (
        select word, freq,
               row_number() over (partition by word order by pos) as pos,
               case when mstart then s1 || s2 else sym end as sym
        from m{t}e where not consumed
    ),
    rep{t} as (
        select {t} as step, s1, s2, s1 || s2 as merged, pair_freq,
               (select cast(sum(freq) as bigint) from syms{t})
                   as corpus_symbols_after
        from best{t}
    )"""

_SQL_BPE_VOCAB = f"""
    with vocab as (
        select word, cast(count(*) as bigint) as freq
        from (select unnest({_SQL_TOKENS}) as word from documents)
        group by word
    ),
    syms0 as (
        select word, freq, i as pos,
               case when i <= len(word) then word[i:i] else '_' end as sym
        from vocab, unnest(range(1, len(word) + 2)) as t(i)
    ),"""


def _sql_bpe() -> str:
    rounds_sql = ",".join(
        _bpe_round_ctes(t) for t in range(1, _BPE_ROUNDS + 1)
    )
    union = "\n    union all\n    ".join(
        f"select * from rep{t}" for t in range(1, _BPE_ROUNDS + 1)
    )
    return f"""{_SQL_BPE_VOCAB}
    {rounds_sql}
    {union}
    order by step
    """


@_register(
    "bpe_merge_training",
    f"BPE tokenizer training (Sennrich et al. 2016), {_BPE_ROUNDS} merge "
    "rounds in-engine: ONE corpus pass builds the weighted vocabulary, "
    "then each round counts adjacent symbol pairs, picks the most "
    "frequent (deterministic tie-break) and merges its occurrences "
    "left-to-right non-overlapping via gaps-and-islands parity window "
    "arithmetic — the genuinely sequential merge loop, like "
    "doremi_mixture_report's mirror descent, runs on the "
    "VOCABULARY-sized symbol table (checkpointed between rounds), never "
    "the corpus (operators.text.bpe_train_merges); the oracle unrolls "
    "the identical rounds as CTEs and hash-matches every merge choice, "
    "pair count and compression-curve point",
    _sql_bpe(),
)
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    return text.bpe_train_merges(docs, rounds=_BPE_ROUNDS)


def _sql_bpe_encode() -> str:
    rounds_sql = ",".join(
        _bpe_round_ctes(t) for t in range(1, _BPE_ROUNDS + 1)
    )
    return f"""{_SQL_BPE_VOCAB}
    {rounds_sql},
    final as (
        select word, cast(count(*) as bigint) as n_syms
        from syms{_BPE_ROUNDS} group by word
    ),
    psw as (
        select source, word, count(*) as c
        from (select source, unnest({_SQL_TOKENS}) as word from documents)
        group by 1, 2
    )
    select source,
           cast(sum(c) as bigint) as n_tokens,
           cast(sum(c * (len(word) + 1)) as bigint) as symbols_before,
           cast(sum(c * n_syms) as bigint) as symbols_after,
           round(cast(sum(c * n_syms) as double)
                 / cast(sum(c * (len(word) + 1)) as double), 6)
               as compression_ratio
    from psw join final using (word)
    group by source
    order by source
    """


@_register(
    "bpe_encode_report",
    "BPE application (the operational complement of bpe_merge_training, "
    f"the same train/apply pairing as the standing indexes): the "
    f"{_BPE_ROUNDS} learned merges re-segment every word and each "
    "source reports its realized compression — per-source token counts, "
    "character+marker symbols before, BPE symbols after "
    "(operators.text.bpe_apply: deterministic training makes "
    "train-then-apply ≡ train+apply; application joins the corpus "
    "(source, word) counts to the VOCABULARY-sized segmentation table, "
    "so the corpus contributes two aggregation passes and no reruns)",
    _sql_bpe_encode(),
)
def bpe_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    # ONE corpus tokenization: the (source, word) counts feed both the
    # realized-compression rollup and (re-aggregated by word) the
    # training vocabulary — bpe_apply then adds zero corpus passes
    psw = (
        docs.select("source", F.explode(text.tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    vocab = psw.groupBy("word").agg(
        F.sum("c").cast("bigint").alias("freq")
    )
    seg = text.bpe_apply(docs, rounds=_BPE_ROUNDS, vocab=vocab)
    joined = psw.join(seg.select("word", "n_syms"), "word")
    return (
        joined.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * (F.length("word") + 1))
            .cast("bigint")
            .alias("symbols_before"),
            F.sum(F.col("c") * F.col("n_syms"))
            .cast("bigint")
            .alias("symbols_after"),
            F.round(
                F.sum(F.col("c") * F.col("n_syms")).cast("double")
                / F.sum(F.col("c") * (F.length("word") + 1)).cast("double"),
                6,
            ).alias("compression_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Embedding-truncation recall (matryoshka-style dimension ablation)
# ---------------------------------------------------------------------------
_TRUNC_DIMS = (8, 16, 32)


def _sql_trunc() -> str:
    def dot(vec: str, d: int) -> str:
        return (
            f"list_sum(list_transform(range(1, {d + 1}), "
            f"i -> cast({vec}[i] as double) * qv[i]))"
        )

    def l2(vec: str, d: int) -> str:
        return (
            f"sqrt(list_sum(list_transform(range(1, {d + 1}), "
            f"i -> cast({vec}[i] as double) * cast({vec}[i] as double))))"
        )

    branches = []
    for d in list(_TRUNC_DIMS) + [64]:
        branches.append(f"""
    top{d} as (
        select vec_id from (
            select vec_id,
                   {dot('embedding', d)} / ({l2('embedding', d)} * qn{d})
                       as cosine
            from embeddings, q
        ) order by cosine desc, vec_id limit 10
    )""")
    hits = "\n    union all\n    ".join(
        f"select {d} as dim, cast(count(*) as bigint) as n_hits "
        f"from top{d} join top64 using (vec_id)"
        for d in _TRUNC_DIMS
    )
    qns = ", ".join(
        f"sqrt(list_sum(list_transform(range(1, {d + 1}), "
        f"i -> qv0[i] * qv0[i]))) as qn{d}"
        for d in list(_TRUNC_DIMS) + [64]
    )
    return f"""
    with q0 as (
        select list_transform(embedding, x -> cast(x as double)) as qv0
        from embeddings where vec_id = 0
    ),
    q as (select qv0 as qv, {qns} from q0),
    {','.join(branches)}
    select dim, n_hits, round(cast(n_hits as double) / 10.0, 6) as recall
    from ({hits})
    order by dim
    """


@_register(
    "truncated_embedding_recall",
    "matryoshka-style truncation ablation: exact cosine top-10 under "
    "the first 8/16/32 dims vs the full 64-dim top-10, with recall@10 "
    "per truncation — the measurement behind serving embeddings at "
    "reduced dimension (one bounded scan per dim over the same staged "
    "relation; every cosine is the shared sequential fold, so the "
    "report is value-hash exact)",
    _sql_trunc(),
)
def truncated_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    emb = _spread(_t(spark, sf_dir, "embeddings")).localCheckpoint(eager=True)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qfull = [float(x) for x in qrow["embedding"]]

    def topk(d: int) -> DataFrame:
        vec = F.slice(F.col("embedding"), 1, d)
        return (
            emb.select(
                "vec_id",
                similarity.cosine_to_query(vec, qfull[:d]).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(10)
        )

    full = topk(64).select("vec_id").localCheckpoint(eager=True)
    reports = []
    for d in _TRUNC_DIMS:
        hits = topk(d).select("vec_id").join(full, "vec_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits")
        )
        reports.append(
            hits.select(
                F.lit(d).alias("dim"),
                "n_hits",
                F.round(F.col("n_hits").cast("double") / F.lit(10.0), 6).alias(
                    "recall"
                ),
            )
        )
    return reduce(DataFrame.unionAll, reports).orderBy("dim")

# ---------------------------------------------------------------------------
# Adaptive LSH banding (round 7): the executed form of the SCALE.md
# 30x root-cause note — band specificity scaled to the counted corpus
# ---------------------------------------------------------------------------
_AB_HASHES = 16
_AB_JACCARD = 0.8


def _sql_adaptive_band() -> str:
    """Oracle re-deriving the adaptive geometry from its own count(*):
    r = adaptive_rows_per_band's CASE chain; band keys for ALL three
    geometries are written statically and the chosen one selected by
    joining the geometry scalar (same masking discipline as the
    semdedup plane count)."""
    sig_cols = ", ".join(_sql_minhash_cols(_AB_HASHES))
    blocks = []
    for r in (4, 8, 16):
        nb = _AB_HASHES // r
        for b in range(nb):
            hs = ", ".join(f"h{b * r + i}" for i in range(r))
            blocks.append(
                f"select doc_id, md5(concat_ws('-', '{b}', {hs})) as band_key,"
                f" {r} as r from sigs"
            )
    bands_union = "\n        union all\n        ".join(blocks)
    return f"""
    with geo as (
        select (case when n <= 1000 then 4
                     when n <= 20000 then 8
                     else 16 end) as r,
               cast(n as bigint) as n_docs
        from (select count(*) as n from documents)
    ),
    hashed as materialized (
        select doc_id, {_SQL_SHINGLE_HASHES} as hs from documents
    ),
    sigs as materialized (select doc_id, {sig_cols} from hashed),
    bands as (
        select b.doc_id, b.band_key from (
        {bands_union}
        ) b join geo g on b.r = g.r
    ),
    pairs as materialized (
        select distinct a.doc_id as id_a, b.doc_id as id_b
        from bands a join bands b
          on a.band_key = b.band_key and a.doc_id < b.doc_id
    ),
    sh as (select doc_id, unnest(hs) as sh from hashed),
    sizes as (select doc_id, count(*) as set_size from sh group by doc_id),
    inter as (
        select p.id_a, p.id_b, count(*) as n_common
        from pairs p
        join sh a on a.doc_id = p.id_a
        join sh b on b.doc_id = p.id_b and b.sh = a.sh
        group by p.id_a, p.id_b
    ),
    verified as (
        select i.id_a
        from inter i
        join sizes sa on sa.doc_id = i.id_a
        join sizes sb on sb.doc_id = i.id_b
        where i.n_common * 1.0
              / (sa.set_size + sb.set_size - i.n_common) >= {_AB_JACCARD}
    )
    select g.n_docs,
           cast({_AB_HASHES} as int) as n_hashes,
           cast(g.r as int) as rows_per_band,
           cast({_AB_HASHES} / g.r as int) as n_bands,
           (select cast(count(*) as bigint) from pairs) as n_candidates,
           (select cast(count(*) as bigint) from verified) as n_verified
    from geo g
    """


@_register(
    "adaptive_band_dedup_report",
    "MinHash near-dup with ADAPTIVE band specificity (round 7 — "
    "operators.dedup.adaptive_rows_per_band): the 30x weak-scaling "
    "point showed the fixed-geometry minhash family drifting 1.2-1.5x "
    "above linear from banded FALSE-candidate growth; here "
    "rows-per-band grows with the counted corpus (4 -> 8 -> 16 of 16 "
    "hashes; expected false pairs ~ bands*N^2*q^r, so r ~ log N holds "
    "them flat — Broder's tuning), candidates verify with exact "
    "shingle Jaccard, and the one-row report carries the derived "
    "geometry + candidate/verified counts so the oracle re-derives "
    "the SAME geometry from its own count(*)",
    _sql_adaptive_band(),
)
def adaptive_band_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.queries.inventory import _t_rowcount

    n = _t_rowcount(sf_dir, "documents")
    r = dedup.adaptive_rows_per_band(n, num_hashes=_AB_HASHES)
    bands = _AB_HASHES // r
    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_candidate_pairs(
        docs, "doc_id", num_hashes=_AB_HASHES, bands=bands
    )
    ver, n_pairs = dedup.jaccard_pairs(docs, pairs, "doc_id")
    n_ver = ver.filter(F.col("jaccard") >= _AB_JACCARD).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_verified")
    )
    # the candidate count is the jaccard_pairs watermark — no second
    # aggregate over the pairs
    head = literal_df(
        spark,
        [(n, _AB_HASHES, r, bands, n_pairs)],
        "n_docs bigint, n_hashes int, rows_per_band int, n_bands int, "
        "n_candidates bigint",
    )
    return head.crossJoin(F.broadcast(n_ver))
