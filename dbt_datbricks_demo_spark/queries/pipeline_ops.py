"""Training-data-pipeline and relational-surface queries (round 2):
within-document repetition filters, benchmark decontamination, PII
redaction, sequence packing, domain-mixture + stratified sampling, BM25
search, fixed-quantizer IVF, the full corpus→training-set composition,
and the GROUPING SETS / rank-family-window / calendar / string / array /
generator completeness queries — each with a DuckDB oracle computing
literally the same integers/doubles.

Shared conventions with llm_ops.py: tokens are
string_split_regex(trim(lower(text)), '\\s+') in both engines; id
hashing is the first 8 md5 hex digits as an unsigned 32-bit int.
Dialect gotcha pinned here once: DuckDB parses bare non-integer literals
as exact DECIMALs, so any INEXACT literal entering double math must be
cast ::double (2.2, 1.2) or results drift 1 ulp from Spark's doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.functions import surrogate_key_sql
from dbt_datbricks_demo_spark.plans import snapshots
from dbt_datbricks_demo_spark.operators import (
    decontam,
    packing,
    pii,
    sampling,
    search,
    similarity,
    text,
)
from dbt_datbricks_demo_spark.queries.inventory import _register, _spread, _t
from dbt_datbricks_demo_spark.queries.llm_ops import _SQL_TOKENS, _sql_dot

# md5-bucket expression shared by split/pack/mix hashing (DuckDB side).
def _sql_bucket(salt: str, mod: int) -> str:
    return (
        f"('0x' || substr(md5('{salt}' || cast(doc_id as varchar)), 1, 8))::ubigint"
        f" % {mod}"
    )


def _sql_ngram_list(tok: str, n: int) -> str:
    """All (non-distinct) space-joined word n-grams of a token list."""
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(n)).replace("t[i + 0]", "t[i]")
    return (
        f"list_transform(range(1, greatest(len({tok}) - {n - 1}, 0) + 1),"
        f" i -> {parts})"
    )


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-style filters)
# ---------------------------------------------------------------------------
@_register(
    "repetition_report",
    "Gopher-style within-doc repetition features: top-2/3-gram coverage "
    "fraction and duplicate-5-gram fraction via sorted-run aggregate() — "
    "single narrow scan, zero shuffles, zero Python "
    "(operators.text.repetition_stats)",
    f"""
    with tok as (
        select doc_id, {_SQL_TOKENS} as t from documents
    ),
    g as (
        select doc_id, len(t) as n_tokens,
               {_sql_ngram_list('t', 2)} as g2,
               {_sql_ngram_list('t', 3)} as g3,
               {_sql_ngram_list('t', 5)} as g5
        from tok
    ),
    top2 as (
        select doc_id, max(c) as m from (
            select doc_id, gg, count(*) as c
            from (select doc_id, unnest(g2) as gg from g) group by 1, 2
        ) group by 1
    ),
    top3 as (
        select doc_id, max(c) as m from (
            select doc_id, gg, count(*) as c
            from (select doc_id, unnest(g3) as gg from g) group by 1, 2
        ) group by 1
    )
    select g.doc_id,
           cast(n_tokens as bigint)                         as n_tokens,
           top2.m * 1.0 / nullif(len(g2), 0)                as top_bigram_frac,
           top3.m * 1.0 / nullif(len(g3), 0)                as top_trigram_frac,
           (len(g5) - len(list_distinct(g5))) * 1.0
               / nullif(len(g5), 0)                         as dup_5gram_frac
    from g
    left join top2 using (doc_id)
    left join top3 using (doc_id)
    """,
)
def repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    rep = text.repetition_stats(docs)
    return rep.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "top_bigram_frac",
        "top_trigram_frac",
        "dup_5gram_frac",
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train vs held-out test split)
# ---------------------------------------------------------------------------
_DECONTAM_N = 3
_DECONTAM_FLAG = 0.05


@_register(
    "decontam_report",
    "benchmark decontamination: per-train-doc distinct word-3-gram overlap "
    "against the held-out test split's n-gram set (size-guarded broadcast "
    "of the benchmark set; operators.decontam.contamination_report)",
    f"""
    with assigned as (
        select doc_id, {_SQL_TOKENS} as t,
               {_sql_bucket('split', 10_000)} as bucket
        from documents
    ),
    grams as (
        select doc_id, bucket,
               list_distinct({_sql_ngram_list('t', _DECONTAM_N)}) as gd
        from assigned
    ),
    bench as (
        select distinct (('0x' || substr(md5(gram), 1, 15))::ubigint)::bigint as gh
        from (select unnest(gd) as gram from grams where bucket >= 9500)
    ),
    corpus as (
        select doc_id, gd from grams where bucket < 9500
    ),
    hits as (
        select doc_id, count(*) as c
        from (select doc_id,
                     (('0x' || substr(md5(gram), 1, 15))::ubigint)::bigint as gh
              from (select doc_id, unnest(gd) as gram from corpus))
        join bench using (gh)
        group by 1
    )
    select corpus.doc_id,
           cast(len(gd) as bigint)                        as n_grams,
           cast(coalesce(hits.c, 0) as bigint)            as n_overlap,
           coalesce(hits.c, 0) * 1.0 / nullif(len(gd), 0) as overlap_frac,
           coalesce(coalesce(hits.c, 0) * 1.0 / nullif(len(gd), 0)
                    >= {_DECONTAM_FLAG}, false)           as contaminated
    from corpus left join hits using (doc_id)
    """,
)
def decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    split = text.split_assignment("doc_id", {"train": 0.90, "val": 0.05, "test": 0.05})
    assigned = docs.withColumn("_split", split)
    bench = decontam.distinct_ngram_set(
        assigned.filter(F.col("_split") == "test"), n=_DECONTAM_N
    )
    corpus = assigned.filter(F.col("_split") != "test")
    return decontam.contamination_report(
        corpus, bench, n=_DECONTAM_N, flag_threshold=_DECONTAM_FLAG
    )


# ---------------------------------------------------------------------------
# PII detection + redaction audit
# ---------------------------------------------------------------------------
# The synthetic corpus contains no PII, so the audit decorates every
# document with deterministic doc_id-derived PII (email, phone, IPv4,
# SSN) IN BOTH ENGINES, then proves detection counts and a zero residual
# after redaction. The patterns live in operators.pii (Java-regex ∩ RE2).
_SQL_DECORATED = (
    "text || ' reach user' || cast(doc_id as varchar) || '@example.com"
    " or +1-555-' || lpad(cast(doc_id * 7 % 1000 as varchar), 3, '0')"
    " || '-' || lpad(cast(doc_id * 13 % 10000 as varchar), 4, '0')"
    " || ' host 10.' || cast(doc_id % 256 as varchar)"
    " || '.0.' || cast(doc_id * 3 % 256 as varchar)"
    " || ' ssn 123-45-' || lpad(cast(doc_id % 10000 as varchar), 4, '0')"
)


@_register(
    "pii_redaction_report",
    "PII scrub audit: deterministic synthetic PII injected per doc, "
    "counted per class, redacted, and proven residual-free — pure "
    "regexp expressions, zero shuffles beyond the final rollup "
    "(operators.pii)",
    f"""
    with decorated as (
        select source, {_SQL_DECORATED} as txt from documents
    ),
    red as (
        select source, txt,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(txt, '{pii.EMAIL_RE}', '[EMAIL]', 'g'),
                     '{pii.IPV4_RE}', '[IP]', 'g'),
                   '{pii.SSN_RE}', '[SSN]', 'g'),
                 '{pii.PHONE_RE}', '[PHONE]', 'g') as rtxt
        from decorated
    )
    select source,
           count(*) as n_docs,
           cast(sum(len(regexp_extract_all(txt, '{pii.EMAIL_RE}'))) as bigint)
               as n_email,
           cast(sum(len(regexp_extract_all(txt, '{pii.IPV4_RE}'))) as bigint)
               as n_ipv4,
           cast(sum(len(regexp_extract_all(txt, '{pii.SSN_RE}'))) as bigint)
               as n_ssn,
           cast(sum(len(regexp_extract_all(txt, '{pii.PHONE_RE}'))) as bigint)
               as n_phone,
           cast(sum(len(regexp_extract_all(rtxt, '{pii.EMAIL_RE}'))
                  + len(regexp_extract_all(rtxt, '{pii.IPV4_RE}'))
                  + len(regexp_extract_all(rtxt, '{pii.SSN_RE}'))
                  + len(regexp_extract_all(rtxt, '{pii.PHONE_RE}'))) as bigint)
               as n_residual
    from red
    group by source
    """,
)
def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    d = F.col("doc_id")
    decorated = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(" reach user"), d.cast("string"), F.lit("@example.com or +1-555-"),
            F.lpad((d * 7 % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((d * 13 % 10000).cast("string"), 4, "0"),
            F.lit(" host 10."), (d % 256).cast("string"),
            F.lit(".0."), (d * 3 % 256).cast("string"),
            F.lit(" ssn 123-45-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ).alias("txt"),
    )
    counts = pii.pii_counts("txt")
    redacted = pii.redact_pii("txt")
    per_doc = decorated.select(
        "source",
        counts["email"].alias("_email"),
        counts["ipv4"].alias("_ipv4"),
        counts["ssn"].alias("_ssn"),
        counts["phone"].alias("_phone"),
        pii.residual_pii_count(redacted).alias("_residual"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_email").cast("bigint").alias("n_email"),
        F.sum("_ipv4").cast("bigint").alias("n_ipv4"),
        F.sum("_ssn").cast("bigint").alias("n_ssn"),
        F.sum("_phone").cast("bigint").alias("n_phone"),
        F.sum("_residual").cast("bigint").alias("n_residual"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (GPT-style fixed-budget chunking)
# ---------------------------------------------------------------------------
_PACK_BUDGET = 256
_PACK_BUCKETS = 16


@_register(
    "pack_chunks_report",
    "sequence packing: documents laid end-to-end into fixed 256-token "
    "training chunks across 16 md5-bucket streams via per-bucket window "
    "prefix sums — no single-partition window (operators.packing)",
    f"""
    with tok as (
        select doc_id, len({_SQL_TOKENS}) as n from documents
    ),
    b as (
        select doc_id, n, {_sql_bucket('pack', _PACK_BUCKETS)} as bucket
        from tok where n > 0
    ),
    placed as (
        select bucket, doc_id, n,
               cast(coalesce(sum(n) over (partition by bucket order by doc_id
                        rows between unbounded preceding and 1 preceding), 0)
                    as bigint) as s
        from b
    ),
    spans as (
        select bucket, doc_id, s, s + n as e,
               unnest(generate_series(s // {_PACK_BUDGET},
                                      (s + n - 1) // {_PACK_BUDGET})) as chunk_id
        from placed
    ),
    chunk_rows as (
        select bucket, chunk_id,
               least(e, (chunk_id + 1) * {_PACK_BUDGET})
                 - greatest(s, chunk_id * {_PACK_BUDGET}) as ct,
               (s < chunk_id * {_PACK_BUDGET}) as cont
        from spans
    )
    select cast(bucket as bigint) as bucket,
           cast(chunk_id as bigint) as chunk_id,
           count(*) as n_docs,
           cast(sum(ct) as bigint) as fill_tokens,
           cast(sum(cast(cont as bigint)) as bigint) as n_continued
    from chunk_rows
    group by 1, 2
    """,
)
def pack_chunks_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    with_counts = docs.select(
        "doc_id", F.size(text.tokens("text")).cast("bigint").alias("n_tokens")
    )
    return packing.chunk_report(
        with_counts, "n_tokens", budget=_PACK_BUDGET, n_buckets=_PACK_BUCKETS
    )


# ---------------------------------------------------------------------------
# Domain-mixture sampling
# ---------------------------------------------------------------------------
# Target weights over the 20 synthetic sources: srcN gets weight (N%4)+1.
_MIX_WEIGHTS = {f"src{i}": float((i % 4) + 1) for i in range(20)}
_SQL_MIX_WEIGHTS = ", ".join(
    f"('{k}', {v!r})" for k, v in _MIX_WEIGHTS.items()
)


@_register(
    "mixture_sample_report",
    "deterministic domain-mixture sampling: per-source md5 acceptance "
    "thresholds t_d = floor(K*w_d/n_d*mod) computed fully in-plan (no "
    "collect), kept counts follow the target weights "
    "(operators.sampling.mixture_sample)",
    f"""
    with w(source, wt) as (values {_SQL_MIX_WEIGHTS}),
    n as (
        select source, cast(count(*) as double) as n from documents group by 1
    ),
    k as (
        select min(n.n / w.wt) as k from n join w using (source) where w.wt > 0
    ),
    r as (
        select n.source, cast(n.n as bigint) as n_docs,
               cast(floor(k.k * w.wt / n.n * 10000) as bigint) as threshold
        from n join w using (source), k
    ),
    kept as (
        select source, count(*) as c from documents
        join r using (source)
        where {_sql_bucket('mix', 10_000)} < threshold
        group by source
    )
    select r.source, r.n_docs, r.threshold,
           cast(coalesce(kept.c, 0) as bigint) as n_kept
    from r left join kept using (source)
    """,
)
def mixture_sample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    # one thresholds subtree shared by the report columns and the kept
    # filter
    thresholds = sampling.mixture_thresholds(docs, _MIX_WEIGHTS).localCheckpoint(
        eager=True
    )
    kept = (
        sampling.mixture_sample(docs, _MIX_WEIGHTS, thresholds=thresholds)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return thresholds.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "threshold",
        F.coalesce("_c", F.lit(0)).cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# BM25 full-text search
# ---------------------------------------------------------------------------
_BM25_TERMS = ["spark", "merge", "window"]
_BM25_K = 15
_SQL_BM25_TERMS = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@_register(
    "bm25_search",
    "BM25 top-15 documents for a 3-term query via the inverted-stats "
    "plan (postings filtered under the explode, broadcast dfs/avgdl, "
    "sorted-term score fold for bit-stable doubles); rational idf so "
    "both engines use exact IEEE arithmetic (operators.search.bm25_topk)",
    f"""
    with base as (
        select doc_id, {_SQL_TOKENS} as t from documents
    ),
    lens as (
        select doc_id, cast(len(t) as bigint) as dl, t from base
    ),
    stats as (
        select cast(count(*) as bigint) as n_docs,
               sum(dl) * 1.0 / count(*) as avgdl
        from lens
    ),
    post as (
        select doc_id, term, cast(count(*) as bigint) as tf,
               any_value(dl) as dl
        from (select doc_id, dl, unnest(t) as term from lens)
        where term in ({_SQL_BM25_TERMS})
        group by doc_id, term
    ),
    dfs as (
        select term, cast(count(*) as bigint) as doc_freq from post group by term
    ),
    contrib as (
        -- 2.2/1.2 cast to double: DuckDB parses bare float literals as
        -- exact DECIMALs, which would diverge from Spark's double math
        select post.doc_id, post.term,
               ((n_docs - doc_freq + 0.5) / (doc_freq + 0.5))
               * (tf * 2.2::double)
               / (tf + 1.2::double * (1.0 - 0.75 + 0.75 * dl / avgdl)) as c
        from post join dfs using (term), stats
    )
    select doc_id, sum(c order by term) as score,
           cast(count(*) as bigint) as n_matched_terms
    from contrib
    group by doc_id
    order by score desc, doc_id
    limit {_BM25_K}
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    return search.bm25_topk(docs, _BM25_TERMS, k=_BM25_K, idf_mode="rational")


# ---------------------------------------------------------------------------
# IVF with a fixed (md5-derived) coarse quantizer — exactly oracle-checked
# ---------------------------------------------------------------------------
# The trained-k-means IVF stays rows-only (iterative MLlib training has
# no SQL equivalent); this variant swaps in the engine-portable fixed
# grid so assignment, nprobe routing, and scoring are all verified by
# value hash. The search machinery (argmin assignment, cell filter,
# cosine top-k) is the same code path.
_IVF_CELLS = 16
_IVF_NPROBE = 4
_IVF_FIXED = similarity.ivf_fixed_centroids(_IVF_CELLS, 64)


def _sql_ivf_fixed() -> str:
    score_exprs = []
    for c in _IVF_FIXED:
        c2 = 0.0
        for x in c:
            c2 = c2 + x * x
        score_exprs.append(f"(-2.0 * {_sql_dot('embedding', c)} + {c2!r})")
    sc = "[" + ",\n               ".join(score_exprs) + "]"
    self_dot = _sql_dot(
        "embedding", "list_transform(embedding, x -> cast(x as double))"
    )
    return f"""
    with scored as (
        select vec_id, embedding,
               {sc} as sc
        from embeddings
    ),
    assigned as (
        select vec_id, embedding,
               list_position(sc, list_min(sc)) - 1 as cell
        from scored
    ),
    qcells as (
        select i - 1 as cell from (
            select unnest(sc) as s, generate_subscripts(sc, 1) as i
            from scored where vec_id = 0
        ) order by s, i limit {_IVF_NPROBE}
    ),
    q as (
        select list_transform(embedding, x -> cast(x as double)) as qv
        from embeddings where vec_id = 0
    )
    select vec_id,
           {_sql_dot('embedding', 'qv')}
           / (sqrt({self_dot}) * sqrt({_sql_dot('qv', 'qv')})) as cosine
    from assigned join qcells using (cell), q
    order by cosine desc, vec_id
    limit 10
    """


@_register(
    "ann_ivf_fixed_topk",
    "IVF ANN search with the md5-derived fixed coarse quantizer: argmin "
    "cell assignment, nprobe=4 routing, exact cosine within probed cells "
    "— the full search path value-hash-verified (operators.similarity."
    "ivf_fixed_centroids/ivf_assign)",
    _sql_ivf_fixed(),
)
def ann_ivf_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow["embedding"]]
    cells = similarity.probe_cells_by_score(_IVF_FIXED, query, _IVF_NPROBE)
    return (
        emb.filter(
            similarity.ivf_assign(F.col("embedding"), _IVF_FIXED).isin(cells)
        )
        .select(
            "vec_id",
            similarity.cosine_to_query(F.col("embedding"), query).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Full training-set preparation (capstone composition)
# ---------------------------------------------------------------------------
def _sql_training_set() -> str:
    from dbt_datbricks_demo_spark.queries.llm_ops import (
        _SQL_PUNCT_RATIO,
        _sql_amh_core,
        _sql_lang_predict,
    )

    return f"""
    with dedup1 as (
        select d.* from documents d
        join (select md5(text) as ch, min(doc_id) as keeper
              from documents group by md5(text)) k
          on md5(d.text) = k.ch and d.doc_id = k.keeper
    ),
    gated as materialized (
        select * from dedup1
        where len({_SQL_TOKENS}) >= 10
          and {_SQL_PUNCT_RATIO} <= 0.2
          and {_sql_lang_predict()} in ('en', 'de', 'es', 'fr')
    ),
    {_sql_amh_core('gated', count_table='documents')},
    sh as (select doc_id, unnest(hs) as sh from hashed),
    sizes as (select doc_id, len(hs) as set_size from hashed),
    jac as (
        select p.id_a, p.id_b,
               count(*) * 1.0
                 / (sa.set_size + sb.set_size - count(*)) as jaccard
        from pairs p
        join sh a on a.doc_id = p.id_a
        join sh b on b.doc_id = p.id_b and b.sh = a.sh
        join sizes sa on sa.doc_id = p.id_a
        join sizes sb on sb.doc_id = p.id_b
        group by p.id_a, p.id_b, sa.set_size, sb.set_size
    ),
    clean1 as (
        select doc_id, text from gated
        where doc_id not in (select id_b from jac where jaccard >= 0.9)
    ),
    tok1 as (select doc_id, {_SQL_TOKENS} as t from clean1),
    gr as (
        select doc_id, t,
               {_sql_ngram_list('t', 2)} as g2,
               {_sql_ngram_list('t', 5)} as g5
        from tok1
    ),
    top2 as (
        select doc_id, max(c) as m from (
            select doc_id, gg, count(*) as c
            from (select doc_id, unnest(g2) as gg from gr) group by 1, 2
        ) group by 1
    ),
    repgated as (
        select gr.doc_id, gr.t from gr join top2 using (doc_id)
        where top2.m * 1.0 / nullif(len(g2), 0) <= 0.2
          and (len(g5) - len(list_distinct(g5))) * 1.0
              / nullif(len(g5), 0) <= 0.3
    ),
    asg as (
        select doc_id, t,
               case when {_sql_bucket('split', 10_000)} < 9000 then 'train'
                    when {_sql_bucket('split', 10_000)} < 9500 then 'val'
                    else 'test' end as split
        from repgated
    ),
    cg as (
        select doc_id, split, t,
               list_distinct({_sql_ngram_list('t', 3)}) as gd
        from asg
    ),
    bench as (
        select distinct unnest(gd) as gram from cg where split = 'test'
    ),
    hits as (
        select doc_id, count(*) as c
        from (select doc_id, unnest(gd) as gram from cg where split <> 'test')
        join bench using (gram)
        group by 1
    ),
    flagged as (
        select cg.doc_id from cg left join hits using (doc_id)
        where split <> 'test'
          and coalesce(hits.c, 0) * 1.0 / nullif(len(gd), 0) >= 0.05
    ),
    final2 as (
        select doc_id, split, len(t) as nt from cg where split = 'test'
        union all
        select doc_id, split, len(t) from cg
        where split <> 'test' and doc_id not in (select doc_id from flagged)
    ),
    perb as (
        select split, {_sql_bucket('pack', 16)} as bucket,
               count(*) as n, cast(sum(nt) as bigint) as s
        from final2 group by 1, 2
    )
    select split,
           cast(sum(n) as bigint) as n_docs,
           cast(sum(s) as bigint) as total_tokens,
           cast(sum((s + 255) // 256) as bigint) as n_chunks
    from perb group by split
    """


def staged_training_set_sql() -> list[tuple[str, str]]:
    """The training_set_report oracle as an ordered list of BOUNDED
    DuckDB passes (round-9 verdict item 1): the monolithic derivation's
    peak spill at x100 (~150 GB: every materialized CTE + the band
    self-join + the gram-unnest joins live in ONE query's temp budget)
    exceeded the sandbox disk, leaving that cell timing-only. Each
    stage here is a separate connection whose inputs are the base
    tables plus the PERSISTED parquet of earlier stages (registered as
    views named after the stage), so the peak temp at any moment is
    one stage's working set. Semantics are unchanged: every fragment
    is built from the same shared pieces as _sql_training_set
    (_SQL_TOKENS / _SQL_PUNCT_RATIO / _sql_lang_predict /
    _sql_amh_core's geo-sig-band family / _sql_ngram_list /
    _sql_bucket), and scripts/scaled_oracle.py verifies the staged
    result hash-equal to the CACHED monolithic derivations at
    x3/x10/x30 before trusting the staged x100.

    Stage graph (each row = one connection, one COPY to parquet):
      ts_gated   exact-dedup + quality/lang gates      (documents)
      ts_hashed  shingle-hash lists                    (ts_gated)
      ts_geo     adaptive (nh, nb, r) from count(*)    (documents)
      ts_pairs   sigs -> band keys -> candidate pairs  (ts_hashed+geo)
      ts_dupes   exact-Jaccard >= 0.9 losers, hashed
                 restricted to pair MEMBERS (inner
                 joins make the restriction exact)     (ts_pairs+hashed)
      ts_cg      near-dup removal -> repetition gate ->
                 split -> distinct 3-gram lists + len  (ts_gated+dupes)
      ts_bench   distinct test-split grams             (ts_cg)
      ts_hits    train/val gram hits vs bench          (ts_cg+bench)
      result     decontam flag -> per-split totals     (ts_cg+hits)
    """
    from dbt_datbricks_demo_spark.queries.llm_ops import (
        _SQL_PUNCT_RATIO,
        _SQL_SHINGLE_HASHES,
        _sql_amh_band_blocks,
        _sql_amh_geo,
        _sql_amh_sig_cols,
        _sql_lang_predict,
    )

    stages: list[tuple[str, str]] = []
    stages.append((
        "ts_gated",
        f"""
        with dedup1 as (
            select d.* from documents d
            join (select md5(text) as ch, min(doc_id) as keeper
                  from documents group by md5(text)) k
              on md5(d.text) = k.ch and d.doc_id = k.keeper
        )
        select doc_id, text from dedup1
        where len({_SQL_TOKENS}) >= 10
          and {_SQL_PUNCT_RATIO} <= 0.2
          and {_sql_lang_predict()} in ('en', 'de', 'es', 'fr')
        """,
    ))
    stages.append((
        "ts_hashed",
        f"select doc_id, {_SQL_SHINGLE_HASHES} as hs from ts_gated",
    ))
    stages.append(("ts_geo", _sql_amh_geo("documents")))
    stages.append((
        "ts_pairs",
        f"""
        with geo as (select * from ts_geo),
        sigs as materialized (
            select doc_id, {', '.join(_sql_amh_sig_cols())}
            from ts_hashed hashed, geo g
        ),
        bands as (
            select b.doc_id, b.band_key from (
            {_sql_amh_band_blocks('sigs')}
            ) b join geo g on b.gnh = g.nh
        )
        select distinct a.doc_id as id_a, b.doc_id as id_b
        from bands a join bands b
          on a.band_key = b.band_key and a.doc_id < b.doc_id
        """,
    ))
    stages.append((
        "ts_dupes",
        """
        with members as (
            select distinct doc_id from (
                select id_a as doc_id from ts_pairs
                union all
                select id_b from ts_pairs
            )
        ),
        hashed as materialized (
            select h.doc_id, h.hs from ts_hashed h join members using (doc_id)
        ),
        sh as (select doc_id, unnest(hs) as sh from hashed),
        sizes as (select doc_id, len(hs) as set_size from hashed),
        jac as (
            select p.id_a, p.id_b,
                   count(*) * 1.0
                     / (sa.set_size + sb.set_size - count(*)) as jaccard
            from ts_pairs p
            join sh a on a.doc_id = p.id_a
            join sh b on b.doc_id = p.id_b and b.sh = a.sh
            join sizes sa on sa.doc_id = p.id_a
            join sizes sb on sb.doc_id = p.id_b
            group by p.id_a, p.id_b, sa.set_size, sb.set_size
        )
        select distinct id_b as doc_id from jac where jaccard >= 0.9
        """,
    ))
    stages.append((
        "ts_cg",
        f"""
        with clean1 as (
            select doc_id, text from ts_gated
            where doc_id not in (select doc_id from ts_dupes)
        ),
        tok1 as (select doc_id, {_SQL_TOKENS} as t from clean1),
        gr as (
            select doc_id, t,
                   {_sql_ngram_list('t', 2)} as g2,
                   {_sql_ngram_list('t', 5)} as g5
            from tok1
        ),
        top2 as (
            select doc_id, max(c) as m from (
                select doc_id, gg, count(*) as c
                from (select doc_id, unnest(g2) as gg from gr) group by 1, 2
            ) group by 1
        ),
        repgated as (
            select gr.doc_id, gr.t from gr join top2 using (doc_id)
            where top2.m * 1.0 / nullif(len(g2), 0) <= 0.2
              and (len(g5) - len(list_distinct(g5))) * 1.0
                  / nullif(len(g5), 0) <= 0.3
        ),
        asg as (
            select doc_id, t,
                   case when {_sql_bucket('split', 10_000)} < 9000 then 'train'
                        when {_sql_bucket('split', 10_000)} < 9500 then 'val'
                        else 'test' end as split
            from repgated
        )
        select doc_id, split, len(t) as nt,
               list_distinct({_sql_ngram_list('t', 3)}) as gd
        from asg
        """,
    ))
    stages.append((
        "ts_bench",
        "select distinct unnest(gd) as gram from ts_cg where split = 'test'",
    ))
    stages.append((
        "ts_hits",
        """
        select doc_id, count(*) as c
        from (select doc_id, unnest(gd) as gram from ts_cg
              where split <> 'test')
        join ts_bench using (gram)
        group by 1
        """,
    ))
    stages.append((
        "result",
        f"""
        with flagged as (
            select cg.doc_id from ts_cg cg left join ts_hits hits
                using (doc_id)
            where split <> 'test'
              and coalesce(hits.c, 0) * 1.0 / nullif(len(gd), 0) >= 0.05
        ),
        final2 as (
            select doc_id, split, nt from ts_cg where split = 'test'
            union all
            select doc_id, split, nt from ts_cg
            where split <> 'test'
              and doc_id not in (select doc_id from flagged)
        ),
        perb as (
            select split, {_sql_bucket('pack', 16)} as bucket,
                   count(*) as n, cast(sum(nt) as bigint) as s
            from final2 group by 1, 2
        )
        select split,
               cast(sum(n) as bigint) as n_docs,
               cast(sum(s) as bigint) as total_tokens,
               cast(sum((s + 255) // 256) as bigint) as n_chunks
        from perb group by split
        """,
    ))
    return stages


@_register(
    "training_set_report",
    "capstone composition: clean_corpus (dedup+quality+lang+near-dup "
    "under the adaptive two-axis LSH geometry keyed off the ingest "
    "rowcount, round 9) → repetition gate → deterministic split → "
    "decontaminate train/val against the test split → per-split "
    "doc/token/256-token-chunk totals "
    "(operators.corpus.prepare_training_set)",
    _sql_training_set(),
)
def training_set_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators.corpus import prepare_training_set
    from dbt_datbricks_demo_spark.operators.dedup import (
        adaptive_minhash_geometry,
    )
    from dbt_datbricks_demo_spark.queries.inventory import _t_rowcount

    # adaptive LSH tier from the ingest rowcount — see corpus_pipeline
    n = _t_rowcount(sf_dir, "documents")
    nh, nb, _r = adaptive_minhash_geometry(n)
    docs = _spread(_t(spark, sf_dir, "documents"))
    final = prepare_training_set(docs, num_hashes=nh, bands=nb, corpus_rows=n)
    per_bucket = (
        final.select(
            "split",
            packing._md5_bucket("doc_id", _PACK_BUCKETS, "pack").alias("bucket"),
            # n_tokens is materialized in the capstone's stats
            # checkpoint and equals size(tokens(text)) by construction
            # (operators.text.with_repetition_stats) — reading it skips
            # a full re-tokenize of the surviving corpus in this job
            F.col("n_tokens").cast("bigint").alias("nt"),
        )
        .groupBy("split", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nt").cast("bigint").alias("s"),
        )
    )
    return per_bucket.groupBy("split").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum("s").cast("bigint").alias("total_tokens"),
        F.sum(F.floor((F.col("s") + F.lit(255)) / F.lit(256)))
        .cast("bigint")
        .alias("n_chunks"),
    )


# ---------------------------------------------------------------------------
# Stratified per-group sampling
# ---------------------------------------------------------------------------
_STRAT_K = 5


@_register(
    "stratified_sample",
    "deterministic stratified sampling: the 5 smallest md5(salt||id) "
    "draws per source win (ties by id) — WindowGroupLimit pushes the "
    "per-group limit map-side (operators.sampling.stratified_sample)",
    f"""
    select source, doc_id, cast(sample_rank as bigint) as sample_rank
    from (
        select source, doc_id,
               row_number() over (
                   partition by source
                   order by md5('strat' || cast(doc_id as varchar)), doc_id
               ) as sample_rank
        from documents
    )
    where sample_rank <= {_STRAT_K}
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    return sampling.stratified_sample(docs, k=_STRAT_K).select(
        "source", "doc_id", F.col("sample_rank").cast("bigint").alias("sample_rank")
    )


# ---------------------------------------------------------------------------
# Relational surface widening: GROUPING SETS, extended window functions
# ---------------------------------------------------------------------------
@_register(
    "grouping_sets_report",
    "multi-granularity aggregation in ONE pass: GROUPING SETS over "
    "(returnflag, linestatus) / (returnflag) / () with grouping_id "
    "disambiguation and decimal-exact sums (DataFrame.groupingSets)",
    """
    select l_returnflag, l_linestatus,
           cast(grouping(l_returnflag, l_linestatus) as bigint) as gid,
           count(*) as row_cnt,
           cast(sum(cast(l_quantity as decimal(18,2))) as double) as sum_qty
    from lineitem
    group by grouping sets ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _spread(_t(spark, sf_dir, "lineitem"))
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("row_cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "row_cnt", "sum_qty")
    )


@_register(
    "window_functions_extended",
    "rank-family completeness over (custkey, orderdate): dense_rank, "
    "percent_rank, cume_dist, first/last order value per customer frame "
    "— all exact integer-ratio doubles, deterministic tie-breaks",
    """
    select o_orderkey, o_custkey,
           dense_rank() over w as dr,
           percent_rank() over w as pr,
           cume_dist() over w as cd,
           first_value(o_totalprice) over w as first_price,
           last_value(o_totalprice) over
               (partition by o_custkey order by o_orderdate, o_orderkey
                rows between unbounded preceding and unbounded following)
               as last_price
    from orders
    window w as (partition by o_custkey order by o_orderdate, o_orderkey)
    """,
)
def window_functions_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = _spread(_t(spark, sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).alias("dr"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
    )


@_register(
    "date_functions_extended",
    "calendar scalar surface beyond date_functions: month arithmetic with "
    "end-of-month clamping, last_day, quarter boundaries, day-of-year, "
    "ISO week — engine-identical integer/date outputs",
    """
    select o_orderkey as order_key,
           cast(o_orderdate as date) + interval 3 month as plus_3_months,
           last_day(cast(o_orderdate as date)) as month_end,
           quarter(o_orderdate) as order_quarter,
           cast(date_trunc('quarter', o_orderdate) as date) as quarter_start,
           dayofyear(o_orderdate) as order_doy,
           weekofyear(o_orderdate) as order_week,
           cast(o_orderdate as date) + 45 as plus_45_days
    from orders
    """,
)
def date_functions_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _spread(_t(spark, sf_dir, "orders"))
    d = F.col("o_orderdate")
    return orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.add_months(d, 3).alias("plus_3_months"),
        F.last_day(d).alias("month_end"),
        F.quarter(d).alias("order_quarter"),
        F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
        F.dayofyear(d).alias("order_doy"),
        F.weekofyear(d).alias("order_week"),
        F.date_add(d.cast("date"), 45).alias("plus_45_days"),
    )


@_register(
    "string_functions_extended",
    "string scalar surface beyond the staging projections: translate, "
    "repeat, reverse, strpos, left/right slices, split_part, ascii — "
    "engine-identical outputs on customer names",
    """
    select c_custkey,
           translate(c_name, '#0', '_O')      as translated,
           reverse(c_name)                    as reversed,
           strpos(c_name, '0')                as zero_pos,
           left(c_name, 8)                    as l8,
           right(c_name, 5)                   as r5,
           split_part(c_name, '#', 2)         as after_hash,
           ascii(c_name)                      as first_byte,
           repeat(substr(c_name, 1, 2), 3)    as rep2x3
    from customer
    """,
)
def string_functions_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _spread(_t(spark, sf_dir, "customer"))
    n = F.col("c_name")
    return cust.select(
        "c_custkey",
        F.translate(n, "#0", "_O").alias("translated"),
        F.reverse(n).alias("reversed"),
        F.instr(n, "0").alias("zero_pos"),
        F.left(n, F.lit(8)).alias("l8"),
        F.right(n, F.lit(5)).alias("r5"),
        F.split_part(n, F.lit("#"), F.lit(2)).alias("after_hash"),
        F.ascii(n).alias("first_byte"),
        F.repeat(F.substring(n, 1, 2), 3).alias("rep2x3"),
    )


@_register(
    "array_functions_report",
    "array algebra surface: per-customer sorted order-priority arrays, "
    "union/intersect/except against a probe set, slicing, containment, "
    "flatten — deterministic via array_sort before every comparison",
    """
    select c.c_custkey,
           arr,
           len(arr)                                        as n_orders,
           list_sort(list_distinct(arr || ['1-URGENT']))    as with_probe,
           list_sort(list_intersect(arr, ['1-URGENT', '5-LOW'])) as hot_cold,
           list_sort(list_filter(arr, x -> x not in ('1-URGENT', '5-LOW')))
                                                           as mids,
           list_contains(arr, '3-MEDIUM')                  as has_medium,
           arr[1:2]                                        as first_two
    from (
        select o_custkey as c_custkey,
               list_sort(list(distinct o_orderpriority)) as arr
        from orders group by o_custkey
    ) c
    """,
)
def array_functions_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _spread(_t(spark, sf_dir, "orders"))
    base = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.array_sort(F.collect_set("o_orderpriority")).alias("arr")
    )
    probe = F.array(F.lit("1-URGENT"), F.lit("5-LOW"))
    return base.select(
        "c_custkey",
        "arr",
        F.size("arr").alias("n_orders"),
        F.array_sort(
            F.array_distinct(F.concat("arr", F.array(F.lit("1-URGENT"))))
        ).alias("with_probe"),
        F.array_sort(F.array_intersect("arr", probe)).alias("hot_cold"),
        F.array_sort(F.array_except("arr", probe)).alias("mids"),
        F.array_contains("arr", "3-MEDIUM").alias("has_medium"),
        F.slice("arr", 1, 2).alias("first_two"),
    )


@_register(
    "posexplode_tokens",
    "generator surface: positional explode of the token stream for the "
    "20 longest documents (pos is 0-based, deterministic doc subset via "
    "length/id ordering)",
    f"""
    with top_docs as (
        select doc_id, {_SQL_TOKENS} as t from documents
        order by n_chars desc, doc_id limit 20
    )
    select doc_id, i - 1 as pos, token
    from (
        select doc_id, unnest(t) as token, generate_subscripts(t, 1) as i
        from top_docs
    )
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    top = (
        docs.orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(20)
        .select("doc_id", text.tokens("text").alias("t"))
    )
    return top.select("doc_id", F.posexplode("t").alias("pos", "token"))


@_register(
    "salted_hot_key_agg",
    "skew-safe two-phase aggregation (operators.skew.salted_aggregate): "
    "per-user event counts + decimal-exact value sums computed over a "
    "16-way salt split, folded back — results identical to the plain "
    "groupBy the oracle runs",
    """
    select user_id,
           count(*) as n_events,
           cast(sum(cast(value as decimal(18,2))) as double) as total_value
    from events
    group by user_id
    """,
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.operators import skew

    ev = _spread(_t(spark, sf_dir, "events"))
    return skew.salted_aggregate(
        ev,
        keys=["user_id"],
        salt_from="event_id",
        buckets=16,
        exprs={
            "n_events": (F.count(F.lit(1)), F.sum),
            "total_value": (
                F.sum(F.col("value").cast("decimal(18,2)")),
                F.sum,
            ),
        },
    ).select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


@_register(
    "map_functions_report",
    "map surface: per-customer priority→count maps built from sorted "
    "entries (map_from_entries), scalar lookups via element_at, "
    "cardinality, sorted key set — lookups compared as scalars since "
    "raw map columns are not hash-comparable across engines",
    """
    select c_custkey,
           m['1-URGENT'][1]        as urgent_cnt,
           m['5-LOW'][1]           as low_cnt,
           cardinality(m)          as n_priorities,
           list_sort(map_keys(m))  as prio_keys
    from (
        select c_custkey,
               map_from_entries(list_sort(list({'k': prio, 'v': cnt}))) as m
        from (
            select o_custkey as c_custkey, o_orderpriority as prio,
                   count(*) as cnt
            from orders group by 1, 2
        )
        group by c_custkey
    )
    """,
)
def map_functions_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _spread(_t(spark, sf_dir, "orders"))
    counts = orders.groupBy(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("prio"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    mapped = counts.groupBy("c_custkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("prio", "cnt")))
        ).alias("m")
    )
    return mapped.select(
        "c_custkey",
        F.element_at("m", "1-URGENT").alias("urgent_cnt"),
        F.element_at("m", "5-LOW").alias("low_cnt"),
        F.size("m").alias("n_priorities"),
        F.array_sort(F.map_keys("m")).alias("prio_keys"),
    )


# ---------------------------------------------------------------------------
# dbt snapshots: SCD2 two-batch replay (plans/snapshots.py)
# ---------------------------------------------------------------------------
_SNAP_CUTOFF = "2001-03-31"

_SNAP_SCD1 = surrogate_key_sql("custkey", "u1")
_SNAP_SCD2 = surrogate_key_sql("custkey", "u2")


@_register(
    "scd2_snapshot",
    "dbt snapshot (SCD2, timestamp strategy; reference declares the "
    "feature at dbt_project.yml:12): replay two order batches into a "
    "customer-latest-order dimension — changed keys close the old row "
    "at the new row's valid_from, new keys insert, unchanged keep; "
    "dbt_scd_id is dbt_utils-byte-compatible (plans/snapshots.py)",
    f"""
    with b1 as (
        select custkey, status, totalprice, updated_at from (
            select o_custkey as custkey, o_orderstatus as status,
                   o_totalprice as totalprice, o_orderdate as updated_at,
                   row_number() over (
                       partition by o_custkey
                       order by o_orderdate desc, o_orderkey desc
                   ) as rn
            from orders
            where o_orderdate <= timestamp '{_SNAP_CUTOFF}'
        ) where rn = 1
    ),
    b2 as (
        select custkey, status, totalprice, updated_at from (
            select o_custkey as custkey, o_orderstatus as status,
                   o_totalprice as totalprice, o_orderdate as updated_at,
                   row_number() over (
                       partition by o_custkey
                       order by o_orderdate desc, o_orderkey desc
                   ) as rn
            from orders
        ) where rn = 1
    ),
    j as (
        select b2.custkey,
               b1.status as s1, b1.totalprice as t1, b1.updated_at as u1,
               b2.status as s2, b2.totalprice as t2, b2.updated_at as u2
        from b2 left join b1 on b1.custkey = b2.custkey
    )
    -- batch-1 rows: still open if batch 2 did not advance updated_at,
    -- else closed at the successor's valid_from
    select custkey, s1 as status, t1 as totalprice,
           {_SNAP_SCD1} as dbt_scd_id,
           u1 as dbt_updated_at, u1 as dbt_valid_from,
           case when u2 > u1 then u2 end as dbt_valid_to
    from j where u1 is not null
    union all
    -- batch-2 inserts: brand-new keys and changed keys
    select custkey, s2 as status, t2 as totalprice,
           {_SNAP_SCD2} as dbt_scd_id,
           u2 as dbt_updated_at, u2 as dbt_valid_from,
           cast(null as timestamp) as dbt_valid_to
    from j where u1 is null or u2 > u1
    """,
)
def scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _spread(_t(spark, sf_dir, "orders"))

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("o_custkey").alias("custkey"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("totalprice"),
                F.col("o_orderdate").alias("updated_at"),
            )
        )

    cfg = snapshots.SnapshotConfig(
        unique_key="custkey", strategy="timestamp", updated_at="updated_at"
    )
    b1 = latest(orders.filter(F.col("o_orderdate") <= F.lit(_SNAP_CUTOFF).cast("timestamp")))
    b2 = latest(orders)
    snap = snapshots.snapshot_apply(snapshots.snapshot_apply(None, b1, cfg), b2, cfg)
    return snap.select(
        "custkey",
        "status",
        "totalprice",
        "dbt_scd_id",
        "dbt_updated_at",
        "dbt_valid_from",
        "dbt_valid_to",
    )
