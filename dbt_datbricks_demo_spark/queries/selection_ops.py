"""Data-selection surface (round 6): DSIR importance resampling, the
Bloom-filter decontamination probe, token-budget prefix selection, and
the leakage-safe (near-dup-cluster-aware) dataset split.

These are the selection/hygiene stages a pre-training pipeline runs
between dedup and packing. Shared conventions with llm_ops/pipeline_ops:
tokens are string_split_regex(trim(lower(text)), '\\s+') in both
engines, hashing is first-8-md5-hex as uint32 (or first-15 as a 60-bit
digest for corpus-string shuffle keys), float folds round to 6 dp,
integer division is Spark `div` / DuckDB `//` on positive operands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.operators import dedup, selection, text
from dbt_datbricks_demo_spark.queries.inventory import _register, _spread, _t
from dbt_datbricks_demo_spark.queries.llm_ops import (
    _SQL_AMH_RESULT_COLS,
    _SQL_SHINGLE_HASHES,
    _SQL_TOKENS,
    _amh_geom_cert,
    _sql_amh_prefix,
    _sql_minhash_cols,
)
from dbt_datbricks_demo_spark.queries.pipeline_ops import (
    _sql_bucket,
    _sql_ngram_list,
)

_B = selection.DSIR_BUCKETS
_M = selection.BLOOM_M_BITS
_K = selection.BLOOM_K


# ---------------------------------------------------------------------------
# DSIR: importance resampling scores (Xie et al. 2023)
# ---------------------------------------------------------------------------
@_register(
    "dsir_importance_report",
    "DSIR importance weighting (hashed-bigram log-likelihood ratio of a "
    "target-domain model vs the raw-corpus model, add-one smoothed): "
    "top-25 raw documents by importance score. The model is a FIXED "
    f"{_B}-bucket table — broadcast by construction at any corpus size "
    "(operators.selection.dsir_scores)",
    f"""
    with toks as (select doc_id, source, {_SQL_TOKENS} as t from documents),
    feats as (
        select doc_id,
               ('0x' || substr(md5('dsir:' || g), 1, 8))::ubigint % {_B}
                   as bucket
        from (select doc_id, unnest({_sql_ngram_list('t', 2)}) as g
              from toks)
    ),
    tf as (select doc_id, bucket, count(*) as tf from feats group by 1, 2),
    tagged as (
        select tf.*, (d.source = 'src0') as tgt
        from tf join documents d using (doc_id)
    ),
    model as (
        select bucket, sum(tf) as c_raw,
               sum(case when tgt then tf else 0 end) as c_tgt
        from tagged group by 1
    ),
    tot as (select cast(sum(c_raw) as double) as n_raw,
                   cast(sum(c_tgt) as double) as n_tgt
            from model),
    ratio as (select bucket, ln(c_tgt + 1) - ln(c_raw + 1) as lr from model),
    scored as (
        select t.doc_id, cast(sum(t.tf) as bigint) as n_feats,
               round(sum(t.tf * r.lr) / sum(t.tf)
                     + ln(n_raw + {_B}) - ln(n_tgt + {_B}), 6) as dsir_score
        from tf t join ratio r using (bucket), tot
        group by t.doc_id, tot.n_raw, tot.n_tgt
    )
    select s.doc_id, d.source, s.n_feats, s.dsir_score
    from scored s join documents d using (doc_id)
    order by dsir_score desc, doc_id asc
    limit 25
    """,
)
def dsir_importance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    scored = selection.dsir_scores(
        docs, is_target=F.col("source") == F.lit("src0")
    )
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_feats", "dsir_score")
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination probe
# ---------------------------------------------------------------------------
_BLOOM_N = 3  # same benchmark definition as decontam_report

_SQL_BLOOM_POS = " union all ".join(
    f"select gram, (('0x' || substr(md5('{j}:' || gram), 1, 8))::ubigint"
    f" % {_M})::bigint as pos from {{src}}"
    for j in range(_K)
)


@_register(
    "bloom_decontam_report",
    "Bloom-filter benchmark decontamination: the held-out test split's "
    f"3-gram set folds into a fixed {_M}-bit filter (bitwise-OR "
    "aggregated (word_idx, word) table — O(1) size no matter how large "
    "the benchmark, vs the O(|benchmark|) digest broadcast of "
    "decontam_report) and the train corpus probes it by broadcast join; "
    "per-source flagged-doc counts with the exact-join comparison "
    "columns, so the filter's deterministic false positives are "
    "measured in-result (operators.selection.bloom_build/bloom_probe)",
    f"""
    with assigned as (
        select doc_id, source, {_SQL_TOKENS} as t,
               {_sql_bucket('split', 10_000)} as bucket
        from documents
    ),
    grams as (
        select doc_id, source, bucket,
               list_distinct({_sql_ngram_list('t', _BLOOM_N)}) as gd
        from assigned
    ),
    bench as (
        select distinct gram
        from (select unnest(gd) as gram from grams where bucket >= 9500)
    ),
    bloom as (
        select pos // {selection._WORD_BITS} as word_idx,
               bit_or(1::bigint << (pos % {selection._WORD_BITS})::int)
                   as word
        from ({_SQL_BLOOM_POS.format(src='bench')})
        group by 1
    ),
    corpus_grams as (
        select doc_id, source, gram,
               (('0x' || substr(md5(gram), 1, 15))::ubigint)::bigint as gh
        from (select doc_id, source, unnest(gd) as gram
              from grams where bucket < 9500)
    ),
    cgd as (select distinct gram from corpus_grams),
    probe_bits as (
        select cg.doc_id, cg.gh,
               case when ((coalesce(b.word, 0)
                           >> (p.pos % {selection._WORD_BITS})::int) & 1) = 1
                    then 1 else 0 end as bit_set
        from corpus_grams cg
        join ({_SQL_BLOOM_POS.format(src='cgd')}) p
          on p.gram = cg.gram
        left join bloom b on b.word_idx = p.pos // {selection._WORD_BITS}
    ),
    bloom_hits as (
        select doc_id, gh, (sum(bit_set) = {_K}) as bloom_hit
        from probe_bits group by 1, 2
    ),
    bench_digests as (
        select distinct (('0x' || substr(md5(gram), 1, 15))::ubigint)::bigint
                   as gh
        from bench
    ),
    per_doc as (
        select cg.doc_id, any_value(cg.source) as source,
               count(*) as n_grams,
               sum(case when bh.bloom_hit then 1 else 0 end) as n_bloom,
               sum(case when bd.gh is not null then 1 else 0 end) as n_exact
        from corpus_grams cg
        join bloom_hits bh on bh.doc_id = cg.doc_id and bh.gh = cg.gh
        left join bench_digests bd on bd.gh = cg.gh
        group by cg.doc_id
    )
    select source,
           count(*)                                        as n_docs,
           cast(sum(case when n_bloom * 20 >= n_grams then 1 else 0 end)
                as bigint)                                 as docs_flagged_bloom,
           cast(sum(case when n_exact * 20 >= n_grams then 1 else 0 end)
                as bigint)                                 as docs_flagged_exact,
           cast(sum(n_bloom) as bigint)                    as gram_hits_bloom,
           cast(sum(n_exact) as bigint)                    as gram_hits_exact,
           cast(sum(n_bloom - n_exact) as bigint)          as false_positive_grams
    from per_doc
    group by source
    order by source
    """,
)
def bloom_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    split = text.split_assignment(
        "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
    )
    # Gram generation in the row-level codegen form (the word_gram_rows
    # pattern): the previous explode(array_distinct(word_ngrams_all(...)))
    # built the gram ARRAY with transform() lambdas, which Catalyst
    # evaluates in its interpreted HOF walker — the same per-JVM JIT
    # lottery documented on dedup.shingle_hash_rows (this query measured
    # bimodal 3.7 s / 15.0 s across bench sessions). Position-explode +
    # concat_ws(slice(...)) keeps every expression in generated code,
    # and the per-doc distinct moves to a map-side-combined aggregate.
    # (A round-13 pinned doc-level repartition before the explode was
    # A/B-measured and reverted: +0.4 s — here the heavy gram pass is
    # BELOW the dedup exchange on the already-_spread scan, so the pin
    # was a pure extra exchange, unlike candidate_hash_arrays.)
    staged = docs.select(
        "doc_id", "source", split.alias("_split"),
        text.tokens("text").alias("_t"),
    )
    seq = F.when(
        F.size("_t") >= _BLOOM_N,
        F.sequence(F.lit(1), F.size("_t") - (_BLOOM_N - 1)),
    ).otherwise(F.array().cast("array<int>"))
    occ = staged.select(
        "doc_id", "source", "_split", "_t", F.explode(seq).alias("_p")
    )
    gram = F.concat_ws(" ", F.slice(F.col("_t"), F.col("_p"), _BLOOM_N))
    # distinct (doc, gram) rows — identical set to the old per-doc
    # array_distinct — materialized ONCE: FOUR plan branches consume
    # them (bench grams ×2: bloom build + exact digests; corpus grams
    # ×2: probe + per-doc agg), and without the checkpoint each branch
    # re-ran the full tokenize+gram corpus pass (4 parquet scans in the
    # before-plan). O(|distinct grams|) rows, narrow columns.
    # DISK_ONLY (round-12 verdict item 6): this relation is
    # O(corpus grams) — the one materialization here that scales with
    # the corpus, an executor-MEMORY bomb at 100 TB under the default
    # MEMORY_AND_DESER level. Disk-backed blocks keep the single-pass
    # plan-reuse structure (4 consuming branches) without the memory
    # cliff; on a real pipeline this is the intermediate table write.
    from pyspark import StorageLevel

    per_doc_grams = (
        occ.select("doc_id", "source", "_split", gram.alias("gram"))
        .dropDuplicates(["doc_id", "gram"])
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    bench = (
        per_doc_grams.filter(F.col("_split") == "test")
        .select("gram")
        .distinct()
    )
    bloom = selection.bloom_build(bench)
    corpus_grams = per_doc_grams.filter(F.col("_split") != "test").select(
        "doc_id",
        "source",
        "gram",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("gh"),
    )
    hits = selection.bloom_probe(
        corpus_grams, bloom, gram_col="gram", key_cols=("doc_id", "gh")
    )
    # exact comparison side: the benchmark digest set, broadcast under
    # the same counted-size discipline as operators.decontam
    bench_digests = (
        bench.select(
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("gh")
        ).distinct()
    )
    per_doc = (
        corpus_grams.join(hits, ["doc_id", "gh"])
        .join(
            F.broadcast(bench_digests.withColumn("_exact", F.lit(1))),
            "gh",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0)).alias("n_bloom"),
            F.sum(F.coalesce(F.col("_exact"), F.lit(0))).alias("n_exact"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("n_bloom") * 20 >= F.col("n_grams"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_flagged_bloom"),
            F.sum(
                F.when(F.col("n_exact") * 20 >= F.col("n_grams"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_flagged_exact"),
            F.sum("n_bloom").cast("bigint").alias("gram_hits_bloom"),
            F.sum("n_exact").cast("bigint").alias("gram_hits_exact"),
            F.sum(F.col("n_bloom") - F.col("n_exact"))
            .cast("bigint")
            .alias("false_positive_grams"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Token-budget prefix selection
# ---------------------------------------------------------------------------
@_register(
    "token_budget_selection",
    "budget-constrained selection: order documents by integer lexical-"
    "diversity score, keep the best prefix whose cumulative token count "
    "fits a 25%-of-corpus budget — global running sum via the banded "
    "block prefix-sum (per-band windows + tiny cumulated offset table; "
    "no corpus-sized single-partition window; "
    "operators.selection.budget_prefix_selection)",
    f"""
    with s as (
        select doc_id, source, len(t) as nt, len(list_distinct(t)) as nd
        from (select doc_id, source, {_SQL_TOKENS} as t from documents)
        where len(t) > 0
    ),
    scored as (select *, (1000000 * nd) // nt as score_micro from s),
    b as (select sum(nt) // 4 as budget from scored),
    run as (
        select *,
               sum(nt) over (order by score_micro desc, doc_id asc
                             rows between unbounded preceding
                             and current row) as running
        from scored
    ),
    sel as (select r.*, (running <= budget) as selected from run r, b)
    select source,
           count(*)                                              as n_docs,
           cast(sum(nt) as bigint)                               as total_tokens,
           cast(sum(case when selected then 1 else 0 end)
                as bigint)                                       as n_selected,
           cast(sum(case when selected then nt else 0 end)
                as bigint)                                       as tokens_selected
    from sel
    group by source
    order by source
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    toks = text.tokens("text")
    scored = (
        docs.select(
            "doc_id",
            "source",
            F.size(toks).cast("bigint").alias("nt"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("nd"),
        )
        .filter(F.col("nt") > 0)
        .withColumn("score_micro", F.expr("(1000000 * nd) div nt"))
        # three branches read the scored relation (running sums, band
        # totals, the budget scalar): materialize the tokenization once —
        # |docs| narrow rows — instead of re-tokenizing per branch
        .localCheckpoint(eager=True)
    )
    budget = scored.agg(F.expr("sum(nt) div 4").alias("budget"))
    sel = selection.budget_prefix_selection(
        scored, budget, id_col="doc_id", score_col="score_micro",
        weight_col="nt",
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("selected"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_selected"),
            F.sum(F.when(F.col("selected"), F.col("nt")).otherwise(0))
            .cast("bigint")
            .alias("tokens_selected"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Leakage-safe dataset split (near-dup clusters stay in one split)
# ---------------------------------------------------------------------------
@_register(
    "leakage_safe_split",
    "contamination-aware train/val/test split under the recall-"
    "preserving adaptive two-axis LSH geometry (round 8): near-dup "
    "clusters (adaptive candidates -> jaccard>=0.9 edges -> connected "
    "components) are assigned to splits BY COMPONENT, so no "
    "near-duplicate pair ever crosses a split boundary — certified "
    "in-plan by the cross_split_pairs column the engine computes from "
    "the actual edge set (the oracle pins the literal 0), with the "
    "geometry + planted-pair banding recall certified in-result",
    f"""
    with recursive
    {_sql_amh_prefix()},
    sh as (select doc_id, unnest(hs) as sh from hashed),
    sizes as (select doc_id, len(hs) as set_size from hashed),
    jac as (
        select p.id_a, p.id_b,
               count(*) * 1.0 / (sa.set_size + sb.set_size - count(*))
                   as jaccard
        from pairs p
        join sh a on a.doc_id = p.id_a
        join sh b on b.doc_id = p.id_b and b.sh = a.sh
        join sizes sa on sa.doc_id = p.id_a
        join sizes sb on sb.doc_id = p.id_b
        group by p.id_a, p.id_b, sa.set_size, sb.set_size
    ),
    edges as (
        select id_a, id_b from jac where jaccard >= 0.9
        union
        select id_b, id_a from jac where jaccard >= 0.9
    ),
    cc(id, label) as (
        select doc_id, doc_id from documents
        union
        select e.id_a, cc.label
        from cc join edges e on e.id_b = cc.id
        where cc.label < e.id_a
    ),
    comp as (
        select id as doc_id, cast(min(label) as bigint) as component
        from cc group by id
    ),
    assigned as (
        select doc_id, component,
               case when b < 9000 then 'train'
                    when b < 9500 then 'val'
                    else 'test' end as split
        from (select *,
                     ('0x' || substr(md5('leak'
                          || cast(component as varchar)), 1, 8))::ubigint
                         % 10000 as b
              from comp)
    ),
    per_split as (
        select a.split,
               count(*)                                   as n_docs,
               cast(count(distinct a.component) as bigint) as n_components,
               cast(sum(len({_SQL_TOKENS})) as bigint)     as total_tokens,
               cast(0 as bigint)                           as cross_split_pairs
        from assigned a join documents using (doc_id)
        group by a.split
    )
    select s.*, {_SQL_AMH_RESULT_COLS}
    from per_split s, geo g, cert
    order by s.split
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbt_datbricks_demo_spark.queries.inventory import _t_rowcount

    n = _t_rowcount(sf_dir, "documents")
    nh, nb, _r = dedup.adaptive_minhash_geometry(n)
    docs = _spread(_t(spark, sf_dir, "documents"))
    pairs = dedup.minhash_candidate_pairs(docs, "doc_id", num_hashes=nh, bands=nb)
    scored, _ = dedup.jaccard_pairs(docs, pairs, "doc_id")
    confirmed = scored.filter(F.col("jaccard") >= 0.9)
    # the edge set is read twice (components + the certification count):
    # one eager checkpoint, both branches read it — O(duplicate pairs)
    edges = confirmed.select("id_a", "id_b").localCheckpoint(eager=True)
    comp = dedup.connected_components(docs, edges, "doc_id").select(
        F.col("id").alias("doc_id"), "component"
    )
    assigned = comp.withColumn(
        "split",
        text.split_assignment(
            "component", {"train": 0.90, "val": 0.05, "test": 0.05},
            salt="leak",
        ),
    )
    # certification: count of confirmed near-dup edges whose endpoints
    # landed in different splits — zero by construction; the engine
    # COMPUTES it (the oracle pins the literal)
    sa = assigned.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("_sa")
    )
    sb = assigned.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("_sb")
    )
    leak = (
        edges.join(sa, "id_a")
        .join(sb, "id_b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_sa") != F.col("_sb"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("cross_split_pairs")
        )
    )
    per_split = (
        assigned.join(
            docs.select(
                "doc_id", F.size(text.tokens("text")).alias("_nt")
            ),
            "doc_id",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component").cast("bigint").alias("n_components"),
            F.sum("_nt").cast("bigint").alias("total_tokens"),
        )
    )
    return (
        per_split.crossJoin(F.broadcast(leak))
        .crossJoin(F.broadcast(_amh_geom_cert(docs, nh, nb)))
        .orderBy("split")
    )
