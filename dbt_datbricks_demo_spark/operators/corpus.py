"""End-to-end training-corpus cleaning pipeline — the composition the
individual operators exist for. One call takes a raw document table to a
training-ready corpus:

    1. exact dedup        — content-hash groupBy, lowest doc_id wins
    2. quality filter     — token count / punctuation ratio gates
    3. language filter    — stopword-heuristic language allowlist
    4. near-dup removal   — MinHash band candidates, exact-Jaccard
                            verification, drop the higher doc_id of each
                            confirmed pair (single-link, non-transitive:
                            chains A~B~C keep A and C — full clustering
                            needs an iterative connected-components pass,
                            out of one-query scope and documented as such).
                            num_hashes/bands default to the tier-0 fixed
                            geometry for ad-hoc corpora; the registered
                            capstone queries pass the adaptive two-axis
                            geometry keyed off the ingest rowcount
                            (dedup.adaptive_minhash_geometry — round 9:
                            with the geometry fixed, candidate pairs grew
                            quadratically, 1.4M at x30, and the Jaccard
                            verification stage dominated the capstones)

Shuffle budget (see SCALE.md): one content-hash exchange (1), narrow
scans (2, 3), the band-pair exchange + AQE-planned Jaccard verification
joins (4) — broadcast at runtime when the candidate set is small,
shuffled when it is not. The corpus bodies shuffle exactly once —
everything else moves digests and ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.functions import broadcast_if_small, loose_bound
from dbt_datbricks_demo_spark.operators import dedup, text


# gate columns clean_corpus_staged keeps on its output: the language
# and whitespace-token count the quality/language gate computed
GATE_LANG_COL = "_gate_lang"
GATE_TOKENS_COL = "_gate_n_tokens"


def clean_corpus(docs: DataFrame, /, **kwargs) -> DataFrame:
    """Return the cleaned corpus (original columns preserved).

    kwargs are clean_corpus_staged's keyword parameters (id_col,
    text_col, min_tokens, max_punct_ratio, allowed_langs, shingle_k,
    num_hashes, bands, jaccard_threshold, corpus_rows); see its
    docstring. This is clean_corpus_staged without the gate columns."""
    return clean_corpus_staged(docs, **kwargs).drop(
        GATE_LANG_COL, GATE_TOKENS_COL
    )


def clean_corpus_staged(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_punct_ratio: float = 0.2,
    allowed_langs: tuple[str, ...] = ("en", "de", "es", "fr"),
    num_hashes: int = 8,
    bands: int = 2,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.9,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Return the cleaned corpus (original columns preserved) plus the
    gate's predicted language (GATE_LANG_COL) and whitespace-token
    count (GATE_TOKENS_COL). The gate computes both anyway, so a
    consumer that reports per language or counts tokens
    (corpus_stats_staged) reads them instead of re-running the
    tokenizer and the 5-language regex score over every surviving
    document.

    The gate's input is materialized with the two columns staged (lazy
    localCheckpoint; on a real pipeline: write it to storage) and the
    gate filters the materialized columns — the near-dup stage reads
    the gated corpus from 4 plan branches, and without materialization
    each branch re-runs the regex-heavy language/quality gates. (A
    filter over computed columns placed above their projection is
    pushed below it with the expressions substituted, which would
    score the language twice per row.) The language is only scored for
    rows that pass the quality gate (NULL otherwise, which the
    allowlist drops).

    corpus_rows: caller-known upper bound on |docs| (parquet footer /
    metastore stats). Both loser sets (exact-dup losers, near-dup
    losers) are bounded by it, so a bound under the broadcast limit
    (functions.broadcast_if_small) skips their count jobs.

    Eager jobs: the candidate pairs are checkpointed and counted in ONE
    action (dedup.jaccard_pairs) whose count feeds both broadcast guards
    of the near-dup verification; the candidate hash arrays are the
    one other eager checkpoint. Without a corpus_rows bound the two
    loser sets add one count action each."""
    # 1. exact dedup
    deduped = dedup.exact_dedup(docs, [text_col], id_col, row_bound=corpus_rows)

    # 2 + 3. quality and language gates — one narrow pass
    n_tokens = F.size(text.tokens(text_col))
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    quality_ok = (n_tokens >= min_tokens) & (
        (n_punct * 1.0 / F.nullif(F.length(text_col), F.lit(0)))
        <= max_punct_ratio
    )
    staged = deduped.select(
        "*",
        F.when(quality_ok, text.predict_lang(text_col)).alias(GATE_LANG_COL),
        n_tokens.alias(GATE_TOKENS_COL),
    ).localCheckpoint(eager=False)
    gated = staged.filter(F.col(GATE_LANG_COL).isin(*allowed_langs))

    # 4. near-dup removal among the survivors: the corpus-wide pass is
    # the row-level codegen shingle path (explode → md5 per row →
    # partial-agged minhash); interpreted array lambdas only run on the
    # candidate subset (see dedup.shingle_hash_rows docstring)
    pairs = dedup.minhash_candidate_pairs(
        gated, id_col, text_col, num_hashes, bands, shingle_k
    )
    confirmed, _ = dedup.jaccard_pairs(gated, pairs, id_col, text_col, shingle_k)
    # losers is O(confirmed duplicate pairs) but DISTINCT ids, so it is
    # also bounded by |docs| (the loser subtree reads the pairs/hash
    # checkpoints, so the broadcast build is small)
    losers = (
        confirmed.filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return gated.join(
        broadcast_if_small(losers, loose_bound(corpus_rows)),
        on=id_col,
        how="left_anti",
    )


def prepare_training_set(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_top_bigram_frac: float = 0.2,
    max_dup_5gram_frac: float = 0.3,
    splits: dict[str, float] | None = None,
    decontam_n: int = 3,
    decontam_threshold: float = 0.05,
    **clean_kwargs,
) -> DataFrame:
    """The full raw-corpus → training-set composition:

        1. clean_corpus       — exact dedup, quality/language gates,
                                MinHash near-dup removal
        2. repetition gate    — drop boilerplate (top-bigram coverage /
                                duplicate-5-gram fraction thresholds)
        3. deterministic split— md5-hash train/val/test assignment
        4. decontamination    — drop train/val documents whose word
                                n-grams overlap the TEST split (the
                                held-out benchmark must not leak into
                                the training mixture)

    Returns the surviving documents with a `split` column. The cleaned
    corpus with repetition stats + split is eagerly materialized ONCE
    (localCheckpoint below) because the repetition gate and the
    decontamination stage read it from several plan branches.

    Shuffle budget on top of clean_corpus's: the benchmark n-gram
    distinct (O(|test split|)) and the contamination hits aggregation
    (O(overlapping grams)) — repetition/split/gates are narrow.
    """
    from dbt_datbricks_demo_spark.operators import decontam

    splits = splits or {"train": 0.90, "val": 0.05, "test": 0.05}
    test_name = list(splits)[-1]

    cleaned = clean_corpus(docs, id_col=id_col, text_col=text_col, **clean_kwargs)
    # EAGER checkpoint BEFORE the repetition-gate filter: everything
    # upstream (dedup → gates → near-dup → repetition stats → split)
    # collapses to one materialized relation here, and — critically —
    # the gate then filters on MATERIALIZED stat columns. Filtering on
    # the computed columns pre-checkpoint lets predicate pushdown
    # substitute the full tokenize+n-gram alias trees into the filter
    # condition (each staged-column reference re-derives the arrays),
    # measured at 20× the single-evaluation cost at sf0.1. The three
    # downstream consumers (benchmark grams, contamination hits, final
    # union) all plan against the checkpoint — at corpus scale this is
    # also exactly where a real pipeline writes its intermediate table.
    stats = (
        text.with_repetition_stats(cleaned, text_col=text_col)
        .withColumn("split", text.split_assignment(id_col, splits))
        .localCheckpoint(eager=True)
    )
    # n_tokens stays on the output (optimization round 13): it is
    # materialized in the checkpoint and equals size(tokens(text)) by
    # construction, so consumers that only need token counts (the
    # training_set_report packing aggregate) read the staged column
    # instead of re-running the tokenizer over every surviving
    # document in the final job (guide §2.2 — don't recompute what a
    # materialization already holds).
    assigned = stats.filter(
        (F.col("top_bigram_frac") <= max_top_bigram_frac)
        & (F.col("dup_5gram_frac") <= max_dup_5gram_frac)
    ).drop("top_bigram_frac", "top_trigram_frac", "dup_5gram_frac")

    bench_docs = assigned.filter(F.col("split") == test_name)
    # flagged ids are bounded by |docs|: the caller-known corpus_rows
    # bound (already used for the loser broadcasts in clean_corpus)
    # bounds their broadcast too — without the hint the planner's
    # unknown-size estimate plans a sort-merge anti-join whose
    # trainval-side exchange AQE coalesces to one partition, pushing
    # the final union + packing aggregation of the whole surviving
    # corpus into a single task (same defect as candidate_hash_arrays,
    # measured round 13).
    trainval = decontam.decontaminate(
        assigned.filter(F.col("split") != test_name),
        bench_docs,
        text_col=text_col,
        id_col=id_col,
        n=decontam_n,
        flag_threshold=decontam_threshold,
        flagged_bound=loose_bound(clean_kwargs.get("corpus_rows")),
    )
    return trainval.unionByName(bench_docs)


def corpus_stats(
    cleaned: DataFrame, lang_col_expr=None, text_col: str = "text"
) -> DataFrame:
    """Training-readiness report: per predicted language, document count,
    total/mean whitespace tokens and total BPE-ish tokens."""
    lang = lang_col_expr if lang_col_expr is not None else text.predict_lang(text_col)
    return _stats_by_lang(cleaned, lang, F.size(text.tokens(text_col)), text_col)


def corpus_stats_staged(staged: DataFrame, text_col: str = "text") -> DataFrame:
    """corpus_stats over clean_corpus_staged output: the language and
    whitespace-token count come from the gate columns, so neither the
    tokenizer nor the language score runs again."""
    return _stats_by_lang(
        staged, F.col(GATE_LANG_COL), F.col(GATE_TOKENS_COL), text_col
    )


def _stats_by_lang(cleaned: DataFrame, lang, n_tokens, text_col: str) -> DataFrame:
    return (
        cleaned.select(
            lang.alias("lang"),
            n_tokens.alias("n_tokens"),
            text.bpe_token_count(text_col).alias("n_bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens") * 1.0 / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
    )
