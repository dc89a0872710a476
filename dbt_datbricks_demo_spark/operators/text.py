"""Text analysis operators: tokenization, quality scoring, language ID,
token counting, document fingerprinting.

All pure built-in expressions (split/regexp/aggregate) — JVM-side,
whole-stage codegen, no Python in the hot path. At 100 TB these run as a
single narrow scan per document partition with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Whitespace tokenizer applied to trimmed, lowercased text. Kept
# deliberately simple so it is reproducible in any engine (oracle parity).
TOKEN_SPLIT_RE = r"\s+"

# BPE-ish lexer classes: letter runs, digit runs, single non-alnum marks.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Word-boundary regexes; extend per deployment.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "los", "que", "es", "una"],
    "fr": ["le", "la", "les", "est", "une"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), TOKEN_SPLIT_RE)


def bpe_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish lexer (letters/digits/punct marks)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def stopword_count(col: Column | str, lang: str = "en") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    return F.regexp_count(F.lower(c), F.lit(pat))


def quality_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features: char/token counts, mean token length,
    punctuation and stopword ratios. Ratios are exact integer quotients
    (deterministic across engines)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_stop = stopword_count(t)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        # sum of token lengths / token count — exact int ratio
        (
            F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
            * 1.0
            / F.nullif(n_tokens, F.lit(0))
        ).alias("avg_token_len"),
        (n_punct * 1.0 / F.nullif(n_chars, F.lit(0))).alias("punct_ratio"),
        (n_stop * 1.0 / F.nullif(n_tokens, F.lit(0))).alias("stopword_ratio"),
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Stopword-hit score per candidate language + a CJK character count."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    scores = {lang: stopword_count(c, lang) for lang in LANG_STOPWORDS}
    scores["zh"] = F.regexp_count(c, F.lit(r"[一-鿿]"))
    return scores


def predict_lang(col: Column | str) -> Column:
    """Argmax over language scores; ties resolve in fixed lang order;
    all-zero scores → 'unknown'.

    Passing the column NAME (str) builds the whole CASE tree as one
    JVM-parsed expression: the Column form constructs ~15 regexp_count
    subtrees over py4j and re-analyzes per consumer — measured ~0.5 s
    of driver time per clean_corpus build."""
    if isinstance(col, str):
        order = ["en", "de", "es", "fr", "zh"]
        pats = {
            lang: r"\\b(" + "|".join(words) + r")\\b"
            for lang, words in LANG_STOPWORDS.items()
        }
        pats["zh"] = "[一-鿿]"
        score = {
            lang: f"regexp_count(lower({col}), '{pats[lang]}')"
            for lang in order
        }
        g = "greatest(" + ", ".join(score[lang] for lang in order) + ")"
        whens = " ".join(
            f"when {score[lang]} > 0 and {score[lang]} = {g} then '{lang}'"
            for lang in order
        )
        return F.expr(f"case {whens} else 'unknown' end")
    scores = lang_scores(col)
    order = ["en", "de", "es", "fr", "zh"]
    best = F.greatest(*[scores[lang] for lang in order])
    result = F.lit("unknown")
    # build the chain back-to-front so earlier languages win ties
    for lang in reversed(order):
        result = F.when((scores[lang] > 0) & (scores[lang] == best), lang).otherwise(
            result
        )
    return result


def with_word_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 2, out: str = "_ngrams"
) -> DataFrame:
    """Stage the distinct word n-gram set (space-joined) as a column —
    the unit set for word-level Jaccard similarity. Tokens are staged
    first so the per-gram lambda reads an attribute, not a recomputed
    tokenization. Documents with fewer than n tokens get an empty set."""
    tok_col = f"_tok_{out}"
    staged = df.withColumn(tok_col, tokens(text_col))
    t = F.col(tok_col)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j) for j in range(n)]
    )
    grams = F.when(
        F.size(t) >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(t) - (n - 1)), gram)
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.withColumn(out, grams).drop(tok_col)


def word_ngrams_all(tok_col: Column, n: int) -> Column:
    """All (non-distinct) space-joined word n-grams of a staged token
    array. Counting multiplicity is the point — callers measure
    repetition, so `with_word_ngrams`'s array_distinct would erase the
    signal. Empty array when the document has fewer than n tokens."""
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tok_col, i + j) for j in range(n)]
    )
    return F.when(
        F.size(tok_col) >= n,
        F.transform(F.sequence(F.lit(1), F.size(tok_col) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def word_gram_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    pos_col: str | None = None,
) -> DataFrame:
    """(id[, pos], gram) ROWS — one row per word n-gram occurrence — via
    position-explode + row-level slice/concat. This is the whole-stage-
    codegen form of the word-gram pass, the exact analog of
    `dedup.shingle_hash_rows` for character shingles: building the gram
    ARRAY with a transform() lambda runs in Catalyst's interpreted
    higher-order-function walker, whose wall time is a per-JVM JIT-
    profile lottery (the measured bimodal 3 s / 15 s mode of the
    near-dup family, and the round-4 warm-spread flags on the
    gram-explode trio). Exploding the POSITION sequence instead and
    computing `concat_ws(' ', slice(t, pos, n))` per row keeps every
    expression inside the stage's generated code.

    The explode is NARROW (no shuffle); docs with fewer than n tokens
    produce no rows (the empty-sequence guard avoids the descending
    sequence(1, 0) pitfall). `pos` is the 1-based start token position,
    included only when pos_col is given."""
    staged = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_t"))
    seq = F.when(
        F.size("_t") >= n,
        F.sequence(F.lit(1), F.size("_t") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    ex = staged.select("id", "_t", F.explode(seq).alias("_p"))
    gram = F.concat_ws(" ", F.slice(F.col("_t"), F.col("_p"), n))
    cols = [F.col("id")]
    if pos_col:
        cols.append(F.col("_p").alias(pos_col))
    return ex.select(*cols, gram.alias("gram"))


def top_run_count(arr: Column) -> Column:
    """Multiplicity of the most frequent element: sort the array, then a
    single aggregate() pass tracks the current run length and the best
    seen. O(n log n) per row, pure JVM expression — no explode, no
    shuffle, no Python. 0 for an empty array."""
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(F.array_sort(arr), acc0, step, lambda acc: acc["best"])


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition features (Rae et al. 2021
    §A1.1, re-expressed for token n-grams) APPENDED to the input:
    n_tokens, the fraction of the document covered by its single most
    frequent 2-gram / 3-gram, and the fraction of 5-grams that are
    repeats of an earlier 5-gram. High values mean boilerplate /
    template spam — standard pre-training corpus filters.

    Plan shape: token and n-gram arrays are STAGED as real columns
    (one projection each) so CollapseProject cannot inline the
    tokenization into every consumer; the whole computation is a single
    narrow scan — zero shuffles, zero Python. Fractions are NULL when the
    document is too short to have grams of that order.

    Pitfall: do NOT put a plain ``.filter`` on the output fraction
    columns directly on top of this — predicate pushdown substitutes the
    staged-alias trees into the condition and every reference re-derives
    the token/n-gram arrays (measured ~20× at sf0.1). Materialize first
    (localCheckpoint / table write), then filter — see
    corpus.prepare_training_set.
    """
    t = F.col("_rep_tok")
    staged = df.withColumn("_rep_tok", tokens(text_col))
    for n, name in ((2, "_rep_g2"), (3, "_rep_g3"), (5, "_rep_g5")):
        staged = staged.withColumn(name, word_ngrams_all(t, n))
    g2, g3, g5 = F.col("_rep_g2"), F.col("_rep_g3"), F.col("_rep_g5")
    return staged.withColumns(
        {
            "n_tokens": F.size(t),
            "top_bigram_frac": top_run_count(g2) * 1.0
            / F.nullif(F.size(g2).cast("bigint"), F.lit(0)),
            "top_trigram_frac": top_run_count(g3) * 1.0
            / F.nullif(F.size(g3).cast("bigint"), F.lit(0)),
            "dup_5gram_frac": (F.size(g5) - F.size(F.array_distinct(g5)))
            * 1.0
            / F.nullif(F.size(g5).cast("bigint"), F.lit(0)),
        }
    ).drop("_rep_tok", "_rep_g2", "_rep_g3", "_rep_g5")


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition report: id + the with_repetition_stats
    feature columns only."""
    return with_repetition_stats(df, text_col=text_col).select(
        id_col,
        "n_tokens",
        "top_bigram_frac",
        "top_trigram_frac",
        "dup_5gram_frac",
    )


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set. Detects bag-of-words-identical documents regardless of
    word order — the batch analog of a rolling-hash content signature."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def split_assignment(
    id_col: Column | str,
    fractions: dict[str, float],
    salt: str = "split",
    mod: int = 10_000,
) -> Column:
    """Deterministic dataset split (train/val/test …) by content-free id
    hash: md5(salt || id) mod `mod` lands in cumulative fraction ranges.
    Stable across runs, engines and partitionings — every engine that can
    md5 assigns every row to the same split; changing `salt` reshuffles.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 8), 16, 10
    ).cast("bigint") % mod
    out = None
    acc = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        acc += frac
        cond = bucket < int(round(acc * mod))
        out = F.when(cond, name) if out is None else out.when(cond, name)
    last = items[-1][0]
    return (out.otherwise(last)) if out is not None else F.lit(last)


# ---------------------------------------------------------------------------
# Unigram language-model perplexity (model-based quality scoring)
# ---------------------------------------------------------------------------
# The classic perplexity-filtering step of web-corpus curation (CCNet
# et al.) scores documents with a language model; the in-engine analog
# is a unigram LM trained on the corpus itself in one aggregation pass.
# Reference scope note: the reference has no LM scoring — this extends
# its quality-test surface (SURVEY §2 F-family filters) with the
# standard curation operator.


def unigram_doc_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document average negative log-likelihood (nats/token) under
    an add-one-smoothed corpus unigram LM: p(w) = (c(w)+1) / (N+V).

    Shape at scale: the corpus is tokenized ONCE — the model re-aggregates
    the (doc, term) tf table (cnt = sum of per-doc tf, identical integers
    to a direct token count) instead of running a second explode over the
    text, so the heaviest pass (tokenize + explode) is paid once; both
    shuffles stay partial-agg-absorbed and they join on term (AQE picks
    broadcast only if the vocab fits); the N+V totals attach as a one-row
    broadcast. No per-row subqueries, no driver-side model materialization.
    avg_nll is rounded to 6 dp (module determinism convention: the
    per-doc double fold is order-dependent in its low bits)."""
    tf = (
        df.select(
            F.col(id_col), *[F.col(c) for c in keep_cols],
            F.explode(tokens(text_col)).alias("term"),
        )
        .groupBy(id_col, *keep_cols, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    model = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("cnt"))
    tot = model.agg(
        F.sum("cnt").cast("double").alias("_n"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    nll_term = -F.col("tf") * F.log(
        (F.col("cnt") + F.lit(1)) / (F.col("_n") + F.col("_v"))
    )
    return (
        tf.join(model, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col, *keep_cols)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tok"),
            F.round(F.sum(nll_term) / F.sum("tf"), 6).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib proxy for repetitive/templated
# text — highly compressible documents are boilerplate candidates; the
# heuristic family of Gopher/RefinedWeb quality filters)
# ---------------------------------------------------------------------------
def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio via Arrow mapInPandas:
    (compressed bytes / raw bytes) in exact integer micro-units. Python
    zlib is the only compressor available in-engine, so this is a
    documented rows-only operator (DuckDB has no zlib — no SQL oracle);
    determinism holds within one environment (fixed level, same zlib),
    which is what the pytest laws pin. Batch-bounded: one pass, no
    shuffle before the caller's aggregation."""
    import zlib

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("raw_bytes", LongType()),
            StructField("compressed_bytes", LongType()),
            StructField("ratio_micro", LongType()),
        ]
    )

    def compress(batches):
        for pdf in batches:
            # NULL text arrives as None/NaN in the Arrow batch — treat it
            # as the empty document (raw_bytes 0, ratio guard below),
            # matching the SQL-side operators' null tolerance instead of
            # failing the whole job on .encode of None
            raw = pdf[text_col].map(
                lambda s: (s if isinstance(s, str) else "").encode("utf-8")
            )
            rb = raw.map(len)
            cb = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "raw_bytes": rb.astype("int64"),
                    "compressed_bytes": cb.astype("int64"),
                    "ratio_micro": (
                        cb * 1_000_000 // rb.where(rb > 0, 1)
                    ).astype("int64"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        compress, schema
    )


# ---------------------------------------------------------------------------
# ExactSubstr duplicated-span REMOVAL (the operational form of Lee et
# al. 2022 — duplicate_gram_stats measures the mass, this op rewrites
# the documents with the duplicated spans cut out)
# ---------------------------------------------------------------------------
def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    hot_gram_docs: int | None = None,
    hot_grams: bool | None = None,
) -> DataFrame:
    """Rewrite each document with its corpus-duplicated spans removed
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", the ExactSubstr deduplication the paper applies before
    training). The paper's suffix array globalizes to Spark exactly like
    `dedup.duplicate_gram_stats`: a word n-gram occurring >= 2 times
    corpus-wide marks a duplicated span, and every token position the
    gram covers is cut from the rewritten text.

    Entirely in-plan, one corpus gram explode, no corpus self-join:

    1. explode the gram POSITION sequence once (word_gram_rows — the
       row-level whole-stage-codegen gram pass), carrying the 1-based
       start position and a 60-bit md5 gram digest (16-byte shuffle
       rows; the oracle computes the same digest so any collision is
       deterministic and identical in both engines).
    2. groupBy (id, digest) with collect_list(position) — the
       combiner-safe partial aggregate, so within-doc boilerplate
       repeats collapse map-side — then corpus totals via ONE window
       over the digest on that reduced stream (same residual skew bound
       as duplicate_gram_stats: one row per distinct doc per gram; the
       same sampled hot-gram probe auto-switches the window to the
       combiner-safe groupBy + join-back shape when one gram spans more
       than ``hot_gram_docs`` distinct docs — see
       dedup.hot_gram_probe / dedup.attach_gram_totals, pinned both
       ways by tests/test_skew.py).
    3. Duplicated gram positions expand to covered token indices
       (explodes over the DUPLICATE-bounded stream only), dedup via the
       map-side-combining collect_set per doc, sorted.
    4. Contiguous covered indices merge to spans by pure array
       arithmetic (adjacent-difference > 1 counts a new span — no
       per-doc window), and the rewritten text is the original token
       stream filtered by index and re-joined with single spaces.

    Output text is NORMALIZED (trimmed, lowercased, single-spaced) —
    the same `tokens()` convention every other text operator and its
    SQL oracle share; the paper operates on raw bytes, which a
    distributed engine cannot reassemble after whitespace-insensitive
    tokenization. Token membership checks are array_contains over the
    per-doc covered set: O(tokens x covered) per row worst case, fine
    for document-sized arrays and zero extra shuffles.

    Returns one row per input document with non-null text:
    (id, clean_text, n_spans_removed, tokens_total, tokens_removed,
    tokens_kept, chars_kept, chars_removed). Docs shorter than n tokens
    pass through unchanged with zero counters.
    """
    nn = df.filter(F.col(text_col).isNotNull())
    staged = nn.select(F.col(id_col).alias("id"), tokens(text_col).alias("t"))
    gh = F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast(
        "bigint"
    )
    # row-level codegen gram pass — see word_gram_rows on why no
    # transform() lambda touches the corpus stream
    ex = word_gram_rows(nn, id_col, text_col, n, pos_col="pos").select(
        "id", "pos", gh.alias("gh")
    )
    per_doc_gram = ex.groupBy("id", "gh").agg(
        F.collect_list("pos").alias("poss"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    from dbt_datbricks_demo_spark.operators.dedup import (
        HOT_GRAM_DOC_FREQ,
        attach_gram_totals,
        hot_gram_probe,
    )

    if hot_grams is None:
        hot_grams = hot_gram_probe(
            nn, id_col, text_col, n, hot_gram_docs or HOT_GRAM_DOC_FREQ
        )
    dup = attach_gram_totals(per_doc_gram, hot_grams).filter(
        F.col("total") >= 2
    )
    covered = dup.select("id", F.explode("poss").alias("p")).select(
        "id", F.explode(F.sequence(F.col("p"), F.col("p") + (n - 1))).alias("idx")
    )
    # collect_set dedups map-side (no separate distinct shuffle)
    cov = covered.groupBy("id").agg(
        F.sort_array(F.collect_set("idx")).alias("cov")
    )
    # spans = 1 + number of gaps between adjacent covered indices;
    # greatest() keeps slice lengths non-negative for the 0/1-element
    # cases (both branches of a CASE reach codegen)
    tail = F.slice(F.col("cov"), 2, F.greatest(F.size("cov") - 1, F.lit(0)))
    head = F.slice(F.col("cov"), 1, F.greatest(F.size("cov") - 1, F.lit(0)))
    gaps = F.aggregate(
        F.zip_with(
            tail, head,
            lambda a, b: F.when(a - b > 1, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    cov = cov.select(
        "id", "cov",
        F.when(F.size("cov") == 0, 0).otherwise(1 + gaps)
        .cast("bigint").alias("n_spans_removed"),
    )
    out = staged.join(cov, "id", "left").withColumn(
        "cov", F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("t"), lambda x, i: ~F.array_contains(F.col("cov"), i + 1)
    )
    clean = F.concat_ws(" ", kept)
    norm = F.concat_ws(" ", F.col("t"))
    return out.select(
        F.col("id").alias(id_col),
        clean.alias("clean_text"),
        F.coalesce(F.col("n_spans_removed"), F.lit(0).cast("bigint")).alias(
            "n_spans_removed"
        ),
        F.size("t").cast("bigint").alias("tokens_total"),
        F.size("cov").cast("bigint").alias("tokens_removed"),
        (F.size("t") - F.size("cov")).cast("bigint").alias("tokens_kept"),
        F.length(clean).cast("bigint").alias("chars_kept"),
        (F.length(norm) - F.length(clean)).cast("bigint").alias(
            "chars_removed"
        ),
    )


# ---------------------------------------------------------------------------
# Bigram LM with stupid backoff (held-out scoring)
# ---------------------------------------------------------------------------


def bigram_backoff_nll(
    df: DataFrame,
    is_train: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document NLL of HELD-OUT documents under a stupid-backoff
    bigram LM (Brants et al. 2007) trained on the `is_train` rows:

        S(w2 | w1) = c(w1 w2) / c(w1)                 if c(w1 w2) > 0
                   = alpha * (c(w2) + 1) / (N + V)     otherwise

    (the backoff leg is add-one smoothed so unseen w2 stays finite).
    Train/score separation is what makes backoff real: a model trained
    on the scored corpus itself never backs off.

    Shape at scale: bigram + unigram models are partial-agg-absorbed
    groupBys over the train split; scoring joins the held-out (doc,
    w1, w2, tf) table to the bigram model on (w1, w2) and to the
    unigram model on each side — vocabulary-sized join keys, AQE picks
    broadcast only if the model fits; N+V attach as a one-row
    broadcast. No driver-side model, no Python. Determinism: counts
    are exact integers; ln() of identical IEEE quotients folds per doc
    and rounds to 6 dp (module convention). Returns (id, keep_cols,
    n_trans, n_backoff, avg_nll)."""
    staged = df.withColumn("_train", is_train)
    # ONE tokenize feeds the unigram model, the bigram model AND the
    # held-out scoring: the materialized stream carries every token
    # position exactly once (w1 = token i; w2 = token i+1, NULL at the
    # doc's last position), so unigram counts are group-by-w1 over ALL
    # rows while the bigram legs filter w2 IS NOT NULL — no second
    # tokenize scan of the corpus. Null text tokenizes to a NULL array
    # (size -1): the size >= 1 guard emits no rows for it, exactly like
    # the explode it replaces; empty text still yields its one ""
    # token.
    t = tokens(text_col)
    stream = (
        staged.select(
            F.col(id_col), *[F.col(c) for c in keep_cols],
            F.col("_train"), t.alias("_t"),
        )
        .filter(F.size("_t") >= 1)
        .select(
            id_col, *keep_cols, "_train",
            F.explode(F.sequence(F.lit(1), F.size("_t"))).alias("_i"),
            F.col("_t"),
        )
        .select(
            id_col, *keep_cols, "_train",
            F.element_at("_t", F.col("_i")).alias("w1"),
            F.when(
                F.col("_i") < F.size("_t"),
                F.element_at("_t", F.col("_i") + 1),
            ).alias("w2"),
        )
        .localCheckpoint(eager=True)
    )
    uni = (
        stream.filter(F.col("_train"))
        .groupBy(F.col("w1").alias("term"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_uni"))
    )
    tot = uni.agg(
        F.sum("c_uni").cast("double").alias("_n"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    big = (
        stream.filter(F.col("_train") & F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_big"))
    )
    tf = (
        stream.filter(~F.col("_train") & F.col("w2").isNotNull())
        .groupBy(id_col, *keep_cols, "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("c_uni").alias("c_w1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c_uni").alias("c_w2"))
    seen = F.col("c_big").isNotNull()
    p_seen = F.col("c_big").cast("double") / F.col("c_w1").cast("double")
    p_back = (
        F.lit(float(alpha))
        * ((F.coalesce(F.col("c_w2"), F.lit(0)) + F.lit(1)).cast("double")
           / (F.col("_n") + F.col("_v")))
    )
    nll_term = -F.col("tf") * F.log(F.when(seen, p_seen).otherwise(p_back))
    return (
        tf.join(big, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col, *keep_cols)
        .agg(
            F.sum("tf").cast("bigint").alias("n_trans"),
            F.sum(F.when(seen, F.lit(0)).otherwise(F.col("tf")))
            .cast("bigint")
            .alias("n_backoff"),
            F.round(F.sum(nll_term) / F.sum("tf"), 6).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (byte-pair-encoding tokenizer construction)
# ---------------------------------------------------------------------------
def bpe_symbols_from_vocab(vocab: DataFrame) -> DataFrame:
    """(word, freq, pos, sym) rows from a (word, freq) vocabulary:
    single-character symbols with a trailing '_' end-of-word marker —
    BPE's working representation. Vocabulary-sized."""
    return vocab.select(
        "word",
        "freq",
        F.explode(F.sequence(F.lit(1), F.length("word") + 1)).alias("pos"),
    ).select(
        "word",
        "freq",
        "pos",
        F.when(
            F.col("pos") <= F.length("word"),
            F.expr("substring(word, pos, 1)"),
        )
        .otherwise(F.lit("_"))
        .alias("sym"),
    )


def bpe_initial_symbols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """bpe_symbols_from_vocab over the corpus vocabulary — ONE corpus
    aggregation pass; everything after is vocabulary-sized."""
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return bpe_symbols_from_vocab(vocab)


def bpe_merge_round(
    srows: DataFrame, checkpoint_best: bool = True
) -> tuple[DataFrame, DataFrame]:
    """One BPE training round on (word, freq, pos, sym) rows: count
    adjacent symbol pairs weighted by word frequency, pick the most
    frequent (ties by (s1, s2) — deterministic), and merge its
    occurrences LEFT-TO-RIGHT NON-OVERLAPPING in every word. The
    overlap case (s1 == s2 in a run like [a,a,a]) is handled by
    gaps-and-islands parity: matches group into consecutive islands
    (pos − running-match-count is constant within one) and only even
    island offsets start a merge — exactly the sequential semantics of
    the reference BPE implementations, but expressed as window
    arithmetic both engines (and the SQL oracle) compute identically.
    Returns (best — one row (s1, s2, pair_freq) —, merged symbol rows).

    Scale shape: every relation here is VOCABULARY-sized (distinct
    words), not corpus-sized; windows partition by word (bounded
    frames). The caller checkpoints between rounds — each round is a
    genuine sequential dependency, like doremi_weights' steps."""
    from pyspark.sql import Window

    w_ord = Window.partitionBy("word").orderBy("pos")
    paired = srows.withColumn("nxt", F.lead("sym").over(w_ord))
    best = (
        paired.filter(F.col("nxt").isNotNull())
        .groupBy("sym", "nxt")
        .agg(F.sum("freq").cast("bigint").alias("pair_freq"))
        .orderBy(F.desc("pair_freq"), F.asc("sym"), F.asc("nxt"))
        .limit(1)
        .select(
            F.col("sym").alias("s1"), F.col("nxt").alias("s2"), "pair_freq"
        )
    )
    # training reads `best` twice (merge + report row) → checkpoint;
    # application reads it once — the eager checkpoint there is a pure
    # job-round-trip cost on a 1-row relation (measured ~0.5-1.5 s/round
    # of the encode query's wall time)
    if checkpoint_best:
        best = best.localCheckpoint(eager=True)
    m = (
        paired.crossJoin(F.broadcast(best))
        .withColumn(
            "match", (F.col("sym") == F.col("s1")) & (F.col("nxt") == F.col("s2"))
        )
        .withColumn(
            "mrank",
            F.sum(F.when(F.col("match"), 1).otherwise(0)).over(w_ord),
        )
        .withColumn(
            "island", F.when(F.col("match"), F.col("pos") - F.col("mrank"))
        )
    )
    w_isl = Window.partitionBy("word", "island").orderBy("pos")
    m = m.withColumn(
        "ioff", F.when(F.col("match"), F.row_number().over(w_isl) - 1)
    ).withColumn(
        "mstart", F.col("match") & (F.col("ioff") % 2 == 0)
    ).withColumn(
        "consumed", F.coalesce(F.lag("mstart").over(w_ord), F.lit(False))
    )
    merged = (
        m.filter(~F.col("consumed"))
        .select(
            "word",
            "freq",
            F.row_number().over(w_ord).alias("pos"),
            F.when(F.col("mstart"), F.concat(F.col("s1"), F.col("s2")))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )
    return best, merged


def bpe_train_merges(
    df: DataFrame, rounds: int = 3, text_col: str = "text"
) -> DataFrame:
    """Train `rounds` BPE merges on the corpus (Sennrich et al. 2016):
    returns one row per learned merge — (step, s1, s2, merged,
    pair_freq, corpus_symbols_after), where corpus_symbols_after is the
    frequency-weighted total symbol count (the compression curve a
    tokenizer build monitors). The corpus contributes one vocabulary
    aggregation pass; the merge loop runs on the vocabulary-sized
    symbol table, checkpointed between genuinely sequential rounds."""
    from functools import reduce

    srows = bpe_initial_symbols(df, text_col).localCheckpoint(eager=True)
    reports = []
    for t in range(1, rounds + 1):
        best, merged = bpe_merge_round(srows)
        srows = merged.localCheckpoint(eager=True)
        after = srows.agg(
            F.sum("freq").cast("bigint").alias("corpus_symbols_after")
        )
        reports.append(
            best.select(
                F.lit(t).alias("step"),
                "s1",
                "s2",
                F.concat(F.col("s1"), F.col("s2")).alias("merged"),
                "pair_freq",
            ).crossJoin(F.broadcast(after))
        )
    return reduce(DataFrame.unionAll, reports).orderBy("step")


def bpe_apply(
    df: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Apply `rounds` of trained BPE merges: re-runs the training loop
    (deterministic, so train-then-apply equals train+apply — the same
    property the standing-index queries rely on) and returns the final
    per-word segmentation as (word, freq, n_syms) — the vocabulary-
    sized table a corpus join consumes to measure realized compression.
    In production the merge table persists and application is a lookup;
    here the loop re-derives it to stay self-contained. Pass `vocab`
    (a (word, freq) DataFrame) when the caller already aggregated the
    corpus — application then adds ZERO corpus passes of its own."""
    if vocab is not None:
        srows = bpe_symbols_from_vocab(vocab).localCheckpoint(eager=True)
    else:
        srows = bpe_initial_symbols(df, text_col).localCheckpoint(eager=True)
    for _ in range(rounds):
        _best, merged = bpe_merge_round(srows, checkpoint_best=False)
        srows = merged.localCheckpoint(eager=True)
    return srows.groupBy("word", "freq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_syms")
    )
