"""Property-based tests (hypothesis): the hash/fingerprint operators
must agree with independent Python references on arbitrary inputs, and
the dedup/aggregate operators must satisfy their algebraic laws.

Each example generates a BATCH of rows and runs one Spark job over the
batch — one JVM roundtrip per example, not per row."""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.functions import NULL_SENTINEL, surrogate_key
from dbt_datbricks_demo_spark.operators import dedup

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# ASCII text: the properties target fold/signature logic, not Unicode
# whitespace semantics (Java's \s and trim are ASCII-only while Python's
# str.strip()/split() are Unicode-aware — the Python references here
# would diverge on e.g. \xa0 even though Spark and DuckDB agree)
texts = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ",
    max_size=60,
)


@settings(**SETTINGS)
@given(st.lists(st.one_of(texts, st.none()), min_size=1, max_size=8))
def test_surrogate_key_matches_dbt_utils_reference(spark, values):
    """Byte-parity with dbt_utils.generate_surrogate_key's compiled SQL:
    md5(concat_ws('-', coalesce(cast(col as string), sentinel)...))."""
    df = spark.createDataFrame(
        [tuple(values)], ", ".join(f"c{i} string" for i in range(len(values)))
    )
    got = df.select(
        surrogate_key(*[f"c{i}" for i in range(len(values))]).alias("k")
    ).first()["k"]
    joined = "-".join(v if v is not None else NULL_SENTINEL for v in values)
    assert got == hashlib.md5(joined.encode()).hexdigest()


@settings(**SETTINGS)
@given(st.lists(texts, min_size=1, max_size=12))
def test_rolling_fingerprint_matches_python_fold(spark, docs):
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["rolling_fp"]
        for r in dedup.with_rolling_fingerprint(df).collect()
    }
    for i, text in enumerate(docs):
        h = 0
        for tok in text.strip().lower().split():
            th = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dedup.MERSENNE31
            h = (h * dedup.ROLL_BASE + th) % dedup.MERSENNE31
        # Spark's split on \s+ of "" yields [""] -> fold over the
        # empty-string token; mirror that edge
        if text.strip() == "":
            th = int(hashlib.md5(b"").hexdigest()[:8], 16) % dedup.MERSENNE31
            h = th % dedup.MERSENNE31
        assert got[i] == h, (text,)


@settings(**SETTINGS)
@given(st.lists(texts, min_size=2, max_size=10), st.data())
def test_exact_dedup_laws(spark, docs, data):
    """Keeps exactly one row per distinct content, the lowest id, and is
    idempotent."""
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = dedup.exact_dedup(df, ["text"], "doc_id")
    rows = out.collect()
    assert len(rows) == len(set(docs))
    survivors = {r["text"]: r["doc_id"] for r in rows}
    for text, keeper in survivors.items():
        assert keeper == min(i for i, d in enumerate(docs) if d == text)
    again = dedup.exact_dedup(out, ["text"], "doc_id")
    assert again.count() == len(rows)


@settings(**SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=2, max_size=40
    )
)
def test_stddev_exact_matches_statistics(spark, xs):
    """The exact-decimal-sum stddev (queries/inventory._stddev_exact)
    agrees with Python's reference implementation."""
    import statistics

    from dbt_datbricks_demo_spark.queries.inventory import _stddev_exact

    df = spark.createDataFrame([(float(x),) for x in xs], "v double")
    got = df.agg(
        _stddev_exact(F.col("v"), F.count(F.lit(1))).alias("s")
    ).first()["s"]
    want = round(statistics.stdev(xs), 2)
    assert got is not None and math.isclose(got, want, abs_tol=0.011)


@settings(**SETTINGS)
@given(texts, texts)
def test_minhash_signature_invariances(spark, a, b):
    """Signature is invariant under case/whitespace normalization and
    shingle multiplicity; identical normalized text ⇒ identical sig."""
    df = spark.createDataFrame(
        [(0, a), (1, "  " + a.upper() + " "), (2, b)],
        "doc_id long, text string",
    )
    rows = dedup.shingle_hash_rows(df, "doc_id", "text", k=3)
    staged = dedup.minhash_sigs_from_rows(rows, "doc_id", num_hashes=4, sig_col="sig")
    sigs = {r["doc_id"]: r["sig"] for r in staged.select("doc_id", "sig").collect()}
    assert sigs[0] == sigs[1]
    if a.strip().lower() == b.strip().lower():
        assert sigs[0] == sigs[2]


@settings(**SETTINGS)
@given(st.lists(st.lists(texts.filter(lambda s: s), min_size=0, max_size=30), min_size=1, max_size=8))
def test_top_run_count_matches_counter(spark, arrays):
    """top_run_count == the max multiplicity Counter reports, for any
    string array (the sorted-run fold must equal a true histogram)."""
    from collections import Counter

    from dbt_datbricks_demo_spark.operators.text import top_run_count

    df = spark.createDataFrame(
        [(i, arr) for i, arr in enumerate(arrays)], "i long, arr array<string>"
    )
    got = {
        r["i"]: r["m"]
        for r in df.select("i", top_run_count(F.col("arr")).alias("m")).collect()
    }
    for i, arr in enumerate(arrays):
        want = max(Counter(arr).values()) if arr else 0
        assert got[i] == want


@settings(**SETTINGS)
@given(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=40),
    st.integers(min_value=8, max_value=128),
)
def test_pack_chunks_is_a_partition_of_the_token_stream(spark, sizes, budget):
    """Packing laws for any doc-size sequence and budget: tokens are
    conserved, every non-tail chunk is exactly full, chunk ids are
    contiguous from 0, and a doc's span is contiguous."""
    from dbt_datbricks_demo_spark.operators.packing import pack_chunks

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], ["doc_id", "n_tokens"]
    )
    rows = pack_chunks(df, "n_tokens", budget=budget, n_buckets=1).collect()
    total = sum(sizes)
    assert sum(r["chunk_tokens"] for r in rows) == total
    fills = {}
    for r in rows:
        assert 0 < r["chunk_tokens"] <= budget
        fills[r["chunk_id"]] = fills.get(r["chunk_id"], 0) + r["chunk_tokens"]
    n_chunks = -(-total // budget)
    assert sorted(fills) == list(range(n_chunks))
    for cid in range(n_chunks - 1):
        assert fills[cid] == budget
    assert fills[n_chunks - 1] == total - budget * (n_chunks - 1)


@settings(**SETTINGS)
@given(st.lists(texts, min_size=1, max_size=8))
def test_pii_redaction_is_idempotent_and_clean(spark, raw_texts):
    """redact(redact(x)) == redact(x) and the redacted text never
    matches any PII pattern — for arbitrary text plus injected PII."""
    import re

    from dbt_datbricks_demo_spark.operators import pii

    decorated = [
        t + f" x{i}@y{i}.org 10.0.0.{i % 256} 123-45-678{i % 10}"
        for i, t in enumerate(raw_texts)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(decorated)], ["doc_id", "text"]
    )
    out = df.select(
        "doc_id",
        pii.redact_pii("text").alias("r1"),
        pii.redact_pii(pii.redact_pii("text")).alias("r2"),
    ).collect()
    for r in out:
        assert r["r1"] == r["r2"]
        for _, pat, _ in pii.PII_PATTERNS:
            assert not re.search(pat, r["r1"])


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=8, max_size=20),
        min_size=1,
        max_size=4,
    ),
    st.data(),
)
def test_winnowing_shared_substring_guarantee(spark, token_docs, data):
    """Schleimer et al. theorem: two documents sharing a run of at least
    w + k - 1 tokens share at least one winnowed fingerprint. Construct
    doc B by embedding a (w+k-1)-token substring of doc A in fresh
    context and assert a non-empty fingerprint intersection."""
    k, w = 3, 4
    need = w + k - 1  # 6 tokens
    rows = []
    for i, toks in enumerate(token_docs):
        a_text = " ".join(toks)
        start = data.draw(
            st.integers(min_value=0, max_value=len(toks) - need)
        )
        shared = toks[start : start + need]
        b_text = " ".join(["zz"] * 3 + shared + ["qq"] * 3)
        rows.append((2 * i, a_text))
        rows.append((2 * i + 1, b_text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.with_winnowed_fingerprints(df, "text", k=k, w=w, out="fps")
    fps = {r["doc_id"]: set(r["fps"]) for r in out.collect()}
    for i in range(len(token_docs)):
        assert fps[2 * i] & fps[2 * i + 1], (
            f"docs {2*i},{2*i+1} share a {need}-token run but no fingerprint"
        )


def test_winnowing_short_documents(spark):
    """Documents shorter than k tokens must produce an EMPTY fingerprint
    set, not crash: sequence(1, clamp-to-0) yields the descending [1, 0]
    whose 0 index kills slice() unless the k-gram array is guarded."""
    k, w = 4, 5
    rows = [
        (0, ""),  # no tokens at all
        (1, "one"),  # 1 token < k
        (2, "one two three"),  # k-1 tokens
        (3, "one two three four"),  # exactly k → 1 gram, short window
        (4, " ".join(f"t{i}" for i in range(k + w + 3))),  # full path
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.with_winnowed_fingerprints(df, "text", k=k, w=w, out="fps")
    fps = {r["doc_id"]: r["fps"] for r in out.collect()}
    assert fps[0] == [] and fps[1] == [] and fps[2] == []
    assert len(fps[3]) == 1
    assert len(fps[4]) >= 1


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),  # hour offset
            st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda t: t[0],
    )
)
def test_gap_fill_laws(spark, points):
    """Gap-fill invariants on arbitrary sparse series: the spine is the
    full contiguous hour range; observed rows pass through; every
    interpolated value lies within [min(prev, next), max(prev, next)];
    ffill equals the most recent observation."""
    import datetime as dt

    from dbt_datbricks_demo_spark.operators.timeseries import gap_fill

    base = dt.datetime(2025, 1, 1)
    rows = [
        ("k", base + dt.timedelta(hours=h), float(v)) for h, v in points
    ]
    df = spark.createDataFrame(rows, "k string, hour timestamp, v double")
    out = sorted(
        gap_fill(df, "k", "hour", "v").collect(), key=lambda r: r["hour"]
    )
    hours = [r["hour"] for r in out]
    lo = min(h for h, _ in points)
    hi = max(h for h, _ in points)
    assert len(out) == hi - lo + 1  # contiguous spine
    observed = {base + dt.timedelta(hours=h): v for h, v in points}
    last_seen = None
    for r in out:
        if r["hour"] in observed:
            assert r["known"] and r["interp"] == round(observed[r["hour"]], 6)
            last_seen = observed[r["hour"]]
        else:
            assert not r["known"]
            assert r["ffill"] == last_seen
            nxts = [v for h, v in observed.items() if h > r["hour"]]
            prevs = [v for h, v in observed.items() if h < r["hour"]]
            if prevs and nxts:
                nearest_prev = observed[max(h for h in observed if h < r["hour"])]
                nearest_next = observed[min(h for h in observed if h > r["hour"])]
                lo_b = min(nearest_prev, nearest_next) - 1e-6
                hi_b = max(nearest_prev, nearest_next) + 1e-6
                assert lo_b <= r["interp"] <= hi_b


# ---------------------------------------------------------------------------
# Session-4 additions: containment / winsorization / chi-square laws
# ---------------------------------------------------------------------------
@settings(**SETTINGS)
@given(st.lists(texts.filter(lambda s: len(s) >= 6), min_size=2, max_size=8))
def test_containment_dominates_jaccard(spark, docs):
    """containment = |A∩B| / min(|A|,|B|) >= jaccard = |A∩B| / |A∪B| for
    every pair (min(|A|,|B|) <= |A∪B|), and both lie in [0, 1]."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))],
        "id_a long, id_b long",
    )
    scored, _ = dedup.jaccard_pairs(df, pairs, "doc_id", k=3)
    out = scored.collect()
    for r in out:
        cont = r.n_common / min(r.size_a, r.size_b) if min(r.size_a, r.size_b) else 0.0
        assert -1e-12 <= r.jaccard <= 1 + 1e-12
        assert cont + 1e-12 >= r.jaccard


@settings(**SETTINGS)
@given(
    st.lists(st.integers(min_value=1, max_value=10_000), min_size=3, max_size=40)
)
def test_winsorized_mean_bounded_by_percentiles(spark, xs):
    """The winsorized mean lies within [p05, p95], and equals the plain
    mean when no value falls outside the clamp."""
    df = spark.createDataFrame([(x,) for x in xs], "n_chars long")
    row = df.agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    ).first()
    clamped = df.select(
        F.least(
            F.greatest(F.col("n_chars").cast("double"), F.lit(row.p05)),
            F.lit(row.p95),
        ).alias("w")
    )
    wmean = clamped.agg(F.avg("w")).first()[0]
    assert row.p05 - 1e-9 <= wmean <= row.p95 + 1e-9
    if min(xs) >= row.p05 and max(xs) <= row.p95:
        assert math.isclose(wmean, sum(xs) / len(xs), rel_tol=1e-12)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.sampled_from("ab"), st.sampled_from("xyz")),
        min_size=4,
        max_size=60,
    )
)
def test_chi_square_nonnegative_and_zero_iff_independent(spark, cells):
    """The chi-square statistic is >= 0, and ~0 for a perfectly
    independent (product-form) contingency table."""
    from dbt_datbricks_demo_spark.queries.analysis_ops import _micro

    df = spark.createDataFrame(cells, "lang string, source string")
    obs = df.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(F.sum("o").cast("double").alias("n_total"))
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n_total")
    chi = (
        obs.join(rt, "lang").join(ct, "source").crossJoin(n)
        .select(_micro(F.pow(F.col("o") - exp, 2) / exp).alias("t"))
        .agg(F.sum("t")).first()[0]
    )
    assert chi >= 0
    # product-form table: every (lang, source) combination equally filled
    prod = spark.createDataFrame(
        [(l, s) for l in "ab" for s in "xyz" for _ in range(4)],
        "lang string, source string",
    )
    obs2 = prod.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt2 = obs2.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    ct2 = obs2.groupBy("source").agg(F.sum("o").alias("col_tot"))
    n2 = obs2.agg(F.sum("o").cast("double").alias("n_total"))
    exp2 = F.col("row_tot") * F.col("col_tot") / F.col("n_total")
    chi2 = (
        obs2.join(rt2, "lang").join(ct2, "source").crossJoin(n2)
        .select(_micro(F.pow(F.col("o") - exp2, 2) / exp2).alias("t"))
        .agg(F.sum("t")).first()[0]
    )
    assert chi2 == 0


@settings(**SETTINGS)
@given(st.lists(texts, min_size=1, max_size=10))
def test_word_gram_rows_matches_array_form(spark, docs):
    """The round-5 row-level codegen gram pass (text.word_gram_rows)
    must produce exactly the multiset of (id, pos, gram) the interpreted
    array form (word_ngrams_all + posexplode) produces — the rewrite is
    a physical-plan change, never a semantic one."""
    from dbt_datbricks_demo_spark.operators.text import (
        tokens,
        word_gram_rows,
        word_ngrams_all,
    )

    n = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    rows = sorted(
        (r["id"], r["p"], r["gram"])
        for r in word_gram_rows(df, "doc_id", "text", n, pos_col="p").collect()
    )
    arr = sorted(
        (r["doc_id"], r["p0"] + 1, r["gram"])
        for r in df.select(
            "doc_id",
            F.posexplode(word_ngrams_all(tokens("text"), n)).alias(
                "p0", "gram"
            ),
        ).collect()
    )
    assert rows == arr
