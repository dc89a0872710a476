"""Unit tests for the round-2 training-pipeline operators: repetition
filters, decontamination, PII scrub, sequence packing, mixture sampling.

Values here are hand-computed on tiny inputs (the oracle harness covers
the full-corpus equivalence); plan assertions pin the scale contract —
zero Python in any hot path, no single-partition window in packing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.operators import decontam, packing, pii, sampling, text
from dbt_datbricks_demo_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# repetition
# ---------------------------------------------------------------------------
def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [
            # tokens: [a b a b a] -> bigrams: ab ba ab ba (top 2/4),
            # trigrams: aba bab aba (top 2/3), 5-grams: 1 distinct of 1
            (1, "a b a b a"),
            # too short for any gram order beyond tokens
            (2, "x"),
            # all-same: bigrams yy*3 top 3/3, 5-gram none (4 tokens)
            (3, "y y y y"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert rows[1]["n_tokens"] == 5
    assert rows[1]["top_bigram_frac"] == pytest.approx(2 / 4)
    assert rows[1]["top_trigram_frac"] == pytest.approx(2 / 3)
    assert rows[1]["dup_5gram_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] is None
    assert rows[2]["dup_5gram_frac"] is None
    assert rows[3]["top_bigram_frac"] == pytest.approx(1.0)
    assert rows[3]["top_trigram_frac"] == pytest.approx(1.0)


def test_top_run_count_matches_multiplicity(spark):
    df = spark.createDataFrame([(["b", "a", "b", "c", "b", "a"],)], ["arr"])
    assert df.select(text.top_run_count(F.col("arr")).alias("m")).first()["m"] == 3
    empty = spark.createDataFrame([([],)], "arr array<string>")
    assert empty.select(text.top_run_count(F.col("arr")).alias("m")).first()["m"] == 0


def test_repetition_plan_is_pure_jvm_no_shuffle(spark):
    df = QUERIES["repetition_report"].build(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # narrow scan: no hash exchange (the only exchange there can be is
    # _spread's round-robin repartition, which a one-task table skips)
    assert "hashpartitioning" not in plan


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------
def test_contamination_report_counts_overlap(spark):
    corpus = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "dogs bark loudly at night")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(10, "the cat sat on a rug")], ["doc_id", "text"]
    )
    grams = decontam.distinct_ngram_set(bench, n=3)
    rep = {
        r["doc_id"]: r
        for r in decontam.contamination_report(
            corpus, grams, n=3, flag_threshold=0.2
        ).collect()
    }
    # doc 1 shares 'the cat sat' and 'cat sat on' (2 of its 4 trigrams)
    assert rep[1]["n_grams"] == 4
    assert rep[1]["n_overlap"] == 2
    assert rep[1]["overlap_frac"] == pytest.approx(0.5)
    assert rep[1]["contaminated"] is True
    assert rep[2]["n_overlap"] == 0
    assert rep[2]["overlap_frac"] == 0.0
    assert rep[2]["contaminated"] is False


def test_decontaminate_drops_flagged_docs(spark):
    corpus = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "dogs bark loudly at night")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(10, "the cat sat on a rug")], ["doc_id", "text"])
    kept = decontam.decontaminate(corpus, bench, n=3, flag_threshold=0.2)
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_short_docs_have_null_overlap_frac(spark):
    corpus = spark.createDataFrame([(1, "hi")], ["doc_id", "text"])
    bench = spark.createDataFrame([(10, "something else entirely here")], ["doc_id", "text"])
    grams = decontam.distinct_ngram_set(bench, n=3)
    row = decontam.contamination_report(corpus, grams, n=3).first()
    assert row["n_grams"] == 0
    assert row["overlap_frac"] is None
    assert row["contaminated"] is False


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------
def test_pii_detection_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail jane.doe+x@corp.example.org now"),
            (2, "server 192.168.1.200 and +1-415-555-0199"),
            (3, "ssn 078-05-1120 ok"),
            (4, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    counts = pii.pii_counts("text")
    redacted = pii.redact_pii("text")
    out = df.select(
        "doc_id",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        redacted.alias("redacted_text"),
        pii.residual_pii_count(redacted).alias("n_residual"),
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_email"] == 1
    assert rows[1]["redacted_text"] == "mail [EMAIL] now"
    assert rows[2]["n_ipv4"] == 1 and rows[2]["n_phone"] == 1
    assert rows[2]["redacted_text"] == "server [IP] and [PHONE]"
    assert rows[3]["n_ssn"] == 1
    assert rows[3]["redacted_text"] == "ssn [SSN] ok"
    assert rows[4]["redacted_text"] == "nothing sensitive here"
    assert all(r["n_residual"] == 0 for r in rows.values())


def test_pii_plan_is_pure_jvm(spark):
    plan = (
        QUERIES["pii_redaction_report"]
        .build(spark, SF)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# packing
# ---------------------------------------------------------------------------
def test_pack_chunks_spans_and_fill(spark):
    # one bucket so the layout is a single deterministic stream
    df = spark.createDataFrame(
        [(1, 3), (2, 10), (3, 4), (4, 2)], ["doc_id", "n_tokens"]
    )
    packed = packing.pack_chunks(
        df, "n_tokens", budget=8, n_buckets=1
    ).collect()
    by_doc = {}
    for r in packed:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # stream: doc1 [0,3) doc2 [3,13) doc3 [13,17) doc4 [17,19)
    assert [r["chunk_id"] for r in by_doc[1]] == [0]
    assert sorted(r["chunk_id"] for r in by_doc[2]) == [0, 1]  # straddles
    assert sum(r["chunk_tokens"] for r in by_doc[2]) == 10
    assert [bool(r["continues"]) for r in sorted(by_doc[2], key=lambda r: r["chunk_id"])] == [False, True]
    # every non-tail chunk is exactly full
    fills = {}
    for r in packed:
        fills[r["chunk_id"]] = fills.get(r["chunk_id"], 0) + r["chunk_tokens"]
    assert fills[0] == 8 and fills[1] == 8 and fills[2] == 3


def test_pack_chunks_total_token_conservation(spark):
    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tokens")
    )
    packed = packing.pack_chunks(df, "n_tokens", budget=64, n_buckets=4)
    total = packed.agg(F.sum("chunk_tokens").alias("s")).first()["s"]
    assert total == df.agg(F.sum("n_tokens").alias("s")).first()["s"]


def test_pack_window_is_partitioned_not_global(spark):
    plan = (
        QUERIES["pack_chunks_report"]
        .build(spark, SF)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    # the window must partition by the bucket stream — a global window
    # would compile to SinglePartition exchange
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# mixture sampling
# ---------------------------------------------------------------------------
def test_mixture_thresholds_cap_and_proportionality(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 100 else "b") for i in range(150)], ["doc_id", "source"]
    )
    # a:100 docs w=1, b:50 docs w=3 -> K = min(100/1, 50/3) = 50/3
    # t_a = floor(50/3 * 1/100 * 10000) = 1666, t_b = floor(10000) = 10000
    t = {
        r["source"]: r
        for r in sampling.mixture_thresholds(df, {"a": 1.0, "b": 3.0}).collect()
    }
    assert t["a"]["threshold"] == 1666
    assert t["b"]["threshold"] == 10000  # the binding domain keeps everything
    kept = sampling.mixture_sample(df, {"a": 1.0, "b": 3.0})
    counts = {r["source"]: r["c"] for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert counts["b"] == 50  # threshold 10000 keeps all of b
    assert 0 < counts["a"] < 100


def test_mixture_sample_drops_unweighted_domains(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "mystery")], ["doc_id", "source"]
    )
    kept = sampling.mixture_sample(df, {"a": 1.0})
    assert {r["source"] for r in kept.collect()} == {"a"}


def test_mixture_sample_is_deterministic(spark):
    df = spark.range(300).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source")
    )
    w = {"s0": 1.0, "s1": 2.0, "s2": 1.0}
    a = sorted(r["doc_id"] for r in sampling.mixture_sample(df, w).collect())
    b = sorted(r["doc_id"] for r in sampling.mixture_sample(df.repartition(7), w).collect())
    assert a == b


# ---------------------------------------------------------------------------
# BM25 search
# ---------------------------------------------------------------------------
def test_bm25_hand_computed(spark):
    # 3 docs, query {cat}: df=2, N=3, dl: 2,2,4, avgdl=8/3
    df = spark.createDataFrame(
        [(1, "cat cat"), (2, "cat dog"), (3, "bird bird bird bird")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in __import__(
            "dbt_datbricks_demo_spark.operators.search", fromlist=["search"]
        ).bm25_scores(df, ["cat"], idf_mode="rational").collect()
    }
    assert set(rows) == {1, 2}  # doc 3 matches nothing
    idf = (3 - 2 + 0.5) / (2 + 0.5)  # 0.6
    avgdl = 8 / 3
    for doc, tf in ((1, 2), (2, 1)):
        expected = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * 2 / avgdl))
        assert rows[doc]["score"] == pytest.approx(expected)
    assert rows[1]["score"] > rows[2]["score"]  # higher tf wins
    assert rows[1]["n_matched_terms"] == 1


def test_bm25_multi_term_fold_is_partition_stable(spark):
    from dbt_datbricks_demo_spark.operators import search

    df = spark.createDataFrame(
        [(i, "alpha beta gamma " * (i % 5 + 1)) for i in range(100)],
        ["doc_id", "text"],
    )
    terms = ["alpha", "beta", "gamma"]
    a = {r["doc_id"]: r["score"] for r in search.bm25_scores(df, terms).collect()}
    b = {
        r["doc_id"]: r["score"]
        for r in search.bm25_scores(df.repartition(13), terms).collect()
    }
    assert a == b  # bit-identical across partitionings (sorted fold)


def test_bm25_topk_plan_shape(spark):
    plan = (
        QUERIES["bm25_search"]
        .build(spark, SF)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k
    assert "BroadcastHashJoin" in plan  # dfs + stats broadcast onto postings
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_unknown_idf_mode_raises(spark):
    from dbt_datbricks_demo_spark.operators import search

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        search.bm25_scores(df, ["x"], idf_mode="bogus").collect()


# ---------------------------------------------------------------------------
# fixed-centroid IVF
# ---------------------------------------------------------------------------
def test_fixed_centroids_are_deterministic_and_bounded(spark):
    from dbt_datbricks_demo_spark.operators import similarity

    a = similarity.ivf_fixed_centroids(4, 8)
    b = similarity.ivf_fixed_centroids(4, 8)
    assert a == b
    assert all(-1000 <= x <= 1000 for row in a for x in row)


def test_probe_cells_by_score_matches_ivf_assign(spark):
    """Driver routing and executor assignment must agree: a vector's own
    cell (argmin) is the first probe cell for itself as a query."""
    from dbt_datbricks_demo_spark.operators import similarity

    cents = similarity.ivf_fixed_centroids(8, 16)
    df = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13 - 6) for d in range(16)]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    assigned = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id",
            similarity.ivf_assign(F.col("embedding"), cents).alias("cell"),
        ).collect()
    }
    for r in df.collect():
        q = [float(x) for x in r["embedding"]]
        assert similarity.probe_cells_by_score(cents, q, 1)[0] == assigned[r["vec_id"]]


# ---------------------------------------------------------------------------
# training-set composition
# ---------------------------------------------------------------------------
def test_prepare_training_set_end_to_end(spark):
    from dbt_datbricks_demo_spark.operators.corpus import prepare_training_set
    from dbt_datbricks_demo_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    final = prepare_training_set(docs)
    rows = final.select("doc_id", "split").collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))  # no doc in two splits
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert len(ids) > 0
    # survivors are a subset of the raw corpus
    raw_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert set(ids) <= raw_ids


def test_prepare_training_set_decontaminates_train_against_test(spark):
    from dbt_datbricks_demo_spark.operators.corpus import prepare_training_set

    # doc 17 lands in 'test' for this salt? Instead force the situation:
    # two identical long docs far apart in id space — whichever lands in
    # train while its twin is in test must be dropped. Build a corpus
    # where doc A (train) textually contains the test doc's n-grams.
    # stopword-bearing text so the language gate keeps the docs ('en');
    # the train doc embeds a FRAGMENT of the test doc: 3-gram overlap far
    # above the 5% decontam threshold, but shingle Jaccard far below the
    # 0.9 near-dup bar (a full near-copy would be removed by dedup first)
    benchmark_text = "the quick brown fox is jumping over the lazy dog and the day is bright"
    fragment = "the quick brown fox is jumping over the lazy dog"
    leaked = fragment + " meanwhile unrelated trailing content words " + " ".join(
        f"uniq{j} filler{j}" for j in range(12)
    )
    rows = [
        (i, f"the doc number is {i} and of to " + " ".join(f"w{i}x{j}" for j in range(10)))
        for i in range(400)
    ]
    # find two ids in different splits via the same md5 math the op uses
    import hashlib

    def bucket(i):
        return int(hashlib.md5(f"split{i}".encode()).hexdigest()[:8], 16) % 10000

    train_id = next(i for i in range(400) if bucket(i) < 9000)
    test_id = next(i for i in range(400) if bucket(i) >= 9500)
    rows[train_id] = (train_id, leaked)
    rows[test_id] = (test_id, benchmark_text)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    final = prepare_training_set(df)
    kept = {r["doc_id"] for r in final.select("doc_id").collect()}
    assert test_id in kept  # benchmark side always kept
    assert train_id not in kept  # contaminated training doc dropped


def test_stratified_sample_is_deterministic_and_exact_k(spark):
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), (F.col("id") % 7).cast("string")).alias("source"),
    )
    a = sampling.stratified_sample(df, k=3)
    rows = a.collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r["source"], []).append(r)
    assert all(len(v) == 3 for v in per_group.values())
    assert all(sorted(r["sample_rank"] for r in v) == [1, 2, 3] for v in per_group.values())
    b = sampling.stratified_sample(df.repartition(11), k=3)
    assert sorted(r["doc_id"] for r in rows) == sorted(r["doc_id"] for r in b.collect())
    # tiny group: fewer than k survive, never padded
    small = spark.createDataFrame([(1, "only")], ["doc_id", "source"])
    assert sampling.stratified_sample(small, k=3).count() == 1


def test_stratified_sample_plan_uses_window_group_limit(spark):
    plan = (
        QUERIES["stratified_sample"]
        .build(spark, SF)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "WindowGroupLimit" in plan  # map-side k-per-group pre-filter
    assert plan.count("hashpartitioning") <= 2  # _spread + the window key


def test_contamination_shuffled_fallback_matches(spark, monkeypatch):
    """A broadcast limit of 0 forces the shuffled-join path; the report
    must be identical to the broadcast path (the 100 TB fallback)."""
    from dbt_datbricks_demo_spark import functions
    from dbt_datbricks_demo_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    bench = decontam.distinct_ngram_set(docs.limit(20), n=3)
    a = decontam.contamination_report(docs, bench, n=3).collect()
    monkeypatch.setattr(functions, "BROADCAST_ROW_LIMIT", 0)
    b = decontam.contamination_report(docs, bench, n=3).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
