"""Unit tests for the LLM-pipeline operators on constructed data with
known answers (the testdata documents contain no actual duplicates, so
dedup behavior is exercised here with synthetic dupes)."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark import functions
from dbt_datbricks_demo_spark.operators import (
    dedup,
    index_store,
    multimodal,
    similarity,
    text,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "der schnelle braune fuchs und der faule hund ist da"),
        (6, "dog lazy the over jumps fox brown quick the"),  # same bag of words as 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(docs):
    out = dedup.exact_dedup(docs, ["text"], "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 3, 4, 5, 6}  # 2 collapsed into 1


def test_exact_dedup_corpus_side_never_shuffles(docs):
    plan = dedup.exact_dedup(docs, ["text"], "doc_id")._jdf.queryExecution().toString()
    # losers broadcast: the document bodies anti-join without any exchange
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "hashpartitioning(" not in plan


def test_exact_dedup_shuffled_fallback_matches(docs, monkeypatch):
    want = {r["doc_id"] for r in dedup.exact_dedup(docs, ["text"], "doc_id").collect()}
    monkeypatch.setattr(functions, "BROADCAST_ROW_LIMIT", 0)
    got = {
        r["doc_id"]
        for r in dedup.exact_dedup(docs, ["text"], "doc_id").collect()
    }
    assert got == want == {1, 3, 4, 5, 6}


def test_content_hash_no_boundary_or_null_collisions(spark):
    rows = [
        (1, "ab", "c"),
        (2, "a", "bc"),   # same concatenation, different fields
        (3, "a", None),
        (4, "a", ""),     # null vs empty must differ
        (5, "a", "b|c"),  # field containing the separator
        (6, "a|b", "c"),
    ]
    df = spark.createDataFrame(rows, "id long, x string, y string")
    digests = [
        r["h"]
        for r in df.select(dedup.content_hash("x", "y").alias("h")).collect()
    ]
    assert len(set(digests)) == len(digests)


def test_content_hash_single_column_matches_plain_md5(spark):
    df = spark.createDataFrame([("hello world",)], "text string")
    got = df.select(dedup.content_hash("text").alias("h")).first()["h"]
    assert got == hashlib.md5(b"hello world").hexdigest()


def test_minhash_identical_docs_identical_signatures(docs):
    hashes = dedup.shingle_hash_rows(docs, "doc_id", "text", k=5)
    sigs = dedup.minhash_sigs_from_rows(hashes, "doc_id", num_hashes=8)
    rows = {r["doc_id"]: r["_sig"] for r in sigs.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[4]
    # near-dup shares most minhashes with the original
    shared = sum(a == b for a, b in zip(rows[1], rows[3]))
    assert shared >= 4


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.minhash_candidate_pairs(docs, "doc_id", "text", num_hashes=8, bands=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always collides
    jac, n_pairs = dedup.jaccard_pairs(docs, pairs, "doc_id", "text")
    assert n_pairs == len(got)
    jrows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jac.collect()}
    assert jrows[(1, 2)] == 1.0
    if (1, 3) in jrows:
        assert 0.5 < jrows[(1, 3)] < 1.0


def test_simhash_hamming(docs):
    rows = {
        r["doc_id"]: r["sh"]
        for r in dedup.with_simhash(docs, "text", out="sh").collect()
    }
    assert rows[1] == rows[2]
    ham_near = bin(rows[1] ^ rows[3]).count("1")
    ham_far = bin(rows[1] ^ rows[4]).count("1")
    assert ham_near < ham_far


def test_fingerprint_order_insensitive(docs):
    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", text.fingerprint("text").alias("fp")).collect()
    }
    assert fps[1] == fps[6]  # same bag of words, different order
    assert fps[1] != fps[4]


def test_predict_lang(docs):
    langs = {
        r["doc_id"]: r["lang"]
        for r in docs.select("doc_id", text.predict_lang("text").alias("lang")).collect()
    }
    assert langs[1] == "en"
    assert langs[5] == "de"


def test_cosine_topk_self_is_nearest(spark):
    rows = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = rows[4][1]
    top = similarity.cosine_topk(emb, query, k=3).collect()
    assert top[0]["vec_id"] == 4 or abs(top[0]["cosine"] - 1.0) < 1e-9
    assert abs(top[0]["cosine"] - 1.0) < 1e-9


def test_bucketed_ann_contains_self(spark):
    rows = [(i, [float((i * 13 + d * 5) % 17 - 8) for d in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = rows[7][1]
    top = similarity.bucketed_ann_topk(emb, query, planes=4, k=5).collect()
    assert any(r["vec_id"] == 7 for r in top)  # query's own vector in its bucket


def test_multimodal_features_match_hashlib(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "world!")], "doc_id long, text string")
    feats = {
        r["doc_id"]: r
        for r in multimodal.image_features(multimodal.attach_binary_payload(df)).collect()
    }
    for doc_id, txt in [(1, "hello"), (2, "world!")]:
        h = hashlib.md5(txt.encode()).hexdigest()
        assert feats[doc_id]["content_md5"] == h
        assert feats[doc_id]["byte_len"] == len(txt.encode())
        assert feats[doc_id]["width"] == int(h[:4], 16) % 1024 + 1
        assert feats[doc_id]["format"] == "fake"


def test_frame_sample_plan(spark):
    df = multimodal.attach_binary_payload(
        spark.createDataFrame([(1, "x" * 350)], "doc_id long, text string")
    )
    frames = [r["frame_no"] for r in multimodal.frame_sample_plan(df, every_n=2).collect()]
    assert frames == [0, 2]  # 4 frames (350 bytes // 100 + 1) sampled every 2


def test_quality_stats_values(spark):
    df = spark.createDataFrame([(1, "The cat, and the dog!")], "doc_id long, text string")
    r = text.quality_stats(df).first()
    assert r["n_tokens"] == 5
    assert r["n_chars"] == 21
    assert r["punct_ratio"] == pytest.approx(2 / 21)
    assert r["stopword_ratio"] == pytest.approx(3 / 5)  # the, and, the


def test_with_word_ngrams(spark):
    df = spark.createDataFrame(
        [(1, "a b c b c"), (2, "single"), (3, "x y")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: sorted(r["_ngrams"])
        for r in text.with_word_ngrams(df, "text", n=2).collect()
    }
    assert rows[1] == ["a b", "b c", "c b"]  # distinct bigrams
    assert rows[2] == []  # fewer than n tokens -> empty set
    assert rows[3] == ["x y"]


def test_rolling_fingerprint_order_sensitive(docs):
    fps = {
        r["doc_id"]: r["rolling_fp"]
        for r in dedup.with_rolling_fingerprint(docs).collect()
    }
    assert fps[1] == fps[2]  # identical text
    assert fps[1] != fps[6]  # same bag of words, different order
    # verify the fold against a Python reference
    toks = "the quick brown fox jumps over the lazy dog".split()
    h = 0
    for t in toks:
        th = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dedup.MERSENNE31
        h = (h * dedup.ROLL_BASE + th) % dedup.MERSENNE31
    assert fps[1] == h


def test_cosine_neardup_pairs_finds_duplicate_vectors(spark):
    base = [float((d * 3) % 7 - 3) for d in range(8)]
    far = [float((d * 5 + 1) % 9 - 4) for d in range(8)]
    rows = [(0, base), (1, base), (2, far)]  # 0 and 1 identical
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_neardup_pairs(
            emb, planes=4, threshold=0.99, dims=8
        ).collect()
    }
    assert (0, 1) in pairs
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ivf_topk_matches_bruteforce_for_clustered_data(spark, tmp_path):
    # three well-separated clusters; IVF probing the query's cell must
    # return the same top-3 as brute force
    import random

    rnd = random.Random(7)
    rows = []
    # directionally distinct clusters (cosine is scale-invariant, so the
    # clusters must differ in direction, not magnitude)
    directions = [[1, 1, 1, 1, 0, 0, 0, 0], [0, 0, 0, 0, 1, 1, 1, 1],
                  [-1, -1, 0, 0, 0, 0, 1, 1]]
    for cluster, d in enumerate(directions):
        for i in range(30):
            vec = [10.0 * x + rnd.uniform(-0.5, 0.5) for x in d]
            rows.append((cluster * 100 + i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.train_ivf_centroids(emb, k=3, seed=1)
    assert len(cents) == 3 and len(cents[0]) == 8
    query = rows[5][1]  # inside cluster 0
    index = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, cents, index)
    approx = similarity.ivf_index_topk(
        spark, index, cents, query, k=3, nprobe=1
    ).collect()
    exact = similarity.cosine_topk(emb, query, k=3).collect()
    assert [r["vec_id"] for r in approx] == [r["vec_id"] for r in exact]


def test_ivf_assign_is_argmin_of_distance(spark):
    cents = [[0.0, 0.0], [10.0, 10.0]]
    emb = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [9.0, 9.0])], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in emb.select(
            "vec_id", similarity.ivf_assign(F.col("embedding"), cents).alias("cell")
        ).collect()
    }
    assert got == {0: 0, 1: 1}


def test_asof_join_basic_and_tolerance(spark):
    from dbt_datbricks_demo_spark.operators.asof import asof_join
    import datetime as dt

    T = dt.datetime
    quotes = spark.createDataFrame(
        [
            ("A", T(2025, 1, 1, 10, 0, 0), 100.0),
            ("A", T(2025, 1, 1, 10, 5, 0), 101.0),
            ("B", T(2025, 1, 1, 10, 2, 0), 50.0),
        ],
        "sym string, ts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            (1, "A", T(2025, 1, 1, 10, 0, 0)),   # ties quote -> inclusive
            (2, "A", T(2025, 1, 1, 10, 4, 59)),  # before 2nd quote
            (3, "A", T(2025, 1, 1, 10, 30, 0)),  # long after
            (4, "B", T(2025, 1, 1, 10, 1, 0)),   # before any B quote
        ],
        "trade_id long, sym string, ts timestamp",
    )
    out = {
        r["trade_id"]: r
        for r in asof_join(trades, quotes, "ts", ["sym"], ["px"]).collect()
    }
    assert out[1]["px"] == 100.0  # equal-time match is inclusive
    assert out[2]["px"] == 100.0
    assert out[3]["px"] == 101.0
    assert out[4]["px"] is None  # left join: kept with null match
    assert str(out[3]["matched_ts"]) == "2025-01-01 10:05:00"

    tol = {
        r["trade_id"]: r
        for r in asof_join(
            trades, quotes, "ts", ["sym"], ["px"], tolerance_seconds=600
        ).collect()
    }
    assert tol[2]["px"] == 100.0   # 4:59 old, inside 10 min
    assert tol[3]["px"] is None    # 25 min old match voided


def test_clean_corpus_pipeline(spark):
    from dbt_datbricks_demo_spark.operators.corpus import clean_corpus, corpus_stats

    base = (
        "the quick brown fox jumps over the lazy dog again and again today " * 3
    ).strip()
    rows = [
        (0, base),                                   # keeper
        (1, base),                                   # exact dup -> dropped
        (2, base.replace("quick", "quack", 1)),      # near dup (J=0.925) -> dropped
        (3, "der schnelle braune fuchs und der faule hund laufen heute sehr weit"),
        (4, "short text"),                           # < 10 tokens -> dropped
        (5, "!!! ??? ;;; " + base),                  # near-dup superset of 0 -> dropped
        (6, "机器 学习 模型 训练 数据 管道 现在 开始 运行 了 吗 呢"),  # zh -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cleaned = clean_corpus(docs, min_tokens=10, jaccard_threshold=0.8)
    kept = sorted(r["doc_id"] for r in cleaned.collect())
    assert kept == [0, 3]
    stats = {r["lang"]: r for r in corpus_stats(cleaned).collect()}
    assert stats["en"]["n_docs"] == 1 and stats["en"]["total_tokens"] == 39
    assert stats["de"]["n_docs"] == 1


def test_point_in_interval_join(spark):
    import datetime as dt

    T = dt.datetime
    pts = spark.createDataFrame(
        [
            (1, "u1", T(2025, 1, 5, 12, 0)),
            (2, "u1", T(2025, 1, 20, 0, 0)),   # in no interval
            (3, "u2", T(2025, 1, 5, 12, 0)),   # right key, other user's window
            (4, "u1", T(2025, 1, 10, 0, 0)),   # hi is exclusive
        ],
        "pid long, k string, t timestamp",
    )
    ivs = spark.createDataFrame(
        [
            ("u1", 100, T(2025, 1, 1), T(2025, 1, 10)),
            ("u2", 200, T(2025, 1, 8), T(2025, 1, 9)),
        ],
        "k string, iid long, lo timestamp, hi timestamp",
    )
    from dbt_datbricks_demo_spark.operators.rangejoin import point_in_interval_join

    out = point_in_interval_join(
        pts, ivs, on="k", point_time="t", interval_lo="lo", interval_hi="hi",
        bin_seconds=24 * 3600,  # 1-day bins: interval 100 spans 9 bins
    )
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    assert got == {(1, 100)}  # exactly once despite 9-bin replication


def test_connected_components_transitive_chain(spark):
    verts = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 0-1-2, pair 4-5; 3 and 6 singletons — 0~2 linked only via 1
    edges = spark.createDataFrame(
        [(1, 2), (0, 1), (4, 5)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(verts, edges).collect()
    }
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}


def test_neardup_clusters_transitive(spark):
    base = (
        "the quick brown fox jumps over the lazy dog again and again today " * 3
    ).strip()
    rows = [
        (0, base),
        (1, base.replace("quick", "quack", 1)),   # ~0
        (2, base.replace("today", "todays", 1)),  # ~0 (maybe not ~1 directly)
        (3, "completely different content about spark engines and clusters"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    comp = {
        r["doc_id"]: r["component"]
        for r in dedup.neardup_clusters(docs, jaccard_threshold=0.85).collect()
    }
    assert comp[0] == 0 and comp[3] == 3
    assert comp[1] == 0 and comp[2] == 0  # transitive single cluster


def test_per_group_principal_direction(spark):
    import math
    import random

    from dbt_datbricks_demo_spark.operators.embeddings import (
        per_group_principal_direction,
    )

    rnd = random.Random(3)
    rows = []
    # group 0: points spread along axis e0 (+noise); group 1: along e2
    for g, axis in [(0, 0), (1, 2)]:
        for _ in range(40):
            v = [rnd.gauss(0, 0.05) for _ in range(4)]
            v[axis] += rnd.gauss(0, 3.0)  # dominant variance direction
            rows.append((g, v))
    emb = spark.createDataFrame(rows, "label long, embedding array<float>")
    out = {r["group"]: r for r in per_group_principal_direction(emb).collect()}
    for g, axis in [(0, 0), (1, 2)]:
        d = out[g]["principal_direction"]
        assert abs(d[axis]) > 0.99  # aligned with the planted axis
        assert math.isclose(sum(x * x for x in d), 1.0, rel_tol=1e-9)
        assert out[g]["explained_var_ratio"] > 0.9
        assert out[g]["n_vectors"] == 40
        # round-6 in-plan certification booleans (tolerance oracle)
        for check in (
            "unit_norm_ok", "eigen_residual_ok", "lambda_is_top_ok",
            "ratio_in_unit_ok", "sign_ok",
        ):
            assert out[g][check] is True, check


class TestDistributedRanking:
    """operators.ranking: exact ntile semantics without the
    single-partition window (tie groups split across bucket boundaries
    exactly like SQL ntile)."""

    @pytest.fixture(scope="class")
    def values(self, spark):
        # 23 rows, heavy ties (including a tie group straddling bucket
        # boundaries), n % k != 0 so bucket sizes differ
        rows = [(i, v) for i, v in enumerate(
            [5] * 9 + [7] * 6 + [1] * 3 + [9] * 4 + [3]
        )]
        return spark.createDataFrame(rows, "rid long, v long")

    def _expected(self, spark, values, k):
        from pyspark.sql import Window
        w = Window.orderBy("v", "rid")
        return (
            values.select("rid", "v", F.ntile(k).over(w).alias("b"))
            .collect()
        )

    @pytest.mark.parametrize("k", [3, 4, 10])
    def test_report_matches_sql_ntile_aggregates(self, spark, values, k):
        from collections import defaultdict
        from dbt_datbricks_demo_spark.operators.ranking import ntile_report

        per_bucket = defaultdict(list)
        for r in self._expected(spark, values, k):
            per_bucket[r["b"]].append(r["v"])
        got = {
            r["bucket"]: (r["n_rows"], r["min_value"], r["max_value"])
            for r in ntile_report(values, "v", k=k).collect()
        }
        want = {
            b: (len(vs), min(vs), max(vs)) for b, vs in per_bucket.items()
        }
        assert got == want

    def test_report_no_window_below_aggregation(self, spark, values):
        from dbt_datbricks_demo_spark.operators.ranking import ntile_report

        plan = ntile_report(values, "v")._jdf.queryExecution().toString()
        assert "ntile" not in plan
        # the only single-partition movement sits ABOVE the histogram
        # aggregation — corpus rows aggregate map-side first
        first_agg = plan.index("HashAggregate")
        assert "SinglePartition" not in plan[:first_agg]


def test_multiprobe_expands_candidates_and_keeps_base_bucket(spark):
    rows = [(i, [float((i * 13 + d * 5) % 17 - 8) for d in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    query = rows[7][1]
    w = similarity.hyperplane_weights(4, 8)
    buckets = similarity.multiprobe_buckets(query, w, probes=3)
    assert len(buckets) == 3 and len(set(buckets)) == 3
    # each extra probe differs from the base in exactly one bit
    assert all(bin(buckets[0] ^ b).count("1") == 1 for b in buckets[1:])
    single = {r["vec_id"] for r in similarity.bucketed_ann_topk(emb, query, planes=4, k=60).collect()}
    multi = {r["vec_id"] for r in similarity.bucketed_ann_topk(emb, query, planes=4, k=60, probes=3).collect()}
    assert single <= multi  # multi-probe only ever adds candidates
    assert 7 in multi


def test_gap_fill_interpolation_edges(spark):
    """Gap fill: interior gaps interpolate linearly, leading gaps take
    the next known value, trailing gaps carry the last known forward,
    observed rows pass through."""
    import datetime as dt

    from pyspark.sql import Row

    from dbt_datbricks_demo_spark.operators.timeseries import gap_fill

    h = lambda i: dt.datetime(2025, 1, 1, i, 0, 0)
    observed = spark.createDataFrame(
        [
            Row(k="a", hour=h(1), v=10.0),
            Row(k="a", hour=h(4), v=40.0),  # 2,3 missing -> 20, 30
            Row(k="a", hour=h(6), v=60.0),  # 5 missing -> 50
            Row(k="b", hour=h(0), v=5.0),  # single point: no gaps
        ]
    )
    out = {
        (r["k"], r["hour"].hour): (r["known"], r["ffill"], r["interp"])
        for r in gap_fill(observed, "k", "hour", "v").collect()
    }
    assert out[("a", 1)] == (True, 10.0, 10.0)
    assert out[("a", 2)] == (False, 10.0, 20.0)
    assert out[("a", 3)] == (False, 10.0, 30.0)
    assert out[("a", 4)] == (True, 40.0, 40.0)
    assert out[("a", 5)] == (False, 40.0, 50.0)
    assert out[("a", 6)] == (True, 60.0, 60.0)
    assert out[("b", 0)] == (True, 5.0, 5.0)
    assert len(out) == 7


# ---------------------------------------------------------------------------
# Round 4: unigram LM + SemDeDup
# ---------------------------------------------------------------------------
def test_unigram_doc_nll_orders_docs_by_rarity(spark):
    # "a a a" uses only the commonest token; "z" is a hapax — under the
    # corpus unigram LM the hapax doc must carry strictly higher NLL
    df = spark.createDataFrame(
        [(1, "a a a"), (2, "a a z"), (3, "z")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in text.unigram_doc_nll(df, "text", "doc_id").collect()
    }
    assert rows[1]["n_tok"] == 3 and rows[3]["n_tok"] == 1
    assert rows[1]["avg_nll"] < rows[2]["avg_nll"] < rows[3]["avg_nll"]


def test_unigram_doc_nll_matches_hand_model(spark):
    # corpus: tokens a,a,b → N=3, V=2; p(a)=(2+1)/(3+2), p(b)=(1+1)/(3+2)
    import math

    df = spark.createDataFrame([(1, "a a"), (2, "b")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in text.unigram_doc_nll(df, "text", "doc_id").collect()}
    assert rows[1]["avg_nll"] == round(-math.log(3 / 5), 6)
    assert rows[2]["avg_nll"] == round(-math.log(2 / 5), 6)


def _unit(v):
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def test_semdedup_drops_higher_id_within_cell(spark):
    # 4-d toy space, 2 centroids on axes 0 and 1. Vectors 1 and 2 are
    # near-identical (cos≈1) and share cell 0 → higher id 2 dropped;
    # vector 3 sits in cell 1 alone → kept.
    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0]]
    rows = [
        (1, _unit([1.0, 0.1, 0, 0])),
        (2, _unit([1.0, 0.11, 0, 0])),
        (3, _unit([0.1, 1.0, 0, 0])),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in similarity.semdedup(emb, cents, threshold=0.95).collect()
    }
    assert out[1]["kept"] and not out[2]["kept"] and out[3]["kept"]
    assert out[1]["cell"] == 0 and out[2]["cell"] == 0 and out[3]["cell"] == 1


def test_batch_ann_index_finds_planted_neighbors(spark, tmp_path):
    """The batch IVF-PQ index path must find REAL near neighbors: on the
    structureless random testdata its measured routing recall is the
    honest LSH trade (0.52-0.96, certified in-result by ann_batch_topk),
    but on clustered data — the case ANN exists for — sign buckets and
    coarse cells agree for genuinely-close vectors. Plant 4 tight
    clusters (cosine ~0.999) in a random background and require the
    index path to return planted cluster-mates as top neighbors."""
    import random

    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )

    rng = random.Random(7)

    def unit(v):
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    rows = []
    # 4 planted clusters of 6 vectors each: anchor ids 0,100,200,300
    for a in range(4):
        anchor = unit([rng.gauss(0, 1) for _ in range(64)])
        for j in range(6):
            vec = unit([x + rng.gauss(0, 0.01) for x in anchor])
            rows.append((a * 100 + j, vec))
    # random background fills the id space (no multiples of 100)
    next_id = 1000
    for _ in range(1000):
        rows.append((next_id, unit([rng.gauss(0, 1) for _ in range(64)])))
        next_id += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    n = len(rows)
    planes = similarity.adaptive_planes(n, 16, target_cell_width=16)
    assert planes > 0  # the adaptive sub-split is engaged
    path = str(tmp_path / "bidx")
    similarity.write_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, path
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = similarity.batch_ivfpq_index_topk(
        spark, path, _IVFPQ_COARSE, _PQ_BOOKS, planes, queries, k=5
    ).collect()
    per_q = {}
    for r in top:
        per_q.setdefault(r["q_id"], []).append(r["vec_id"])
    # every anchor's top-5 is dominated by its planted cluster-mates
    for a in range(4):
        got = per_q[a * 100]
        mates = {a * 100 + j for j in range(1, 6)}
        assert len(mates & set(got)) >= 4, (a, got)


def test_ann_batch_topk_brute_guard_below_threshold(spark, tmp_path):
    """Below the counted corpus-size guard ann_batch_topk serves the
    EXACT brute path with the same schema: score = 6-dp cosine ranked
    descending, cert_hit = 1 on the certified subset (it IS the
    reference), -1 elsewhere."""
    import random

    from dbt_datbricks_demo_spark.queries import QUERIES
    from dbt_datbricks_demo_spark.queries.mining_ops import _BATCH_BRUTE_MAX

    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)])
        for i in range(_BATCH_BRUTE_MAX // 2)
    ]
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(str(sf_dir / "embeddings.parquet"))
    out = QUERIES["ann_batch_topk"].build(spark, str(sf_dir)).collect()
    assert out[0].asDict().keys() == {
        "q_id", "vec_id", "rank", "score", "cert_hit"
    }
    # q_ids 0 and 100 exist; each gets exactly k=5 exact rows
    per_q = {}
    for r in out:
        per_q.setdefault(r["q_id"], []).append(r)
    assert set(per_q) == {0, 100}
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for q_id, got in per_q.items():
        qv = [float(x) for x in rows[q_id][1]]
        want = [
            r["vec_id"]
            for r in similarity.cosine_topk(
                emb.filter(F.col("vec_id") != q_id), qv, k=5
            ).collect()
        ]
        assert [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])] == want
        assert all(r["cert_hit"] == 1 for r in got)  # q_id < cert max


def test_adaptive_neardup_planes_schedule_and_sql_case():
    """Round-9: the 100x weak-scaling column exposed the fixed 8-plane
    LSH bucket join as quadratic (7.7 s -> 79 s for 3.3x data). The
    schedule holds expected bucket width ~80 by growing the plane count,
    with the historical 8-plane geometry as an exact floor below 20480
    vectors (every standing SF), capped at 20 — and the SQL CASE the
    oracle evaluates is GENERATED from the same constants, checked here
    by brute-force agreement over the boundary values."""
    import duckdb

    from dbt_datbricks_demo_spark.queries.llm_ops import (
        _sql_neardup_planes_case,
    )

    # floor / growth / cap against the definition
    for n, want in (
        (1, 8),
        (200, 8),
        (20_480, 8),      # last n of the historical geometry
        (20_481, 9),
        (600_000, 13),    # the x30 replica's 600k vectors
        (2_000_000, 15),  # the x100 replica
        (80 << 19, 19),
        ((80 << 19) + 1, 20),
        (10**12, 20),     # cap
    ):
        assert similarity.adaptive_neardup_planes(n) == want, n
    # monotone non-decreasing
    last = 0
    for n in range(1, 3_000_000, 97_231):
        p = similarity.adaptive_neardup_planes(n)
        assert p >= last
        last = p
    # the generated SQL CASE agrees at every threshold boundary +-1
    con = duckdb.connect()
    boundaries = [
        similarity.NEARDUP_TARGET_BUCKET_WIDTH << p
        for p in range(
            similarity.NEARDUP_BASE_PLANES, similarity.NEARDUP_MAX_PLANES + 1
        )
    ]
    probe = sorted({1} | {b for b in boundaries} | {b + 1 for b in boundaries})
    for n in probe:
        got = con.sql(
            f"select {_sql_neardup_planes_case(str(n))}"
        ).fetchone()[0]
        assert got == similarity.adaptive_neardup_planes(n), n
    con.close()


def test_cosine_neardup_planted_twin_at_every_plane_count(spark):
    """Identical vectors share every hyperplane sign, so a planted twin
    pair must collide in the SAME bucket at ANY plane count — the
    recall floor the adaptive schedule rides on (a true near-dup's
    per-plane miss rate is theta/pi ~ 0 as cosine -> 1)."""
    base = [float((d * 3) % 7 - 3) for d in range(8)]
    far = [float((d * 5 + 1) % 9 - 4) for d in range(8)]
    rows = [(0, base), (1, base), (2, far)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for planes in (8, 13, 20):
        got = {
            (r["id_a"], r["id_b"])
            for r in similarity.cosine_neardup_pairs(
                emb, planes=planes, threshold=0.99, dims=8
            ).collect()
        }
        assert (0, 1) in got, planes


def test_adaptive_minhash_geometry_schedule_and_knee():
    """Round-8 verdict item 1: the two-axis schedule's tiers all hold
    the S-curve knee (1/b)^(1/r) at 2^(-1/4) — the fixed 2x4 baseline's
    knee — so candidate-probability curves cross at the same Jaccard
    threshold and recall at J >= 0.9 rises tier over tier while random
    collisions collapse. Integer thresholds pin the oracle's CASE."""
    for n, want in (
        (500, (8, 2, 4)),
        (20_000, (8, 2, 4)),
        (20_001, (32, 4, 8)),
        (2_000_000, (32, 4, 8)),
        (2_000_001, (96, 8, 12)),
    ):
        assert dedup.adaptive_minhash_geometry(n) == want, n
    for nh, b, r in ((8, 2, 4), (32, 4, 8), (96, 8, 12)):
        assert b * r == nh
        assert abs((1 / b) ** (1 / r) - 2 ** -0.25) < 1e-12
        # recall at the 0.9 target rises monotonically tier over tier
    def p_cand(b, r, s=0.9):
        return 1 - (1 - s**r) ** b

    assert p_cand(2, 4) < p_cand(4, 8) < p_cand(8, 12)


def test_two_axis_geometry_recall_and_candidate_collapse(spark):
    """On a planted fixture (200 base docs + 200 near-dup twins over a
    SMALL shared vocabulary so random pairs collide in bands), the
    tier-1 geometry must find at least as many TRUE planted pairs as
    the fixed 2x4 baseline while producing FEWER total candidates —
    the two halves of 'recall-preserving false-collision collapse'."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(200):
        text = " ".join(rng.choice(vocab) for _ in range(40))
        rows.append((i, text))
        rows.append((1000 + i, text + " qzv"))  # planted twin, J ~ 0.98
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    truth = {(i, 1000 + i) for i in range(200)}
    found = {}
    for nh, b in ((8, 2), (32, 4), (96, 8)):
        srows = dedup.shingle_hash_rows(docs, "doc_id", "text", 5)
        sigs = dedup.minhash_sigs_from_rows(srows, "doc_id", nh)
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.candidate_pairs_from_sigs(
                sigs, "doc_id", nh, b
            ).collect()
        }
        found[(nh, b)] = (len(truth & pairs), len(pairs))
    hits0, cand0 = found[(8, 2)]
    hits1, cand1 = found[(32, 4)]
    hits2, cand2 = found[(96, 8)]
    assert hits1 >= hits0, (hits0, hits1)
    assert hits1 >= 190  # J~0.98 is far above the 0.841 knee
    assert cand1 < cand0, (cand0, cand1)
    # tier 2 (round-9 verdict item 1): the 100-TB geometry holds the
    # law too — recall keeps rising while candidates never grow (tier 1
    # already collapses this fixture's random collisions to the 200
    # planted pairs, so tier 2 meets the truth floor with equality)
    assert hits2 >= hits1, (hits1, hits2)
    assert cand2 <= cand1, (cand1, cand2)
    assert hits2 >= 195 and cand2 >= hits2, (hits2, cand2)


def test_minhash_queries_certify_planted_recall_in_result(spark):
    """The three graded dedup queries carry the geometry + planted-pair
    banding recall IN-RESULT (ann_batch_topk's cert discipline): at
    sf0.001 (tier 0) the cert is deterministic — 16/16 planted twins
    collide — and the geometry columns name the executed tier."""
    from dbt_datbricks_demo_spark.queries import QUERIES

    out = QUERIES["minhash_lsh_jaccard"].build(
        spark, "/root/testdata/sf0.001"
    ).limit(1).collect()[0]
    assert (out["n_hashes"], out["n_bands"], out["rows_per_band"]) == (8, 2, 4)
    assert out["cert_planted"] == 16 and out["cert_band_hits"] == 16


def test_ann_batch_topk_oracle_fails_loudly_below_guard(spark, tmp_path):
    """Round-8 advice item (medium): the registered oracle derives the
    INDEX-routed result; at/below the counted brute guard the Spark
    side returns exact cosine instead, so the oracle's valid domain is
    n > _BATCH_BRUTE_MAX. A future small-corpus gate run must fail
    LOUDLY (error() in the domain-guard CTE), never as a mystery hash
    mismatch. Above the guard the same SQL stays green (every oracle
    run on real testdata exercises that side)."""
    import random

    import duckdb

    from dbt_datbricks_demo_spark.queries import QUERIES
    from dbt_datbricks_demo_spark.queries.mining_ops import _BATCH_BRUTE_MAX

    rng = random.Random(5)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)])
        for i in range(_BATCH_BRUTE_MAX // 2)
    ]
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(str(sf_dir / "embeddings.parquet"))
    con = duckdb.connect()
    con.sql(
        "create view embeddings as select * from "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    with pytest.raises(duckdb.InvalidInputException, match="oracle domain"):
        con.sql(QUERIES["ann_batch_topk"].oracle).fetchall()


def test_index_probe_path_recovers_after_swap_crash(spark, tmp_path):
    """Round-8 advice item: a crash BETWEEN the compaction swap renames
    followed by a PROBE-only restart (index_candidate_pairs, with no
    intervening write) must repair the index rather than fail on a
    missing directory — the probe entry point now runs
    index_store.recover first."""
    import os
    import shutil

    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared shingle text {i % 3}")
         for i in range(30)],
        "doc_id long, text string",
    )
    index = str(tmp_path / "probe_rx_index")
    dedup.write_minhash_index(docs, index)
    probe = spark.createDataFrame(
        [(100, "document number 7 with shared shingle text 1")],
        "doc_id long, text string",
    )
    want = sorted(
        (r["batch_id"], r["corpus_id"])
        for r in dedup.index_candidate_pairs(spark, index, probe).collect()
    )
    assert want  # the probe doc really collides with the corpus
    # crash between the two renames: index_path is GONE
    shutil.copytree(index, index + ".compacting")
    os.rename(index, index + ".old")
    # round-10 advice: the crashed state counts as existing (callers
    # must route to recovering paths, not recreate the index)
    assert dedup.minhash_index_exists(index)
    got = sorted(
        (r["batch_id"], r["corpus_id"])
        for r in dedup.index_candidate_pairs(spark, index, probe).collect()
    )
    assert got == want
    assert not os.path.exists(index + ".old")


def test_batch_index_lifecycle_append_delete_compact_probe(spark, tmp_path):
    """Round-8 verdict item 6: the standing batch IVF-PQ index must
    ingest (append), retire (tombstone delete), compact (physical
    rewrite, atomic swap), and recover from a crash at any swap point —
    with probe results IDENTICAL to a fresh build over the surviving
    vectors at every stage."""
    import os
    import random
    import shutil

    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(600)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = similarity.adaptive_planes(600, 16, target_cell_width=16)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def probe(path):
        return sorted(
            (r["q_id"], r["vec_id"], r["rank"])
            for r in similarity.batch_ivfpq_index_topk(
                spark, path, _IVFPQ_COARSE, _PQ_BOOKS, planes, queries,
                probe_radius=2,
            ).collect()
        )

    # lifecycle index: gen A + appended gen B
    life = str(tmp_path / "life")
    similarity.write_batch_ivfpq_index(
        emb.filter(F.col("vec_id") < 300), _IVFPQ_COARSE, _PQ_BOOKS,
        planes, life,
    )
    similarity.append_batch_ivfpq_index(
        emb.filter(F.col("vec_id") >= 300), _IVFPQ_COARSE, _PQ_BOOKS,
        planes, life,
    )
    # reference: fresh single-generation build over the same vectors
    fresh = str(tmp_path / "fresh")
    similarity.write_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, fresh
    )
    assert probe(life) == probe(fresh)
    # tombstone-delete a slice: probes must hide it immediately
    dead = [i for i in range(600) if i % 7 == 3]
    similarity.delete_from_batch_ivfpq_index(spark, life, dead)
    after_delete = probe(life)
    assert not {v for _, v, _ in after_delete} & set(dead)
    # compaction retires the rows physically; probe results identical
    similarity.compact_batch_ivfpq_index(spark, life)
    assert spark.read.parquet(life).count() == 600 - len(dead)
    assert probe(life) == after_delete
    # crash BETWEEN the swap renames, then a probe-only restart: the
    # probe path runs recovery and serves the pre-compaction state
    shutil.copytree(life, life + ".compacting")
    os.rename(life, life + ".old")
    assert probe(life) == after_delete
    assert not os.path.exists(life + ".old")


def test_delete_after_swap_crash_does_not_destroy_index(spark, tmp_path):
    """Round-9 advice (medium): a tombstone DELETE issued while the
    index sits in the crashed-between-renames state used to recreate
    the base dir containing only _tombstones; the next recovery then
    saw base+.old both present, took the cleaned_old branch, and
    rmtree'd the only real copy. Both delete entry points must run
    recovery first."""
    import os
    import random
    import shutil

    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )

    # --- minhash side
    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared shingle text {i % 3}")
         for i in range(30)],
        "doc_id long, text string",
    )
    index = str(tmp_path / "del_rx_index")
    dedup.write_minhash_index(docs, index)
    # crash between the two renames: base GONE, .old holds the copy
    shutil.copytree(index, index + ".compacting")
    os.rename(index, index + ".old")
    dedup.delete_from_minhash_index(spark, index, [7])
    # the index must have been rolled back BEFORE the tombstone write
    assert dedup.minhash_index_exists(index)
    assert not os.path.exists(index + ".old")
    probe = spark.createDataFrame(
        [(100, "document number 8 with shared shingle text 2")],
        "doc_id long, text string",
    )
    got = dedup.index_candidate_pairs(spark, index, probe).collect()
    assert got  # postings survived; 7 is tombstoned, 8's bucket intact
    assert all(r["corpus_id"] != 7 for r in got)

    # --- batch IVF-PQ side
    rng = random.Random(29)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    planes = similarity.adaptive_planes(200, 16, target_cell_width=16)
    bidx = str(tmp_path / "del_rx_bidx")
    similarity.write_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, bidx
    )
    shutil.copytree(bidx, bidx + ".compacting")
    os.rename(bidx, bidx + ".old")
    similarity.delete_from_batch_ivfpq_index(spark, bidx, [5])
    assert not os.path.exists(bidx + ".old")
    queries = emb.filter(F.col("vec_id") % 50 == 1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = similarity.batch_ivfpq_index_topk(
        spark, bidx, _IVFPQ_COARSE, _PQ_BOOKS, planes, queries,
        probe_radius=2,
    ).collect()
    assert out and all(r["vec_id"] != 5 for r in out)


def test_batch_probe_dedups_replayed_append_candidates(spark, tmp_path):
    """Round-9 advice: a REPLAYED append duplicates vec_ids physically
    until compaction; probes must not let the duplicate occupy two of
    the k result slots — results must equal a fresh single-generation
    build."""
    import random

    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )

    rng = random.Random(31)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(200)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    planes = similarity.adaptive_planes(200, 16, target_cell_width=16)
    queries = emb.filter(F.col("vec_id") % 50 == 1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def probe(path):
        return sorted(
            (r["q_id"], r["vec_id"], r["rank"], r["adc_score"])
            for r in similarity.batch_ivfpq_index_topk(
                spark, path, _IVFPQ_COARSE, _PQ_BOOKS, planes, queries,
                probe_radius=2,
            ).collect()
        )

    fresh = str(tmp_path / "dup_fresh")
    similarity.write_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, fresh
    )
    replayed = str(tmp_path / "dup_replayed")
    similarity.write_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, replayed
    )
    # the whole generation appended AGAIN — every vec_id now physical x2
    similarity.append_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, replayed
    )
    got = probe(replayed)
    assert got == probe(fresh)
    # and no (q_id, vec_id) appears twice
    keys = [(q, v) for q, v, _, _ in got]
    assert len(keys) == len(set(keys))


def test_probe_retries_through_concurrent_compaction_window(
    spark, tmp_path, monkeypatch
):
    """Round-9 verdict item 6 (concurrent-reader contract): a probe in
    one session racing a compaction swap in ANOTHER session can land its
    plan-time read exactly in the between-renames window — the index
    directory is gone, only ``.old`` exists. The probe entry points must
    retry once through recovery instead of surfacing PATH_NOT_FOUND.
    Deterministic two-session simulation: the concurrent compactor's
    mid-swap state is injected between the probe's health check and its
    read via the _plan_read_index seam."""
    import os
    import random
    import shutil

    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )

    real_read = index_store._plan_read_index

    def raced_read_factory(path):
        state = {"raced": False}

        def raced_read(spark_, index_path):
            if index_path == path and not state["raced"]:
                state["raced"] = True
                # the concurrent compactor is between its two renames
                # RIGHT NOW: base swapped away, .old holds the tree
                shutil.copytree(path, path + ".compacting")
                os.rename(path, path + ".old")
            return real_read(spark_, index_path)

        return raced_read, state

    # --- minhash probe path (index_candidate_pairs)
    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared shingle text {i % 3}")
         for i in range(30)],
        "doc_id long, text string",
    )
    index = str(tmp_path / "race_mh_index")
    dedup.write_minhash_index(docs, index)
    probe_docs = spark.createDataFrame(
        [(100, "document number 7 with shared shingle text 1")],
        "doc_id long, text string",
    )
    want = sorted(
        (r["batch_id"], r["corpus_id"])
        for r in dedup.index_candidate_pairs(spark, index, probe_docs).collect()
    )
    assert want
    raced, state = raced_read_factory(index)
    monkeypatch.setattr(index_store, "_plan_read_index", raced)
    got = sorted(
        (r["batch_id"], r["corpus_id"])
        for r in dedup.index_candidate_pairs(spark, index, probe_docs).collect()
    )
    assert state["raced"]  # the race really fired
    assert got == want
    assert dedup.minhash_index_exists(index)
    assert not os.path.exists(index + ".old")
    monkeypatch.setattr(index_store, "_plan_read_index", real_read)

    # --- batch IVF-PQ probe path (batch_ivfpq_index_topk)
    rng = random.Random(41)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    planes = similarity.adaptive_planes(200, 16, target_cell_width=16)
    bidx = str(tmp_path / "race_bidx")
    similarity.write_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, bidx
    )
    queries = emb.filter(F.col("vec_id") % 50 == 1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def bprobe():
        return sorted(
            (r["q_id"], r["vec_id"], r["rank"])
            for r in similarity.batch_ivfpq_index_topk(
                spark, bidx, _IVFPQ_COARSE, _PQ_BOOKS, planes, queries,
                probe_radius=2,
            ).collect()
        )

    bwant = bprobe()
    assert bwant
    braced, bstate = raced_read_factory(bidx)
    monkeypatch.setattr(index_store, "_plan_read_index", braced)
    assert bprobe() == bwant
    assert bstate["raced"]
    assert not os.path.exists(bidx + ".old")


def test_probe_survives_full_concurrent_compaction(spark, tmp_path, monkeypatch):
    """The other arm of the two-session race: the concurrent compactor
    runs TO COMPLETION between the probe's health check and its read
    (swap finished, retired tree rmtree'd). The probe's plan lands on
    the NEW tree at the same path — results must equal the
    post-compaction index with no retry needed."""
    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared shingle text {i % 3}")
         for i in range(30)],
        "doc_id long, text string",
    )
    index = str(tmp_path / "race_full_index")
    dedup.write_minhash_index(docs, index)
    # second generation: appends leave multiple files for compaction to merge
    dedup.write_minhash_index(
        spark.createDataFrame(
            [(i, f"document number {i} with shared shingle text {i % 3}")
             for i in range(30, 40)],
            "doc_id long, text string",
        ),
        index,
        mode="append",
    )
    probe_docs = spark.createDataFrame(
        [(100, "document number 7 with shared shingle text 1")],
        "doc_id long, text string",
    )
    want = sorted(
        (r["batch_id"], r["corpus_id"])
        for r in dedup.index_candidate_pairs(spark, index, probe_docs).collect()
    )
    real_read = index_store._plan_read_index
    state = {"fired": False}

    def read_after_full_compaction(spark_, index_path):
        if index_path == index and not state["fired"]:
            state["fired"] = True
            dedup.compact_minhash_index(spark_, index_path)
        return real_read(spark_, index_path)

    monkeypatch.setattr(index_store, "_plan_read_index", read_after_full_compaction)
    got = sorted(
        (r["batch_id"], r["corpus_id"])
        for r in dedup.index_candidate_pairs(spark, index, probe_docs).collect()
    )
    assert state["fired"]
    assert got == want  # compaction never changes probe results


# ---------------------------------------------------------------------------
# index_store.cached_build: one stamp-keyed build, published atomically
# ---------------------------------------------------------------------------
@pytest.fixture
def cache_src(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    src = tmp_path / "t.parquet"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"rows")
    return str(src)


def _file_builder(calls):
    def build(index_path):
        calls.append(index_path)
        os.makedirs(index_path)
        with open(os.path.join(index_path, "part-0"), "w") as fh:
            fh.write("postings")

    return build


def _assert_one_complete_tree(tmp_path, index_path):
    root = os.path.dirname(index_path)
    assert sorted(os.listdir(tmp_path / "cache")) == [os.path.basename(root)]
    assert os.path.basename(root).startswith("spark_graft_t_")
    assert os.path.exists(os.path.join(root, index_store.BUILT_MARKER))
    assert os.listdir(index_path) == ["part-0"]


def test_cached_build_reuses_published_index(cache_src, tmp_path):
    calls = []
    path = index_store.cached_build("t", cache_src, "p", _file_builder(calls))
    again = index_store.cached_build("t", cache_src, "p", _file_builder(calls))
    assert again == path
    assert len(calls) == 1  # the second call never ran the builder
    _assert_one_complete_tree(tmp_path, path)


def test_cached_build_replaces_stale_partial(cache_src, tmp_path):
    calls = []
    path = index_store.cached_build("t", cache_src, "p", _file_builder(calls))
    # a partial left at the cache root by a dead in-place writer: no
    # marker, and a stray file the complete build does not have
    os.remove(os.path.join(os.path.dirname(path), index_store.BUILT_MARKER))
    with open(os.path.join(path, "part-9"), "w") as fh:
        fh.write("half")
    assert index_store.cached_build(
        "t", cache_src, "p", _file_builder(calls)
    ) == path
    assert len(calls) == 2
    _assert_one_complete_tree(tmp_path, path)


def test_cached_build_failed_builder_publishes_nothing(cache_src, tmp_path):
    def dies(index_path):
        _file_builder([])(index_path)
        raise RuntimeError("builder died")

    with pytest.raises(RuntimeError, match="builder died"):
        index_store.cached_build("t", cache_src, "p", dies)
    assert os.listdir(tmp_path / "cache") == []
    calls = []
    path = index_store.cached_build("t", cache_src, "p", _file_builder(calls))
    assert len(calls) == 1  # the next call rebuilt
    _assert_one_complete_tree(tmp_path, path)


def test_cached_build_concurrent_builders_leave_one_tree(cache_src, tmp_path):
    import threading

    both_built = threading.Barrier(2)
    calls, roots = [], []

    def build(index_path):
        _file_builder(calls)(index_path)
        # neither publishes before both have built: a real race
        both_built.wait(timeout=30)

    def run():
        roots.append(index_store.cached_build("t", cache_src, "p", build))

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert len(calls) == 2 and len(roots) == 2
    assert calls[0] != calls[1]  # each built in its own private staging
    assert roots[0] == roots[1]
    _assert_one_complete_tree(tmp_path, roots[0])


def test_subprobe_radius_sql_case_matches_python_schedule():
    """Round-9 advice: the oracle radius CASE is GENERATED from the one
    shared threshold table — evaluate it in DuckDB across the whole SQL
    domain and compare to the Python schedule; above the domain it must
    error loudly."""
    import duckdb

    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _SQL_BALL_MAX_PLANES,
        _SQL_BALL_RADIUS,
    )

    con = duckdb.connect()
    got = con.sql(
        f"select planes, {_SQL_BALL_RADIUS} as r from (select "
        f"unnest(range(0, {_SQL_BALL_MAX_PLANES + 1})) as planes) "
        "order by planes"
    ).fetchall()
    assert got == [
        (p, similarity.adaptive_subprobe_radius(p))
        for p in range(_SQL_BALL_MAX_PLANES + 1)
    ]
    with pytest.raises(duckdb.Error, match="truncates at planes"):
        con.sql(
            f"select {_SQL_BALL_RADIUS} as r from "
            f"(select {_SQL_BALL_MAX_PLANES + 1} as planes)"
        ).fetchall()
    # the Python schedule keeps going where the SQL domain ends
    assert similarity.adaptive_subprobe_radius(_SQL_BALL_MAX_PLANES + 1) == 3
    assert similarity.adaptive_subprobe_radius(18) == 4


def test_ann_batch_topk_cert_recall_floor_on_testdata(spark):
    """The in-result certification column must show the measured routing
    recall on the random testdata (0.88 at sf0.001 when written) — pin
    a generous floor so a silent routing regression (wrong probe set,
    broken sub-bucket match) fails loudly, and pin the -1 sentinel on
    non-certified rows."""
    from dbt_datbricks_demo_spark.queries import QUERIES

    out = QUERIES["ann_batch_topk"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    cert = [r for r in out if r["q_id"] < 800]
    assert cert and all(r["cert_hit"] in (0, 1) for r in cert)
    assert all(r["cert_hit"] == -1 for r in out if r["q_id"] >= 800)
    hits = sum(r["cert_hit"] for r in cert)
    assert hits >= len(cert) // 2, (hits, len(cert))


def test_semdedup_misses_cross_cell_pairs_by_design(spark):
    # two identical vectors pushed into DIFFERENT cells by the quantizer
    # are not compared — the documented recall trade of cluster-scoped
    # pruning (the paper's within-cluster semantics)
    cents = [[1.0, 0, 0, 0], [0.7, 0.72, 0, 0]]
    rows = [
        (1, _unit([1.0, 0.0, 0, 0])),   # cell 0
        (2, _unit([0.7, 0.73, 0, 0])),  # cell 1, cos(1,2)≈0.69 < thr anyway
        (3, _unit([0.69, 0.73, 0, 0])),  # cell 1, near-dup of 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in similarity.semdedup(emb, cents, threshold=0.95).collect()
    }
    assert out[1]["kept"] and out[2]["kept"] and not out[3]["kept"]


# ---------------------------------------------------------------------------
# compression_ratio (zlib quality signal — rows-only, law-pinned)
# ---------------------------------------------------------------------------
def test_compression_ratio_laws(spark):
    from dbt_datbricks_demo_spark.operators.text import compression_ratio

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam spam spam spam spam"),
            (1, "q7#kPz!mW9@vRt2&xLc4$bNd8*hJf6^gSa1%yUe3(iOw5)"),
            (2, ""),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in compression_ratio(docs).collect()}
    # repetitive text compresses much better than high-entropy text
    assert out[0].ratio_micro < out[1].ratio_micro
    # byte accounting is honest
    assert out[0].raw_bytes == 49
    assert out[0].compressed_bytes > 0
    # empty doc guarded (no division by zero), ratio vs the 1-byte floor
    assert out[2].raw_bytes == 0
    # NULL text tolerated like the SQL operators: empty-doc semantics,
    # not an AttributeError that kills the whole job
    assert out[3].raw_bytes == 0
    # determinism within the environment: same input -> same bytes
    again = {r.doc_id: r for r in compression_ratio(docs).collect()}
    assert {k: v.compressed_bytes for k, v in out.items()} == {
        k: v.compressed_bytes for k, v in again.items()
    }


# ---------------------------------------------------------------------------
# asof_join_forward (earliest subsequent match, inclusive, tolerance)
# ---------------------------------------------------------------------------
def test_asof_join_forward_semantics(spark):
    import datetime as dt

    from dbt_datbricks_demo_spark.operators.asof import asof_join_forward

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(10), "a"), (1, t(30), "b"), (2, t(10), "c"), (3, t(5), "d")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(25), 200.0), (2, t(50), 300.0)],
        "user_id long, ts timestamp, val double",
    )
    out = {
        r.tag: r
        for r in asof_join_forward(
            left, right, "ts", "user_id", ["val"], tolerance_seconds=15
        ).collect()
    }
    assert out["a"].val == 100.0      # inclusive: equal timestamp matches
    assert out["b"].val is None       # no right row at/after t=30 for user 1
    assert out["c"].val is None       # t=50 match exists but > 15s tolerance
    assert out["c"].matched_ts is None
    assert out["d"].val is None       # key 3 has no right rows at all
    # without tolerance the forward match for user 2 appears
    out2 = {
        r.tag: r
        for r in asof_join_forward(
            left, right, "ts", "user_id", ["val"]
        ).collect()
    }
    assert out2["c"].val == 300.0


def test_adaptive_rows_per_band_schedule():
    """The banding-geometry schedule is the contract both engines derive
    independently (Spark from parquet-footer stats, the oracle from
    count(*)): doubles at each threshold, capped at one band."""
    from dbt_datbricks_demo_spark.operators.dedup import (
        adaptive_rows_per_band,
    )

    assert adaptive_rows_per_band(500) == 4
    assert adaptive_rows_per_band(1000) == 4    # boundary stays
    assert adaptive_rows_per_band(1001) == 8    # first doubling
    assert adaptive_rows_per_band(5000) == 8    # sf0.1 documents
    assert adaptive_rows_per_band(20000) == 8
    assert adaptive_rows_per_band(20001) == 16
    assert adaptive_rows_per_band(10**9) == 16  # capped at num_hashes


def test_index_write_lock_contract(tmp_path):
    """Writer-writer lock semantics (round-9 verdict item 3): O_EXCL
    acquisition, fail-fast conflict against a LIVE holder, atomic
    stale-lock takeover with read-back verification, and release that
    never unlinks a newer owner's lock."""
    import json
    import os
    import time

    from dbt_datbricks_demo_spark.operators.locks import (
        IndexWriterConflict,
        index_write_lock,
        _lock_path,
    )

    idx = str(tmp_path / "locked_index")

    # plain acquire/release
    with index_write_lock(idx, "a"):
        assert os.path.exists(_lock_path(idx))
        # live conflict fails fast and leaves the holder's lock alone
        with pytest.raises(IndexWriterConflict, match="write-locked"):
            with index_write_lock(idx, "b"):
                raise AssertionError("must not enter")
        assert json.load(open(_lock_path(idx)))["owner"] == "a"
    assert not os.path.exists(_lock_path(idx))

    # stale takeover: a crashed writer's old lock is claimed atomically
    with open(_lock_path(idx), "w") as fh:
        json.dump(
            {"pid": 999999, "owner": "crashed", "acquired_at": 1.0}, fh
        )
    with index_write_lock(idx, "claimant", stale_after_s=60):
        assert json.load(open(_lock_path(idx)))["owner"] == "claimant"
    assert not os.path.exists(_lock_path(idx))

    # a FRESH foreign lock is respected even by a would-be claimant
    with open(_lock_path(idx), "w") as fh:
        json.dump(
            {"pid": 999999, "owner": "other", "acquired_at": time.time()},
            fh,
        )
    with pytest.raises(IndexWriterConflict):
        with index_write_lock(idx, "claimant", stale_after_s=60):
            pass
    os.unlink(_lock_path(idx))

    # release never unlinks a lock we no longer own (takeover happened
    # under us): simulate by swapping the content mid-hold
    with index_write_lock(idx, "a"):
        with open(_lock_path(idx), "w") as fh:
            json.dump(
                {"pid": 1, "owner": "usurper", "acquired_at": time.time()},
                fh,
            )
    assert json.load(open(_lock_path(idx)))["owner"] == "usurper"
    os.unlink(_lock_path(idx))

    # a lock with valid JSON but NO acquired_at (partial/foreign write)
    # is stale, not a KeyError (round-10 advice)
    with open(_lock_path(idx), "w") as fh:
        json.dump({"pid": 999999, "owner": "foreign"}, fh)
    with index_write_lock(idx, "claimant", stale_after_s=60):
        assert json.load(open(_lock_path(idx)))["owner"] == "claimant"
    assert not os.path.exists(_lock_path(idx))

    # takeover arbitration is rename-aside (round-10 advice), and a
    # VANISHED lock is acquirable, not contended (round-11 advice): the
    # claimant whose os.rename finds the stale lock already gone —
    # because the holder released, or a rival takeover completed and
    # released — loops back, retries the atomic create, and ACQUIRES
    # instead of raising a spurious IndexWriterConflict.
    with open(_lock_path(idx), "w") as fh:
        json.dump(
            {"pid": 999999, "owner": "crashed", "acquired_at": 1.0}, fh
        )
    real_rename = os.rename

    def steal_then_rename(src, dst):
        # simulate the other claimant winning the aside first (and then
        # releasing without re-creating: the lock is genuinely free)
        real_rename(src, str(tmp_path / "other_claimant_aside"))
        return real_rename(src, dst)  # raises FileNotFoundError

    import unittest.mock as _mock

    entered = []
    with _mock.patch("os.rename", side_effect=steal_then_rename):
        with index_write_lock(idx, "retrier", stale_after_s=60):
            entered.append(json.load(open(_lock_path(idx)))["owner"])
    assert entered == ["retrier"]
    assert not os.path.exists(_lock_path(idx))

    # winner renames aside, then a THIRD writer O_EXCL-creates before
    # the winner's create: winner must concede
    with open(_lock_path(idx), "w") as fh:
        json.dump(
            {"pid": 999999, "owner": "crashed", "acquired_at": 1.0}, fh
        )

    def rename_then_third_writer(src, dst):
        real_rename(src, dst)
        with open(_lock_path(idx), "w") as fh:
            json.dump(
                {"pid": 424242, "owner": "third", "acquired_at": time.time()},
                fh,
            )

    with _mock.patch("os.rename", side_effect=rename_then_third_writer):
        with pytest.raises(IndexWriterConflict, match="takeover race"):
            with index_write_lock(idx, "loser", stale_after_s=60):
                raise AssertionError("must not enter")
    assert json.load(open(_lock_path(idx)))["owner"] == "third"
    os.unlink(_lock_path(idx))


def test_lock_create_is_atomic_with_content(tmp_path):
    """Round-11 advice (medium): the lock file must come into existence
    ATOMICALLY WITH its full JSON claim — an O_EXCL create-then-write
    exposes a window where a concurrent claimant reads the empty file,
    scores it infinitely stale, and takes over a LIVE lock. The fix
    links a fully-written claimant-unique temp file to the lock name;
    this pins that at the instant of creation the content is already
    complete, and that no claim temp files are left behind."""
    import json
    import os
    import unittest.mock as _mock

    from dbt_datbricks_demo_spark.operators.locks import (
        IndexWriterConflict,
        index_write_lock,
        _lock_path,
    )

    idx = str(tmp_path / "atomic_idx")
    lock = _lock_path(idx)
    real_link = os.link
    observed = {}

    def spy_link(src, dst):
        # the temp file already holds the COMPLETE claim before the
        # lock name exists — no reader can ever see a partial lock
        observed["content"] = json.load(open(src))
        observed["lock_preexists"] = os.path.exists(dst)
        return real_link(src, dst)

    with _mock.patch("os.link", side_effect=spy_link):
        with index_write_lock(idx, "atomic-owner"):
            assert json.load(open(lock))["owner"] == "atomic-owner"
    assert observed["content"]["owner"] == "atomic-owner"
    assert observed["content"]["pid"] == os.getpid()
    assert isinstance(observed["content"]["acquired_at"], float)
    assert observed["lock_preexists"] is False
    assert not os.path.exists(lock)
    # the claimant-unique temp file is always cleaned up — including
    # on the contended path (FileExistsError from os.link)
    leftovers = [p for p in os.listdir(tmp_path) if ".claim." in p]
    assert leftovers == []
    with index_write_lock(idx, "holder"):
        with pytest.raises(IndexWriterConflict):
            with index_write_lock(idx, "contender"):
                raise AssertionError("must not enter")
        leftovers = [p for p in os.listdir(tmp_path) if ".claim." in p]
        assert leftovers == []


def test_compact_vs_append_writer_lock_both_orders(spark, tmp_path):
    """Round-9 verdict item 3: the two-session WRITER race, both
    orders. A compaction holding the index write lock makes a
    concurrent append/delete fail fast (no rows land in the old tree
    to be lost by the swap); an append holding it makes a concurrent
    compaction fail fast (no interleaved renames). After the loser
    retries serially, probe results equal the serial schedule's."""
    import random

    from dbt_datbricks_demo_spark.operators.locks import (
        IndexWriterConflict,
        index_write_lock,
    )
    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )

    rng = random.Random(43)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    planes = similarity.adaptive_planes(120, 16, target_cell_width=16)
    idx = str(tmp_path / "ww_bidx")
    gen_a = emb.filter(F.col("vec_id") < 80)
    gen_b = emb.filter(F.col("vec_id") >= 80)
    similarity.write_batch_ivfpq_index(
        gen_a, _IVFPQ_COARSE, _PQ_BOOKS, planes, idx
    )

    # order 1: a compaction session holds the lock -> append + delete
    # in "another session" both fail fast, index bytes untouched
    with index_write_lock(idx, "compact-session"):
        with pytest.raises(IndexWriterConflict):
            similarity.append_batch_ivfpq_index(
                gen_b, _IVFPQ_COARSE, _PQ_BOOKS, planes, idx
            )
        with pytest.raises(IndexWriterConflict):
            similarity.delete_from_batch_ivfpq_index(spark, idx, [3])
    rows_after_conflicts = spark.read.parquet(idx).count()
    assert rows_after_conflicts == 80  # nothing landed under the lock

    # order 2: an append session holds the lock -> compaction fails fast
    with index_write_lock(idx, "append-session"):
        with pytest.raises(IndexWriterConflict):
            similarity.compact_batch_ivfpq_index(spark, idx)

    # serial retry converges to the serial schedule's state
    similarity.append_batch_ivfpq_index(
        gen_b, _IVFPQ_COARSE, _PQ_BOOKS, planes, idx
    )
    similarity.delete_from_batch_ivfpq_index(spark, idx, [3])
    similarity.compact_batch_ivfpq_index(spark, idx)
    # 120 ingested - 1 tombstoned
    assert spark.read.parquet(idx).count() == 119

    # same contract on the minhash index write paths
    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared shingle text {i % 3}")
         for i in range(30)],
        "doc_id long, text string",
    )
    mh = str(tmp_path / "ww_mh_index")
    dedup.write_minhash_index(docs, mh)
    with index_write_lock(mh, "compact-session"):
        with pytest.raises(IndexWriterConflict):
            dedup.write_minhash_index(docs, mh, mode="append")
        with pytest.raises(IndexWriterConflict):
            dedup.delete_from_minhash_index(spark, mh, [1])
        with pytest.raises(IndexWriterConflict):
            dedup.compact_minhash_index(spark, mh)
    # lock released -> maintenance proceeds
    dedup.delete_from_minhash_index(spark, mh, [1])
    rows_before = spark.read.parquet(mh).count()
    dedup.compact_minhash_index(spark, mh)
    assert spark.read.parquet(mh).count() < rows_before


def test_adc_delivery_paths_identical(spark, tmp_path, monkeypatch):
    """batch_ivfpq_index_topk delivers the per-query ADC tables two
    ways chosen by counted batch size (packed literal under
    ADC_LITERAL_MAX_BATCH, broadcast-hash join above — the round-10
    measured cross-over). Same index, same queries, both paths must
    return IDENTICAL rows and scores."""
    import random

    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )

    rng = random.Random(53)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    planes = similarity.adaptive_planes(300, 16, target_cell_width=16)
    idx = str(tmp_path / "adc_path_idx")
    similarity.write_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, idx
    )
    queries = emb.filter(F.col("vec_id") % 20 == 1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )  # 15 queries — under the default threshold

    def run():
        return sorted(
            (r["q_id"], r["vec_id"], r["rank"], r["adc_score"])
            for r in similarity.batch_ivfpq_index_topk(
                spark, idx, _IVFPQ_COARSE, _PQ_BOOKS, planes, queries,
                probe_radius=2,
            ).collect()
        )

    lit_rows = run()  # literal path (15 <= 64)
    monkeypatch.setattr(similarity, "ADC_LITERAL_MAX_BATCH", 0)
    join_rows = run()  # forced broadcast-join path
    assert lit_rows == join_rows
    assert lit_rows  # non-vacuous
