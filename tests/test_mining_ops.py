"""Law tests for the round-6 continuation mining operators on
constructed data with hand-computed answers — the operator-level
complement to the DuckDB value-hash gate (which checks the registered
queries end to end but not the operators' algebraic properties)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.operators import selection, similarity, text

BOOKS = similarity.pq_codebooks(8, 8, 16)


@pytest.fixture(scope="module")
def vecs(spark):
    # three deterministic 64-dim vectors inside the codebook range
    rows = [
        (0, [((7 * d + 3) % 101 - 50) / 100.0 for d in range(64)]),
        (1, [((13 * d + 1) % 101 - 50) / 100.0 for d in range(64)]),
        (2, [0.0] * 64),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_codes_in_range_and_pack_roundtrips(vecs):
    out = vecs.select(
        "vec_id",
        similarity.pq_encode(F.col("embedding"), BOOKS).alias("codes"),
    ).withColumn("packed", similarity.pq_pack(F.col("codes"), 16))
    for r in out.collect():
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
        # unpack base-16 digits most-significant-first
        p = r["packed"]
        digits = []
        for _ in range(8):
            digits.append(p % 16)
            p //= 16
        assert list(reversed(digits)) == list(r["codes"])


def test_pq_encode_matches_driver_argmin(vecs):
    """The in-plan per-subspace argmin agrees with a plain Python argmin
    over the same books — the encode path has no engine-specific
    surprises."""
    rows = {r["vec_id"]: r for r in vecs.collect()}
    out = {
        r["vec_id"]: r["codes"]
        for r in vecs.select(
            "vec_id", similarity.pq_encode(F.col("embedding"), BOOKS).alias("codes")
        ).collect()
    }
    for vid, r in rows.items():
        v = [float(x) for x in r["embedding"]]
        expect = []
        for s, book in enumerate(BOOKS):
            sub = v[s * 8 : (s + 1) * 8]
            scores = []
            for c in book:
                dot = 0.0
                for q, x in zip(sub, c):
                    dot = dot + q * float(x)
                c2 = 0.0
                for x in c:
                    c2 = c2 + float(x) * float(x)
                scores.append(-2.0 * dot + c2)
            expect.append(min(range(16), key=lambda j: (scores[j], j)))
        assert out[vid] == expect, f"vec {vid}"


def test_pq_adc_equals_table_sum(vecs):
    """ADC score = sum of the driver table entries at the encoded
    codes — checked against an independent Python recomputation."""
    q = [float(x) for x in vecs.filter("vec_id = 0").first()["embedding"]]
    table = similarity.pq_adc_table(q, BOOKS)
    top = similarity.pq_adc_topk(vecs, BOOKS, q, k=3).collect()
    codes = {
        r["vec_id"]: r["codes"]
        for r in vecs.select(
            "vec_id", similarity.pq_encode(F.col("embedding"), BOOKS).alias("codes")
        ).collect()
    }
    for r in top:
        acc = 0.0
        for s, c in enumerate(codes[r["vec_id"]]):
            acc = acc + table[s][c]
        assert abs(r["adc_score"] - round(acc, 6)) < 1e-9


def test_sign_projection_of_basis_vectors_reads_out_the_matrix(spark):
    """Projecting the d-th basis vector returns column d of the sign
    matrix exactly — the projection is the advertised linear map."""
    signs = similarity.sign_matrix(4, 6)
    rows = [(d, [1.0 if i == d else 0.0 for i in range(6)]) for d in range(6)]
    df = spark.createDataFrame(rows, "d long, v array<float>")
    out = {
        r["d"]: r["y"]
        for r in df.select(
            "d", similarity.project_signs(F.col("v"), signs).alias("y")
        ).collect()
    }
    for d in range(6):
        assert out[d] == [float(signs[p][d]) for p in range(4)]


def test_doremi_upweights_high_loss_domain(spark):
    """One mirror-descent step must move weight toward the domain whose
    loss exceeds the weighted mean, away from the one below it, and
    leave the exactly-average domain (loss == weighted mean with equal
    weights) in place."""
    rows = [
        ("hard", 4_000_000, 1_000_000),
        ("easy", 2_000_000, 1_000_000),
        ("mid", 3_000_000, 1_000_000),
    ]
    d0 = spark.createDataFrame(rows, "source string, l_micro long, w0 long")
    out = {
        r["source"]: r
        for r in selection.doremi_weights(d0, iters=3, eta=0.1).collect()
    }
    assert out["hard"]["w3"] > out["hard"]["w0"]
    assert out["easy"]["w3"] < out["easy"]["w0"]
    # the mean domain stays put on the first step and drifts only with
    # the mean; after 3 symmetric steps it stays within rounding
    assert abs(out["mid"]["w3"] - out["mid"]["w0"]) <= out["mid"]["w0"] * 0.02
    # deterministic: a second run returns identical integers
    again = {
        r["source"]: r["w3"]
        for r in selection.doremi_weights(d0, iters=3, eta=0.1).collect()
    }
    assert {s: r["w3"] for s, r in out.items()} == again


def test_bigram_backoff_fires_only_on_unseen_transitions(spark):
    """Hand corpus: train doc 'a b a b', held-out doc 'a b c'. The a→b
    transition is in-model; b→c backs off. Hand-computed NLL:
      p(b|a) = c(ab)/c(a) = 2/2 = 1          → -ln 1 = 0
      p(c|b) backoff = 0.4·(c(c)+1)/(N+V)    with N=4 (train tokens),
                       V=2 (train vocab), c(c)=0 → 0.4/6
    avg_nll = (0 + -ln(0.4/6)) / 2."""
    rows = [(1, "a b a b", True), (2, "a b c", False)]
    df = spark.createDataFrame(rows, "doc_id long, text string, tr boolean")
    out = text.bigram_backoff_nll(df, F.col("tr")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_trans"] == 2 and r["n_backoff"] == 1
    expect = round((0.0 - math.log(0.4 * (0 + 1) / (4 + 2))) / 2, 6)
    assert abs(r["avg_nll"] - expect) < 1e-9


def test_bpe_merges_match_hand_computation(spark):
    """Classic Sennrich toy corpus: 'low' x2 + 'lowest'. Pair counts
    round 1: (l,o)=3, (o,w)=3, others <=1... tie between (l,o) and
    (o,w) breaks to (l,o) lexicographically; round 2 merges (lo,w);
    round 3 merges (low,_) (freq 2 from the two standalone 'low')."""
    df = spark.createDataFrame(
        [(1, "low low lowest")], "doc_id long, text string"
    )
    rows = text.bpe_train_merges(df, rounds=3).collect()
    assert [(r["step"], r["s1"], r["s2"], r["pair_freq"]) for r in rows] == [
        (1, "l", "o", 3),
        (2, "lo", "w", 3),
        (3, "low", "_", 2),
    ]
    # compression curve (FREQUENCY-weighted symbol instances): initial
    # 15 = 2x(l,o,w,_) + 1x(l,o,w,e,s,t,_); each merge removes one
    # symbol per weighted occurrence → 15-3, 12-3, 9-2
    assert [r["corpus_symbols_after"] for r in rows] == [12, 9, 7]


def test_bpe_overlapping_run_merges_left_to_right(spark):
    """[a,a,a,a,a] with pair (a,a): left-to-right non-overlapping gives
    [aa, aa, a] — the parity logic, not all-pairs replacement."""
    df = spark.createDataFrame([(1, "aaaaa")], "doc_id long, text string")
    best, merged = text.bpe_merge_round(
        text.bpe_initial_symbols(df)
    )
    b = best.collect()[0]
    assert (b["s1"], b["s2"], b["pair_freq"]) == ("a", "a", 4)
    syms = [
        r["sym"] for r in merged.orderBy("pos").collect()
    ]
    assert syms == ["aa", "aa", "a", "_"]


def test_bpe_apply_segmentation_matches_training(spark):
    """Applying the 3 learned merges to the Sennrich toy corpus yields
    the segmentation training ends on: 'low' collapses to the single
    'low_' symbol, 'lowest' to [low, e, s, t, _]."""
    df = spark.createDataFrame(
        [(1, "low low lowest")], "doc_id long, text string"
    )
    seg = {
        r["word"]: (r["freq"], r["n_syms"])
        for r in text.bpe_apply(df, rounds=3).collect()
    }
    assert seg == {"low": (2, 1), "lowest": (1, 5)}
