"""Contracts on the Spark jobs and exchanges a query pays for: the
work-sized _spread width, the single counted stage for candidate
pairs, the jobs one clean_corpus build fires, the jobs one streaming
near-dup ingest micro-batch fires, the size-guarded broadcast rule,
and literal_df's input checks."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark import functions
from dbt_datbricks_demo_spark.functions import (
    broadcast_if_small,
    counted,
    literal_df,
    loose_bound,
)
from dbt_datbricks_demo_spark.operators import corpus, dedup
from dbt_datbricks_demo_spark.queries import inventory


def _plan(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


_GROUP_SEQ = itertools.count()


def _jobs_fired(spark, fn):
    """Run fn() inside a fresh job group; return (result, #jobs)."""
    sc = spark.sparkContext
    # a counter, not id(fn): a freed lambda's id is reused, and its
    # group would then still hold the earlier call's jobs
    group = f"job-budget-{next(_GROUP_SEQ)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_docs(dirpath, n: int) -> str:
    dirpath.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": list(range(n)),
            "text": [f"document number {i} with a few words" for i in range(n)],
        }),
        str(dirpath / "documents.parquet"),
    )
    return str(dirpath)


# ---------------------------------------------------------------------------
# (a) _spread width = min(cores, ceil(rows / rows_per_task))
# ---------------------------------------------------------------------------
def test_spread_leaves_one_task_table_alone(spark, tmp_path):
    sf = _write_docs(tmp_path, inventory._ROWS_PER_TASK_TEXT)
    df = inventory._spread(inventory._t(spark, sf, "documents"))
    assert "RoundRobinPartitioning" not in _plan(df)


def test_spread_width_is_capped_by_cores(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    per_task = inventory._ROWS_PER_TASK_TEXT
    # two tasks' worth plus one row → width 3 (when the cores allow it)
    small = _write_docs(tmp_path / "small", 2 * per_task + 1)
    width = min(cores, 3)
    plan = _plan(inventory._spread(inventory._t(spark, small, "documents")))
    assert f"RoundRobinPartitioning({width})" in plan
    # far more work than cores → exactly the core count
    big = _write_docs(tmp_path / "big", (cores + 5) * per_task)
    plan = _plan(inventory._spread(inventory._t(spark, big, "documents")))
    assert f"RoundRobinPartitioning({cores})" in plan


def test_spread_numeric_class_needs_more_rows_than_text(spark, tmp_path):
    # the same row count is one task's worth of a numeric scan
    n = 4 * inventory._ROWS_PER_TASK_TEXT
    pq.write_table(
        pa.table({"l_orderkey": list(range(n))}),
        str(tmp_path / "lineitem.parquet"),
    )
    df = inventory._spread(inventory._t(spark, str(tmp_path), "lineitem"))
    assert "RoundRobinPartitioning" not in _plan(df)


def test_spread_vector_class_needs_more_rows_than_text(spark, tmp_path):
    # one task's worth of vectors is more than one task's worth of text
    n = inventory._ROWS_PER_TASK_VECTOR
    assert n > inventory._ROWS_PER_TASK_TEXT
    pq.write_table(
        pa.table({"vec_id": list(range(n))}),
        str(tmp_path / "embeddings.parquet"),
    )
    sf = _write_docs(tmp_path, n)
    emb = inventory._spread(inventory._t(spark, sf, "embeddings"))
    docs = inventory._spread(inventory._t(spark, sf, "documents"))
    assert "RoundRobinPartitioning" not in _plan(emb)
    cores = spark.sparkContext.defaultParallelism
    assert ("RoundRobinPartitioning" in _plan(docs)) == (cores > 1)


# ---------------------------------------------------------------------------
# (b) one counted stage for candidate pairs
# ---------------------------------------------------------------------------
@pytest.fixture()
def no_auto_broadcast(spark):
    """Only explicit hints broadcast while the test runs."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    for k in keys:
        spark.conf.set(k, "-1")
    yield
    for k in keys:
        spark.conf.unset(k)


def test_counted_pairs_returns_the_pair_count(spark):
    raw = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    pairs, n = counted(raw)
    assert n == raw.count() == pairs.count() == 4
    assert sorted(map(tuple, pairs.collect())) == sorted(map(tuple, raw.collect()))


def test_pair_consumers_broadcast_on_the_passed_count(
    spark, monkeypatch, no_auto_broadcast
):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta!"),
         (3, "something else entirely")],
        "doc_id long, text string",
    )
    pairs, n_pairs = counted(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    )
    assert n_pairs == 1
    limit = functions.BROADCAST_ROW_LIMIT

    # candidate_hash_arrays checkpoints its result; keep it lazy here so
    # its plan stays inspectable and building it fires no job
    monkeypatch.setattr(
        type(docs), "localCheckpoint", lambda self, eager=True, storageLevel=None: self
    )
    # cand_ids holds 2·n_pairs rows: the guard is on that bound, and a
    # known bound decides the broadcast either way without a job
    for n, want in ((limit // 2, True), (limit // 2 + 1, False)):
        hashed, jobs = _jobs_fired(
            spark,
            lambda: dedup.candidate_hash_arrays(docs, pairs, "doc_id", n_pairs=n),
        )
        assert jobs == 0
        assert ("BroadcastExchange" in _plan(hashed)) is want

    # `hashed` is the unhinted (over-bound) form, so any broadcast in
    # the Jaccard plan is the pair consumer's own
    for n, want in ((limit, True), (limit + 1, False)):
        jac, jobs = _jobs_fired(
            spark,
            lambda: dedup.jaccard_pairs_from_hashes(
                hashed, pairs, "doc_id", n_pairs=n
            ),
        )
        assert jobs == 0
        assert ("BroadcastExchange" in _plan(jac)) is want

    # the live verification path composes both on the counted pairs
    scored, n = dedup.jaccard_pairs(docs, pairs, "doc_id")
    assert n == 1
    assert [(r["id_a"], r["id_b"]) for r in scored.collect()] == [(1, 2)]


def test_jaccard_pairs_without_candidates_fires_only_the_count(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta!")],
        "doc_id long, text string",
    )
    none = spark.createDataFrame([], "id_a long, id_b long")
    (scored, n), jobs = _jobs_fired(
        spark, lambda: dedup.jaccard_pairs(docs, none, "doc_id")
    )
    assert (n, jobs) == (0, 1)
    assert scored.collect() == []
    one = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    assert scored.dtypes == dedup.jaccard_pairs(docs, one, "doc_id")[0].dtypes


# ---------------------------------------------------------------------------
# (c) the eager jobs one clean_corpus build fires
# ---------------------------------------------------------------------------
_BASE = (
    "the quick brown fox jumps over the lazy dog again and again today " * 3
).strip()
_CORPUS_ROWS = [
    (0, _BASE),
    (1, _BASE),
    (2, _BASE.replace("quick", "quack", 1)),
    (3, "der schnelle braune fuchs und der faule hund laufen heute sehr weit"),
    (4, "short text"),
    (5, "!!! ??? ;;; " + _BASE),
    (6, "机器 学习 模型 训练 数据 管道 现在 开始 运行 了 吗 呢"),
]

# jobs the build fires on this fixture, AQE stage jobs included. It was
# 13 while the candidate pairs were checkpointed eagerly and counted by
# each consumer, and the candidate ids were deduplicated before their
# broadcast.
CLEAN_CORPUS_BUILD_JOBS = 9


def test_clean_corpus_build_job_budget(spark):
    docs = spark.createDataFrame(_CORPUS_ROWS, "doc_id long, text string")
    kw = dict(
        min_tokens=10, jaccard_threshold=0.8, corpus_rows=len(_CORPUS_ROWS),
    )
    staged, jobs = _jobs_fired(spark, lambda: corpus.clean_corpus_staged(docs, **kw))
    assert jobs <= CLEAN_CORPUS_BUILD_JOBS, jobs
    assert sorted(r["doc_id"] for r in staged.collect()) == [0, 3]

    # the wrapper keeps the caller's columns; the staged gate columns
    # give corpus_stats_staged the same report as corpus_stats, which
    # recomputes them
    plain = corpus.clean_corpus(docs, **kw)
    assert plain.columns == docs.columns
    got = sorted(map(tuple, corpus.corpus_stats_staged(staged).collect()))
    assert got == sorted(map(tuple, corpus.corpus_stats(plain).collect()))


# ---------------------------------------------------------------------------
# (d) the jobs one streaming near-dup ingest micro-batch fires
# ---------------------------------------------------------------------------
# jobs one micro-batch fires against a non-empty standing index, AQE
# stage jobs and the corpus and index writes included. It was 31 while
# the ingest staged HOF signatures, verified its two candidate sets
# with two inline Jaccard joins, and checkpointed and counted the
# cross-batch candidates on their own.
STREAM_INGEST_BATCH_JOBS = 20


def test_index_ingest_micro_batch_job_budget(spark, tmp_path):
    from dbt_datbricks_demo_spark.streaming.corpus import index_ingest_batch_fn

    corpus_dir = str(tmp_path / "corpus")
    fn = index_ingest_batch_fn(corpus_dir, str(tmp_path / "index"))
    schema = "doc_id long, text string"
    fn(spark.createDataFrame([_CORPUS_ROWS[0], _CORPUS_ROWS[3]], schema), 0)
    batch = spark.createDataFrame(
        # a near-dup of admitted 0, an exact copy of 3, one new document
        [_CORPUS_ROWS[2], (7, _CORPUS_ROWS[3][1]),
         (8, "a genuinely new document about columnar engines and indexes")],
        schema,
    )
    _, jobs = _jobs_fired(spark, lambda: fn(batch, 1))
    assert jobs <= STREAM_INGEST_BATCH_JOBS, jobs
    admitted = {r["doc_id"] for r in spark.read.parquet(corpus_dir).collect()}
    assert admitted == {0, 3, 8}


# ---------------------------------------------------------------------------
# (e) one size-guarded broadcast rule
# ---------------------------------------------------------------------------
def _small_side(spark, partitions: int = 1):
    return spark.range(0, 10, 1, partitions).withColumnRenamed("id", "k")


def _joined_plan(spark, side) -> str:
    return _plan(spark.range(100).join(side, F.col("id") == F.col("k")))


def test_broadcast_if_small_known_bound_fires_no_job(spark, no_auto_broadcast):
    limit = functions.BROADCAST_ROW_LIMIT
    small = _small_side(spark)
    hinted, jobs = _jobs_fired(spark, lambda: broadcast_if_small(small, limit))
    assert jobs == 0
    assert "BroadcastExchange" in _joined_plan(spark, hinted)


def test_broadcast_if_small_unknown_bound_counts_in_one_job(
    spark, no_auto_broadcast
):
    # one job at any partition count: a DataFrame.count() of several
    # partitions is a partial and a final aggregate, two jobs under AQE
    for partitions in (1, 4):
        small = _small_side(spark, partitions)
        hinted, jobs = _jobs_fired(spark, lambda: broadcast_if_small(small))
        assert jobs == 1, partitions
        assert "BroadcastExchange" in _joined_plan(spark, hinted)
        (frame, n), jobs = _jobs_fired(spark, lambda: counted(small))
        assert (n, jobs) == (10, 1), partitions
        # the checkpoint keeps the frame's partitions and rows
        assert frame.rdd.getNumPartitions() == partitions
        assert sorted(r["k"] for r in frame.collect()) == list(range(10))


def test_broadcast_if_small_over_limit_keeps_rows_unhinted(
    spark, monkeypatch, no_auto_broadcast
):
    monkeypatch.setattr(functions, "BROADCAST_ROW_LIMIT", 0)
    # a known bound over the limit settles the shuffle without a job;
    # a loose one over the limit is dropped, so the side is counted
    assert loose_bound(5) is None and loose_bound(None) is None
    for bound, want_jobs in ((5, 0), (None, 1)):
        side, jobs = _jobs_fired(
            spark, lambda: broadcast_if_small(_small_side(spark), bound)
        )
        assert jobs == want_jobs
        assert "BroadcastExchange" not in _joined_plan(spark, side)
        assert sorted(r["k"] for r in side.collect()) == list(range(10))


# ---------------------------------------------------------------------------
# literal_df input checks
# ---------------------------------------------------------------------------
def test_literal_df_builds_one_task_relation(spark):
    df = literal_df(spark, [(1, "a"), (2, "b")], "k int, v string")
    assert df.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in df.collect()] == [(1, "a"), (2, "b")]


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, "a", 3)], "k int, v string"),  # row wider than the schema
        ([(1,)], "k int, v string"),  # row narrower than the schema
        ([(1,)], "k"),  # field without a type
    ],
)
def test_literal_df_rejects_malformed_input(spark, rows, schema):
    with pytest.raises(ValueError):
        literal_df(spark, rows, schema)
