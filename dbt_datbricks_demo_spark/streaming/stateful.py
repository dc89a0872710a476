"""Custom stateful streaming operator via applyInPandasWithState.

The batch pipeline flags individual anomalous readings
(int_sensor_readings_cleaned.sql:74-95); a production monitor wants the
STREAK — "this device has now produced N consecutive anomalous readings"
— which needs per-key state that outlives a micro-batch and cannot be
expressed as a windowed aggregation (the run length is unbounded and
resets on data, not on time). This is the applyInPandasWithState shape:
state = one small record per (device_id, metric_name); each micro-batch
folds its rows into the state in event-time order and emits alert rows
at the moment a streak crosses the threshold.

Scale notes: state is O(#distinct keys) × a few ints — devices × metrics,
not readings. The grouping shuffle is on the same key the silver tables
cluster by. An idle-timeout (ProcessingTimeTimeout) can GC keys for
devices that stop reporting; kept NoTimeout here for determinism.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STREAK_OUTPUT_SCHEMA = StructType(
    [
        StructField("device_id", StringType()),
        StructField("metric_name", StringType()),
        StructField("streak_len", IntegerType()),
        StructField("streak_started_ts", TimestampType()),
        StructField("alert_ts", TimestampType()),
    ]
)

# (current streak length, streak start as epoch-µs; -1 = no open streak)
STREAK_STATE_SCHEMA = StructType(
    [StructField("streak", IntegerType()), StructField("started_us", LongType())]
)


def anomaly_streaks(cleaned: DataFrame, threshold: int = 3) -> DataFrame:
    """Emit one alert row each time a (device, metric) accumulates
    `threshold` consecutive anomalous readings. The streak then keeps
    counting but does not re-alert until a non-anomalous reading resets
    it — one page per incident, not one per reading."""

    def track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        streak, started_us = state.get if state.exists else (0, -1)
        alerts: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("reading_ts")
            for ts, is_anomaly in zip(pdf["reading_ts"], pdf["is_anomaly"]):
                if is_anomaly:
                    if streak == 0:
                        started_us = int(pd.Timestamp(ts).value // 1_000)
                    streak += 1
                    if streak == threshold:
                        alerts.append(
                            (
                                key[0], key[1], streak,
                                pd.Timestamp(started_us * 1_000),
                                pd.Timestamp(ts),
                            )
                        )
                else:
                    streak, started_us = 0, -1
        state.update((streak, started_us))
        if alerts:
            yield pd.DataFrame(
                alerts,
                columns=[
                    "device_id", "metric_name", "streak_len",
                    "streak_started_ts", "alert_ts",
                ],
            )

    return (
        cleaned.select("device_id", "metric_name", "reading_ts", "is_anomaly")
        .groupBy("device_id", "metric_name")
        .applyInPandasWithState(
            track,
            outputStructType=STREAK_OUTPUT_SCHEMA,
            stateStructType=STREAK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary-state API): streaming novelty gate
# ---------------------------------------------------------------------------
# streaming/corpus.py dedups across batches with a foreachBatch join
# against a persistent parquet signature store — correct, but the store
# is a second system the pipeline must manage. Spark 4's
# transformWithStateInPandas keeps the seen-set INSIDE the streaming
# state store (RocksDB-backed, checkpointed, TTL-able), so cross-batch
# content dedup becomes a first-class operator: state is one tiny record
# per distinct digest, expired automatically after `ttl_ms` — bounded
# memory under unbounded streams, no side table.
#
# Requires spark.sql.streaming.stateStore.providerClass =
# ...RocksDBStateStoreProvider (transformWithState contract in OSS
# Spark 4), plus the `protobuf` package (the state-server protocol of
# the Python API). protobuf is not installed in this sandbox, so the
# test skips when transform_with_state_available() is False.


def transform_with_state_available() -> bool:
    """True when the Python transformWithState client can run here
    (needs google.protobuf for its state-server protocol)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False

NOVELTY_OUTPUT_SCHEMA = StructType(
    [
        StructField("digest", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_occurrences", LongType()),
    ]
)


def novel_documents(docs_with_digest: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Emit each content digest the FIRST time it is ever seen (smallest
    doc_id within the arriving batch wins, deterministically); later
    occurrences — same batch or any later batch within the TTL — are
    suppressed. Input must carry (digest, doc_id)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class NoveltyGate(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", "first_doc_id long", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            n = 0
            smallest = None
            for pdf in rows:
                n += len(pdf)
                batch_min = int(pdf["doc_id"].min())
                smallest = batch_min if smallest is None else min(smallest, batch_min)
            if self._seen.exists():
                return iter(())  # duplicate of an earlier batch: suppress
            self._seen.update((smallest,))
            return iter(
                [
                    pd.DataFrame(
                        {
                            "digest": [key[0]],
                            "doc_id": [smallest],
                            "n_occurrences": [n],
                        }
                    )
                ]
            )

        def close(self) -> None:
            pass

    # State TTL is only honored in processing-time timeMode — with
    # timeMode="None" Spark rejects ttlDurationMs at runtime, so the
    # mode must follow the ttl_ms argument.
    return docs_with_digest.groupBy("digest").transformWithStateInPandas(
        statefulProcessor=NoveltyGate(),
        outputStructType=NOVELTY_OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="ProcessingTime" if ttl_ms is not None else "None",
    )


# ---------------------------------------------------------------------------
# Streaming per-domain admission quota (the stateful form of
# queries/curation_ops.domain_cap_report): a crawl stream is admitted
# per-host until that host's standing cap is exhausted — RefinedWeb-style
# domain balancing enforced AT INGEST instead of by a later batch sweep.
# ---------------------------------------------------------------------------
QUOTA_OUTPUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("admitted_rank", LongType()),
    ]
)

# one counter per domain: documents admitted so far, across all batches
QUOTA_STATE_SCHEMA = StructType([StructField("admitted", LongType())])


def domain_quota_admission(docs: DataFrame, cap: int = 10) -> DataFrame:
    """Admit at most `cap` documents per source across the whole stream.

    State is ONE bigint per domain (admitted-so-far), so the state store
    holds |domains| tiny records at any corpus scale — compare the batch
    `domain_cap_report`, which re-ranks the full corpus per run. Within
    a micro-batch, documents admit in doc_id order (deterministic
    replay); once the counter reaches the cap the domain's remaining
    documents drop, in this and every later batch. Emits
    (source, doc_id, admitted_rank) with rank 1-based over the
    domain's admission history."""

    def admit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (admitted,) = state.get if state.exists else (0,)
        out: list[tuple] = []
        for pdf in pdfs:
            for doc_id in pdf.sort_values("doc_id")["doc_id"]:
                if admitted >= cap:
                    break
                admitted += 1
                out.append((key[0], int(doc_id), admitted))
        state.update((admitted,))
        if out:
            yield pd.DataFrame(
                out, columns=["source", "doc_id", "admitted_rank"]
            )

    return (
        docs.select("source", "doc_id")
        .groupBy("source")
        .applyInPandasWithState(
            admit,
            outputStructType=QUOTA_OUTPUT_SCHEMA,
            stateStructType=QUOTA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
