"""Streaming bronze→silver tests: file-source micro-batches, in-horizon
dedup, foreachBatch merge, windowed aggregation, expectations."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.config import RunConfig
from dbt_datbricks_demo_spark.plans.dag import MODELS
from dbt_datbricks_demo_spark.sources.seeds import load_seed
from dbt_datbricks_demo_spark.streaming import (
    expect_or_drop,
    hourly_health_stream,
    read_readings_stream,
    sensor_stream_cleaned,
    write_silver_merge,
)
from tests.conftest import FROZEN_NOW, SEEDS_DIR

BATCH1 = """reading_id,device_id,metric_name,metric_value,reading_ts,ingested_at
R001,DEV001,temperature,72.5,2025-01-15 08:00:00,2025-01-15 08:00:05
R002,DEV001,temperature,99.5,2025-01-15 08:15:00,2025-01-15 08:15:05
R003,DEV002,vibration,3.0,2025-01-15 08:20:00,2025-01-15 08:20:05
"""

# R002 re-delivered (duplicate key within the horizon → dropped),
# R004 is new; R005 arrives in hour 9 so hour-8 windows can finalize.
BATCH2 = """reading_id,device_id,metric_name,metric_value,reading_ts,ingested_at
R002,DEV001,temperature,99.5,2025-01-15 08:15:00,2025-01-15 08:15:08
R004,DEV002,vibration,9.9,2025-01-15 08:40:00,2025-01-15 08:40:05
R005,DEV002,vibration,4.0,2025-01-15 09:59:00,2025-01-15 09:59:05
"""


# the devices the readings above and below enrich from
RAW_DEVICES = """device_id,device_name,device_type,location,zone,install_date,manufacturer,firmware_version,is_active
DEV001,Compressor Alpha,compressor,Plant-Detroit,Zone-A,2021-03-15,Maker0,v2.1.4,true
DEV002,Motor Beta,motor,Plant-Chicago,Zone-B,2022-06-01,Maker1,v2.0.3,true
"""


@pytest.fixture()
def devices(spark, tmp_path, cfg):
    seeds_dir = tmp_path / "devices_seed"
    seeds_dir.mkdir()
    (seeds_dir / "raw_devices.csv").write_text(RAW_DEVICES)
    raw_devices = load_seed(spark, str(seeds_dir), "raw_devices")
    return MODELS["stg_devices"].build({"raw_devices": raw_devices}, cfg)


@pytest.fixture()
def stream_setup(spark, tmp_path, devices):
    input_dir = tmp_path / "incoming"
    input_dir.mkdir()
    (input_dir / "batch1.csv").write_text(BATCH1)
    (input_dir / "batch2.csv").write_text(BATCH2)
    return input_dir, devices, tmp_path


def test_stream_dedup_and_merge(spark, stream_setup, cfg):
    input_dir, devices, tmp = stream_setup
    stream = read_readings_stream(spark, str(input_dir))
    assert stream.isStreaming
    cleaned = sensor_stream_cleaned(stream, devices, cfg)
    q = (
        write_silver_merge(
            cleaned, str(tmp / "silver"), str(tmp / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp / "silver"))
    rows = {r["reading_id"]: r for r in out.collect()}
    # R002 delivered twice within the horizon → exactly once in silver
    assert sorted(rows) == ["R001", "R002", "R003", "R004", "R005"]
    assert rows["R002"]["is_anomaly"] is True  # 99.5 > 85
    assert rows["R004"]["is_anomaly"] is True  # 9.9 > 9
    assert rows["R001"]["device_name"] is not None  # broadcast enrichment


def test_stream_hourly_window(spark, stream_setup, cfg, tmp_path):
    input_dir, devices, tmp = stream_setup
    stream = read_readings_stream(spark, str(input_dir))
    # 10-min lateness: watermark reaches 09:49 after batch2, past the
    # hour-8 window end (09:00), so those windows finalize and emit
    cleaned = sensor_stream_cleaned(
        stream, devices, cfg, late_threshold="10 minutes", watermark_on="reading_ts"
    )
    agg = hourly_health_stream(cleaned)
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["device_id"], r["metric_name"], str(r["reading_hour"])): r
        for r in spark.sql("select * from hourly_out").collect()
    }
    # hour-8 windows finalized by the watermark advancing past 09:59
    key = ("DEV002", "vibration", "2025-01-15 08:00:00")
    assert key in got
    assert got[key]["reading_count"] == 2  # R003 + R004
    assert got[key]["anomaly_count"] == 1  # R004


def test_expectations_drop_rows(spark, seeds, cfg):
    df = seeds["raw_sensor_readings"]
    kept = expect_or_drop(
        df,
        {
            "valid_value": "metric_value is not null",
            "valid_device": "device_id is not null",
        },
    )
    assert kept.count() == 207  # 209 − 2 null metric_values


# Two batches: DEV001 temperature runs hot for 3 consecutive readings in
# batch A (alert at the 3rd), cools, then runs hot twice more across the
# batch boundary into batch B — streak state must survive the boundary
# and alert again at the 3rd consecutive hot reading.
STREAK_A = """reading_id,device_id,metric_name,metric_value,reading_ts,ingested_at
S001,DEV001,temperature,70.0,2025-01-15 08:00:00,2025-01-15 08:00:05
S002,DEV001,temperature,99.0,2025-01-15 08:05:00,2025-01-15 08:05:05
S003,DEV001,temperature,98.0,2025-01-15 08:10:00,2025-01-15 08:10:05
S004,DEV001,temperature,97.0,2025-01-15 08:15:00,2025-01-15 08:15:05
S005,DEV001,temperature,60.0,2025-01-15 08:20:00,2025-01-15 08:20:05
S006,DEV001,temperature,96.0,2025-01-15 08:25:00,2025-01-15 08:25:05
S007,DEV001,temperature,95.0,2025-01-15 08:30:00,2025-01-15 08:30:05
"""
STREAK_B = """reading_id,device_id,metric_name,metric_value,reading_ts,ingested_at
S008,DEV001,temperature,94.0,2025-01-15 08:35:00,2025-01-15 08:35:05
S009,DEV002,vibration,2.0,2025-01-15 08:36:00,2025-01-15 08:36:05
"""


def test_stateful_anomaly_streaks(spark, devices, cfg, tmp_path):
    from dbt_datbricks_demo_spark.streaming import anomaly_streaks

    input_dir = tmp_path / "streak_in"
    input_dir.mkdir()
    (input_dir / "a.csv").write_text(STREAK_A)

    out_dir = tmp_path / "streak_out"

    def run_batch():
        # parquet sink (not memory): supports restart from the checkpoint,
        # which is what carries the streak state across the two runs
        stream = read_readings_stream(spark, str(input_dir))
        cleaned = sensor_stream_cleaned(stream, devices, cfg)
        q = (
            anomaly_streaks(cleaned, threshold=3)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "streak_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch()
    first = spark.read.parquet(str(out_dir)).collect()
    # batch A: S002-S004 = 3 consecutive anomalies -> exactly one alert
    # (S006-S007 is only a 2-streak so far)
    assert len(first) == 1
    assert first[0]["device_id"] == "DEV001"
    assert first[0]["streak_len"] == 3
    assert str(first[0]["alert_ts"]) == "2025-01-15 08:15:00"
    assert str(first[0]["streak_started_ts"]) == "2025-01-15 08:05:00"

    # batch B: S008 extends the S006-S007 streak across the batch
    # boundary -> second alert; DEV002's normal reading alerts nothing
    (input_dir / "b.csv").write_text(STREAK_B)
    run_batch()
    second = spark.read.parquet(str(out_dir)).collect()
    assert len(second) == 2
    newest = max(second, key=lambda r: r["alert_ts"])
    assert str(newest["alert_ts"]) == "2025-01-15 08:35:00"
    assert str(newest["streak_started_ts"]) == "2025-01-15 08:25:00"


def test_streaming_corpus_dedup_across_batches(spark, tmp_path):
    from dbt_datbricks_demo_spark.streaming.corpus import (
        corpus_stream_cleaned,
        read_document_stream,
        write_corpus_append,
    )

    input_dir = tmp_path / "docs_in"
    input_dir.mkdir()
    out, ckpt = str(tmp_path / "corpus_out"), str(tmp_path / "corpus_ckpt")
    en = "the quick brown fox and the lazy dog of the morning is here"
    de = "der schnelle braune fuchs und der faule hund ist heute da"
    zh = "机器 学习 模型 训练 数据 管道 现在 开始"

    def run():
        stream = read_document_stream(spark, str(input_dir))
        q = (
            write_corpus_append(corpus_stream_cleaned(stream), out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (input_dir / "b1.jsonl").write_text(
        f'{{"doc_id": 1, "text": "{en}"}}\n'
        f'{{"doc_id": 2, "text": "{en}"}}\n'      # in-batch exact dup
        f'{{"doc_id": 3, "text": "{de}"}}\n'
        f'{{"doc_id": 4, "text": "too short"}}\n'  # quality gate
        f'{{"doc_id": 5, "text": "{zh}"}}\n'       # lang gate
        "not json\n"                                # malformed -> dropped
    )
    run()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 3}

    # batch 2: a cross-batch duplicate of doc 1 plus one new doc —
    # dedup state persists through the checkpointed restart
    (input_dir / "b2.jsonl").write_text(
        f'{{"doc_id": 6, "text": "{en}"}}\n'
        f'{{"doc_id": 7, "text": "{de} und jetzt etwas ganz neues dazu"}}\n'
    )
    run()
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {1, 3, 7}  # 6 deduped against batch-1 state


def test_streaming_corpus_pii_scrub(spark, tmp_path):
    """scrub_pii=True redacts at ingest; the dedup state keys on the RAW
    content hash, so a re-sent raw document still dedups against its
    scrubbed predecessor in a later batch."""
    from dbt_datbricks_demo_spark.streaming.corpus import (
        corpus_stream_cleaned,
        read_document_stream,
        write_corpus_append,
    )

    input_dir = tmp_path / "pii_in"
    input_dir.mkdir()
    out, ckpt = str(tmp_path / "pii_out"), str(tmp_path / "pii_ckpt")
    leaky = (
        "the contact of the team is alice@corp.example.com and the office is open"
    )

    def run():
        stream = corpus_stream_cleaned(
            read_document_stream(spark, str(input_dir)), scrub_pii=True
        )
        q = write_corpus_append(stream, out, ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    (input_dir / "b1.jsonl").write_text(f'{{"doc_id": 1, "text": "{leaky}"}}\n')
    run()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert "[EMAIL]" in rows[0]["text"]
    assert "alice@corp.example.com" not in rows[0]["text"]

    # the same raw text again -> deduped against the scrubbed admit
    (input_dir / "b2.jsonl").write_text(f'{{"doc_id": 2, "text": "{leaky}"}}\n')
    run()
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}


def test_stream_session_windows(spark, stream_setup, cfg, tmp_path):
    """Session windows close after 30 min of per-device silence and
    finalize once the watermark passes: DEV001's two 08:00/08:15 events
    form ONE session; DEV002's 08:20/08:40 chain into one session while
    its 09:59 event opens a separate (still-open, unemitted) one."""
    from dbt_datbricks_demo_spark.streaming.pipeline import session_activity_stream

    input_dir, devices, tmp = stream_setup
    stream = read_readings_stream(spark, str(input_dir))
    cleaned = sensor_stream_cleaned(
        stream, devices, cfg, late_threshold="10 minutes", watermark_on="reading_ts"
    )
    q = (
        session_activity_stream(cleaned, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("session_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["device_id"], str(r["session_start"])): r
        for r in spark.sql("select * from session_out").collect()
    }
    dev1 = got[("DEV001", "2025-01-15 08:00:00")]
    assert dev1["n_events"] == 2  # 08:00 + 08:15 merge (gap 15 min)
    assert str(dev1["session_end"]) == "2025-01-15 08:45:00"  # last event + gap
    dev2 = got[("DEV002", "2025-01-15 08:20:00")]
    assert dev2["n_events"] == 2  # 08:20 + 08:40 chain
    # the 09:59 session is still open (watermark 09:49 < its end) → unemitted
    assert ("DEV002", "2025-01-15 09:59:00") not in got


DOCS_A = """doc_id,text
101,alpha beta gamma
102,delta epsilon zeta
103,alpha beta gamma
"""
DOCS_B = """doc_id,text
104,alpha beta gamma
105,brand new content
"""


@pytest.mark.skipif(
    not __import__(
        "dbt_datbricks_demo_spark.streaming.stateful", fromlist=["x"]
    ).transform_with_state_available(),
    reason="transformWithState Python client needs protobuf (absent in sandbox)",
)
def test_transform_with_state_novelty_gate(spark, tmp_path):
    """Spark-4 transformWithStateInPandas: cross-batch content dedup
    with the seen-set INSIDE the RocksDB state store (no side table).
    Batch A: in-batch dup suppressed, smallest doc_id wins. Batch B:
    digest seen in batch A suppressed via checkpointed state; only
    genuinely novel content emits."""
    from pyspark.sql import functions as F

    from dbt_datbricks_demo_spark.streaming import novel_documents

    input_dir = tmp_path / "docs_in"
    input_dir.mkdir()
    (input_dir / "a.csv").write_text(DOCS_A)
    out_dir, ckpt = tmp_path / "novel_out", tmp_path / "novel_ckpt"

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:

        def run_batch():
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("header", "true")
                .csv(str(input_dir))
                .withColumn("digest", F.md5("text"))
            )
            q = (
                novel_documents(stream)
                .writeStream.format("parquet")
                .option("path", str(out_dir))
                .outputMode("append")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_batch()
        first = {r["doc_id"]: r for r in spark.read.parquet(str(out_dir)).collect()}
        # 101 and 103 share a digest -> one row, smallest id, 2 occurrences
        assert set(first) == {101, 102}
        assert first[101]["n_occurrences"] == 2
        assert first[102]["n_occurrences"] == 1

        (input_dir / "b.csv").write_text(DOCS_B)
        run_batch()
        rows = {r["doc_id"] for r in spark.read.parquet(str(out_dir)).collect()}
        # 104 duplicates batch A's digest (suppressed by stored state);
        # 105 is novel
        assert rows == {101, 102, 105}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


READINGS_SS = """reading_id,device_id,metric_name,metric_value,reading_ts,ingested_at
T001,DEV001,temperature,90.0,2025-01-15 08:02:00,2025-01-15 08:02:05
T002,DEV001,temperature,93.0,2025-01-15 08:09:00,2025-01-15 08:09:05
T003,DEV001,temperature,70.0,2025-01-15 07:55:00,2025-01-15 07:55:05
T004,DEV002,vibration,1.0,2025-01-15 08:05:00,2025-01-15 08:05:05
"""
ALERTS_SS = """alert_id,device_id,alert_type,alert_ts
A100,DEV001,threshold_breach,2025-01-15 08:10:00
"""


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with two watermarks and a bounded
    event-time condition: the alert picks up the same device's readings
    from the 10 minutes before it fired; out-of-window and other-device
    readings are excluded. The time bound on BOTH sides is what lets
    Spark evict join state."""
    from dbt_datbricks_demo_spark.streaming import (
        read_readings_stream,
        readings_alerts_interval_join,
    )

    r_dir, a_dir = tmp_path / "r_in", tmp_path / "a_in"
    r_dir.mkdir(), a_dir.mkdir()
    (r_dir / "r.csv").write_text(READINGS_SS)
    (a_dir / "a.csv").write_text(ALERTS_SS)

    readings = read_readings_stream(spark, str(r_dir))
    alerts = (
        spark.readStream.schema(
            "alert_id string, device_id string, alert_type string, alert_ts timestamp"
        )
        .option("header", "true")
        .csv(str(a_dir))
    )
    out_dir = tmp_path / "ss_out"
    q = (
        readings_alerts_interval_join(readings, alerts)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(out_dir)).collect()
    got = {(r["alert_id"], r["reading_id"]) for r in rows}
    assert got == {("A100", "T001"), ("A100", "T002")}
    assert all(r["device_id"] == "DEV001" for r in rows)


ALERTS_SS_B = """alert_id,device_id,alert_type,alert_ts
A200,DEV009,threshold_breach,2025-01-15 08:20:00
"""


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: an alert with no readings in its
    window still emits (with null reading columns) once the readings-
    side watermark passes the join window — the state-eviction point.
    Uses the same bounded interval condition as the inner variant."""
    from dbt_datbricks_demo_spark.streaming import (
        read_readings_stream,
        readings_alerts_interval_join,
    )

    r_dir, a_dir = tmp_path / "r_in", tmp_path / "a_in"
    r_dir.mkdir(), a_dir.mkdir()
    (r_dir / "r.csv").write_text(READINGS_SS)
    (a_dir / "a.csv").write_text(ALERTS_SS + ALERTS_SS_B.splitlines()[1] + "\n")

    out_dir = tmp_path / "sslo_out"

    def run_batch():
        q = (
            readings_alerts_interval_join(
                read_readings_stream(spark, str(r_dir)),
                spark.readStream.schema(
                    "alert_id string, device_id string, alert_type string, alert_ts timestamp"
                )
                .option("header", "true")
                .csv(str(a_dir)),
                how="left_outer",
            )
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "sslo_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch()
    # outer-join nulls emit only after the OTHER side's watermark passes
    # the join window: feed a much later reading in a second batch to
    # advance the readings watermark beyond A200's window end
    (r_dir / "late.csv").write_text(
        "reading_id,device_id,metric_name,metric_value,reading_ts,ingested_at\n"
        "T999,DEV001,temperature,50.0,2025-01-15 10:00:00,2025-01-15 10:00:05\n"
    )
    # ...and the alerts watermark gates eviction too (outer emission
    # waits on the min of both sides), so push it forward as well
    (a_dir / "late.csv").write_text(
        "alert_id,device_id,alert_type,alert_ts\n"
        "A999,DEV001,noop,2025-01-15 10:00:00\n"
    )
    run_batch()
    run_batch()  # one more no-op batch lets the advanced watermark evict
    rows = spark.read.parquet(str(out_dir)).collect()
    matched = {(r["alert_id"], r["reading_id"]) for r in rows if r["reading_id"]}
    # A999/T999 are the batch-2 watermark pushers; they match each other
    assert matched == {
        ("A100", "T001"), ("A100", "T002"), ("A999", "T999")
    }
    unmatched = {r["alert_id"] for r in rows if r["reading_id"] is None}
    # DEV009 has no readings at all -> left-outer emits it with nulls
    assert "A200" in unmatched


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the horizon are
    suppressed; content re-sent after the watermark passed its eviction
    point is admitted again — bounded state under an unbounded stream,
    with the documented re-admission trade-off."""
    import json

    from dbt_datbricks_demo_spark.streaming import corpus_stream_cleaned

    in_dir = tmp_path / "wmdd_in"
    in_dir.mkdir()
    out_dir, ckpt = tmp_path / "wmdd_out", tmp_path / "wmdd_ckpt"

    def doc(i, ts, txt):
        return json.dumps(
            {"doc_id": i, "ts": ts, "text": txt, "lang": "en", "source": "s"}
        )

    text_a = "the quick brown fox jumps over the dog"
    (in_dir / "b1.jsonl").write_text(
        doc(1, "2025-01-01 00:00:00", text_a) + "\n"
        + doc(2, "2025-01-01 00:00:05", text_a) + "\n"  # in-horizon dup
    )

    def run_batch():
        stream = (
            spark.readStream.schema(
                "doc_id long, ts timestamp, text string, lang string, source string"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(in_dir))
        )
        q = (
            corpus_stream_cleaned(stream, dedup_within="10 seconds")
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch()
    assert {r["doc_id"] for r in spark.read.parquet(str(out_dir)).collect()} == {1}

    # push the watermark far past doc 1's eviction point, then re-send
    # the same content: state was evicted -> re-admitted
    (in_dir / "b2.jsonl").write_text(doc(3, "2025-01-01 01:00:00", "x " * 6) + "\n")
    run_batch()
    (in_dir / "b3.jsonl").write_text(doc(4, "2025-01-01 01:00:30", text_a) + "\n")
    run_batch()
    ids = {r["doc_id"] for r in spark.read.parquet(str(out_dir)).collect()}
    assert 4 in ids, f"re-sent content after horizon must re-admit; got {ids}"
    assert 2 not in ids


def test_streaming_domain_quota_across_batches(spark, tmp_path):
    """Per-domain admission quota holds ACROSS micro-batches: srcA's cap
    of 3 is partly consumed by batch 1 and exhausted mid-batch-2; srcB
    never reaches its cap. Ranks are contiguous per domain over the
    whole admission history."""
    import json

    from dbt_datbricks_demo_spark.streaming import domain_quota_admission
    from dbt_datbricks_demo_spark.streaming.corpus import DOC_SCHEMA

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(DOC_SCHEMA.fields) + [StructField("source", StringType())]
    )
    input_dir = tmp_path / "quota_in"
    input_dir.mkdir()
    out_dir = tmp_path / "quota_out"

    def write_batch(name, rows):
        (input_dir / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def run_batch():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(input_dir))
        )
        q = (
            domain_quota_admission(stream, cap=3)
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "quota_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch(
        "b1.jsonl",
        [
            {"doc_id": 2, "text": "a", "source": "srcA"},
            {"doc_id": 1, "text": "b", "source": "srcA"},
            {"doc_id": 3, "text": "c", "source": "srcB"},
        ],
    )
    run_batch()
    first = {
        (r.source, r.doc_id): r.admitted_rank
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    # within-batch admission is doc_id-ordered
    assert first == {("srcA", 1): 1, ("srcA", 2): 2, ("srcB", 3): 1}

    write_batch(
        "b2.jsonl",
        [
            {"doc_id": 4, "text": "d", "source": "srcA"},
            {"doc_id": 5, "text": "e", "source": "srcA"},  # over cap: dropped
            {"doc_id": 6, "text": "f", "source": "srcB"},
        ],
    )
    run_batch()
    rows = {
        (r.source, r.doc_id): r.admitted_rank
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    # srcA admitted exactly cap=3 docs across both batches (doc 5 dropped)
    assert rows == {
        ("srcA", 1): 1, ("srcA", 2): 2, ("srcA", 4): 3,
        ("srcB", 3): 1, ("srcB", 6): 2,
    }


# A planted corpus for the standing-index ingest, one list per micro-
# batch. Jaccard is over char-5 shingles. Batch 0: 11 near-dups 10 (within
# the batch). Batch 1: 20 near-dups 50 and 21 is an exact copy of 10
# (both across batches; 50 is older than 20 but has the higher id), 22
# is an LSH candidate of 12 below the threshold (Jaccard 0.88). Batch 2:
# 6 near-dups 5 (within), 1 near-dups 12 (across, older higher id).
_IX_A = (
    "the quick brown fox jumps over the lazy dog while the morning sun "
    "rises slowly over the quiet green valley again today"
)
_IX_B = (
    "completely different content about distributed query engines and "
    "the columnar execution of analytical workloads at scale"
)
_IX_C = (
    "a streaming ingest keeps the standing band index current as new "
    "micro batches of documents arrive from the nightly crawl"
)
_IX_E = (
    "exact jaccard verification over character shingles confirms every "
    "candidate pair that the banded minhash signatures propose"
)
_IX_F = (
    "sensor readings from the plant floor are cleaned enriched and "
    "rolled up into hourly device health summaries for the dashboard"
)
IX_BATCHES = [
    [(50, _IX_A), (10, _IX_B), (11, _IX_B.replace("at scale", "at scales")),
     (12, _IX_C)],
    [(20, _IX_A.replace("valley", "valleys")), (21, _IX_B),
     (22, _IX_C.replace("as new", "while new")), (30, _IX_F)],
    [(5, _IX_E), (6, _IX_E.replace("propose", "proposes")),
     (1, _IX_C.replace("nightly", "nightly,"))],
]


def _char_shingles(text: str, k: int = 5) -> set[str]:
    """The distinct char-k shingles dedup.candidate_hash_arrays hashes
    for Jaccard, in Python: Spark's trim strips spaces only."""
    norm = text.strip(" ").lower()
    return {norm[i:i + k] for i in range(max(1, len(norm) - k + 1))}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _char_shingles(a), _char_shingles(b)
    return len(sa & sb) / len(sa | sb)


def _reference_admission(batches, threshold: float = 0.9) -> list[set[int]]:
    """Per batch, the ids it admits: a document loses to a lower-id
    document of its own batch, or to any admitted earlier document,
    whose exact Jaccard reaches the threshold."""
    admitted: dict[int, str] = {}
    per_batch = []
    for batch in batches:
        losers = {
            j
            for i, a in batch
            for j, b in batch
            if i < j and _jaccard(a, b) >= threshold
        } | {
            j
            for j, b in batch
            if any(_jaccard(c, b) >= threshold for c in admitted.values())
        }
        kept = {j: b for j, b in batch if j not in losers}
        admitted.update(kept)
        per_batch.append(set(kept))
    return per_batch


def test_index_ingest_admits_what_exact_jaccard_admits(spark, tmp_path):
    """Three file micro-batches stream through the standing-index
    ingest. Each batch admits exactly what exact char-5-shingle Jaccard
    admits: the higher id of a within-batch near-dup loses, and a batch
    document near-duplicating an admitted one loses whatever the ids."""
    import json
    import os
    import time

    from dbt_datbricks_demo_spark.streaming.corpus import (
        read_document_stream,
        write_corpus_index_ingest,
    )

    want = _reference_admission(IX_BATCHES)
    assert want == [{50, 10, 12}, {22, 30}, {5}]

    input_dir = tmp_path / "adm_in"
    input_dir.mkdir()
    corpus = str(tmp_path / "adm_corpus")
    index = str(tmp_path / "adm_index")
    # one file per micro-batch, in modification-time order
    t0 = time.time() - 60
    for b, rows in enumerate(IX_BATCHES):
        path = input_dir / f"b{b}.jsonl"
        path.write_text(
            "".join(
                json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in rows
            )
        )
        os.utime(path, (t0 + b, t0 + b))
    q = (
        write_corpus_index_ingest(
            read_document_stream(spark, str(input_dir)),
            corpus, index, str(tmp_path / "adm_ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = [set() for _ in IX_BATCHES]
    for r in spark.read.parquet(corpus).collect():
        got[r["_batch"]].add(r["doc_id"])
    assert got == want
    postings = spark.read.parquet(index).select("doc_id").distinct()
    assert {r["doc_id"] for r in postings.collect()} == set().union(*want)


def test_streaming_index_ingest_maintains_standing_index(spark, tmp_path):
    """Round-6 lifecycle in-stream: the ingest maintains the SHARED
    standing MinHash index (write_minhash_index layout) — within-batch
    and cross-batch near-dups verified via the partition-pruned index
    probe, postings appended per admitted batch, periodic in-stream
    compaction, and the same index remains probe-able by the BATCH API
    (index_candidate_pairs), including after a tombstone delete."""
    from dbt_datbricks_demo_spark.operators import dedup
    from dbt_datbricks_demo_spark.streaming.corpus import (
        corpus_stream_cleaned,
        read_document_stream,
        write_corpus_index_ingest,
    )

    input_dir = tmp_path / "ix_in"
    input_dir.mkdir()
    corpus = str(tmp_path / "ix_corpus")
    index = str(tmp_path / "ix_index")
    ckpt = str(tmp_path / "ix_ckpt")

    base = (
        "the quick brown fox jumps over the lazy dog while the morning "
        "sun rises slowly over the quiet green valley again today"
    )
    near = base.replace("quiet green valley", "quiet green valleys")
    other = (
        "completely different content about distributed query engines "
        "and the columnar execution of analytical workloads at scale"
    )

    def run():
        stream = corpus_stream_cleaned(
            read_document_stream(spark, str(input_dir))
        )
        q = (
            write_corpus_index_ingest(
                stream, corpus, index, ckpt, compact_every=2
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (input_dir / "b1.jsonl").write_text(
        f'{{"doc_id": 1, "text": "{base}"}}\n'
        f'{{"doc_id": 2, "text": "{base}"}}\n'  # in-batch exact dup
    )
    run()
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1}

    (input_dir / "b2.jsonl").write_text(
        f'{{"doc_id": 3, "text": "{near}"}}\n'   # near-dup of admitted 1
        f'{{"doc_id": 4, "text": "{other}"}}\n'  # genuinely new
        f'{{"doc_id": 5, "text": "{base}"}}\n'   # exact cross-batch dup
    )
    run()
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 4}

    # the standing index holds exactly the admitted docs' postings,
    # compacted in-stream after batch 2 to one file per bucket dir
    import os

    postings = spark.read.parquet(index)
    assert {r["doc_id"] for r in postings.select("doc_id").distinct().collect()} == {1, 4}
    for d in os.listdir(index):
        if d.startswith(dedup.MINHASH_BUCKET_COL):
            files = [
                f
                for f in os.listdir(os.path.join(index, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, files)

    # the BATCH API probes the stream-maintained index...
    probe = spark.createDataFrame([(10, base)], "doc_id long, text string")
    got = {
        (r.batch_id, r.corpus_id)
        for r in dedup.index_candidate_pairs(spark, index, probe).collect()
    }
    assert got == {(10, 1)}
    # ...and honors a tombstone delete without recompaction
    dedup.delete_from_minhash_index(spark, index, [1])
    assert dedup.index_candidate_pairs(spark, index, probe).count() == 0


def test_index_compaction_crash_recovery_all_windows(spark, tmp_path):
    """Round-7 verdict item 6: a restart that killed a compaction at ANY
    point of the directory swap must find a readable index. The
    two-rename discipline alone does NOT cover a crash BETWEEN the
    renames (index_path is absent in that window) — recover_minhash_
    index rolls back to the always-valid pre-compaction state, and a
    re-run compaction converges. All three crash windows simulated."""
    import os
    import shutil

    from dbt_datbricks_demo_spark.operators import dedup, index_store

    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared shingle text {i % 3}")
         for i in range(30)],
        "doc_id long, text string",
    )
    index = str(tmp_path / "rx_index")
    dedup.write_minhash_index(docs, index)
    want = sorted(
        (r["doc_id"], r["band_key"])
        for r in spark.read.parquet(index).collect()
    )

    def readable_and_equal():
        got = sorted(
            (r["doc_id"], r["band_key"])
            for r in spark.read.parquet(index).collect()
        )
        assert got == want

    # window 1: crash mid-write of .compacting (index untouched)
    os.makedirs(index + ".compacting/partial", exist_ok=True)
    assert index_store.recover(index) == "cleaned_tmp"
    assert not os.path.exists(index + ".compacting")
    readable_and_equal()

    # window 2: crash BETWEEN the two renames — index_path is GONE;
    # .old holds the pre-compaction state, .compacting the new one
    shutil.copytree(index, index + ".compacting")
    os.rename(index, index + ".old")
    # round-10 advice: the crashed state COUNTS as existing so callers
    # route to the locked/retrying paths instead of re-creating the
    # index over a recoverable one via an unlocked recovery
    assert dedup.minhash_index_exists(index)
    assert index_store.recover(index) == "rolled_back"
    readable_and_equal()
    assert not os.path.exists(index + ".old")
    assert not os.path.exists(index + ".compacting")

    # window 3: crash after the swap, before the .old cleanup
    shutil.copytree(index, index + ".old")
    assert index_store.recover(index) == "cleaned_old"
    readable_and_equal()

    # a fresh compaction over the recovered index converges
    dedup.compact_minhash_index(spark, index)
    assert spark.read.parquet(index).count() == len(want)
    readable_and_equal()
    # and the streaming ingest's per-batch recovery call makes the
    # RESTART path concrete: simulate the between-renames crash again,
    # then run one ingest batch — it must repair, then ingest
    shutil.copytree(index, index + ".compacting")
    os.rename(index, index + ".old")
    corpus = str(tmp_path / "rx_corpus")
    docs.select("doc_id", "text").withColumn(
        "_batch", F.lit(0)
    ).write.partitionBy("_batch").parquet(corpus)
    from dbt_datbricks_demo_spark.streaming.corpus import (
        index_ingest_batch_fn,
    )

    fn = index_ingest_batch_fn(corpus, index)
    newdoc = spark.createDataFrame(
        [(100, "a genuinely novel document about columnar engines")],
        "doc_id long, text string",
    )
    fn(newdoc, 1)
    post = spark.read.parquet(index)
    assert 100 in {r["doc_id"] for r in post.select("doc_id").collect()}
    readable_subset = {
        (r["doc_id"], r["band_key"])
        for r in post.filter(F.col("doc_id") != 100).collect()
    }
    assert readable_subset == set(want)


def test_index_compaction_file_count_cadence(spark, tmp_path):
    """The file-generation trigger: with compact_files_per_bucket=1,
    every append that leaves a second file generation in any bucket is
    followed by an in-stream compaction — file counts stay flat while
    batch-count-only cadence would let them grow per append."""
    from dbt_datbricks_demo_spark.operators import dedup, index_store
    from dbt_datbricks_demo_spark.streaming.corpus import (
        index_ingest_batch_fn,
    )

    corpus = str(tmp_path / "fc_corpus")
    index = str(tmp_path / "fc_index")
    fn = index_ingest_batch_fn(
        corpus, index, compact_every=0, compact_files_per_bucket=1
    )
    texts = [
        "alpha document about streaming ingestion and band indexes",
        "beta document covering partition pruned probe scans today",
        "gamma document on atomic directory swap compaction rules",
    ]
    for i, t in enumerate(texts):
        fn(
            spark.createDataFrame([(i, t)], "doc_id long, text string"),
            i,
        )
        assert index_store.max_files_per_partition(
            index, dedup.MINHASH_BUCKET_COL
        ) <= 1, i
    got = {
        r["doc_id"]
        for r in spark.read.parquet(index).select("doc_id").distinct().collect()
    }
    assert got == {0, 1, 2}


def test_streaming_ann_index_ingest_matches_batch_built(spark, tmp_path):
    """Round-9 verdict item 7: the batch IVF-PQ index is now
    stream-maintained like the MinHash band index. Three embedding
    micro-batches stream through the foreachBatch ingest (with an
    in-stream compaction firing on the cadence config); a probe
    through batch_ivfpq_index_topk must return EXACTLY the rows the
    batch-built index over the same vectors returns, and the lifecycle
    ops (tombstone delete + compact) keep working on the streamed
    index."""
    import json
    import random

    from dbt_datbricks_demo_spark.operators import similarity
    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )
    from dbt_datbricks_demo_spark.streaming.vectors import (
        write_vector_index_ingest,
    )

    rng = random.Random(47)
    vecs = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(120)
    ]
    planes = similarity.adaptive_planes(len(vecs), 16, target_cell_width=16)

    # reference: batch-built index over ALL rows at once
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    ref_idx = str(tmp_path / "ann_ref_idx")
    similarity.write_batch_ivfpq_index(
        emb, _IVFPQ_COARSE, _PQ_BOOKS, planes, ref_idx
    )
    queries = emb.filter(F.col("vec_id") % 40 == 1).select(
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

    want = probe(ref_idx)
    assert want

    # stream: the same 120 vectors in 3 file micro-batches
    input_dir = tmp_path / "ann_in"
    input_dir.mkdir()
    idx = str(tmp_path / "ann_stream_idx")
    ckpt = str(tmp_path / "ann_ckpt")
    for b in range(3):
        with open(input_dir / f"b{b}.jsonl", "w") as fh:
            for i, v in vecs[b * 40:(b + 1) * 40]:
                fh.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(input_dir))
    )
    q = (
        write_vector_index_ingest(
            stream, idx, ckpt, _IVFPQ_COARSE, _PQ_BOOKS, planes,
            compact_every=2,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert spark.read.parquet(idx).count() == 120
    assert probe(idx) == want  # stream-built == batch-built, row for row

    # lifecycle on the streamed index: tombstone + compact, dupes and
    # deleted ids retired physically, probes reflect the delete
    victim = want[0][1]
    similarity.delete_from_batch_ivfpq_index(spark, idx, [victim])
    similarity.compact_batch_ivfpq_index(spark, idx)
    assert spark.read.parquet(idx).count() == 119
    after = probe(idx)
    assert all(v != victim for _, v, _, _ in after)


def test_streaming_ann_ingest_recovers_crashed_compaction(spark, tmp_path):
    """Restart safety for the ANN stream ingest (symmetry with the
    minhash ingest's crash-restart coverage): a previous session died
    BETWEEN the compaction swap renames — index dir gone, .old holds
    the only copy, .compacting half-written. The next micro-batch must
    repair the tree before appending, and the probe must see every
    ingested vector."""
    import os
    import random
    import shutil

    from dbt_datbricks_demo_spark.operators import similarity
    from dbt_datbricks_demo_spark.queries.mining_ops import (
        _IVFPQ_COARSE,
        _PQ_BOOKS,
    )
    from dbt_datbricks_demo_spark.streaming.vectors import (
        ann_index_ingest_batch_fn,
    )

    rng = random.Random(59)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(80)]
    planes = similarity.adaptive_planes(len(vecs), 16, target_cell_width=16)
    idx = str(tmp_path / "ann_crash_idx")
    fn = ann_index_ingest_batch_fn(idx, _IVFPQ_COARSE, _PQ_BOOKS, planes)

    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    fn(emb.filter(F.col("vec_id") < 40), 0)
    assert spark.read.parquet(idx).count() == 40

    # inject the between-renames crash state of a died compaction
    shutil.copytree(idx, idx + ".compacting")
    os.rename(idx, idx + ".old")
    assert not os.path.exists(idx)

    # next micro-batch: recovery rolls back, append lands in the
    # repaired tree
    fn(emb.filter(F.col("vec_id") >= 40), 1)
    assert os.path.exists(idx)
    assert not os.path.exists(idx + ".old")
    assert not os.path.exists(idx + ".compacting")
    assert spark.read.parquet(idx).count() == 80

    queries = emb.filter(F.col("vec_id") % 40 == 1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = similarity.batch_ivfpq_index_topk(
        spark, idx, _IVFPQ_COARSE, _PQ_BOOKS, planes, queries,
        probe_radius=2,
    ).collect()
    assert got and {r["q_id"] for r in got} == {1, 41}
