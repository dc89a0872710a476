"""Structured Streaming variant of the bronze→silver flow."""

from dbt_datbricks_demo_spark.streaming.pipeline import (  # noqa: F401
    expect_or_drop,
    hourly_health_stream,
    session_activity_stream,
    read_readings_stream,
    sensor_stream_cleaned,
    write_silver_merge,
    readings_alerts_interval_join,
)
from dbt_datbricks_demo_spark.streaming.stateful import (  # noqa: F401
    anomaly_streaks,
    domain_quota_admission,
    novel_documents,
)
from dbt_datbricks_demo_spark.streaming.corpus import (  # noqa: F401
    corpus_stream_cleaned,
    read_document_stream,
    write_corpus_append,
    write_corpus_index_ingest,
)
from dbt_datbricks_demo_spark.streaming.vectors import (  # noqa: F401
    ann_index_ingest_batch_fn,
    write_vector_index_ingest,
)
