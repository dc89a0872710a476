"""Streaming corpus ingestion — the LLM-pipeline analog of the
bronze→silver sensor stream: JSONL documents arrive as files, are
exact-deduplicated against every document ever seen, quality/language
gated, and appended to the training corpus.

    batch operator (operators/corpus.py)   streaming equivalent
    -------------------------------------  ---------------------------------
    exact_dedup (groupBy content hash)     dropDuplicates on content hash —
                                           state keyed by 16-byte digest,
                                           not document bodies
    quality / language gates               same narrow expressions, per
                                           micro-batch
    near-dup dedup (minhash_candidate_     foreachBatch against the standing
    pairs → jaccard_pairs)                 MinHash index, the same chain
    corpus write                           append-mode file sink

State note: exact dedup against ALL history needs one state entry per
distinct content hash ever seen (16-byte key + overhead). At 10¹¹ docs
that is executor-distributed RocksDB territory, and the practical
alternative is watermarked dedup (bounded horizon) + a periodic batch
compaction — both expressible here by adding withWatermark before the
dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dbt_datbricks_demo_spark.functions import broadcast_if_small
from dbt_datbricks_demo_spark.operators import dedup, text

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def read_document_stream(
    spark: SparkSession, input_dir: str, schema: StructType = DOC_SCHEMA
) -> DataFrame:
    """JSONL file stream: new files become micro-batches; malformed
    lines are dropped at parse."""
    return (
        spark.readStream.schema(schema)
        .option("mode", "DROPMALFORMED")
        .option("maxFilesPerTrigger", 1)
        .json(input_dir)
    )


def corpus_stream_cleaned(
    stream: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    allowed_langs: tuple[str, ...] = ("en", "de", "es", "fr"),
    scrub_pii: bool = False,
    dedup_within: str | None = None,
    event_time_col: str = "ts",
) -> DataFrame:
    """Cross-batch exact dedup + quality/language gates. The dedup state
    key is the md5 digest — document bodies never enter the state store.

    dedup_within (e.g. "7 days") switches to
    ``dropDuplicatesWithinWatermark``: the stream is watermarked on
    ``event_time_col`` and dedup state is EVICTED once the watermark
    passes a digest's last occurrence + the delay — bounded state under
    an unbounded stream, at the cost of re-admitting content that
    reappears after the horizon. The default (None) keeps classic
    ``dropDuplicates``: exact forever-dedup whose state is O(distinct
    digests) — fine for bounded backfills, unbounded for infinite
    streams; pick per pipeline.

    scrub_pii=True redacts PII (operators.pii) AFTER dedup and gating:
    the dedup state stays keyed on the raw-content hash (a re-sent raw
    document still dedups against its scrubbed predecessor), and the
    quality/language metrics describe the original text, not the
    placeholder tokens. Pure regexp expressions — no extra state."""
    hashed = stream.withColumn("content_hash", dedup.content_hash(text_col))
    if dedup_within is not None:
        deduped = hashed.withWatermark(
            event_time_col, dedup_within
        ).dropDuplicatesWithinWatermark(["content_hash"])
    else:
        deduped = hashed.dropDuplicates(["content_hash"])
    gated = deduped.filter(
        (F.size(text.tokens(text_col)) >= min_tokens)
        & text.predict_lang(text_col).isin(*allowed_langs)
    )
    if scrub_pii:
        from dbt_datbricks_demo_spark.operators.pii import redact_pii

        gated = gated.withColumn(text_col, redact_pii(text_col))
    return gated


def write_corpus_append(
    cleaned: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Append-mode parquet sink: each micro-batch's surviving documents
    join the corpus; exactly-once via the checkpoint."""
    return (
        cleaned.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def index_ingest_batch_fn(
    corpus_dir: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 8,
    bands: int = 2,
    jaccard_threshold: float = 0.9,
    compact_every: int = 0,
    compact_files_per_bucket: int = 0,
):
    """foreachBatch ingestion that drops documents NEAR-duplicating an
    earlier one — the streaming analog of operators/corpus.clean_corpus
    step 4 (dropDuplicates only catches byte-identical bodies) — and
    maintains the STANDING MinHash band index
    (operators/dedup.write_minhash_index layout), so batch jobs
    (minhash_index_lookup / index_candidate_pairs) and the streaming
    ingest share ONE index, and the round-6 lifecycle ops run inside
    the stream. Per micro-batch:

      1. candidates, on the batch near-dup chain: within-batch pairs
         from dedup.minhash_candidate_pairs (id_a < id_b), and
         batch-vs-corpus pairs from the PARTITION-PRUNED standing-index
         probe (index_candidate_pairs — which also honors tombstones)
         as (id_a = corpus_id, id_b = batch_id). Both sets are verified
         in one dedup.jaccard_pairs over the batch's documents plus the
         corpus table's, which builds shingle arrays ONLY for the
         candidate documents (the index stays short rows, bodies are
         never indexed). Wherever Jaccard reaches the threshold, id_b
         loses: the higher id within the batch, the batch document
         against the corpus whatever the ids. Exact duplicates need no
         separate pass — identical text shares every band key and
         verifies at Jaccard 1.0.
      2. the survivors are materialized once for the two writes.
      3. survivors append to the corpus partitioned by batch id
         (dynamic overwrite — replays rewrite their own partition) and
         their postings append to the index
         (write_minhash_index mode='append'). A replayed batch may
         double-append postings; lookups distinct their output, and
         compaction retires the physical duplicates
         (dropDuplicates on (doc_id, band_key)).
      4. compaction cadence (round 7 — both knobs are config, not ad
         hoc): every ``compact_every`` batches (0 = never), AND/OR
         whenever any bucket directory exceeds
         ``compact_files_per_bucket`` parquet-file generations (0 =
         never; the file-count trigger is what a production table
         service keys on — appends grow generations, probes pay per
         file open). foreachBatch runs sequentially, so the atomic
         directory swap happens with no concurrent reader. A restart
         that killed a previous compaction at any point of the swap
         (including between the two renames) converges because every
         path that touches the index recovers under its own contract —
         the probe via the reader retry, write/delete/compact under
         the writer lock; no unlocked recovery runs here (round-10
         advice: it would race a live compactor in another session) —
         pytest-gated in tests/test_streaming.py.

    Document ids are the corpus key: a batch document whose id is
    already in the corpus (a replayed batch) is the same document, and
    the probe drops it as a self-match.

    State model at scale: the only driver-side state is the ≤32-value
    bucket list inside the probe; everything else is tables. The index
    grows O(admitted docs × bands) short rows; compaction keeps the
    per-bucket file count flat.

    The batch's MinHash signatures are derived three times per
    micro-batch (the within-batch pairs, the probe, the survivors'
    postings), each a shingle explode and a signature shuffle over the
    batch only. One lazily checkpointed band-postings frame shared by
    the three fired more jobs, not fewer, on tests/test_job_budget.py's
    fixture (local[4]): 7 → 11 for a batch meeting an empty index,
    20 → 23 for a batch meeting a non-empty one."""
    from dbt_datbricks_demo_spark.operators.dedup import (
        MINHASH_BUCKET_COL,
        compact_minhash_index,
        index_candidate_pairs,
        jaccard_pairs,
        minhash_candidate_pairs,
        minhash_index_exists,
        write_minhash_index,
    )
    from dbt_datbricks_demo_spark.operators.index_store import compaction_due

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # restart safety WITHOUT an unlocked recovery (round-10
        # advice): a crashed compaction swap is repaired by whichever
        # locked path touches the index first — index_candidate_pairs
        # under the reader retry contract, write/delete/compact under
        # the writer lock. minhash_index_exists counts the crashed
        # mid-swap state as existing so the append path handles it.
        # The batch is read by every step below: checkpointed lazily,
        # its first action materializes it once.
        batch = batch_df.select(id_col, text_col).localCheckpoint(eager=False)

        # 1. within-batch and batch-vs-corpus candidates, one
        # verification
        pairs = minhash_candidate_pairs(
            batch, id_col, text_col, num_hashes, bands, shingle_k
        )
        docs = batch
        if minhash_index_exists(index_path):
            cross = index_candidate_pairs(
                spark, index_path, batch,
                id_col=id_col, text_col=text_col,
                k=shingle_k, num_hashes=num_hashes, bands=bands,
            )
            pairs = pairs.unionByName(
                cross.select(
                    F.col("corpus_id").alias("id_a"),
                    F.col("batch_id").alias("id_b"),
                )
            )
            # the corpus holds the batch's columns: read with their
            # schema, no inference job
            docs = batch.unionByName(
                spark.read.schema(batch.schema)
                .parquet(corpus_dir)
                .select(id_col, text_col)
            )
        scored, n_pairs = jaccard_pairs(docs, pairs, id_col, text_col, shingle_k)
        losers = scored.filter(F.col("jaccard") >= jaccard_threshold).select(
            F.col("id_b").alias(id_col)
        )

        # 2. survivors, materialized once for the two writes
        survivors = batch.join(
            broadcast_if_small(losers, n_pairs), id_col, "left_anti"
        ).localCheckpoint(eager=True)

        # 3. idempotent corpus append + index postings append. The
        # dynamic-overwrite mode is a WRITER option, not a session conf:
        # a session-level setting leaks into the index write, whose
        # dynamic-mode commit skips the root _SUCCESS marker (the bug
        # the marker-independent minhash_index_exists guards against).
        (
            survivors.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(corpus_dir)
        )
        mode = "append" if minhash_index_exists(index_path) else "overwrite"
        write_minhash_index(
            survivors, index_path,
            id_col=id_col, text_col=text_col,
            k=shingle_k, num_hashes=num_hashes, bands=bands, mode=mode,
        )

        # 4. in-stream compaction (sequential foreachBatch — no
        # concurrent reader during the atomic swap): batch-count
        # cadence and/or file-generation threshold
        if compaction_due(
            index_path, MINHASH_BUCKET_COL, batch_id,
            compact_every, compact_files_per_bucket,
        ):
            compact_minhash_index(spark, index_path)

    return process


def write_corpus_index_ingest(
    stream: DataFrame,
    corpus_dir: str,
    index_path: str,
    checkpoint_dir: str,
    **kwargs,
):
    """Standing-index streaming sink: foreachBatch ingestion that keeps
    the shared MinHash band index current (and compacted) as documents
    stream in."""
    return (
        stream.writeStream.foreachBatch(
            index_ingest_batch_fn(corpus_dir, index_path, **kwargs)
        ).option("checkpointLocation", checkpoint_dir)
    )
