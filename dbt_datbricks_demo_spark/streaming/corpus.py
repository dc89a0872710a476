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
    corpus write                           append-mode file sink

State note: exact dedup against ALL history needs one state entry per
distinct content hash ever seen (16-byte key + overhead). At 10¹¹ docs
that is executor-distributed RocksDB territory, and the practical
alternative is watermarked dedup (bounded horizon) + a periodic batch
compaction — both expressible here by adding withWatermark before the
dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

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
    lines are dropped at parse (mirrors sources/corpus_io.py)."""
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


# ---------------------------------------------------------------------------
# Cross-batch NEAR-dup ingestion (foreachBatch + persistent signature store)
# ---------------------------------------------------------------------------
def neardup_ingest_batch_fn(
    corpus_dir: str,
    sig_store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.9,
):
    """foreachBatch function for streaming ingestion that drops documents
    NEAR-duplicating anything previously admitted — the streaming analog
    of operators/corpus.clean_corpus step 4 (dropDuplicates only catches
    byte-identical bodies).

    The admitted-document SIGNATURE STORE persists as parquet rows
    (id, content_hash, shingle-hash array, band keys): ~1 KB per doc
    instead of the body, the same metadata the batch pipeline computes.
    Per micro-batch:

      1. within-batch exact dedup (lowest id wins) + exact cross-batch
         dedup (anti-join on content_hash against the store);
      2. near-dup candidates = band-key join (batch × store ∪ batch ×
         batch, id-ordered), verified with exact Jaccard via
         array_intersect on the staged shingle-hash arrays — no
         explode, the arrays are already distinct hashes;
      3. survivors append to the corpus and their signatures to the
         store, both PARTITIONED BY BATCH ID with dynamic overwrite —
         a replayed batch overwrites its own partition, so retries are
         idempotent (the parquet stand-in for a Delta MERGE).

    State growth is the store: O(admitted docs) × ~1 KB, a table scan
    per batch. At 10¹¹ docs, bucket the store by band key so the
    candidate join prunes (plans/bucketing.py) and compact it
    periodically; the logic here is unchanged.
    """
    from dbt_datbricks_demo_spark.operators.dedup import (
        content_hash,
        lsh_band_keys,
        with_minhash,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rows_per_band = num_hashes // bands

        staged = with_minhash(
            batch_df, text_col, num_hashes, shingle_k,
            sig_col="_sig", keep_hashes="_hs",
        )
        staged = staged.withColumn("_ch", content_hash(text_col)).withColumn(
            "_bands", lsh_band_keys("_sig", bands, rows_per_band)
        )
        # 1. within-batch exact dedup, lowest id wins
        w_rn = F.row_number().over(Window.partitionBy("_ch").orderBy(id_col))
        staged = staged.withColumn("_rn", w_rn).filter(F.col("_rn") == 1).drop("_rn")

        try:
            store = spark.read.parquet(sig_store_dir)
        except Exception:  # first batch: empty store
            store = None

        if store is not None:
            staged = staged.join(
                store.select(F.col("content_hash").alias("_ch")).distinct(),
                on="_ch",
                how="left_anti",
            )

        # 2. near-dup candidates: batch vs store, plus batch vs batch
        cand_b = staged.select(
            F.col(id_col).alias("_bid"),
            F.col("_hs").alias("_bhs"),
            F.explode("_bands").alias("band_key"),
        )
        sides = []
        if store is not None:
            sides.append(
                cand_b.join(
                    store.select(
                        F.col("hs").alias("_ohs"),
                        F.explode(F.col("band_keys")).alias("band_key"),
                    ),
                    on="band_key",
                )
            )
        older = staged.select(
            F.col(id_col).alias("_oid"),
            F.col("_hs").alias("_ohs"),
            F.explode("_bands").alias("band_key"),
        )
        sides.append(
            cand_b.join(older, on="band_key").filter(
                F.col("_oid") < F.col("_bid")
            ).drop("_oid")
        )
        cands = sides[0]
        for s in sides[1:]:
            cands = cands.unionByName(s)
        inter = F.size(F.array_intersect("_bhs", "_ohs"))
        union = F.size("_bhs") + F.size("_ohs") - inter
        losers = (
            cands.withColumn("_j", inter / F.nullif(union, F.lit(0)))
            .filter(F.col("_j") >= jaccard_threshold)
            .select(F.col("_bid").alias(id_col))
            .distinct()
        )
        survivors = staged.join(losers, on=id_col, how="left_anti")

        # 3. idempotent batch-partitioned appends (dynamic overwrite as
        # a WRITER option — a session-level conf would leak into every
        # later partitioned overwrite in this session)
        (
            survivors.select(id_col, text_col)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(corpus_dir)
        )
        (
            survivors.select(
                F.col(id_col),
                F.col("_ch").alias("content_hash"),
                F.col("_hs").alias("hs"),
                F.col("_bands").alias("band_keys"),
            )
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(sig_store_dir)
        )

    return process


def write_corpus_neardup(
    stream: DataFrame,
    corpus_dir: str,
    sig_store_dir: str,
    checkpoint_dir: str,
    **kwargs,
):
    """Near-dup-aware streaming sink: quality/language gates in-stream,
    then foreachBatch ingestion against the signature store."""
    return (
        stream.writeStream.foreachBatch(
            neardup_ingest_batch_fn(corpus_dir, sig_store_dir, **kwargs)
        ).option("checkpointLocation", checkpoint_dir)
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
    """foreachBatch ingestion that maintains the STANDING MinHash band
    index (operators/dedup.write_minhash_index layout) instead of a
    private signature store — so batch jobs (minhash_index_lookup /
    index_candidate_pairs) and the streaming ingest share ONE index,
    and the round-6 lifecycle ops run inside the stream. Per
    micro-batch:

      1. within-batch near-dup: band-key self-join (id-ordered),
         verified with exact Jaccard on the staged shingle-hash
         arrays. Exact duplicates need no separate pass — identical
         text shares every band key and verifies at Jaccard 1.0.
      2. batch-vs-corpus: candidates from the PARTITION-PRUNED
         standing-index probe (index_candidate_pairs — which also
         honors tombstones), then verification recomputes shingle
         arrays ONLY for the candidate corpus docs (candidate-bounded
         join against the corpus table; the index stays short rows,
         bodies are never indexed).
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

    State model at scale: the only driver-side state is the ≤32-value
    bucket list inside the probe; everything else is tables. The index
    grows O(admitted docs × bands) short rows; compaction keeps the
    per-bucket file count flat."""
    from dbt_datbricks_demo_spark.operators.dedup import (
        MINHASH_BUCKET_COL,
        compact_minhash_index,
        index_candidate_pairs,
        lsh_band_keys,
        minhash_index_exists,
        with_minhash,
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
        rows_per_band = num_hashes // bands
        staged = with_minhash(
            batch_df, text_col, num_hashes, shingle_k,
            sig_col="_sig", keep_hashes="_hs",
        ).withColumn(
            "_bands", lsh_band_keys("_sig", bands, rows_per_band)
        ).localCheckpoint(eager=True)

        # 1. within-batch near-dup (higher id loses to a verified
        # lower-id near-dup; covers exact dups at Jaccard 1.0)
        younger = staged.select(
            F.col(id_col).alias("_bid"),
            F.col("_hs").alias("_bhs"),
            F.explode("_bands").alias("band_key"),
        )
        older = staged.select(
            F.col(id_col).alias("_oid"),
            F.col("_hs").alias("_ohs"),
            F.explode("_bands").alias("band_key"),
        )
        inter = F.size(F.array_intersect("_bhs", "_ohs"))
        union = F.size("_bhs") + F.size("_ohs") - inter
        within_losers = (
            younger.join(older, "band_key")
            .filter(F.col("_oid") < F.col("_bid"))
            .withColumn("_j", inter / F.nullif(union, F.lit(0)))
            .filter(F.col("_j") >= jaccard_threshold)
            .select(F.col("_bid").alias(id_col))
            .distinct()
        )
        batch_kept = staged.join(within_losers, id_col, "left_anti")

        # 2. batch-vs-corpus via the standing index, candidate-bounded
        # verification against the corpus table
        if minhash_index_exists(index_path):
            cands = index_candidate_pairs(
                spark, index_path,
                batch_kept.select(id_col, text_col),
                id_col=id_col, text_col=text_col,
                k=shingle_k, num_hashes=num_hashes, bands=bands,
            ).localCheckpoint(eager=True)
            if cands.count():
                corpus = spark.read.parquet(corpus_dir)
                cand_docs = corpus.join(
                    cands.select(
                        F.col("corpus_id").alias(id_col)
                    ).distinct(),
                    id_col,
                )
                cand_hs = with_minhash(
                    cand_docs, text_col, num_hashes, shingle_k,
                    sig_col="_sig", keep_hashes="_ohs",
                ).select(F.col(id_col).alias("corpus_id"), "_ohs")
                verified = (
                    cands.join(cand_hs, "corpus_id")
                    .join(
                        batch_kept.select(
                            F.col(id_col).alias("batch_id"),
                            F.col("_hs").alias("_bhs"),
                        ),
                        "batch_id",
                    )
                    .withColumn("_j", inter / F.nullif(union, F.lit(0)))
                    .filter(F.col("_j") >= jaccard_threshold)
                    .select(F.col("batch_id").alias(id_col))
                    .distinct()
                )
                batch_kept = batch_kept.join(verified, id_col, "left_anti")

        survivors = batch_kept.localCheckpoint(eager=True)

        # 3. idempotent corpus append + index postings append. The
        # dynamic-overwrite mode is a WRITER option, not a session conf:
        # a session-level setting leaks into the index write, whose
        # dynamic-mode commit skips the root _SUCCESS marker (the bug
        # the marker-independent minhash_index_exists guards against).
        (
            survivors.select(id_col, text_col)
            .withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(corpus_dir)
        )
        mode = "append" if minhash_index_exists(index_path) else "overwrite"
        write_minhash_index(
            survivors.select(id_col, text_col), index_path,
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
