"""Streaming ingestion for the BATCH IVF-PQ index (round-9 verdict
item 7): the MinHash band index has been stream-maintained since round
7 (streaming/corpus.index_ingest_batch_fn) but the batch-ANN index only
had batch append — a new embedding generation had to wait for an
offline job. This closes the symmetry: a foreachBatch wrapper encodes
each micro-batch with the index's frozen (coarse, books, planes) and
dynamic-partition-appends it into the standing cell directories. Both
ingests share one storage lifecycle (operators/index_store.py): the
cadence check (index_store.compaction_due), the locked write, delete
and compaction paths, and their crash recovery.

Encoding parameters are FROZEN at index build time by design: IVF-PQ
serving quality is a property of (coarse, books, planes) chosen from
the counted corpus at build; a corpus that outgrows its geometry gets a
REBUILD (the index-maintenance lifecycle), not a silent per-batch
re-fit — mirroring how production vector stores version their
quantizers.

Reference basis: the reference's streaming ingestion is aspirational
(SURVEY §2.10); this follows Structured Streaming's foreachBatch
pattern (pyspark_guide.md) applied to the round-7/8 index layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dbt_datbricks_demo_spark.operators import index_store, similarity


def ann_index_ingest_batch_fn(
    index_path: str,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    planes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int = 0,
    compact_files_per_cell: int = 0,
):
    """foreachBatch function that maintains the standing batch IVF-PQ
    index (operators/similarity.write_batch_ivfpq_index layout) as
    vector batches stream in. Per micro-batch:

      1. every write entry point (similarity's append/write/compact,
         through operators/index_store.py) runs recovery UNDER the
         index write lock before acting, so a restart that killed a compaction at
         any point of the swap finds a readable index and converges —
         no unlocked recovery happens here (an unlocked rename-back
         would race a live compactor between its two swap renames);
      2. encode with the index's frozen (coarse, books, planes) and
         append into the cell directories (write on first batch). A
         REPLAYED batch double-appends physically; probes retire
         duplicates at read (batch_ivfpq_index_topk dropDuplicates) and
         compaction retires them physically — the exact idempotency
         contract of the minhash postings append;
      3. cadence compaction: every ``compact_every`` batches (0 =
         never) and/or whenever any cell directory exceeds
         ``compact_files_per_cell`` parquet-file generations (0 =
         never). foreachBatch runs sequentially, so the atomic swap
         sees no concurrent writer from THIS stream; writers from other
         sessions are excluded by the index write lock
         (operators/locks.py) that every write path holds.

    State model at scale: NO driver-side state at all — the index IS
    the state (appends are encoded rows, compaction is a table
    service). The checkpoint gives exactly-once batch ids; everything
    else is idempotent-by-replay."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, vec_col)
        if similarity.batch_index_exists(index_path):
            similarity.append_batch_ivfpq_index(
                batch, coarse, books, planes, index_path,
                id_col=id_col, vec_col=vec_col,
            )
        else:
            similarity.write_batch_ivfpq_index(
                batch, coarse, books, planes, index_path,
                id_col=id_col, vec_col=vec_col,
            )
        if index_store.compaction_due(
            index_path, similarity.IVFPQ_CELL_COL, batch_id,
            compact_every, compact_files_per_cell,
        ):
            similarity.compact_batch_ivfpq_index(spark, index_path)

    return process


def write_vector_index_ingest(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    coarse: list[list[float]],
    books: list[list[list[float]]],
    planes: int,
    **kwargs,
):
    """Standing-ANN-index streaming sink: foreachBatch ingestion that
    keeps the batch IVF-PQ index current (and compacted) as embedding
    batches stream in. Probe with batch_ivfpq_index_topk — results are
    identical to a batch-built index over the same rows (pytest-gated
    in tests/test_streaming.py)."""
    return (
        stream.writeStream.foreachBatch(
            ann_index_ingest_batch_fn(
                index_path, coarse, books, planes, **kwargs
            )
        ).option("checkpointLocation", checkpoint_dir)
    )
