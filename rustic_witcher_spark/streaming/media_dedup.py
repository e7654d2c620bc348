"""Streaming face of the media near-dup index: continuous media drops
are fingerprinted, flagged against the persisted index, and appended
to it — the nightly-ingest loop of `dedup.incremental_hamming_flags`
run per micro-batch.

Design (the shard-appender pattern, `streaming/shard_stream.py`):

- **The index is a SET of (id, fingerprint) rows**, so maintaining it
  needs no custom state store: each micro-batch is hashed (narrow
  Arrow-batched kernel), flagged batch-vs-index (band-key joins, never
  media bytes), and the previously-unseen fingerprints are appended.
  The cost of a micro-batch is the micro-batch plus an index join —
  never a re-scan of historical media.
- **Idempotent replay** via the foreachBatch contract: a metadata file
  records ``last_batch_id``; a replayed (≤) batch is skipped before
  any write. Both outputs are batch-partitioned and written with
  overwrite (``flags/batch=<id>``, ``data/batch=<id>``), and the index
  read is FILTERED to the batches at or below the cursor
  (`replay_meta.read_indexed`) — so a replay that does run (crash
  between the data write and the meta write) re-flags
  against exactly the pre-batch index (never seeing its own
  fingerprints, which would flag the whole batch as dups of itself)
  and rewrites its own partitions byte-for-byte instead of appending
  duplicates.
- **Batch ≡ stream** is structural: the per-batch flagging calls the
  SAME `incremental_hamming_flags` the batch CLI uses, so chunked
  streaming over a corpus produces exactly the flags the equivalent
  sequence of batch runs would (pinned by test at arbitrary cuts).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rustic_witcher_spark.operators.dedup import incremental_hamming_flags
from rustic_witcher_spark.operators.multimodal import attach_perceptual_hash
from rustic_witcher_spark.sinks.parquet import write_parquet
from rustic_witcher_spark.streaming.replay_meta import (
    advance,
    load_meta,
    read_indexed,
    recover,
    stage,
    swap_in,
)

META_NAME = "_media_index_meta.json"


def media_index_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    binary_col: str,
    index_path: str,
    max_hamming: int = 2,
) -> bool:
    """One micro-batch through the index loop: fingerprint → flag vs
    index → append unseen fingerprints. Returns False (no work) for a
    replayed batch_id. Empty batches advance the replay cursor without
    touching the index (schemas are always passed explicitly on
    read-back — a 0-row parquet dir must not raise
    UNABLE_TO_INFER_SCHEMA, the `sinks/shards.py` lesson)."""
    meta = load_meta(index_path, META_NAME)
    if batch_id <= meta.get("last_batch_id", -1):
        return False
    spark = batch_df.sparkSession
    # persist: the fingerprint stage feeds two actions (the flags write
    # and the fresh-append) — without the cut the Python decode kernel
    # would re-run per action
    hashed = attach_perceptual_hash(batch_df.select(id_col, binary_col), binary_col).select(id_col, "phash")
    hashed = hashed.persist()
    try:
        data_dir = os.path.join(index_path, "data")
        # the cursored index only: a crash-replay (data appended, meta
        # not yet written) re-flags against exactly the pre-batch index
        # instead of seeing its own fingerprints and flagging itself
        index = read_indexed(spark, data_dir, hashed.schema.toDDL(), meta).select(id_col, "phash")

        both = hashed.withColumn("__new", F.lit(True)).unionByName(index.withColumn("__new", F.lit(False)))
        flags = incremental_hamming_flags(both, id_col, "phash", F.col("__new"), max_hamming)
        flags_dir = os.path.join(index_path, "flags", f"batch={batch_id}")
        flags.write.mode("overwrite").parquet(flags_dir)

        # append previously-unseen fingerprints: not exact-dup vs the
        # index, non-NULL (missing media carries no fingerprint), and
        # first-per-fingerprint WITHIN the batch (lowest id wins, the
        # dedup family's survivor rule) so an intra-batch dup lands once.
        # The batch's rows go to their OWN partition dir with overwrite:
        # a replayed batch rewrites rather than duplicates.
        written_flags = spark.read.schema(flags.schema).parquet(flags_dir)
        fresh = (
            hashed.filter(F.col("phash").isNotNull())
            .join(written_flags.filter(~F.col("exact_dup")).select(id_col), id_col, "left_semi")
            .withColumn("__rn", F.row_number().over(Window.partitionBy("phash").orderBy(id_col)))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        batch_dir = os.path.join(data_dir, f"batch={batch_id}")
        appended = write_parquet(fresh, batch_dir)
    finally:
        hashed.unpersist()
    advance(index_path, META_NAME, meta, batch_id, appended)
    return True


def compact_media_index(spark, index_path: str) -> dict:
    """Merge the accumulated ``data/batch=N`` partitions into a single
    partition at the current cursor — the small-files compaction every
    long-running appender eventually needs (one parquet file per
    micro-batch otherwise).

    Safe with respect to replay: only batches AT OR BELOW the replay
    cursor are compacted, into ``batch=<last_batch_id>`` — which the
    cursored index read still sees for every future batch, and the
    cursor means no batch ≤ last_batch_id can re-run. A batch dir PAST
    the cursor (torn write: data landed, crash before the meta update)
    is carried through the swap untouched — folding it down to
    ``batch=<last_batch_id>`` would let its own scheduled replay see
    its own fingerprints in the pre-batch index and flag the whole
    batch as exact dups of itself. Fingerprints are already unique
    across the cursored index (exact-dups are never re-indexed;
    replays overwrite their own partition), so compaction is purely
    file layout. The new layout replaces ``data`` through
    `replay_meta.swap_in`: a crash at any point leaves a working
    index, which the next read or compaction recovers."""
    meta = load_meta(index_path, META_NAME)
    cursor = meta.get("last_batch_id", -1)
    if cursor < 0 or meta.get("indexed_rows", 0) == 0:
        return meta
    data_dir = os.path.join(index_path, "data")
    recover(data_dir)
    ddl = spark.read.parquet(data_dir).drop("batch").schema.toDDL()  # present: indexed_rows > 0
    compacted = read_indexed(spark, data_dir, ddl, meta).drop("batch").coalesce(1)
    compacted.write.mode("overwrite").parquet(os.path.join(stage(data_dir), f"batch={cursor}"))
    swap_in(data_dir, cursor)
    return meta


def write_media_index_stream(
    media_stream: DataFrame,
    id_col: str,
    binary_col: str,
    index_path: str,
    checkpoint: str,
    max_hamming: int = 2,
    queryName: str = "media_index",
):
    """Run the index loop as a Structured Streaming query (foreachBatch).
    Flags for each micro-batch land under ``<index_path>/flags/batch=N``;
    the fingerprint set under ``<index_path>/data``."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        media_index_append_batch(batch_df, batch_id, id_col, binary_col, index_path, max_hamming=max_hamming)

    return (
        media_stream.writeStream.foreachBatch(_apply)
        .queryName(queryName)
        .option("checkpointLocation", checkpoint)
        .start()
    )
