"""Continuous CDC apply — the reference's per-file CDC upsert
(cdc_operator.rs:308-328) as a Structured Streaming flow.

Each micro-batch of DMS CDC rows merges into the materialized snapshot
with the SAME semantics as the batch operator (``operators.cdc
.apply_cdc``: last-writer-wins per PK, Op='D' deletes). The sink is a
parquet snapshot replaced through `replay_meta`'s crash-safe directory
swap: at every instant one complete snapshot exists, and the next merge
recovers a swap a crash interrupted. A transactional table format
(Delta/Iceberg MERGE) or a Postgres upsert plugs in as its own
``writeStream.foreachBatch`` callable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from rustic_witcher_spark.operators.cdc import apply_cdc
from rustic_witcher_spark.sources.parquet import read_table_files
from rustic_witcher_spark.streaming.replay_meta import recover, stage, swap_in


def parquet_snapshot_merger(spark: SparkSession, snapshot_path: str, pk: list[str]):
    """Build a foreachBatch callable maintaining a parquet snapshot."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        recover(snapshot_path)
        base = read_table_files(spark, (snapshot_path,)) if os.path.exists(snapshot_path) else None
        # materialize BEFORE touching the current snapshot (the merged
        # plan reads it), then swap
        apply_cdc(base, batch_df, pk).write.mode("overwrite").parquet(stage(snapshot_path))
        swap_in(snapshot_path)

    return merge


def streaming_cdc_apply(
    spark: SparkSession,
    cdc_stream: DataFrame,
    snapshot_path: str,
    pk: list[str],
    checkpoint: str,
):
    """Start the continuous CDC-apply query over the parquet snapshot
    merger. Read ``cdc_stream`` with ``operators.cdc.read_cdc_stream``:
    its file name and row index columns let the merge keep the
    last-written of same-timestamp changes within a micro-batch."""
    return (
        cdc_stream.writeStream.foreachBatch(parquet_snapshot_merger(spark, snapshot_path, pk))
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
