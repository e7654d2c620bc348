"""Continuous CDC apply — the reference's per-file CDC upsert
(cdc_operator.rs:308-328) as a Structured Streaming flow.

Each micro-batch of DMS CDC rows merges into the materialized snapshot
with the SAME semantics as the batch operator (``operators.cdc
.apply_cdc``: last-writer-wins per PK, Op='D' deletes). The sink here
is a parquet snapshot swapped atomically-enough via a staging
directory + rename — sufficient for demos and tests; a production
deployment points ``merge_fn`` at a transactional table format
(Delta/Iceberg MERGE) or the JDBC upsert sink instead, which is why
the merge target is pluggable.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from rustic_witcher_spark.operators.cdc import apply_cdc
from rustic_witcher_spark.sources.parquet import read_table_files


def _swap_in(tmp: Path, final: Path) -> None:
    """Crash-safe snapshot swap.

    The naive rmtree(final) → rename(tmp) sequence has a window where NO
    snapshot exists; a crash there made the next merge treat the missing
    path as an empty base, silently discarding every pre-crash row
    (foreachBatch checkpoints don't replay old batches). Instead: park
    the current snapshot as a backup, promote tmp, then drop the backup.
    At every instant at least one complete snapshot directory exists, and
    ``_recover`` rolls the backup forward after a crash.
    """
    backup = _backup_path(final)
    if backup.exists():  # leftover from a crash mid-swap
        shutil.rmtree(backup)
    if final.exists():
        final.rename(backup)
    tmp.rename(final)
    if backup.exists():
        shutil.rmtree(backup)


def _backup_path(final: Path) -> Path:
    return Path(f"{final}__backup")


def _recover(final: Path) -> None:
    """Startup recovery: if a crash during ``_swap_in`` left no live
    snapshot, restore the parked backup; if both exist, the swap had
    already promoted tmp, so the backup is stale — drop it."""
    backup = _backup_path(final)
    if backup.exists():
        if final.exists():
            shutil.rmtree(backup)
        else:
            backup.rename(final)


def parquet_snapshot_merger(spark: SparkSession, snapshot_path: str, pk: list[str]):
    """Build a foreachBatch callable maintaining a parquet snapshot."""
    final = Path(snapshot_path)
    tmp = Path(f"{snapshot_path}__next")
    _recover(final)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _recover(final)
        base = read_table_files(spark, (str(final),)) if final.exists() else None
        merged = apply_cdc(base, batch_df, pk)
        # materialize BEFORE touching the current snapshot (the merged
        # plan reads it), then swap
        merged.write.mode("overwrite").parquet(str(tmp))
        _swap_in(tmp, final)

    return merge


def streaming_cdc_apply(
    spark: SparkSession,
    cdc_stream: DataFrame,
    snapshot_path: str,
    pk: list[str],
    checkpoint: str,
    merge_fn=None,
):
    """Start the continuous CDC-apply query. ``merge_fn`` defaults to
    the parquet snapshot merger; inject a Delta/JDBC merger in
    production."""
    fn = merge_fn or parquet_snapshot_merger(spark, snapshot_path, pk)
    return (
        cdc_stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
