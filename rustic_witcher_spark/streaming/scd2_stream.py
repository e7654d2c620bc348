"""Continuous SCD2 maintenance — the streaming face of
``operators.scd2.scd2_intervals``.

Each micro-batch of change events merges into a materialized SCD2
history (a parquet snapshot replaced through `replay_meta`'s
crash-safe directory swap, like cdc_stream.py; a Delta/Iceberg MERGE
plugs in as its own ``writeStream.foreachBatch`` callable):

1. split the history into TOUCHED keys (present in the batch — a semi
   join on the batch's distinct keys; AQE broadcasts a normal-sized
   CDC batch and falls back to shuffle-hash for a backfill replay)
   and UNTOUCHED keys (left-anti) — only touched keys are rebuilt;
2. feed the touched intervals BACK through the interval builder as
   pseudo-events (ts = valid_from, weight = n_changes — the
   ``weight_col`` hook preserves accumulated change counts) together
   with the batch's real events;
3. union the rebuilt slice with the untouched slice and swap.

Ordering contract (tested in test_scd2_stream.py):
- batch ≡ stream EXACTLY when each key's events arrive across batches
  in nondecreasing event time (any within-batch order, any cross-key
  interleaving) — the normal CDC delivery guarantee;
- a LATE event splices into the middle of the history correctly (new
  interval inserted, neighbors re-closed) — the property a naive
  "close current row, append new row" SCD2 apply silently lacks;
- the one approximation: a late event landing strictly inside a run
  that had already COLLAPSED several same-state events loses the
  collapsed interior change points (the run re-splits at its recorded
  start, not at the erased interior event). That information loss is
  inherent to ANY compacted interval store; the merged history is
  still structurally consistent (contiguous, disjoint, exactly one
  open version per key). Keep the raw change log (the DMS file layout
  this engine ingests already is one) and rebuild the key from it
  when exact out-of-order repair matters.

100 TB shape: per batch, cost is one semi + one anti join against the
history (both on the key's hash partitioning; at lake scale the
history table is partitioned so untouched partitions aren't
rewritten — Delta/Iceberg MERGE does exactly this) plus the
single-Exchange interval rebuild over ONLY the touched keys' rows —
proportional to batch key cardinality, never to history size.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rustic_witcher_spark.operators.scd2 import scd2_intervals
from rustic_witcher_spark.sources.parquet import read_table_files
from rustic_witcher_spark.streaming.replay_meta import recover, stage, swap_in


def scd2_merge(
    history: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge a batch of change events into an existing SCD2 history.

    Pure DataFrame logic (no IO) so batch and streaming share one
    implementation; returns the full new history.
    """
    keys = [F.col(c) for c in key_cols]
    # strategy left to AQE: normal CDC batches broadcast themselves via
    # the size threshold; a replay/backfill batch with millions of
    # distinct keys must NOT be force-broadcast (driver collect x2) —
    # AQE picks shuffle-hash on the key instead.
    # NULL-SAFE key match: the interval builder's window partitions
    # NULL keys together (one real group, same as SQL PARTITION BY), so
    # the split must treat them the same — a plain equi-join never
    # matches NULL, which left a NULL-key history permanently
    # "untouched" while the batch rebuilt a second, disconnected one
    # (two open versions per NULL key; dirty-stream fuzz finding, r11)
    batch_keys = batch.select(*key_cols).distinct()
    null_safe = [history[c].eqNullSafe(batch_keys[c]) for c in key_cols]
    on = null_safe[0]
    for cond in null_safe[1:]:
        on = on & cond
    touched = history.join(batch_keys, on, "left_semi")
    untouched = history.join(batch_keys, on, "left_anti")

    # history rows -> weighted pseudo-events at their change points;
    # real batch events carry weight 1. Pseudo-events reuse the run's
    # STORED start tiebreak (kept by keep_tiebreak=True): several
    # versions can share one valid_from (zero-length intervals from
    # same-ts changes), and only the original tiebreak reconstructs
    # their order — a constant sentinel provably collapses them
    # (caught by the randomized chunking property test).
    pseudo = touched.select(
        *keys,
        *[F.col(c) for c in attr_cols],
        F.col("valid_from").alias(ts_col),
        *[F.col(c) for c in tiebreak_cols],
        F.col("n_changes").cast("long").alias("__w"),
    )
    events = batch.select(
        *keys,
        *[F.col(c) for c in attr_cols],
        F.col(ts_col),
        *[F.col(c) for c in tiebreak_cols],
        F.lit(1).cast("long").alias("__w"),
    )
    rebuilt = scd2_intervals(
        pseudo.unionByName(events),
        key_cols,
        attr_cols,
        ts_col,
        tiebreak_cols=tiebreak_cols,
        weight_col="__w",
        keep_tiebreak=True,
    )
    return untouched.unionByName(rebuilt)


def scd2_snapshot_merger(
    spark: SparkSession,
    history_path: str,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
):
    """foreachBatch callable maintaining a parquet SCD2 history with
    `replay_meta`'s crash-safe directory swap."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        recover(history_path)
        if os.path.exists(history_path):
            history = read_table_files(spark, (history_path,))
            merged = scd2_merge(history, batch_df, key_cols, attr_cols, ts_col, tiebreak_cols)
        else:
            merged = scd2_intervals(
                batch_df, key_cols, attr_cols, ts_col, tiebreak_cols, keep_tiebreak=True
            )
        merged.write.mode("overwrite").parquet(stage(history_path))
        swap_in(history_path)

    return merge


def streaming_scd2_apply(
    spark: SparkSession,
    change_stream: DataFrame,
    history_path: str,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    checkpoint: str,
    tiebreak_cols: Sequence[str] = (),
):
    """Start the continuous SCD2-maintenance query over the parquet
    history merger."""
    fn = scd2_snapshot_merger(spark, history_path, key_cols, attr_cols, ts_col, tiebreak_cols)
    return (
        change_stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
