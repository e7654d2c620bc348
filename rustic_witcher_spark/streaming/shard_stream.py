"""Streaming face of the training-shard sink: continuous corpus drops
append into the same ``shard=N/`` layout `sinks/shards.py` writes, with
the integrity manifest maintained incrementally per micro-batch.

Why this composes exactly-once semantics out of the batch sink's
design rather than re-implementing it:

- **Shard assignment is a pure row hash** (`packing.training_shards`),
  so a row lands in the same shard whether it arrived in batch or
  stream — readers never care which path wrote it.
- **The manifest digest is an algebraic accumulator** (per-shard SUM of
  60-bit row hashes mod M61): batch digests MERGE by modular addition,
  so the manifest update per micro-batch is O(|shards|) arithmetic on
  the driver — no re-scan of previously written data, ever. This is
  the property that makes the scheme viable at 100 TB: the cost of a
  micro-batch is the micro-batch, not the corpus.
- **Idempotent replay** via the foreachBatch contract: Spark may re-run
  a batch after a failure, always with the same ``batch_id``. The
  manifest records ``last_batch_id``; a replayed (≤) batch is skipped
  before any write. The one non-atomic window — crash AFTER the data
  append but BEFORE the manifest write — re-appends the batch on
  recovery, which the digest then counts twice; ``verify`` flags
  exactly that shard, which is the audit doing its job. (The batch
  sink has no such window: it writes shards and manifest into a staged
  dir and swaps the whole dir in with `replay_meta.swap_in`, which an
  append cannot do without rewriting every shard.) True
  transactional appends need a table format with commit logs; this
  sink stays at parquet-directory level by design, like the reference
  export path (rustic-anonymization-operator's parquet writer).

Per-batch ``rank`` restarts at 1 (it is a within-batch shuffle order,
not a global position); downstream epoch shuffling should key on
(shard, file, rank) or re-shard — same caveat as re-running the batch
sink into a fresh directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rustic_witcher_spark.operators.packing import training_shards
from rustic_witcher_spark.sinks.shards import MANIFEST_NAME, _DIGEST_MOD, _shard_stats
from rustic_witcher_spark.streaming.replay_meta import load_meta, store_meta


def _empty_manifest(id_col: str, n_shards: int, seed: int) -> dict:
    return {
        "n_shards": n_shards,
        "id_col": id_col,
        "seed": seed,
        "total_rows": 0,
        "shards": {},
        "last_batch_id": -1,
    }


def shard_append_batch(batch_df: DataFrame, batch_id: int, id_col: str, n_shards: int, path: str, seed: int = 42) -> bool:
    """Append one micro-batch into the shard layout and merge its stats
    into the manifest. Returns False when the batch was a replay (or
    empty) and nothing was written."""
    manifest = load_meta(path, MANIFEST_NAME, _empty_manifest(id_col, n_shards, seed))
    got = (manifest["id_col"], manifest["n_shards"], manifest["seed"])
    if got != (id_col, n_shards, seed):
        # fail FAST: appending with a different layout config would hash
        # the same id to a different shard than its batch-written twin,
        # and verify would later report it as opaque digest corruption
        raise ValueError(
            f"shard layout mismatch: directory manifest has (id_col, n_shards, seed)={got}, "
            f"caller passed {(id_col, n_shards, seed)}"
        )
    if batch_id <= manifest.get("last_batch_id", -1):
        return False  # foreachBatch replay after recovery — already applied
    # persist: the micro-batch lineage feeds two jobs (stats + write);
    # a micro-batch fits executor memory by construction, so a cheap
    # cache beats recomputing the source read twice
    sharded = training_shards(batch_df, id_col, n_shards, seed=seed).persist()
    try:
        batch_stats = {
            int(r["shard"]): (int(r["n_rows"]), int(r["digest"]))
            for r in _shard_stats(sharded, id_col, seed).collect()
        }
        if batch_stats:
            sharded.write.mode("append").partitionBy("shard").parquet(path)
    finally:
        sharded.unpersist()
    for shard, (n, dig) in batch_stats.items():
        prev = manifest["shards"].get(str(shard), {"n_rows": 0, "digest": 0})
        manifest["shards"][str(shard)] = {
            "n_rows": prev["n_rows"] + n,
            "digest": (prev["digest"] + dig) % _DIGEST_MOD,
        }
    manifest["total_rows"] = sum(s["n_rows"] for s in manifest["shards"].values())
    manifest["last_batch_id"] = batch_id
    store_meta(path, MANIFEST_NAME, manifest)
    return bool(batch_stats)


def write_shards_stream(
    stream_df: DataFrame,
    id_col: str,
    n_shards: int,
    path: str,
    checkpoint: str,
    seed: int = 42,
):
    """Start a foreachBatch streaming query appending into the shard
    layout at ``path``. `sinks.shards.verify_training_shards` verifies
    the result exactly as it does the batch sink's output."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        shard_append_batch(batch_df, batch_id, id_col, n_shards, path, seed=seed)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .start()
    )
