"""Streaming face of the PQ/IVF-PQ embedding index: a continuous drop
of new vectors is encoded against the FROZEN codebook of a persisted
base index and appended as a codes delta — the embedding twin of the
media fingerprint appender (`streaming/media_dedup.py`), with the same
replay contract.

Design:

- **The codebook is frozen at base-index build time.** Encoding a
  vector needs only the codebook (KBs, broadcast) — so a micro-batch's
  cost is the micro-batch, never a re-scan or re-train. Codebook drift
  (embedding distribution shift) is a REBUILD decision, made offline
  (the drift monitor is the signal for it), not something a stream
  mutates mid-flight — queries must stay comparable across the whole
  index, and codes are only meaningful against the codebook that
  produced them.
- **Idempotent replay** via the foreachBatch contract (shard/media
  pattern): a meta file records ``last_batch_id``; replayed (≤)
  batches are skipped before any write; each batch's codes land in
  their OWN partition dir (``data/batch=N``) with overwrite, so a
  crash-replay rewrites byte-for-byte instead of duplicating.
- **Queries see base + delta with one kernel**: `query_with_delta`
  unions the not-yet-merged delta into `pq.pq_query_index`'s pruned
  scan (same probe assignment, same per-query list mask). Chunked
  streaming therefore answers EXACTLY like a batch re-index under the
  same frozen codebook (pinned by test at arbitrary cuts).
- **`merge_ann_delta`** folds the delta into the base index's
  cid-partitioned codes (the compaction step): after it, the delta dir
  is empty but its replay cursor SURVIVES — a late replay of an
  already-merged batch must still be recognized and skipped.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rustic_witcher_spark.operators import pq
from rustic_witcher_spark.sinks.parquet import write_parquet
from rustic_witcher_spark.streaming.replay_meta import (
    advance,
    load_meta,
    read_indexed,
    recover,
    stage,
    store_meta,
    swap_in,
)

META_NAME = "_ann_delta_meta.json"


def _delta_schema(id_col: str, with_cid: bool) -> str:
    return f"{id_col} long, codes array<int>" + (", cid int" if with_cid else "")


def ann_index_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    base_index_path: str,
    delta_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    geometry: tuple | None = None,
) -> bool:
    """One micro-batch through the appender: encode against the frozen
    codebook (+ coarse list assignment when the base is IVF-PQ), write
    the batch's codes to its own partition. Returns False (no work) for
    a replayed batch_id. Empty batches advance the cursor without
    touching the index; all read-backs carry explicit schemas (the
    empty-parquet inference bug class).

    ``geometry``: a ``(codebook_df, n_subspaces, dim)`` triple from a
    prior ``pq.codebook_geometry(spark, base_index_path)`` call. The
    codebook is FROZEN for the index's life (the appender's design
    contract), so a caller driving many batches — or one that already
    probed the geometry for an empty-base check — passes it through
    instead of re-paying the codebook aggregate job per call."""
    meta = load_meta(delta_path, META_NAME)
    if batch_id <= meta.get("last_batch_id", -1):
        return False
    spark = batch_df.sparkSession
    cb, n_subspaces, dim = geometry or pq.codebook_geometry(spark, base_index_path)
    if n_subspaces == 0:
        raise ValueError(
            f"base index at {base_index_path!r} has an empty codebook — "
            "build it with pq_write_index over a non-empty corpus first"
        )
    with_cid = os.path.isdir(f"{base_index_path}/_centroids")
    if pq.index_is_residual(base_index_path):
        # residual base index: a code is meaningless without its
        # centroid — encode the batch's RESIDUALS against the frozen
        # codebook (same frame the index build quantized)
        cent = spark.read.schema("cid int, cvec array<double>").parquet(
            f"{base_index_path}/_centroids"
        )
        res = pq.residual_frame(batch_df, cent, id_col, vec_col)
        codes = pq.pq_encode(res, cb, n_subspaces, dim, id_col, "rv").join(
            res.select(id_col, "cid"), id_col
        )
    else:
        codes = pq.pq_encode(batch_df, cb, n_subspaces, dim, id_col, vec_col)
        if with_cid:
            from rustic_witcher_spark.operators.similarity import ivf_assign

            cent = spark.read.parquet(f"{base_index_path}/_centroids")
            lists = ivf_assign(
                batch_df.filter(F.col(vec_col).isNotNull()), cent, id_col, vec_col, nprobe=1
            ).select(id_col, "cid")
            codes = codes.join(lists, id_col)
    batch_dir = os.path.join(delta_path, "data", f"batch={batch_id}")
    advance(delta_path, META_NAME, meta, batch_id, write_parquet(codes, batch_dir))
    return True


def read_delta_codes(
    spark, base_index_path: str, delta_path: str, id_col: str = "vec_id",
    meta: dict | None = None,
) -> DataFrame:
    """The delta's codes as one DataFrame (explicit schema; empty frame
    when nothing has been appended yet).

    Only batches AT OR BELOW the replay cursor are returned: a batch
    dir written during the torn-write window (data landed, crash before
    the meta update) is invisible until its replay re-cursors it —
    otherwise `merge_ann_delta` would fold the torn batch into the base
    while the cursor still schedules its replay, and the re-appended
    delta would duplicate every one of its vec_ids in base ∪ delta
    (two rank-window rows per neighbor, pushing a true top-k hit out).

    ``meta`` lets a caller that already snapshotted the replay meta
    pin THIS read to that snapshot's cursor — `merge_ann_delta` relies
    on it so the batches it folds and the batches it later deletes are
    decided by ONE cursor value even if an appender advances the meta
    file mid-merge.

    Ids are deduped ACROSS batches here (earliest batch wins —
    consistent with base-wins-over-delta in `merge_ann_delta`): ids
    are unique by contract, but a violating stream that appends the
    same id in two non-replayed batches would otherwise put two rows
    into every downstream scan — each consuming a top-k rank slot in
    `query_with_delta` and both surviving `merge_ann_delta`'s
    base-anti-join into the merged codes. Enforcing the contract at
    the single choke point both paths read through keeps them
    duplicate-free for free (the media twin dedupes its appends the
    same way). The window runs over the delta only — micro-batch
    sized, never the base index. Within a batch the tie breaks on the
    codes' string form (then cid): orderBy(batch) alone would pick a
    nondeterministic winner for a same-id-same-batch violation, and
    two merges of the same delta must produce byte-identical indexes
    (review finding, r9)."""
    from pyspark.sql import Window

    with_cid = os.path.isdir(f"{base_index_path}/_centroids")
    if meta is None:
        meta = load_meta(delta_path, META_NAME)
    order = [F.col("batch").asc(), F.concat_ws(",", F.col("codes").cast("array<string>")).asc()]
    if with_cid:
        order.append(F.col("cid").asc())
    w = Window.partitionBy(id_col).orderBy(*order)
    return (
        read_indexed(spark, os.path.join(delta_path, "data"), _delta_schema(id_col, with_cid), meta)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("batch", "__rn")
    )


def query_with_delta(
    spark,
    base_index_path: str,
    delta_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """ADC top-k over base ∪ not-yet-merged delta — one probe
    assignment, one kernel, one window. ``n_subspaces``/``dim`` skip
    the codebook-geometry inference job when the caller already knows
    the frozen codebook's shape (same contract as
    ``pq.pq_query_index``)."""
    delta = read_delta_codes(spark, base_index_path, delta_path, id_col)
    return pq.pq_query_index(
        spark, base_index_path, queries, k=k, nprobe=nprobe,
        n_subspaces=n_subspaces, dim=dim,
        id_col=id_col, vec_col=vec_col, extra_codes=[delta],
    )


def merge_ann_delta(spark, base_index_path: str, delta_path: str, id_col: str = "vec_id") -> dict:
    """Fold the delta into the base index's codes (compaction /
    promotion) and empty the delta — keeping its replay CURSOR, so a
    late replay of an already-merged batch is still skipped.

    Id collisions (contract violation — ids are unique across the
    stream) resolve base-wins, so a merge can never silently replace
    an already-indexed vector. The base codes dir is replaced through
    `replay_meta.swap_in`, like the media-index compaction: a crash at
    any point leaves base queries working (`pq.pq_query_index` recovers
    the swap before it reads), and a re-run folds the same delta."""
    import shutil

    meta = load_meta(delta_path, META_NAME)
    with_cid = os.path.isdir(f"{base_index_path}/_centroids")
    # ONE meta snapshot decides the fold set, the cleanup set, and the
    # row accounting: re-reading the meta here could see a cursor a
    # concurrent appender advanced mid-merge, folding a batch the
    # cleanup loop then leaves behind (and whose crash-replay would
    # duplicate every vec_id across base ∪ delta).
    delta = read_delta_codes(spark, base_index_path, delta_path, id_col, meta=meta)
    n_delta = delta.count()
    if n_delta == 0:
        return {**meta, "merged_rows": 0}
    base_dir = f"{base_index_path}/codes"
    recover(base_dir)
    base = spark.read.schema(_delta_schema(id_col, with_cid)).parquet(base_dir)
    fresh = delta.join(base.select(id_col), id_col, "left_anti")
    writer = base.unionByName(fresh).write.mode("overwrite")
    if with_cid:
        writer = writer.partitionBy("cid")
    writer.parquet(stage(base_dir))
    swap_in(base_dir)
    # drop only the batch partitions that were folded (≤ cursor): a
    # torn-write batch dir past the cursor stays put for its scheduled
    # replay, which overwrites it byte-for-byte and re-cursors it
    data_dir = os.path.join(delta_path, "data")
    cursor = meta.get("last_batch_id", -1)
    for name in os.listdir(data_dir):
        if name.startswith("batch=") and int(name.split("=", 1)[1]) <= cursor:
            shutil.rmtree(os.path.join(data_dir, name))
    # Re-read the meta at store time: an appender may have advanced the
    # cursor/row count since the snapshot, and writing the stale
    # snapshot back would rewind last_batch_id (un-skipping a replay of
    # a batch whose rows this merge just folded). Subtract only what
    # was actually folded; an advanced cursor survives.
    fresh_meta = load_meta(delta_path, META_NAME)
    fresh_meta["indexed_rows"] = max(0, fresh_meta.get("indexed_rows", 0) - n_delta)
    store_meta(delta_path, META_NAME, fresh_meta)
    return {**fresh_meta, "merged_rows": n_delta}


def write_ann_index_stream(
    vector_stream: DataFrame,
    base_index_path: str,
    delta_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queryName: str = "ann_index",
):
    """Run the appender as a Structured Streaming query (foreachBatch):
    each micro-batch's codes land under ``<delta_path>/data/batch=N``."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ann_index_append_batch(batch_df, batch_id, base_index_path, delta_path, id_col, vec_col)

    return (
        vector_stream.writeStream.foreachBatch(_apply)
        .queryName(queryName)
        .option("checkpointLocation", checkpoint)
        .start()
    )
