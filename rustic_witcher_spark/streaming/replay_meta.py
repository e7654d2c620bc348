"""The one crash-safe on-disk protocol of the engine's streaming sinks
(`cdc_stream`, `scd2_stream`, `media_dedup`, `ann_stream`, `novelty`,
`shard_stream`) and the batch shard sink — and the one atomic JSON
writer of its small metadata files (cursors, the shard manifest, the PQ
index marker).

The protocol has four parts, each defined once here:

- **The rule.** An appender's index is the ``batch=N`` dirs under its
  data dir with N AT OR BELOW the ``last_batch_id`` its meta file
  records. A dir above the cursor is a torn write (data landed, crash
  before the meta update) that the foreachBatch replay contract (skip
  batch_id ≤ cursor; batch dirs are overwrite-partitioned) will rewrite
  — so no read, fold or compaction may see it, and no swap may lose it.
- **The cursor advance** (`advance`): the meta is written tmp-then-
  rename, so a reader sees the previous cursor or the new one, never a
  torn file; either is safe under the replay contract.
- **The cursored read** (`read_indexed`): the rule as a DataFrame.
- **The directory swap** (`stage` → write → `swap_in`, with `recover`
  on the engine's read paths): the replaced dir is parked as
  ``<final>__backup`` before the staged ``<final>__next`` is promoted,
  so at every instant a complete dir exists under one of the two names,
  and `recover` rolls a crash in between forward or back without a hand
  rename.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SWAP_META = "_swap_meta.json"  # the carry cursor, parked with the backup


def load_meta(path: str, name: str, defaults: dict | None = None) -> dict:
    """The meta dict at ``<path>/<name>``, or the fresh-cursor default."""
    try:
        with open(os.path.join(path, name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return dict(defaults if defaults is not None else {"last_batch_id": -1, "indexed_rows": 0})


def store_meta(path: str, name: str, meta: dict) -> None:
    """Atomically (tmp + rename) persist the meta dict. Creates ``path``:
    an empty first micro-batch writes no data, so the meta may be the
    directory's first file."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, name + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    os.replace(tmp, os.path.join(path, name))


def advance(path: str, name: str, meta: dict, batch_id: int, appended: int) -> None:
    """Move the replay cursor to ``batch_id`` and count its ``appended``
    index rows — the last step of every appender's micro-batch."""
    meta["last_batch_id"] = batch_id
    meta["indexed_rows"] = meta.get("indexed_rows", 0) + appended
    store_meta(path, name, meta)


def read_indexed(spark, data_dir: str, ddl: str, meta: dict) -> DataFrame:
    """The ``batch=N`` rows of ``data_dir`` at or below the cursor of
    ``meta``, with their ``batch`` column (explicit schema ``ddl`` — a
    0-row parquet dir must not raise UNABLE_TO_INFER_SCHEMA); an empty
    frame when nothing is indexed yet."""
    recover(data_dir)
    schema = f"{ddl}, batch long"
    if meta.get("indexed_rows", 0) == 0 or not os.path.isdir(data_dir):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(data_dir).filter(F.col("batch") <= meta.get("last_batch_id", -1))


def _sibling(final: str, suffix: str) -> str:
    return os.path.normpath(final) + suffix


def stage(final: str) -> str:
    """The emptied ``<final>__next`` dir a replacement of ``final`` is
    written into before `swap_in` promotes it."""
    staged = _sibling(final, "__next")
    shutil.rmtree(staged, ignore_errors=True)
    return staged


def swap_in(final: str, cursor: int | None = None) -> None:
    """Promote the staged dir to ``final``: park the current ``final``
    as the backup, rename the staged dir into place, drop the backup.

    With a ``cursor``, the backup's ``batch=N`` dirs above it move into
    the new dir first: a compaction folds only cursored batches, so a
    torn-write dir, or a batch an appender landed while the swap ran,
    survives it. The cursor is parked with the backup, so a `recover`
    after a crash mid-carry carries by the same cursor — an appender
    may have advanced the meta's cursor since."""
    recover(final)
    if os.path.exists(final):
        if cursor is not None:
            store_meta(final, _SWAP_META, {"cursor": cursor})
        os.rename(final, _sibling(final, "__backup"))
    os.rename(_sibling(final, "__next"), final)
    recover(final)


def recover(final: str) -> None:
    """Finish a swap a crash interrupted. With no live ``final`` the
    crash hit between the two renames: the backup goes back. With both,
    the staged dir was already promoted: carry the backup's uncursored
    ``batch=N`` dirs (see `swap_in`), then drop it."""
    backup = _sibling(final, "__backup")
    if not os.path.exists(backup):
        return
    if not os.path.exists(final):
        os.rename(backup, final)
        return
    cursor = load_meta(backup, _SWAP_META, {}).get("cursor")
    if cursor is not None:
        for name in os.listdir(backup):
            if name.startswith("batch=") and int(name.split("=", 1)[1]) > cursor:
                dest = os.path.join(final, name)
                if not os.path.exists(dest):
                    os.rename(os.path.join(backup, name), dest)
    shutil.rmtree(backup)
