"""Shared replay-cursor metadata protocol for the streaming appenders
(`media_dedup`, `ann_stream`, `novelty`, and `shard_stream`, whose
manifest carries extra per-shard state in the same file) — and the one
atomic JSON writer of the engine's other small metadata files (the
batch shard manifest, the PQ index marker).

One JSON file per index/delta dir records ``last_batch_id`` (the
replay cursor) plus appender-specific counters. The write is
tmp-then-rename so a crash mid-write can never leave a torn cursor —
the reader sees either the previous cursor or the new one, and the
foreachBatch replay contract (skip batch_id ≤ cursor; batch dirs are
overwrite-partitioned) makes either outcome safe. Keeping this in ONE
module means a future hardening (fsync, extra fields, versioning)
cannot silently miss a copy.
"""

from __future__ import annotations

import json
import os


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
