"""Output checks against the generator's truth.

They read the written files with pyarrow and compare with numpy, so they
depend on nothing in the engine. Each check returns a list of failure
messages; an empty list is a pass. They run after the timed window.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from gen import CorpusInput, SnapshotInput, TableTruth, pii_keys


def _read(path: Path, columns: list[str]):
    # Spark's _SUCCESS and .crc side files fall under pyarrow's default ignore prefixes
    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table(columns=columns)


def _check_copy(name: str, truth: TableTruth, source: Path, dest: Path) -> list[str]:
    errs = []
    for rel in truth.source_files:
        got = dest / Path(rel).name if dest.is_dir() else dest
        if not got.is_file() or got.read_bytes() != (source / rel).read_bytes():
            errs.append(f"{name}: {rel} is not a byte-identical copy")
    return errs


def _check_anonymized(name: str, truth: TableTruth, dest: Path) -> list[str]:
    pk = "event_id" if "event_id" in ds.dataset(str(dest), format="parquet").schema.names else "id"
    cols = [pk, *truth.pii, *(["status"] if truth.status is not None else [])]
    t = _read(dest, cols)
    errs = []
    if t.num_rows != truth.rows:
        errs.append(f"{name}: {t.num_rows} rows, expected {truth.rows}")
    ids = t.column(pk).to_numpy()
    order = np.argsort(ids, kind="stable")
    if not np.array_equal(ids[order], truth.ids):
        errs.append(f"{name}: primary-key set differs from the truth")
    elif truth.status is not None:
        got = np.array(t.column("status").to_pylist(), dtype=object)[order]
        if not np.array_equal(got, truth.status):
            errs.append(f"{name}: status column differs from the CDC-merged truth")
    for col, src_keys in truth.pii.items():
        # row-wise: the output value of a row must differ from every source
        # value recorded for that row's key (the phone fake keeps the shape
        # of the source, so a set check across rows would see false hits)
        leaked = pc.sum(pc.is_in(pii_keys(t.column(pk), t.column(col)), value_set=src_keys)).as_py() or 0
        if leaked:
            errs.append(f"{name}.{col}: {leaked} source values survive anonymization")
    return errs


def check_snapshot(inp: SnapshotInput, target: Path) -> dict[str, list[str]]:
    """Failure messages per table for one snapshot output directory."""
    out: dict[str, list[str]] = {}
    for name, truth in inp.tables.items():
        dest = target / f"{name}.parquet"
        if not dest.exists():
            out[name] = [f"{name}: no output"]
        elif truth.anonymized:
            out[name] = _check_anonymized(name, truth, dest)
        else:
            out[name] = _check_copy(name, truth, inp.source, dest)
    return out


def check_corpus(inp: CorpusInput, shards: Path, manifest: dict) -> list[str]:
    """Surviving doc ids equal the planted representatives, and the shard
    manifest agrees with the truth and with its copy on disk."""
    errs: list[str] = []
    got = np.sort(_read(shards, ["doc_id"]).column("doc_id").to_numpy())
    if not np.array_equal(got, inp.survivors):
        missing = len(np.setdiff1d(inp.survivors, got))
        extra = len(np.setdiff1d(got, inp.survivors))
        errs.append(f"corpus: {len(got)} survivors, expected {len(inp.survivors)} ({missing} missing, {extra} extra)")
    if manifest.get("total_rows") != len(inp.survivors):
        errs.append(f"corpus: manifest total_rows {manifest.get('total_rows')} != {len(inp.survivors)}")
    if json.loads((shards / "_shard_manifest.json").read_text()) != manifest:
        errs.append("corpus: manifest on disk differs from the returned manifest")
    return errs
