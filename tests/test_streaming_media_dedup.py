"""Streaming media-index appender: chunked stream ≡ sequence of batch
incremental runs, replay idempotence, empty batches, intra-batch dup
survivor rule (streaming/media_dedup.py)."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from rustic_witcher_spark.streaming.media_dedup import (
    META_NAME,
    media_index_append_batch,
    write_media_index_stream,
)

SCHEMA = "doc_id long, media binary"


def _blob(k: int) -> bytes:
    return b"".join(hashlib.sha256(bytes([k, j])).digest() for j in range(7))


def _edited(k: int) -> bytes:
    """A one-byte edit of _blob(k) whose fingerprint sits at hamming
    1-2 (a one-byte edit bounds it at <=2 by the kernel property; tiny
    deltas can land at 0 — phash-identical, which would read as an
    EXACT fingerprint dup — so search deterministically for one that
    actually moves a comparison)."""
    from rustic_witcher_spark.operators.multimodal import perceptual_hash63

    base = bytearray(_blob(k))
    h0 = perceptual_hash63(bytes(base))
    for pos in range(len(base)):
        for val in (0, 255):
            b = bytearray(base)
            b[pos] = val
            d = bin(h0 ^ perceptual_hash63(bytes(b))).count("1")
            if 1 <= d <= 2:
                return bytes(b)
    raise AssertionError("no near variant found")


def _flags(spark, index_path):
    out = {}
    flags_root = os.path.join(index_path, "flags")
    for d in sorted(os.listdir(flags_root)):
        df = spark.read.parquet(os.path.join(flags_root, d))
        for r in df.collect():
            out[r.doc_id] = (r.exact_dup, r.near_dup)
    return out


def test_stream_flags_equal_batch_incremental_sequence(spark, tmp_path):
    """Three micro-batches through the stream == three manual
    media_index_append_batch calls == what the batch CLI's --against
    mode would report at each step."""
    src = tmp_path / "in"
    src.mkdir()
    batches = [
        [(1, _blob(0)), (2, _blob(1))],
        [(3, _blob(0)), (4, _edited(1)), (5, _blob(2))],  # exact dup of 1, near dup of 2, fresh
        [(6, _edited(2)), (7, _blob(0))],  # near dup of 5, exact dup of 1
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(src / f"b{i}"))

    # streaming run (one file dir per trigger, ordered by path)
    sidx = str(tmp_path / "sidx")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    q = write_media_index_stream(
        stream, "doc_id", "media", sidx, str(tmp_path / "ckpt"),
        queryName=f"mi_{abs(hash(str(tmp_path))) % 10**8}",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # manual per-batch sequence over a fresh index
    midx = str(tmp_path / "midx")
    for i, rows in enumerate(batches):
        assert media_index_append_batch(
            spark.createDataFrame(rows, SCHEMA), i, "doc_id", "media", midx
        )

    sf, mf = _flags(spark, sidx), _flags(spark, midx)
    assert sf == mf
    # NOTE: file-source trigger order is not guaranteed to match the
    # written order, so assert per-doc semantics only where they are
    # order-invariant: batch-1 content (ids 1, 2) can never be flagged
    # against anything, and within any order the exact-dup pair (1, 3, 7
    # share a blob) flags all but the first-indexed member.
    blob0_ids = [1, 3, 7]
    assert sum(1 for i in blob0_ids if not mf[i][0]) == 1  # exactly one "first"
    assert mf[5] == (False, False) or mf[5][1]  # 5 is fresh unless 6 preceded it
    meta = json.load(open(os.path.join(midx, META_NAME)))
    assert meta["last_batch_id"] == 2
    # index holds one row per distinct fingerprint: blobs 0,1,2 + edited(1) + edited(2)
    assert meta["indexed_rows"] == 5
    data = spark.read.parquet(os.path.join(midx, "data"))
    assert data.count() == 5
    assert data.select("phash").distinct().count() == 5


def test_manual_sequence_matches_oracle_flags(spark, tmp_path):
    """Deterministic order (manual calls): exact flag semantics."""
    midx = str(tmp_path / "midx")
    media_index_append_batch(
        spark.createDataFrame([(1, _blob(0)), (2, _blob(1))], SCHEMA), 0, "doc_id", "media", midx
    )
    media_index_append_batch(
        spark.createDataFrame([(3, _blob(0)), (4, _edited(1)), (5, _blob(2))], SCHEMA), 1, "doc_id", "media", midx
    )
    f = _flags(spark, midx)
    assert f[1] == (False, False) and f[2] == (False, False)  # first batch: empty index
    assert f[3] == (True, True)  # exact dup of 1
    assert f[4] == (False, True)  # near dup of 2
    assert f[5] == (False, False)  # fresh


def test_replayed_batch_id_is_skipped(spark, tmp_path):
    midx = str(tmp_path / "midx")
    df = spark.createDataFrame([(1, _blob(0))], SCHEMA)
    assert media_index_append_batch(df, 0, "doc_id", "media", midx) is True
    before = json.load(open(os.path.join(midx, META_NAME)))
    assert media_index_append_batch(df, 0, "doc_id", "media", midx) is False
    after = json.load(open(os.path.join(midx, META_NAME)))
    assert before == after
    assert spark.read.parquet(os.path.join(midx, "data")).count() == 1


def test_empty_batch_advances_cursor_without_touching_index(spark, tmp_path):
    midx = str(tmp_path / "midx")
    media_index_append_batch(spark.createDataFrame([(1, _blob(0))], SCHEMA), 0, "doc_id", "media", midx)
    empty = spark.createDataFrame([], SCHEMA)
    assert media_index_append_batch(empty, 1, "doc_id", "media", midx) is True
    meta = json.load(open(os.path.join(midx, META_NAME)))
    assert meta["last_batch_id"] == 1 and meta["indexed_rows"] == 1


def test_intra_batch_duplicate_indexed_once_lowest_id(spark, tmp_path):
    midx = str(tmp_path / "midx")
    df = spark.createDataFrame([(7, _blob(0)), (3, _blob(0)), (9, _blob(1))], SCHEMA)
    media_index_append_batch(df, 0, "doc_id", "media", midx)
    data = {(r.doc_id, r.phash) for r in spark.read.parquet(os.path.join(midx, "data")).collect()}
    ids = {i for i, _ in data}
    assert ids == {3, 9}  # lowest id survives per fingerprint


def test_torn_write_replay_reflags_against_pre_batch_index(spark, tmp_path):
    """Crash between the data write and the meta write (the torn
    window): the replayed batch must see the PRE-batch index — never
    its own fingerprints (which would re-flag the whole batch as exact
    dups of itself) — and must overwrite its own data partition rather
    than appending duplicates."""
    midx = str(tmp_path / "midx")
    media_index_append_batch(spark.createDataFrame([(1, _blob(0))], SCHEMA), 0, "doc_id", "media", midx)

    batch1 = spark.createDataFrame([(2, _blob(1))], SCHEMA)
    assert media_index_append_batch(batch1, 1, "doc_id", "media", midx)
    flags_before = _flags(spark, midx)

    # simulate the torn window: data/batch=1 written, meta rolled back
    meta_path = os.path.join(midx, META_NAME)
    meta = json.load(open(meta_path))
    meta["last_batch_id"] = 0
    meta["indexed_rows"] -= 1
    json.dump(meta, open(meta_path, "w"))

    # replay runs (cursor says batch 1 unseen) — must reproduce the
    # original flags, not (True, True) against its own fingerprints
    assert media_index_append_batch(batch1, 1, "doc_id", "media", midx)
    assert _flags(spark, midx) == flags_before
    assert _flags(spark, midx)[2] == (False, False)
    data = spark.read.parquet(os.path.join(midx, "data"))
    assert data.count() == 2  # overwritten partition, no duplicate rows
    meta = json.load(open(meta_path))
    assert meta["last_batch_id"] == 1 and meta["indexed_rows"] == 2


def test_null_media_rows_not_indexed_and_never_dup_each_other(spark, tmp_path):
    midx = str(tmp_path / "midx")
    media_index_append_batch(
        spark.createDataFrame([(1, _blob(0)), (2, None)], SCHEMA), 0, "doc_id", "media", midx
    )
    media_index_append_batch(
        spark.createDataFrame([(3, None)], SCHEMA), 1, "doc_id", "media", midx
    )
    f = _flags(spark, midx)
    assert f[2] == (False, False) and f[3] == (False, False)
    data = spark.read.parquet(os.path.join(midx, "data"))
    assert data.count() == 1  # only the real fingerprint indexed


def test_index_fingerprint_set_invariant_under_batch_cuts(spark, tmp_path):
    """The indexed FINGERPRINT SET is cut-invariant: however the corpus
    is chunked into micro-batches, the index ends up holding exactly
    the distinct non-null fingerprints of the corpus (which id carries
    each fingerprint may differ — first-arrival wins — but the set may
    not)."""
    from rustic_witcher_spark.operators.multimodal import perceptual_hash63

    rows = [(i, _blob(i % 5)) for i in range(8)] + [(8, None), (9, _edited(1))]
    want = {perceptual_hash63(m) for _, m in rows if m is not None}
    cuts = [[rows], [rows[:3], rows[3:7], rows[7:]], [[r] for r in rows]]
    for ci, chunks in enumerate(cuts):
        midx = str(tmp_path / f"midx{ci}")
        for bi, chunk in enumerate(chunks):
            media_index_append_batch(
                spark.createDataFrame(chunk, SCHEMA), bi, "doc_id", "media", midx
            )
        got = {r.phash for r in spark.read.parquet(os.path.join(midx, "data")).collect()}
        assert got == want, f"cut {ci}: {got} != {want}"


def test_compact_media_index_preserves_set_and_future_flags(spark, tmp_path):
    """Compaction merges the batch partitions into one, preserves the
    fingerprint set exactly, and the next batch flags identically
    against the compacted index."""
    from rustic_witcher_spark.streaming.media_dedup import compact_media_index

    midx = str(tmp_path / "midx")
    for bi, rows in enumerate([[(1, _blob(0))], [(2, _blob(1))], [(3, _blob(2))]]):
        media_index_append_batch(spark.createDataFrame(rows, SCHEMA), bi, "doc_id", "media", midx)
    before = {(r.doc_id, r.phash) for r in spark.read.parquet(os.path.join(midx, "data")).collect()}
    meta = compact_media_index(spark, midx)
    assert meta["last_batch_id"] == 2
    data = spark.read.parquet(os.path.join(midx, "data"))
    after = {(r.doc_id, r.phash) for r in data.collect()}
    assert after == before
    assert data.select("batch").distinct().count() == 1  # one partition now
    assert not os.path.exists(os.path.join(midx, "data__backup"))
    # next batch still flags against the compacted index
    media_index_append_batch(
        spark.createDataFrame([(4, _blob(0)), (5, _blob(9))], SCHEMA), 3, "doc_id", "media", midx
    )
    f = _flags(spark, midx)
    assert f[4] == (True, True) and f[5] == (False, False)


def test_compact_during_torn_window_leaves_uncursored_batch(spark, tmp_path):
    """Regression: compaction must NOT fold a batch dir written past the
    replay cursor (torn write) down to batch=<cursor> — the batch's
    scheduled replay would then see its own fingerprints in the
    pre-batch index and flag the entire batch as exact dups of itself.
    The torn dir is carried through the swap untouched and the replay
    reproduces the original flags byte-for-byte."""
    from rustic_witcher_spark.streaming.media_dedup import compact_media_index

    midx = str(tmp_path / "midx")
    media_index_append_batch(spark.createDataFrame([(1, _blob(0))], SCHEMA), 0, "doc_id", "media", midx)
    batch1 = spark.createDataFrame([(2, _blob(1)), (3, _blob(2))], SCHEMA)
    assert media_index_append_batch(batch1, 1, "doc_id", "media", midx)
    flags_before = _flags(spark, midx)

    # torn window: data/batch=1 written, meta rolled back to batch 0
    meta_path = os.path.join(midx, META_NAME)
    meta = json.load(open(meta_path))
    meta["last_batch_id"] = 0
    meta["indexed_rows"] -= 2
    json.dump(meta, open(meta_path, "w"))

    meta = compact_media_index(spark, midx)
    assert meta["last_batch_id"] == 0
    data = spark.read.parquet(os.path.join(midx, "data"))
    # compacted cursored rows at batch=0; torn batch=1 dir untouched
    assert {r.batch for r in data.select("batch").distinct().collect()} == {0, 1}
    assert os.path.isdir(os.path.join(midx, "data", "batch=1"))

    # the replay re-flags against the pre-batch index — with the old
    # fold-everything compaction it saw its own fingerprints at batch=0
    # and reported (True, True) for every row
    assert media_index_append_batch(batch1, 1, "doc_id", "media", midx)
    assert _flags(spark, midx) == flags_before
    assert _flags(spark, midx)[2] == (False, False)
    assert spark.read.parquet(os.path.join(midx, "data")).count() == 3


def test_compaction_crash_between_renames_leaves_a_working_index(spark, tmp_path, monkeypatch):
    """A crash between the two renames of the compaction's directory
    swap (old layout parked, new layout not yet promoted) leaves no
    ``data`` dir. The next batch must still flag against every indexed
    fingerprint, and a re-run of the compaction must succeed — with
    no hand rename in between."""
    from rustic_witcher_spark.streaming.media_dedup import compact_media_index

    midx = str(tmp_path / "midx")
    for bi, rows in enumerate([[(1, _blob(0))], [(2, _blob(1))]]):
        media_index_append_batch(spark.createDataFrame(rows, SCHEMA), bi, "doc_id", "media", midx)
    real_rename, renames = os.rename, []

    def crash_on_second_rename(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("crash between renames")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_on_second_rename)
        with pytest.raises(OSError, match="crash between renames"):
            compact_media_index(spark, midx)
    assert not os.path.exists(os.path.join(midx, "data"))

    # a re-upload of doc 1's blob is an exact dup; a new blob is not
    media_index_append_batch(
        spark.createDataFrame([(3, _blob(0)), (4, _blob(9))], SCHEMA), 2, "doc_id", "media", midx
    )
    f = _flags(spark, midx)
    assert f[3] == (True, True) and f[4] == (False, False)
    assert compact_media_index(spark, midx)["last_batch_id"] == 2
    data = spark.read.parquet(os.path.join(midx, "data"))
    assert {r.doc_id for r in data.collect()} == {1, 2, 4}
    assert data.select("batch").distinct().count() == 1


def test_compact_empty_index_is_noop(spark, tmp_path):
    from rustic_witcher_spark.streaming.media_dedup import compact_media_index

    midx = str(tmp_path / "empty_idx")
    meta = compact_media_index(spark, midx)
    assert meta["last_batch_id"] == -1
    assert not os.path.exists(os.path.join(midx, "data"))


def test_cli_media_index_compact(spark, tmp_path, capsys):
    from rustic_witcher_spark import cli

    midx = str(tmp_path / "midx")
    for bi in range(2):
        media_index_append_batch(
            spark.createDataFrame([(bi, _blob(bi))], SCHEMA), bi, "doc_id", "media", midx
        )
    assert cli.main(["media-index-compact", "--path", midx]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["indexed_rows"] == 2 and rep["last_batch_id"] == 1
    assert spark.read.parquet(os.path.join(midx, "data")).count() == 2


def test_compact_rescues_batch_landed_in_rename_window(spark, tmp_path, monkeypatch):
    """Regression for the compactor-vs-appender race: a batch dir the
    appender lands before the data→data__backup rename rides into the
    backup with the swap. It must be carried into the new layout
    before the backup is deleted — otherwise
    its fingerprints are lost forever while the appender's meta records
    the batch as indexed (so no replay ever rewrites them)."""
    from rustic_witcher_spark.streaming import media_dedup
    from rustic_witcher_spark.streaming.media_dedup import compact_media_index

    midx = str(tmp_path / "midx")
    for bi, rows in enumerate([[(1, _blob(0))], [(2, _blob(1))]]):
        media_index_append_batch(spark.createDataFrame(rows, SCHEMA), bi, "doc_id", "media", midx)
    # the "late" batch: exists on disk by rename time, invisible to the
    # carry loop's snapshot (simulated by hiding it from that listdir)
    media_index_append_batch(spark.createDataFrame([(3, _blob(2))], SCHEMA), 2, "doc_id", "media", midx)
    meta_path = os.path.join(midx, META_NAME)
    meta = json.load(open(meta_path))
    meta["last_batch_id"], meta["indexed_rows"] = 1, meta["indexed_rows"] - 1
    json.dump(meta, open(meta_path, "w"))

    data_dir = os.path.join(midx, "data")
    real_listdir = os.listdir

    def hiding_listdir(path):
        names = real_listdir(path)
        if os.path.abspath(path) == os.path.abspath(data_dir):
            names = [n for n in names if n != "batch=2"]
        return names

    monkeypatch.setattr(media_dedup.os, "listdir", hiding_listdir)
    compact_media_index(spark, midx)
    monkeypatch.undo()

    # appender's meta write lands (as it would have in the live race)
    meta = json.load(open(meta_path))
    meta["last_batch_id"], meta["indexed_rows"] = 2, meta["indexed_rows"] + 1
    json.dump(meta, open(meta_path, "w"))

    assert os.path.isdir(os.path.join(data_dir, "batch=2"))
    assert not os.path.exists(os.path.join(midx, "data__backup"))
    data = spark.read.parquet(data_dir)
    assert {r.doc_id for r in data.collect()} == {1, 2, 3}
    # a re-upload of doc 3's blob still flags as a dup — the rescued
    # fingerprints participate in future batches
    media_index_append_batch(spark.createDataFrame([(9, _blob(2))], SCHEMA), 3, "doc_id", "media", midx)
    assert _flags(spark, midx)[9] == (True, True)
