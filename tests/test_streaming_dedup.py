"""Streaming dedup (streaming/dedup.py): exact dedup across
micro-batches and the stateless fingerprint projection on a stream."""

from __future__ import annotations

import os

import pytest

from rustic_witcher_spark.streaming import dedup as sdedup

SCHEMA = "doc_id long, text string"


def _start(spark, df_stream, name, ckpt):
    return (
        df_stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    src = str(tmp_path / "docs")
    batch1 = spark.createDataFrame(
        [(0, "Same  Doc"), (1, "other doc"), (2, "same doc")], SCHEMA  # 2 dups of 0 (normalized)
    )
    batch1.write.parquet(src)
    stream = spark.readStream.schema(batch1.schema).parquet(src)
    q = _start(spark, sdedup.streaming_exact_dedup(stream), "sdedup", str(tmp_path / "ck"))
    q.processAllAvailable()
    # second batch: a new dup of an ALREADY-SEEN doc plus a new doc
    spark.createDataFrame([(3, "same doc"), (4, "brand new")], SCHEMA).write.mode("append").parquet(src)
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM sdedup").collect()
    q.stop()
    texts = sorted(r["text"].lower().split()[0] for r in rows)
    ids = {r["doc_id"] for r in rows}
    assert len(rows) == 3  # one per distinct content
    assert 4 in ids and (0 in ids or 2 in ids) and 1 in ids
    assert 3 not in ids  # cross-batch duplicate suppressed by state


def test_streaming_simhash_matches_batch(spark, tmp_path):
    from rustic_witcher_spark.operators.dedup import simhash64
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(0, "hello world"), (1, "different text")], SCHEMA)
    src = str(tmp_path / "docs2")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = _start(spark, sdedup.streaming_simhash(stream), "ssim", str(tmp_path / "ck2"))
    q.processAllAvailable()
    got = {r["doc_id"]: r["simhash"] for r in spark.sql("SELECT * FROM ssim").collect()}
    q.stop()
    want = {r["doc_id"]: r["sh"] for r in df.select("doc_id", simhash64(F.col("text")).alias("sh")).collect()}
    assert got == want


def test_streaming_dedup_with_watermark_keys_on_digest(spark, tmp_path):
    """With a watermark, dedup still keys on the content digest alone:
    same text at different event times inside the horizon is suppressed."""
    from datetime import datetime

    schema = "doc_id long, ts timestamp, text string"
    src = str(tmp_path / "wdocs")
    df = spark.createDataFrame(
        [(0, datetime(2024, 1, 1, 10, 0), "same doc"),
         (1, datetime(2024, 1, 1, 10, 5), "same doc"),   # dup, later ts, inside watermark
         (2, datetime(2024, 1, 1, 10, 10), "other doc")],
        schema,
    )
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = _start(
        spark,
        sdedup.streaming_exact_dedup(stream, ts_col="ts", watermark="1 hour"),
        "wdedup", str(tmp_path / "wck"),
    )
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM wdedup").collect()
    q.stop()
    assert len(rows) == 2  # one per distinct content, not one per (content, ts)
    assert {r["text"] for r in rows} == {"same doc", "other doc"}


def test_streaming_cdc_apply_across_batches(spark, tmp_path):
    """Continuous CDC apply: two micro-batches of DMS rows yield the
    same snapshot as one batch apply_cdc over all of them."""
    import pandas as pd

    from rustic_witcher_spark.streaming.cdc_stream import streaming_cdc_apply

    schema = "k long, name string, Op string, _dms_ingestion_timestamp long"
    src = str(tmp_path / "cdc_in")
    snap = str(tmp_path / "snapshot")
    b1 = spark.createDataFrame(
        [(1, "a", "I", 1), (2, "b", "I", 1), (3, "c", "I", 1)], schema
    )
    b1.write.parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = streaming_cdc_apply(spark, stream, snap, ["k"], str(tmp_path / "cdc_ck"))
    q.processAllAvailable()
    # batch 2: update k=2, delete k=3, insert k=4
    spark.createDataFrame(
        [(2, "b2", "U", 2), (3, "c", "D", 2), (4, "d", "I", 2)], schema
    ).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    out = {r["k"]: r["name"] for r in spark.read.parquet(snap).collect()}
    assert out == {1: "a", 2: "b2", 4: "d"}


def test_snapshot_swap_is_crash_safe(spark, tmp_path):
    """A crash at ANY point inside the snapshot swap must not lose the
    pre-crash snapshot: the old rmtree(final)->rename(tmp) sequence had
    a window with no snapshot at all, after which the merger silently
    treated the missing path as an empty base."""
    from rustic_witcher_spark.streaming.replay_meta import recover, swap_in

    final = tmp_path / "snap"
    tmp = tmp_path / "snap__next"
    backup = tmp_path / "snap__backup"

    def mkdir_with(path, tag):
        path.mkdir()
        (path / "data.txt").write_text(tag)

    # normal swap: tmp promoted, no backup left behind
    mkdir_with(final, "old")
    mkdir_with(tmp, "new")
    swap_in(str(final))
    assert (final / "data.txt").read_text() == "new"
    assert not backup.exists() and not tmp.exists()

    # crash after final->backup rename but before tmp promotion:
    # recovery restores the parked snapshot
    final.rename(backup)
    assert not final.exists()
    recover(str(final))
    assert (final / "data.txt").read_text() == "new"

    # crash after tmp promotion but before backup cleanup: the live
    # snapshot wins and the stale backup is dropped
    mkdir_with(backup, "stale")
    recover(str(final))
    assert (final / "data.txt").read_text() == "new"
    assert not backup.exists()


def test_swap_carry_survives_a_crash_mid_carry(tmp_path, monkeypatch):
    """A compaction swap carries the parked layout's batch dirs above
    ITS cursor into the promoted one. A crash mid-carry must not lose
    the rest when recovery runs after an appender has already advanced
    the meta cursor: the carry cursor is parked with the backup."""
    from rustic_witcher_spark.streaming.replay_meta import recover, stage, swap_in

    data = tmp_path / "data"
    for n in (0, 1, 2, 3):
        (data / f"batch={n}").mkdir(parents=True)
    os.makedirs(os.path.join(stage(str(data)), "batch=1"))  # batches 0-1, compacted
    real_rename, renames = os.rename, []

    def crash_on_third_rename(src, dst):
        renames.append(src)
        if len(renames) == 3:  # park, promote, then the first carry
            raise OSError("crash mid-carry")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_on_third_rename)
        with pytest.raises(OSError, match="crash mid-carry"):
            swap_in(str(data), 1)
    recover(str(data))
    assert sorted(os.listdir(data)) == ["batch=1", "batch=2", "batch=3"]
    assert not (tmp_path / "data__backup").exists()


def test_snapshot_merger_recovers_backup_on_startup(spark, tmp_path):
    """parquet_snapshot_merger must roll a parked backup forward before
    its first merge, so pre-crash rows survive into the next batch."""
    from rustic_witcher_spark.streaming.cdc_stream import parquet_snapshot_merger

    snap = tmp_path / "snapshot"
    schema = "k long, name string, Op string, _dms_ingestion_timestamp long"
    # pre-crash snapshot, parked as backup (crash happened mid-swap)
    spark.createDataFrame([(1, "a")], "k long, name string").write.parquet(
        str(tmp_path / "snapshot__backup")
    )
    merge = parquet_snapshot_merger(spark, str(snap), ["k"])
    merge(spark.createDataFrame([(2, "b", "I", 1)], schema), 0)
    out = {r["k"]: r["name"] for r in spark.read.parquet(str(snap)).collect()}
    assert out == {1: "a", 2: "b"}
