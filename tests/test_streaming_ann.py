"""Streaming PQ-index appender (streaming/ann_stream.py): chunked
stream ≡ batch re-encode under the same frozen codebook, replay
idempotence, delta-merge compaction, empty/edge cases."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from rustic_witcher_spark.operators import pq
from rustic_witcher_spark.streaming.ann_stream import (
    META_NAME,
    ann_index_append_batch,
    merge_ann_delta,
    query_with_delta,
    read_delta_codes,
    write_ann_index_stream,
)

SCHEMA = "vec_id long, embedding array<double>"


def _vectors(n, seed=11, start=0):
    rnd = random.Random(seed)
    centers = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(6)]
    return [
        (start + i, [x + rnd.gauss(0, 0.1) for x in centers[(start + i) % 6]])
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("annbase") / "idx")
    base = spark.createDataFrame(_vectors(60), SCHEMA)
    pq.pq_write_index(base, path, n_subspaces=8, n_codes=8, dim=64, coarse_clusters=4)
    return path


def test_stream_equals_batch_reencode_under_frozen_codebook(spark, base_index, tmp_path):
    """Three streamed chunks + base == one batch encode of ALL vectors
    against the SAME frozen codebook: query results are row-identical
    at full probe (and the delta's coarse assignments come from the
    same frozen centroids, so pruned probes agree too)."""
    extra = _vectors(30, start=100)
    chunks = [extra[:10], extra[10:11], extra[11:]]
    delta = str(tmp_path / "delta")
    for bi, chunk in enumerate(chunks):
        assert ann_index_append_batch(
            spark.createDataFrame(chunk, SCHEMA), bi, base_index, delta
        )
    queries = spark.createDataFrame(_vectors(5, seed=99, start=500), SCHEMA)

    got = query_with_delta(spark, base_index, delta, queries, k=5, nprobe=4)

    # batch oracle: encode base ∪ extra against the frozen codebook
    cb = spark.read.schema("m int, cid int, cvec array<double>").parquet(f"{base_index}/_codebooks")
    all_vecs = spark.createDataFrame(_vectors(60) + extra, SCHEMA)
    codes = pq.pq_encode(all_vecs, cb, 8, 64)
    want = pq.pq_adc_topk_block(codes, cb, queries, k=5, n_subspaces=8, dim=64)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # pruned probes also agree (delta rows carry frozen-centroid cids)
    pruned = query_with_delta(spark, base_index, delta, queries, k=5, nprobe=2)
    rows = pruned.collect()
    assert rows and all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_geometry_passthrough_identical(spark, base_index, tmp_path):
    """Passing the frozen codebook's geometry (r13: skips the
    per-call codebook aggregate job) changes nothing about the
    appended delta or the query result."""
    extra = _vectors(12, start=300)
    batch = spark.createDataFrame(extra, SCHEMA)
    queries = spark.createDataFrame(_vectors(4, seed=7, start=600), SCHEMA)
    geo = pq.codebook_geometry(spark, base_index)

    d_plain = str(tmp_path / "d_plain")
    d_geo = str(tmp_path / "d_geo")
    assert ann_index_append_batch(batch, 0, base_index, d_plain)
    assert ann_index_append_batch(batch, 0, base_index, d_geo, geometry=geo)

    a = query_with_delta(spark, base_index, d_plain, queries, k=5, nprobe=4)
    b = query_with_delta(
        spark, base_index, d_geo, queries, k=5, nprobe=4, n_subspaces=geo[1], dim=geo[2]
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_streaming_query_api_runs_the_same_loop(spark, base_index, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    extra = _vectors(12, start=200)
    for i, chunk in enumerate([extra[:6], extra[6:]]):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.parquet(str(src / f"b{i}"))
    delta = str(tmp_path / "delta")
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src / "b*"))
    )
    q = write_ann_index_stream(
        stream, base_index, delta, str(tmp_path / "ckpt"),
        queryName=f"ann_{abs(hash(str(tmp_path))) % 10**8}",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    meta = json.load(open(os.path.join(delta, META_NAME)))
    assert meta["indexed_rows"] == 12
    got = {r.vec_id for r in read_delta_codes(spark, base_index, delta).collect()}
    assert got == {r[0] for r in extra}


def test_replayed_batch_skipped_and_torn_write_rewrites(spark, base_index, tmp_path):
    delta = str(tmp_path / "delta")
    df = spark.createDataFrame(_vectors(5, start=300), SCHEMA)
    assert ann_index_append_batch(df, 0, base_index, delta) is True
    assert ann_index_append_batch(df, 0, base_index, delta) is False
    meta_path = os.path.join(delta, META_NAME)
    before = json.load(open(meta_path))
    # torn window: data written, meta rolled back -> replay rewrites
    meta = dict(before, last_batch_id=-1, indexed_rows=0)
    json.dump(meta, open(meta_path, "w"))
    assert ann_index_append_batch(df, 0, base_index, delta) is True
    assert json.load(open(meta_path)) == before
    assert read_delta_codes(spark, base_index, delta).count() == 5


def test_empty_batch_advances_cursor(spark, base_index, tmp_path):
    delta = str(tmp_path / "delta")
    empty = spark.createDataFrame([], SCHEMA)
    assert ann_index_append_batch(empty, 0, base_index, delta) is True
    meta = json.load(open(os.path.join(delta, META_NAME)))
    assert meta["last_batch_id"] == 0 and meta["indexed_rows"] == 0
    assert read_delta_codes(spark, base_index, delta).count() == 0


def test_merge_folds_delta_into_base_and_keeps_cursor(spark, base_index, tmp_path):
    """After merge: base answers queries alone exactly as base+delta
    did; the delta is empty; the replay cursor survives so an
    already-merged batch replay is still skipped; id collisions
    resolve base-wins."""
    import shutil

    # work on a private copy of the base index (merge mutates it)
    idx = str(tmp_path / "idx")
    shutil.copytree(base_index, idx)
    delta = str(tmp_path / "delta")
    extra = _vectors(20, start=400)
    ann_index_append_batch(spark.createDataFrame(extra[:10], SCHEMA), 0, idx, delta)
    ann_index_append_batch(spark.createDataFrame(extra[10:], SCHEMA), 1, idx, delta)
    queries = spark.createDataFrame(_vectors(4, seed=77, start=600), SCHEMA)
    before = sorted(map(tuple, query_with_delta(spark, idx, delta, queries, k=5, nprobe=4).collect()))

    base_ids = {
        r.vec_id
        for r in spark.read.schema("vec_id long, codes array<int>, cid int").parquet(f"{idx}/codes").collect()
    }
    rep = merge_ann_delta(spark, idx, delta)
    assert rep["merged_rows"] == 20
    after_codes = {
        r.vec_id: tuple(r.codes)
        for r in spark.read.schema("vec_id long, codes array<int>, cid int").parquet(f"{idx}/codes").collect()
    }
    assert set(after_codes) == base_ids | {r[0] for r in extra}
    # base alone now answers exactly like base+delta did
    after = sorted(map(tuple, pq.pq_query_index(spark, idx, queries, k=5, nprobe=4).collect()))
    assert after == before
    # delta dir emptied, cursor kept
    assert read_delta_codes(spark, idx, delta).count() == 0
    meta = json.load(open(os.path.join(delta, META_NAME)))
    assert meta["last_batch_id"] == 1 and meta["indexed_rows"] == 0
    assert ann_index_append_batch(spark.createDataFrame(extra[:3], SCHEMA), 1, idx, delta) is False
    assert not os.path.exists(f"{idx}/codes__backup")


def test_merge_crash_between_renames_keeps_base_queryable(spark, base_index, tmp_path, monkeypatch):
    """A crash between the two renames of the merge's codes swap (old
    codes parked, merged codes not yet promoted) leaves no ``codes``
    dir. Queries must still answer exactly as before the merge, and a
    re-run must fold every delta row — with no hand rename."""
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(base_index, idx)
    delta = str(tmp_path / "delta")
    extra = _vectors(12, start=900)
    ann_index_append_batch(spark.createDataFrame(extra, SCHEMA), 0, idx, delta)
    queries = spark.createDataFrame(_vectors(4, seed=55, start=950), SCHEMA)
    before = sorted(map(tuple, query_with_delta(spark, idx, delta, queries, k=5, nprobe=4).collect()))
    real_rename, renames = os.rename, []

    def crash_on_second_rename(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("crash between renames")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_on_second_rename)
        with pytest.raises(OSError, match="crash between renames"):
            merge_ann_delta(spark, idx, delta)
    assert not os.path.exists(f"{idx}/codes")

    got = sorted(map(tuple, query_with_delta(spark, idx, delta, queries, k=5, nprobe=4).collect()))
    assert got == before
    assert merge_ann_delta(spark, idx, delta)["merged_rows"] == 12
    codes = spark.read.schema("vec_id long, codes array<int>, cid int").parquet(f"{idx}/codes")
    assert {r.vec_id for r in codes.collect()} == set(range(60)) | {r[0] for r in extra}
    assert sorted(map(tuple, pq.pq_query_index(spark, idx, queries, k=5, nprobe=4).collect())) == before


def test_merge_during_torn_window_excludes_uncursored_batch(spark, base_index, tmp_path):
    """Regression: merge must fold only batches AT OR BELOW the replay
    cursor. A torn-write batch (data written, crash before the meta
    update) folded into the base would be re-appended by its scheduled
    replay, duplicating every one of its vec_ids across base ∪ delta
    and pushing true top-k neighbors out of the rank window."""
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(base_index, idx)
    delta = str(tmp_path / "delta")
    b0 = _vectors(8, start=700)
    b1 = _vectors(6, start=800)
    ann_index_append_batch(spark.createDataFrame(b0, SCHEMA), 0, idx, delta)
    df1 = spark.createDataFrame(b1, SCHEMA)
    ann_index_append_batch(df1, 1, idx, delta)

    # torn window: data/batch=1 written, meta rolled back to batch 0
    meta_path = os.path.join(delta, META_NAME)
    meta = json.load(open(meta_path))
    meta["last_batch_id"] = 0
    meta["indexed_rows"] -= 6
    json.dump(meta, open(meta_path, "w"))

    rep = merge_ann_delta(spark, idx, delta)
    assert rep["merged_rows"] == 8  # batch 0 only — never the torn batch
    base_ids = {
        r.vec_id
        for r in spark.read.schema("vec_id long, codes array<int>, cid int").parquet(f"{idx}/codes").collect()
    }
    assert {i for i, _ in b0} <= base_ids and not ({i for i, _ in b1} & base_ids)
    # the torn batch dir survives for its replay
    assert os.path.isdir(os.path.join(delta, "data", "batch=1"))

    # replay re-appends batch 1; afterwards no vec_id is duplicated
    # across base ∪ delta, so every query sees each neighbor once
    assert ann_index_append_batch(df1, 1, idx, delta) is True
    assert {r.vec_id for r in read_delta_codes(spark, idx, delta).collect()} == {i for i, _ in b1}
    queries = spark.createDataFrame(_vectors(4, seed=55, start=900), SCHEMA)
    res = query_with_delta(spark, idx, delta, queries, k=5, nprobe=4)
    pairs = [(r.query_id, r.neighbor_id) for r in res.collect()]
    assert len(pairs) == len(set(pairs))


def test_merge_id_collision_resolves_base_wins(spark, base_index, tmp_path):
    """vec_id already in base arriving via the delta (contract
    violation): the merge must keep the BASE row — never silently
    replace an indexed vector."""
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(base_index, idx)
    delta = str(tmp_path / "delta")
    ann_index_append_batch(
        spark.createDataFrame([(0, [9.0] * 64), (800, [1.0] * 64)], SCHEMA), 0, idx, delta
    )
    codes_schema = "vec_id long, codes array<int>, cid int"
    base_code0 = {
        r.vec_id: tuple(r.codes)
        for r in spark.read.schema(codes_schema).parquet(f"{idx}/codes").collect()
    }[0]
    rep = merge_ann_delta(spark, idx, delta)
    assert rep["merged_rows"] == 2
    after = {
        r.vec_id: tuple(r.codes)
        for r in spark.read.schema(codes_schema).parquet(f"{idx}/codes").collect()
    }
    assert after[0] == base_code0  # base wins
    assert 800 in after
    # no duplicate rows for the collided id
    n0 = (
        spark.read.schema(codes_schema).parquet(f"{idx}/codes").filter(F.col("vec_id") == 0).count()
    )
    assert n0 == 1


def test_append_to_empty_base_raises(spark, tmp_path):
    path = str(tmp_path / "idx")
    empty = spark.createDataFrame([], SCHEMA)
    pq.pq_write_index(empty, path, n_subspaces=8, n_codes=8, dim=64, coarse_clusters=4)
    with pytest.raises(ValueError, match="empty codebook"):
        ann_index_append_batch(
            spark.createDataFrame(_vectors(3), SCHEMA), 0, path, str(tmp_path / "delta")
        )


def test_cli_delta_query_and_merge(spark, base_index, tmp_path, capsys):
    """ann-query --delta unions the streamed codes; ann-delta-merge
    folds them in and the plain query then matches the delta query."""
    import shutil

    from rustic_witcher_spark import cli

    idx = str(tmp_path / "idx")
    shutil.copytree(base_index, idx)
    delta = str(tmp_path / "delta")
    ann_index_append_batch(
        spark.createDataFrame(_vectors(10, start=900), SCHEMA), 0, idx, delta
    )
    qsrc = str(tmp_path / "q.parquet")
    spark.createDataFrame(_vectors(3, seed=55, start=950), SCHEMA).write.parquet(qsrc)

    out1 = str(tmp_path / "hits1")
    assert cli.main([
        "ann-query", "--index", idx, "--queries", qsrc, "--target", out1,
        "--k", "3", "--nprobe", "4", "--delta", delta,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["queries"] == 3

    assert cli.main(["ann-delta-merge", "--index", idx, "--delta", delta]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["merged_rows"] == 10 and rep["indexed_rows"] == 0

    out2 = str(tmp_path / "hits2")
    assert cli.main([
        "ann-query", "--index", idx, "--queries", qsrc, "--target", out2,
        "--k", "3", "--nprobe", "4",
    ]) == 0
    capsys.readouterr()
    a = sorted(map(tuple, spark.read.parquet(out1).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_null_vectors_skipped_in_delta(spark, base_index, tmp_path):
    delta = str(tmp_path / "delta")
    rows = _vectors(3, start=700) + [(999, None)]
    ann_index_append_batch(spark.createDataFrame(rows, SCHEMA), 0, base_index, delta)
    got = {r.vec_id for r in read_delta_codes(spark, base_index, delta).collect()}
    assert got == {700, 701, 702}


def test_read_delta_codes_pins_to_meta_snapshot(spark, base_index, tmp_path):
    """A caller-supplied meta snapshot decides the cursor — a batch an
    appender lands AFTER the snapshot is invisible to that read even
    though the meta file on disk already advanced past it."""
    delta = str(tmp_path / "delta")
    ann_index_append_batch(spark.createDataFrame(_vectors(4, start=300), SCHEMA), 0, base_index, delta)
    snapshot = json.load(open(os.path.join(delta, META_NAME)))
    ann_index_append_batch(spark.createDataFrame(_vectors(3, start=400), SCHEMA), 1, base_index, delta)

    pinned = {r.vec_id for r in read_delta_codes(spark, base_index, delta, meta=snapshot).collect()}
    live = {r.vec_id for r in read_delta_codes(spark, base_index, delta).collect()}
    assert pinned == {300, 301, 302, 303}
    assert live == pinned | {400, 401, 402}


def test_merge_concurrent_append_not_folded_and_cursor_not_rewound(spark, base_index, tmp_path, monkeypatch):
    """Regression for the merge-vs-appender race: merge snapshots the
    meta (cursor 0), an appender lands batch 1 (meta advances) before
    merge finishes. ONE snapshot must decide fold + cleanup + row
    accounting: batch 1 stays in the delta for querying, its dir is not
    deleted, and the stored meta keeps the ADVANCED cursor (a stale
    rewrite would un-skip batch 1's replay and duplicate every one of
    its vec_ids across base ∪ delta)."""
    import shutil as _shutil

    from rustic_witcher_spark.streaming import ann_stream

    idx = str(tmp_path / "idx")
    _shutil.copytree(base_index, idx)
    delta = str(tmp_path / "delta")
    ann_index_append_batch(spark.createDataFrame(_vectors(4, start=300), SCHEMA), 0, idx, delta)
    ann_index_append_batch(spark.createDataFrame(_vectors(3, start=400), SCHEMA), 1, idx, delta)

    # merge's FIRST meta load sees the pre-append snapshot (cursor 0);
    # every later load (store-time re-read) sees the real file (cursor 1)
    real_load, calls = ann_stream.load_meta, []

    def stale_first(*args):
        m = real_load(*args)
        if not calls:
            calls.append(1)
            m = {**m, "last_batch_id": 0, "indexed_rows": 4}
        return m

    monkeypatch.setattr(ann_stream, "load_meta", stale_first)
    rep = merge_ann_delta(spark, idx, delta)
    monkeypatch.undo()

    assert rep["merged_rows"] == 4  # only the snapshot-cursored batch folded
    base_ids = {r.vec_id for r in spark.read.schema("vec_id long, codes array<int>, cid int")
                .parquet(f"{idx}/codes").select("vec_id").collect() if r.vec_id >= 300}
    assert base_ids == {300, 301, 302, 303}
    # batch 1 survives in the delta: dir present, cursor NOT rewound,
    # rows still counted, and still visible to the delta read
    assert os.path.isdir(os.path.join(delta, "data", "batch=1"))
    meta = json.load(open(os.path.join(delta, META_NAME)))
    assert meta["last_batch_id"] == 1 and meta["indexed_rows"] == 3
    left = {r.vec_id for r in read_delta_codes(spark, idx, delta).collect()}
    assert left == {400, 401, 402}
    # a crash-replay of batch 1 is still skipped (cursor intact)
    assert not ann_index_append_batch(
        spark.createDataFrame(_vectors(3, start=400), SCHEMA), 1, idx, delta
    )
    # no vec_id appears in both base and delta
    assert not (base_ids & left)


def test_duplicate_id_across_batches_deduped_everywhere(spark, base_index, tmp_path):
    """Contract-violating stream: the same vec_id appended in TWO
    non-replayed batches. read_delta_codes (the single choke point
    both the query and merge paths scan through) keeps only the
    earliest batch's row, so (a) query_with_delta emits each neighbor
    at most once per query — a duplicate would burn a second top-k
    rank slot — and (b) merge_ann_delta folds the id exactly once."""
    delta = str(tmp_path / "delta")
    v = _vectors(1, start=400)
    ann_index_append_batch(spark.createDataFrame(v, SCHEMA), 0, base_index, delta)
    # same id again, different vector, later batch — earliest must win
    v2 = [(400, [x + 1.0 for x in v[0][1]])]
    ann_index_append_batch(spark.createDataFrame(v2, SCHEMA), 1, base_index, delta)

    rows = read_delta_codes(spark, base_index, delta).collect()
    assert [r["vec_id"] for r in rows] == [400]
    cb = spark.read.schema("m int, cid int, cvec array<double>").parquet(
        f"{base_index}/_codebooks"
    )
    want = pq.pq_encode(spark.createDataFrame(v, SCHEMA), cb, 8, 64).collect()[0]["codes"]
    assert list(rows[0]["codes"]) == list(want), "dedup kept the wrong (later) row"

    queries = spark.createDataFrame(_vectors(3, seed=5, start=900), SCHEMA)
    got = query_with_delta(spark, base_index, delta, queries, k=10, nprobe=4).collect()
    per_q = {}
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        per_q[key] = per_q.get(key, 0) + 1
    assert all(n == 1 for n in per_q.values()), "duplicate neighbor rows in top-k"

    merge_ann_delta(spark, base_index, delta)
    base = spark.read.schema("vec_id long, codes array<int>, cid int").parquet(
        f"{base_index}/codes"
    )
    assert base.filter(F.col("vec_id") == 400).count() == 1
