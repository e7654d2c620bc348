"""Shard sink round-trip (sinks/shards.py): write → manifest →
verify; corruption (row loss, row swap) must be detected; digest must
be partitioning-insensitive."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from rustic_witcher_spark.sinks import shards as sh


def _docs(spark, n=200):
    return spark.createDataFrame([(i, f"text {i}") for i in range(n)], "doc_id long, text string")


def test_write_verify_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out")
    manifest = sh.write_training_shards(_docs(spark), "doc_id", 4, path)
    assert manifest["total_rows"] == 200
    assert set(manifest["shards"]) == {"0", "1", "2", "3"}
    assert sh.verify_training_shards(spark, path) == []
    # layout on disk is one partition dir per shard
    assert sorted(d for d in os.listdir(path) if d.startswith("shard=")) == [
        "shard=0", "shard=1", "shard=2", "shard=3",
    ]


def test_verify_detects_dropped_rows(spark, tmp_path):
    path = str(tmp_path / "out")
    sh.write_training_shards(_docs(spark), "doc_id", 2, path)
    # silently drop rows from shard 0 by rewriting it without 3 docs
    # (collect first — overwriting a path Spark is lazily reading from
    # deletes the input files mid-scan)
    part = spark.read.parquet(path).filter("shard = 0").drop("shard")
    rows = part.orderBy("doc_id").collect()[:-3]
    spark.createDataFrame(rows, part.schema).write.mode("overwrite").parquet(f"{path}/shard=0")
    problems = sh.verify_training_shards(spark, path)
    assert any("n_rows" in p for p in problems)


def test_verify_detects_swapped_row_same_count(spark, tmp_path):
    """Same row COUNT but different content — only the digest can see
    it (the failure mode a file-size check misses)."""
    path = str(tmp_path / "out")
    sh.write_training_shards(_docs(spark), "doc_id", 2, path)
    part = spark.read.parquet(path).filter("shard = 0").drop("shard")
    rows = part.orderBy("doc_id").collect()
    n = len(rows)
    swapped = [r.asDict() for r in rows]
    swapped[0]["doc_id"] = 999_999  # same count, one substituted row
    spark.createDataFrame(
        [tuple(d[f] for f in part.columns) for d in swapped], part.schema
    ).write.mode("overwrite").parquet(f"{path}/shard=0")
    problems = sh.verify_training_shards(spark, path)
    assert any("digest" in p for p in problems)
    assert not any("n_rows" in p for p in problems)  # count unchanged
    assert spark.read.parquet(f"{path}/shard=0").count() == n


def test_digest_partitioning_insensitive(spark, tmp_path):
    """Re-reading through a different partitioning must verify clean —
    the digest is an order-insensitive modular sum."""
    path = str(tmp_path / "out")
    sh.write_training_shards(_docs(spark), "doc_id", 3, path)
    df = spark.read.parquet(path).repartition(17)
    got = {
        int(r["shard"]): int(r["digest"])
        for r in sh._shard_stats(df, "doc_id", 42).collect()
    }
    manifest = json.load(open(os.path.join(path, sh.MANIFEST_NAME)))
    assert got == {int(k): v["digest"] for k, v in manifest["shards"].items()}


def test_cli_shard_and_verify(spark, tmp_path, capsys):
    """`cli shard` writes + prints the manifest; `cli shard-verify`
    exits 0 clean and 1 after corruption."""
    import json as _json

    from rustic_witcher_spark import cli

    src = str(tmp_path / "in.parquet")
    _docs(spark, 60).write.parquet(src)
    out = str(tmp_path / "shards")
    rc = cli.main(["shard", "--source", src, "--target", out, "--id-col", "doc_id", "--n-shards", "3"])
    assert rc == 0
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["total_rows"] == 60

    assert cli.main(["shard-verify", "--path", out]) == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["ok"] is True

    # corrupt shard 0 → verify exits 1
    part = spark.read.parquet(out).filter("shard = 0").drop("shard")
    rows = part.collect()[:-1]
    spark.createDataFrame(rows, part.schema).write.mode("overwrite").parquet(f"{out}/shard=0")
    assert cli.main(["shard-verify", "--path", out]) == 1
    capsys.readouterr()

    # a missing manifest is a reported violation, not a traceback
    os.remove(os.path.join(out, "_shard_manifest.json"))
    assert cli.main(["shard-verify", "--path", out]) == 1
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["ok"] is False and report["problems"]


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    """ingest-free curate: parquet docs -> dedup -> quality -> shards,
    with the manifest verifying afterwards."""
    import json as _json

    from rustic_witcher_spark import cli
    from rustic_witcher_spark.sinks.shards import verify_training_shards

    docs = [
        (1, "the quick brown fox jumps over the lazy dog and it is fine", "en", "web", 59),
        (2, "the quick brown fox jumps over the lazy dog and it is fine", "en", "web", 59),  # exact dup
        (3, "!!! ??? !!!", "en", "web", 11),  # junk — fails any quality bar
        (4, "this is a perfectly reasonable document that the filter keeps", "en", "web", 62),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    out = str(tmp_path / "shards")
    rc = cli.main([
        "curate", "--input", src, "--target", out, "--n-shards", "2", "--min-quality", "0.3",
    ])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["input_rows"] == 4
    assert rep["after_dedup"] == 3       # dup of doc 1 removed
    assert rep["after_quality"] == 2     # junk doc removed
    assert verify_training_shards(spark, out) == []


def test_cli_curate_jsonl_quarantines_malformed_lines(spark, tmp_path, capsys):
    """Round-7 review regression: malformed JSONL lines parse to all-NULL
    rows; curate must route them to quarantine like `ingest` does, never
    ship a ghost all-NULL document into the training shards."""
    import json as _json

    from rustic_witcher_spark import cli

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    good = [
        {"doc_id": 1, "text": "a perfectly reasonable training document right here", "lang": "en", "source": "web", "n_chars": 52},
        {"doc_id": 2, "text": "another perfectly reasonable training document here too", "lang": "en", "source": "web", "n_chars": 56},
    ]
    (src_dir / "docs.jsonl").write_text(
        "\n".join(_json.dumps(d) for d in good) + "\ngarbage line not json\n{broken too\n"
    )
    out = str(tmp_path / "shards")
    rc = cli.main([
        "curate", "--input", str(src_dir), "--format", "jsonl",
        "--target", out, "--n-shards", "1", "--min-quality", "0.3",
    ])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["input_rows"] == 2        # quarantined lines never enter
    assert rep["after_quality"] == 2
    written = spark.read.parquet(out)
    assert written.filter("doc_id IS NULL").count() == 0
    assert written.count() == 2


def test_streaming_shard_append_verifies_and_skips_replay(spark, tmp_path):
    """Streaming face: two micro-batches appended into the shard layout
    must (a) pass the BATCH verifier — digests merge algebraically —
    and (b) ignore a replayed batch_id (foreachBatch recovery)."""
    from rustic_witcher_spark.sinks.shards import verify_training_shards
    from rustic_witcher_spark.streaming.shard_stream import shard_append_batch, write_shards_stream

    out = str(tmp_path / "shards")
    src = tmp_path / "in"
    src.mkdir()
    schema = "doc_id long, text string"

    def _docs(lo, hi, tag):
        (src / f"{tag}.json").write_text(
            "\n".join('{"doc_id": %d, "text": "doc %d"}' % (i, i) for i in range(lo, hi)) + "\n"
        )

    _docs(0, 40, "b1")
    q = write_shards_stream(
        spark.readStream.schema(schema).json(str(src)),
        "doc_id", 4, out, checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        assert verify_training_shards(spark, out) == []
        _docs(40, 70, "b2")
        q.processAllAvailable()
        assert verify_training_shards(spark, out) == []
    finally:
        q.stop()
    df = spark.read.parquet(out)
    assert df.count() == 70
    assert df.select("doc_id").distinct().count() == 70

    # replayed batch_id → no-op: same data, same manifest
    import json as _json
    before = (tmp_path / "shards" / "_shard_manifest.json").read_text()
    replay = spark.createDataFrame([(999, "dup")], schema)
    last = _json.loads(before)["last_batch_id"]
    assert shard_append_batch(replay, last, "doc_id", 4, out) is False
    assert (tmp_path / "shards" / "_shard_manifest.json").read_text() == before
    assert spark.read.parquet(out).count() == 70

    # and a genuinely NEW batch id applies
    assert shard_append_batch(replay, last + 1, "doc_id", 4, out) is True
    assert verify_training_shards(spark, out) == []
    assert spark.read.parquet(out).count() == 71


def test_cli_split_partitions_by_group_hash(spark, tmp_path, capsys):
    """split command: every source lands wholly inside one split
    partition; counts conserve; re-run is deterministic."""
    import json as _json

    from rustic_witcher_spark import cli

    docs = [(i, f"text {i}", "en", f"src{i % 23}", 7) for i in range(300)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    out = str(tmp_path / "split")
    assert cli.main(["split", "--input", src, "--target", out]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(rep["splits"].values()) == 300
    df = spark.read.parquet(out)
    # leakage-safety: no source appears under two split values
    leaky = (
        df.select("source", "split").distinct().groupBy("source").count().filter("count > 1").count()
    )
    assert leaky == 0
    # determinism: second run produces identical per-split counts
    assert cli.main(["split", "--input", src, "--target", out]) == 0
    rep2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["splits"] == rep["splits"]


def test_streaming_shard_append_rejects_layout_mismatch(spark, tmp_path):
    """Review regression: appending with a different (id_col, n_shards,
    seed) than the directory's manifest must fail fast, not silently
    mix incompatible shard layouts."""
    import pytest as _pytest

    from rustic_witcher_spark.streaming.shard_stream import shard_append_batch

    out = str(tmp_path / "shards")
    df = spark.createDataFrame([(i, f"d{i}") for i in range(10)], "doc_id long, text string")
    assert shard_append_batch(df, 0, "doc_id", 4, out) is True
    with _pytest.raises(ValueError, match="shard layout mismatch"):
        shard_append_batch(df, 1, "doc_id", 8, out)
    with _pytest.raises(ValueError, match="shard layout mismatch"):
        shard_append_batch(df, 1, "doc_id", 4, out, seed=7)


def test_cli_split_empty_input_reports_empty_splits(spark, tmp_path, capsys):
    """Review regression: a 0-row input (fully-quarantined drop) must
    report {} cleanly, not die inferring schema from a data-less dir."""
    import json as _json

    from rustic_witcher_spark import cli

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    out = str(tmp_path / "split")
    assert cli.main(["split", "--input", src, "--target", out]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["splits"] == {}


def test_crash_mid_manifest_write_leaves_no_torn_manifest(spark, tmp_path, monkeypatch):
    """The manifest is written tmp-then-rename: a crash inside the JSON
    write of a re-run leaves the torn bytes in the tmp sibling, never
    under the manifest name, where verify and the streaming appender
    would fail to parse it. (The re-run writes shards and manifest into
    a staged dir that replaces the old one only once both are written,
    so the crashed directory still holds the previous shards and their
    manifest, and verifies clean.)"""
    path = str(tmp_path / "out")
    want = sh.write_training_shards(_docs(spark), "doc_id", 4, path)

    def torn_dump(obj, fh, *args, **kwargs):
        fh.write("{")
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        try:
            sh.write_training_shards(_docs(spark), "doc_id", 4, path)
        except OSError:
            pass
        else:
            raise AssertionError("the torn manifest write did not raise")
    assert sh.verify_training_shards(spark, path) == []
    manifest = os.path.join(path, sh.MANIFEST_NAME)
    if os.path.exists(manifest):
        with open(manifest) as fh:
            assert json.load(fh) == want
    assert sh.write_training_shards(_docs(spark), "doc_id", 4, path) == want
    assert sh.verify_training_shards(spark, path) == []


def test_write_empty_corpus_yields_empty_manifest(spark, tmp_path):
    """ADVICE r7 regression: a 0-row input writes only _SUCCESS; the
    manifest read-back must use the writer's schema (inference would
    raise UNABLE_TO_INFER_SCHEMA) and verify must pass on the empty
    manifest without inferring either."""
    path = str(tmp_path / "out")
    manifest = sh.write_training_shards(_docs(spark, 0), "doc_id", 4, path)
    assert manifest["total_rows"] == 0
    assert manifest["shards"] == {}
    assert sh.verify_training_shards(spark, path) == []
