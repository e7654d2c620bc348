"""Round-8 additions: perceptual-hash media near-dup detection
(multimodal.perceptual_hash63 + dedup.hamming_near_duplicates), the
driver-gradeable batch face of the streaming drift finalizer
(drift_vs_reference), and the chained two-step BPE merge
(bpe_merge_chain). The local gate checks oracle parity at sf0.01;
these pin the MEANING on handcrafted fixtures."""

from __future__ import annotations

from pathlib import Path

import pytest

from rustic_witcher_spark.operators.multimodal import perceptual_hash63

SF_DIR = "/root/testdata/sf0.001"
PNG_FIXTURE = Path(__file__).parent / "fixtures" / "tiny_rgb.png"


# ---------------------------------------------------------------------------
# perceptual_hash63 kernel semantics
# ---------------------------------------------------------------------------


def test_phash_none_is_null_empty_is_zero():
    """Missing media carries NO fingerprint (None → never pairs);
    empty content is a defined (blank) fingerprint of 0."""
    assert perceptual_hash63(None) is None
    assert perceptual_hash63(b"") == 0


def test_phash_corrupt_png_falls_back_to_byte_path():
    """A blob with a valid 8-byte PNG magic but garbage inside must NOT
    crash the kernel (one poisoned blob in a crawl would kill the whole
    job / wedge the streaming appender): decode_png converts its
    zlib/struct errors to DecoderUnavailable and the hash falls back to
    content bytes."""
    magic = b"\x89PNG\r\n\x1a\n"
    garbage_idat = magic + b"\x00\x00\x00\x0dIHDR" + b"\x00\x00\x00\x06\x00\x00\x00\x05\x08\x02\x00\x00\x00" + b"xxxx" + b"\x00\x00\x00\x08IDATgarbage\x00\x00\x00\x00"
    truncated = magic + b"\x00\x00\x00\x0dIHDR" + b"\x00\x01"
    for blob in (garbage_idat, truncated):
        h = perceptual_hash63(blob)
        assert isinstance(h, int) and 0 <= h < (1 << 63)
        # deterministic: same fallback on every call
        assert h == perceptual_hash63(blob)


def test_attach_phash_null_media_yields_null_fingerprint(spark):
    """NULL-media rows get NULL phash — distinct media-less documents
    must not all collide at fingerprint 0 and dedup each other away."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators.dedup import incremental_hamming_flags
    from rustic_witcher_spark.operators.multimodal import attach_perceptual_hash

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, b"payload one"), (4, bytes(100))],
        "doc_id long, media binary",
    )
    hashed = attach_perceptual_hash(df, "media")
    got = {r.doc_id: r.phash for r in hashed.collect()}
    assert got[1] is None and got[2] is None
    assert got[4] == 0  # blank content: defined fingerprint
    # and through the incremental flags: NULL-media rows are (False, False)
    both = hashed.select("doc_id", "phash").withColumn("fresh", F.col("doc_id") <= 2).unionByName(
        spark.createDataFrame([(100, got[3], False)], "doc_id long, phash long, fresh boolean")
    )
    flags = {
        r.doc_id: (r.exact_dup, r.near_dup)
        for r in incremental_hamming_flags(
            both.filter((F.col("doc_id") <= 2) | ~F.col("fresh")), "doc_id", "phash", F.col("fresh")
        ).collect()
    }
    assert flags[1] == (False, False) and flags[2] == (False, False)


def test_phash_is_deterministic_and_nonneg_63bit():
    data = bytes(range(256)) * 3
    h = perceptual_hash63(data)
    assert h == perceptual_hash63(data)
    assert 0 <= h < (1 << 63)


def test_phash_small_edit_small_hamming_unrelated_far():
    """The dHash property the banding relies on: a one-byte edit flips
    at most the comparisons touching one cell; unrelated content
    diverges to ~half the bits."""
    # aperiodic pseudorandom content: REPEATED text with a period that
    # divides the cell count aliases to an 8-cell pattern and can
    # collide across different templates (a real dHash property — the
    # corpus entries never hit it because document text is not periodic)
    import hashlib

    base = b"".join(hashlib.sha256(bytes([i])).digest() for i in range(16))
    edited = bytearray(base)
    edited[0] ^= 0x20  # one-byte edit — one cell mean moves
    other = b"".join(hashlib.sha256(bytes([i, 1])).digest() for i in range(16))
    d_edit = bin(perceptual_hash63(base) ^ perceptual_hash63(bytes(edited))).count("1")
    d_other = bin(perceptual_hash63(base) ^ perceptual_hash63(other)).count("1")
    assert d_edit <= 2
    assert d_other >= 8


def test_phash_short_input_missing_cells_contribute_zero_bits():
    """n < 64 bytes: cells with no bytes yield no comparisons — bits
    where either adjacent cell is empty stay 0 (the oracle's inner join
    on present cells). A 4-byte blob occupies cells 0/16/32/48 only;
    no ADJACENT pair is present, so the hash is exactly 0."""
    assert perceptual_hash63(b"\x01\x02\x03\x04") == 0


def test_phash_png_path_equals_pixel_byte_path():
    """Direct statement of the real-decode contract: phash(png file) ==
    phash(decoded pixel buffer hashed as opaque bytes)."""
    from rustic_witcher_spark.operators.multimodal import decode_png

    png = PNG_FIXTURE.read_bytes()
    _w, _h, _ch, px = decode_png(png)
    assert perceptual_hash63(png) == perceptual_hash63(px)


# ---------------------------------------------------------------------------
# hamming_near_duplicates banding engine (crafted fingerprints)
# ---------------------------------------------------------------------------


def test_hamming_banding_exact_at_threshold(spark):
    """Pairs at hamming 0/1/2 found, hamming 3 excluded — pigeonhole
    banding (3 bands over 63 bits) plus the exact bit_count confirm."""
    from rustic_witcher_spark.operators.dedup import hamming_near_duplicates

    base = 0b1010110011100011010101010101010101010101010101010101010101010
    rows = [
        (1, base),
        (2, base),  # hamming 0
        (3, base ^ (1 << 5)),  # hamming 1
        (4, base ^ (1 << 5) ^ (1 << 40)),  # hamming 2 from base
        (5, base ^ 0b111),  # hamming 3 from base — excluded vs 1/2
        (6, 0),  # far away
    ]
    df = spark.createDataFrame(rows, "doc_id long, ph long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_duplicates(df, "doc_id", "ph", max_hamming=2).collect()
    }
    assert got == {
        (1, 2): 0,
        (1, 3): 1,
        (2, 3): 1,
        (1, 4): 2,
        (2, 4): 2,
        (3, 4): 1,
    }


def test_simhash_near_duplicates_delegates_unchanged(spark):
    """Refactor guard: simhash_near_duplicates output is identical to
    computing simhash64 then calling the generalized banding engine."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators.dedup import (
        hamming_near_duplicates,
        simhash64,
        simhash_near_duplicates,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "alpha beta gamma epsilon"), (4, "zzz yyy xxx www")],
        "doc_id long, text string",
    )
    a = sorted(tuple(r) for r in simhash_near_duplicates(docs, "text", "doc_id", max_hamming=3).collect())
    h = docs.select("doc_id", simhash64(F.col("text")).alias("sh"))
    b = sorted(tuple(r) for r in hamming_near_duplicates(h, "doc_id", "sh", max_hamming=3).collect())
    assert a == b and len(a) >= 1  # (1,2) at hamming 0 at minimum


# ---------------------------------------------------------------------------
# media_near_dups entry: planted twins recovered
# ---------------------------------------------------------------------------


def test_media_near_dups_recovers_planted_twins(spark):
    from rustic_witcher_spark.queries import MEDIA_DUP_STRIDE, media_twin_offset, q_media_near_dups

    rows = q_media_near_dups(spark, SF_DIR).collect()
    doc_ids = {r.doc_id for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id").collect()}
    off = media_twin_offset(max(doc_ids))
    assert off % 4 == 0 and off > max(doc_ids)  # collision-free, magic-preserving
    planted = {(d, d + off) for d in doc_ids if d % MEDIA_DUP_STRIDE == 0}
    got = {(r.id_a, r.id_b) for r in rows}
    assert planted <= got, f"missed planted twins: {planted - got}"
    assert all(r.hamming <= 2 for r in rows)
    # organic corpus has no sub-9 hamming pairs at this SF: output is exactly the plants
    assert got == planted


# ---------------------------------------------------------------------------
# drift_vs_reference: batch entry ≡ streaming finalizer (same code path)
# ---------------------------------------------------------------------------


def test_drift_entry_equals_streaming_monitor_reading(spark, tmp_path):
    """The registry entry and the streaming monitor produce the SAME
    reading over the same corpus: stream the non-reference documents
    through start_drift_monitor (micro-batched), finalize the live
    state with kl_vs_reference, compare against q_drift_vs_reference."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.queries import DRIFT_REF_SOURCE, DRIFT_REF_VOCAB, q_drift_vs_reference
    from rustic_witcher_spark.streaming.drift import kl_vs_reference, start_drift_monitor, term_counts

    batch = q_drift_vs_reference(spark, SF_DIR).collect()[0]

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref = (
        term_counts(docs.filter(F.col("source") == DRIFT_REF_SOURCE))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(DRIFT_REF_VOCAB)
    )
    live_dir = tmp_path / "live"
    docs.filter(F.col("source") != DRIFT_REF_SOURCE).select("doc_id", "text").repartition(3).write.parquet(str(live_dir))
    qname = f"r8drift_{abs(hash(str(tmp_path))) % 10**8}"
    stream = spark.readStream.schema("doc_id long, text string").option("maxFilesPerTrigger", 1).parquet(str(live_dir))
    q = start_drift_monitor(stream, qname, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        streamed = kl_vs_reference(spark.sql(f"SELECT * FROM {qname}"), ref).collect()[0]
    finally:
        q.stop()
    assert tuple(streamed) == tuple(batch)
    assert batch["oov_tokens"] > 0 and batch["kl_nanonats"] > 0  # both faces exercised


# ---------------------------------------------------------------------------
# bpe_merge_chain: symbol-string merge semantics + composition
# ---------------------------------------------------------------------------


def _bpe_two_steps_python(vocab: dict[str, int]) -> tuple[str, dict[tuple[str, str], int]]:
    """Reference implementation: standard BPE on symbol lists."""
    p1: dict[tuple[str, str], int] = {}
    for w, c in vocab.items():
        syms = list(w)
        for a, b in zip(syms, syms[1:]):
            p1[(a, b)] = p1.get((a, b), 0) + c
    win = min(p1, key=lambda k: (-p1[k], k[0] + k[1]))
    p2: dict[tuple[str, str], int] = {}
    for w, c in vocab.items():
        syms, out = list(w), []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == win:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        for a, b in zip(out, out[1:]):
            p2[(a, b)] = p2.get((a, b), 0) + c
    return win[0] + win[1], p2


def test_bpe_chain_matches_python_reference(spark, tmp_path):
    """Two chained merges over a crafted vocab equal the textbook
    symbol-list BPE — including the overlapping-pair greedy case
    ('aaaa' with winner 'aa' → [aa, aa], never [a, aa, a])."""
    from rustic_witcher_spark.queries import q_bpe_merge_chain

    docs = []
    corpus = {"aaaa": 10, "banana": 5, "bandana": 4, "aa": 7, "naan": 3}
    i = 0
    for w, c in corpus.items():
        for _ in range(c):
            docs.append((i, w, "en", "srcX", len(w)))
            i += 1
    d = tmp_path / "fix"
    spark.createDataFrame(docs, "doc_id long, text string, lang string, source string, n_chars long").write.parquet(
        str(d / "documents.parquet")
    )
    got = {(r.merged_pair, r.pair): r.n for r in q_bpe_merge_chain(spark, str(d)).collect()}
    win, p2 = _bpe_two_steps_python(corpus)
    want_all = {(win, f"{a} {b}"): n for (a, b), n in p2.items()}
    # entry returns top-20 — compare on the intersection, and the
    # top-by-count rows must all be present
    for k, v in got.items():
        assert want_all[k] == v
    top = sorted(want_all.items(), key=lambda kv: (-kv[1], kv[0][1]))[: len(got)]
    assert dict(top) == got


def test_bpe_chain_merged_symbol_participates_in_step2(spark):
    """Chain proof on real data: step-2 pairs must mention the step-1
    winner as a SYMBOL (space-separated component), i.e. the vocab
    recurrence actually composed rather than recounting raw chars."""
    from rustic_witcher_spark.queries import q_bpe_merge_chain

    rows = q_bpe_merge_chain(spark, SF_DIR).collect()
    assert len(rows) > 0
    merged = rows[0]["merged_pair"]
    assert len(merged) == 2
    assert any(merged in r["pair"].split(" ") for r in rows), (
        "no step-2 pair contains the merged symbol — chain did not compose"
    )


# ---------------------------------------------------------------------------
# incremental media dedup: batch vs corpus index (never corpus self-join)
# ---------------------------------------------------------------------------


def test_incremental_hamming_flags_semantics(spark):
    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators.dedup import incremental_hamming_flags

    base = 0b101011001110001101010101
    corpus = [(100, base), (101, base ^ (1 << 7)), (102, 0)]
    batch = [
        (1, base),  # exact + near
        (2, base ^ (1 << 3)),  # hamming 1 from corpus 100 -> near only
        (3, base ^ 0b111),  # hamming 3 from everything -> neither
        (4, None),  # NULL fingerprint -> neither, row still reported
    ]
    df = spark.createDataFrame(
        [(i, h, True) for i, h in batch] + [(i, h, False) for i, h in corpus],
        "doc_id long, ph long, fresh boolean",
    )
    got = {
        r.doc_id: (r.exact_dup, r.near_dup)
        for r in incremental_hamming_flags(df, "doc_id", "ph", F.col("fresh"), max_hamming=2).collect()
    }
    assert got == {
        1: (True, True),
        2: (False, True),
        3: (False, False),
        4: (False, False),
    }


def test_incremental_hamming_flags_materialize_keyed_identical(spark):
    """materialize_keyed cuts the keyed projection's lineage only —
    flags bit-identical either way (r13: the three keyed consumers
    stop re-running the upstream fingerprint kernel)."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators.dedup import incremental_hamming_flags

    base = 0b101011001110001101010101
    rows = [(i, base ^ (1 << (i % 24)), i >= 30) for i in range(40)] + [(99, None, True)]
    df = spark.createDataFrame(rows, "doc_id long, ph long, fresh boolean")
    a = sorted(
        map(tuple, incremental_hamming_flags(df, "doc_id", "ph", F.col("fresh"), 2).collect())
    )
    b = sorted(
        map(
            tuple,
            incremental_hamming_flags(
                df, "doc_id", "ph", F.col("fresh"), 2, materialize_keyed=True
            ).collect(),
        )
    )
    assert a == b and len(a) == 11


def test_incremental_hamming_flags_match_brute_force(spark):
    """Flags derived through the band-index join == flags derived by
    brute-force comparing every batch hash to every corpus hash."""
    import hashlib

    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators.dedup import incremental_hamming_flags

    def h63(i: int) -> int:
        return int.from_bytes(hashlib.sha256(bytes([i])).digest()[:8], "big") >> 1

    corpus = {100 + i: h63(i) for i in range(12)}
    batch = {i: (h63(i) if i % 3 == 0 else h63(i) ^ (1 << (i % 60))) for i in range(9)}
    batch[8] = 12345  # unrelated
    df = spark.createDataFrame(
        [(i, h, True) for i, h in batch.items()] + [(i, h, False) for i, h in corpus.items()],
        "doc_id long, ph long, fresh boolean",
    )
    got = {
        r.doc_id: (r.exact_dup, r.near_dup)
        for r in incremental_hamming_flags(df, "doc_id", "ph", F.col("fresh"), max_hamming=2).collect()
    }
    want = {
        i: (
            any(h == ch for ch in corpus.values()),
            any(bin(h ^ ch).count("1") <= 2 for ch in corpus.values()),
        )
        for i, h in batch.items()
    }
    assert got == want


def test_cli_media_dedup_pairs_and_incremental(spark, tmp_path, capsys):
    import json

    from rustic_witcher_spark import cli

    import hashlib

    # three DISTINCT pseudorandom blobs (constant-byte blobs would be
    # degenerate: equal cell means everywhere -> every comparison false
    # -> phash 0 for all of them), ids 0..5 repeat them twice
    def blob(k: int) -> bytes:
        return b"".join(hashlib.sha256(bytes([k, j])).digest() for j in range(7))

    docs = spark.createDataFrame(
        [(i, blob(i % 3)) for i in range(6)],
        "doc_id long, media binary",
    )
    src = str(tmp_path / "media.parquet")
    docs.write.parquet(src)
    pairs_out = str(tmp_path / "pairs")
    assert cli.main([
        "media-dedup", "--source", src, "--target", pairs_out,
        "--id-col", "doc_id", "--binary-col", "media", "--max-hamming", "0",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # blobs repeat every 3 ids -> exact-dup pairs (0,3) (1,4) (2,5)
    assert rep["mode"] == "pairs" and rep["pairs"] == 3
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(pairs_out).collect()}
    assert got == {(0, 3), (1, 4), (2, 5)}

    # incremental: hash the corpus once into an index, flag a new batch against it
    from rustic_witcher_spark.operators.multimodal import attach_perceptual_hash

    index_out = str(tmp_path / "index")
    attach_perceptual_hash(docs, "media").select("doc_id", "phash").write.parquet(index_out)
    batch = spark.createDataFrame(
        [(10, blob(0)), (11, blob(7))],  # dup of blob 0, unrelated
        "doc_id long, media binary",
    )
    batch_src = str(tmp_path / "batch.parquet")
    batch.write.parquet(batch_src)
    flags_out = str(tmp_path / "flags")
    assert cli.main([
        "media-dedup", "--source", batch_src, "--target", flags_out,
        "--id-col", "doc_id", "--against", index_out,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "incremental" and rep["batch_rows"] == 2
    flags = {r.doc_id: (r.exact_dup, r.near_dup) for r in spark.read.parquet(flags_out).collect()}
    assert flags[10] == (True, True)
    assert flags[11] == (False, False)


def test_bpe_chain_plan_reuses_vocab_exchange(spark):
    """The vocab groupBy feeds two consumers; the corpus must be
    tokenized ONCE — pinned via ReusedExchange in the FINAL adaptive
    plan (AQE inserts the reuse at runtime, so execute first; the
    source_kl_divergence re-derivation trap, checked not bitten here —
    a materialize() cut was A/B'd and only added its barrier)."""
    import contextlib
    import io

    from rustic_witcher_spark.queries import q_bpe_merge_chain

    df = q_bpe_merge_chain(spark, SF_DIR)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ReusedExchange" in plan


def test_media_near_dups_plan_no_join_single_python_stage(spark):
    """Pair discovery is bucket-groupBy enumeration, never a self-join:
    the plan carries NO join operator at all, exactly one Arrow Python
    stage (the fingerprint kernel), and the banding shuffle."""
    import re

    from rustic_witcher_spark.queries import q_media_near_dups

    plan = q_media_near_dups(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\w*Join\w*", plan) == []
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan


def test_drift_vs_reference_plan_all_joins_broadcast(spark):
    """Every join in the drift finalization is broadcast (the 1-row
    total frames and the vocab-bounded reference) — no shuffle join
    anywhere."""
    import re

    from rustic_witcher_spark.queries import q_drift_vs_reference

    plan = q_drift_vs_reference(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(r"\w*Join\w*", plan)
    assert joins and all(j.startswith("Broadcast") for j in joins), joins
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_cli_media_dedup_empty_source_yields_empty_outputs(spark, tmp_path, capsys):
    """A fully-filtered/empty media table must produce an empty pairs
    (or flags) parquet and a zeroed summary — not an
    UNABLE_TO_INFER_SCHEMA on the read-back (the shards.py bug class)."""
    import json

    from rustic_witcher_spark import cli

    src = str(tmp_path / "empty.parquet")
    spark.createDataFrame([], "doc_id long, media binary").write.parquet(src)
    out = str(tmp_path / "pairs")
    assert cli.main([
        "media-dedup", "--source", src, "--target", out, "--id-col", "doc_id",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["pairs"] == 0

    idx = str(tmp_path / "index")
    spark.createDataFrame([(1, 5)], "doc_id long, phash long").write.parquet(idx)
    flags_out = str(tmp_path / "flags")
    assert cli.main([
        "media-dedup", "--source", src, "--target", flags_out, "--id-col", "doc_id",
        "--against", idx,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["batch_rows"] == 0 and rep["exact_dups"] == 0


# ---------------------------------------------------------------------------
# repetition_signals (Gopher word-n-gram repetition filters)
# ---------------------------------------------------------------------------


def _write_docs(spark, tmp_path, texts):
    d = tmp_path / "repfix"
    rows = [(i, t, "en", "srcX", len(t) if t else 0) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_repetition_signals_hand_computed(spark, tmp_path):
    """Pin the metric meanings on a doc where every value is computable
    by hand: 'ab cd ab cd ab cd' (17 chars, 6 tokens)."""
    from rustic_witcher_spark.queries import q_repetition_signals

    sf = _write_docs(spark, tmp_path, ["ab cd ab cd ab cd"])
    r = q_repetition_signals(spark, str(tmp_path / "repfix")).collect()[0]
    # 2-grams: 'ab cd' x3 (len 5), 'cd ab' x2 -> top coverage 15/17
    assert r["top2_frac"] == round(15 / 17, 6)
    # 3-grams: 'ab cd ab' x2 (len 8), 'cd ab cd' x2 (len 8) -> 16/17
    assert r["top3_frac"] == round(16 / 17, 6)
    # 5-grams: 'ab cd ab cd ab' x1, 'cd ab cd ab cd' x1 -> no dups
    assert r["dup5_frac"] == 0.0
    assert bool(r["flagged"]) is True  # top2 0.88 > 0.20
    assert sf  # silence unused


def test_repetition_signals_clean_doc_not_flagged(spark, tmp_path):
    from rustic_witcher_spark.queries import q_repetition_signals

    _write_docs(spark, tmp_path, ["alpha beta gamma delta epsilon zeta eta theta"])
    r = q_repetition_signals(spark, str(tmp_path / "repfix")).collect()[0]
    # all grams unique (no gram occurs twice): zero repetition signal —
    # a once-occurring gram is NOT repetition, however long
    assert r["top2_frac"] == 0.0 and r["top3_frac"] == 0.0 and r["dup5_frac"] == 0.0
    assert bool(r["flagged"]) is False


def test_repetition_signals_dup5_overlap_counting(spark, tmp_path):
    """'x x x x x x' (6 tokens, 11 chars): the single 5-gram 'x x x x x'
    (len 9) occurs twice (positions 1 and 2, overlapping) -> dup5 =
    2*9/11; overlaps are counted as in the paper."""
    from rustic_witcher_spark.queries import q_repetition_signals

    _write_docs(spark, tmp_path, ["x x x x x x"])
    r = q_repetition_signals(spark, str(tmp_path / "repfix")).collect()[0]
    assert r["dup5_frac"] == round(2 * 9 / 11, 6)
    assert bool(r["flagged"]) is True


def test_repetition_signals_short_null_empty_docs(spark, tmp_path):
    """Docs with <2 tokens (or NULL/empty text) produce zero signals
    and are never flagged — the left join backfills them."""
    from rustic_witcher_spark.queries import q_repetition_signals

    _write_docs(spark, tmp_path, ["single", None, ""])
    rows = {r["doc_id"]: r for r in q_repetition_signals(spark, str(tmp_path / "repfix")).collect()}
    assert len(rows) == 3
    for i in range(3):
        assert rows[i]["top2_frac"] == 0.0 and rows[i]["dup5_frac"] == 0.0
        assert bool(rows[i]["flagged"]) is False


def test_repetition_signals_oracle_parity_on_fixture(spark, tmp_path):
    """Spark == DuckDB on a fixture mixing repetitive, clean, and
    degenerate docs (value-level, all columns)."""
    import duckdb

    from rustic_witcher_spark.queries import q_repetition_signals, sql_repetition_signals

    sf = _write_docs(
        spark,
        tmp_path,
        ["spam spam spam spam spam", "the quick brown fox jumps", "a b a b a b a b", None, "", "x"],
    )
    got = sorted(map(tuple, q_repetition_signals(spark, sf).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(sql_repetition_signals()).fetchall()))
    assert got == want


# ---------------------------------------------------------------------------
# hybrid_search_rrf — reciprocal rank fusion of lexical + dense legs
# ---------------------------------------------------------------------------


def _write_hybrid_fixture(spark, tmp_path):
    """Aligned documents + embeddings (ids 0-7; anchors are ids < 3)."""
    d = tmp_path / "rrffix"
    texts = [
        "apple banana cherry",            # anchor 0
        "dog elephant fox goose",         # anchor 1
        "red green blue",                 # anchor 2
        "apple banana cherry",            # exact lexical twin of anchor 0
        "apple banana kiwi lemon",        # partial overlap with anchor 0
        "dog elephant fox goose",         # exact lexical twin of anchor 1
        "red blue yellow",                # partial overlap with anchor 2
        "zz ww qq",                       # lexical orphan (dense-only)
    ]
    rows = [(i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    vecs = [
        [1.0, 0.0, 0.0, 0.1], [0.0, 1.0, 0.0, 0.1], [0.0, 0.0, 1.0, 0.1],
        [0.9, 0.1, 0.0, 0.0], [0.8, 0.0, 0.2, 0.1], [0.1, 0.9, 0.0, 0.2],
        [0.0, 0.2, 0.9, 0.0], [0.5, 0.5, 0.5, 0.5],
    ]
    erows = [(i, v, i % 3) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        erows, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d), texts, vecs


def _py_rrf_reference(texts, vecs, n_anchors=3, pool=20, k0=60, topk=10):
    import math
    import re

    def toks(t):
        return set(re.sub(r"\s+", " ", t.lower().strip()).split(" ")) if t.strip() else set()

    token_sets = [toks(t) for t in texts]
    out = []
    for a in range(n_anchors):
        legs = {}
        # lexical leg
        scored = []
        for d in range(len(texts)):
            if d == a:
                continue
            i = len(token_sets[a] & token_sets[d])
            if i == 0:
                continue
            u = len(token_sets[a] | token_sets[d])
            scored.append((round(i / max(u, 1), 6), d))
        scored.sort(key=lambda s: (-s[0], s[1]))
        for r, (_, d) in enumerate(scored[:pool], 1):
            legs.setdefault(d, {})["lex"] = r
        # dense leg
        scored = []
        qa = vecs[a]
        for d in range(len(vecs)):
            if d == a:
                continue
            dv = vecs[d]
            dot = sum(x * y for x, y in zip(qa, dv))
            sim = round(dot / (math.sqrt(sum(x * x for x in qa)) * math.sqrt(sum(x * x for x in dv))), 6)
            scored.append((sim, d))
        scored.sort(key=lambda s: (-s[0], s[1]))
        for r, (_, d) in enumerate(scored[:pool], 1):
            legs.setdefault(d, {})["dense"] = r
        fused = []
        for d, rr in legs.items():
            micro = sum(math.floor(1_000_000 / (k0 + r)) for r in rr.values())
            fused.append((micro, d, rr.get("lex", 0), rr.get("dense", 0)))
        fused.sort(key=lambda s: (-s[0], s[1]))
        for fr, (micro, d, lr, dr) in enumerate(fused[:topk], 1):
            out.append((a, d, lr, dr, micro, fr))
    return sorted(out)


def test_hybrid_rrf_matches_python_reference(spark, tmp_path):
    """The whole entry — both legs' scores, pool ranks, floor-division
    micro-units, absent-leg-0 encoding, fused order — pinned against a
    from-scratch pure-Python reference on a handcrafted corpus with
    exact lexical twins, partial overlaps, and a dense-only orphan."""
    from rustic_witcher_spark.queries import q_hybrid_search_rrf

    sf, texts, vecs = _write_hybrid_fixture(spark, tmp_path)
    got = sorted(
        (r["anchor_id"], r["doc_id"], r["lex_rank"], r["dense_rank"], r["rrf_micro"], r["fused_rank"])
        for r in q_hybrid_search_rrf(spark, sf).collect()
    )
    assert got == _py_rrf_reference(texts, vecs)
    # structural invariants: no self-retrieval; both-leg docs exist;
    # the lexical orphan surfaces with lex_rank == 0
    assert all(a != d for a, d, *_ in got)
    assert any(lr > 0 and dr > 0 for _, _, lr, dr, _, _ in got)
    orphan = [r for r in got if r[1] == 7]
    assert orphan and all(lr == 0 for _, _, lr, _, _, _ in orphan)


def test_hybrid_rrf_oracle_parity_on_fixture(spark, tmp_path):
    """Spark face == DuckDB twin on the fixture corpus (the sf0.01 gate
    covers the synthetic tables; this covers the hand-built edge mix)."""
    import duckdb

    from rustic_witcher_spark.queries import q_hybrid_search_rrf, sql_hybrid_search_rrf

    sf, _, _ = _write_hybrid_fixture(spark, tmp_path)
    g = q_hybrid_search_rrf(spark, sf).toPandas()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet/*.parquet')")
    w = con.execute(sql_hybrid_search_rrf()).fetchdf()
    cols = sorted(g.columns)
    assert sorted(map(tuple, g[cols].astype(str).values.tolist())) == sorted(
        map(tuple, w[cols].astype(str).values.tolist())
    )


def test_cli_hybrid_search(spark, tmp_path, capsys):
    """CLI leg runs the same operator over arbitrary corpora and the
    report counts are consistent; empty anchor intersection with the
    corpus yields an empty (but well-formed) result."""
    import json as _json

    from rustic_witcher_spark import cli

    sf, texts, vecs = _write_hybrid_fixture(spark, tmp_path)
    out = str(tmp_path / "fused")
    assert cli.main([
        "hybrid-search",
        "--docs", f"{sf}/documents.parquet",
        "--embeddings", f"{sf}/embeddings.parquet",
        "--anchors", "0,1,2", "--target", out, "--k", "10",
    ]) == 0
    want = _py_rrf_reference(texts, vecs)
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 8-doc fixture: 7 candidates per anchor (< k), all surfaced
    assert rep["anchors"] == 3 and rep["result_rows"] == len(want) == 21
    rows = sorted(
        (r["anchor_id"], r["doc_id"], r["lex_rank"], r["dense_rank"], r["rrf_micro"], r["fused_rank"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == want

    # anchors not present in either table -> empty result, exit 0
    out2 = str(tmp_path / "fused2")
    assert cli.main([
        "hybrid-search",
        "--docs", f"{sf}/documents.parquet",
        "--embeddings", f"{sf}/embeddings.parquet",
        "--anchors", "999", "--target", out2,
    ]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["result_rows"] == 0


# ---------------------------------------------------------------------------
# contrastive_triplets — dedup positives × exclusion-aware hard negatives
# ---------------------------------------------------------------------------


def test_contrastive_triplets_excludes_partners_from_negatives(spark, tmp_path):
    """Planted exact-dup pair (0,1): both directions surface as
    (anchor, positive); the negative is each anchor's hardest
    NON-PARTNER — vec 1 is by far the most cosine-similar to vec 0,
    but it is the positive, so the negative must be vec 2. A doc with
    no near-dup partner (2) is not an anchor at all."""
    from rustic_witcher_spark.queries import q_contrastive_triplets

    d = tmp_path / "tripfix"
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "totally unrelated words nothing shared here at all whatsoever",
    ]
    rows = [(i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [0.99, 0.1, 0.0, 0.0],   # closest to vec 0 — but it's the positive
        [0.8, 0.0, 0.6, 0.0],    # the hardest legitimate negative
    ]
    spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label long",
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    got = {
        (r["anchor_id"], r["positive_id"]): (r["negative_id"], r["jaccard"], r["neg_sim"])
        for r in q_contrastive_triplets(spark, str(d)).collect()
    }
    assert set(got) == {(0, 1), (1, 0)}
    for (a, p), (n, j, s) in got.items():
        assert n == 2, (a, p, n)
        assert j == 1.0  # exact dups
        assert 0 < s < 1


def test_contrastive_triplets_oracle_parity_on_fixture(spark, tmp_path):
    import duckdb

    from rustic_witcher_spark.queries import q_contrastive_triplets, sql_contrastive_triplets

    d = tmp_path / "tripfix2"
    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = [base, base + " x", "other text one", base.upper(), "unrelated corpus filler words"]
    rows = [(i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    import random

    rnd = random.Random(7)
    spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(8)], i % 2) for i in range(len(texts))],
        "vec_id long, embedding array<double>, label long",
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    g = q_contrastive_triplets(spark, str(d)).toPandas()
    assert len(g) >= 2  # the planted near-dup family surfaced
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    w = con.execute(sql_contrastive_triplets()).fetchdf()
    cols = sorted(g.columns)
    assert sorted(map(tuple, g[cols].astype(str).values.tolist())) == sorted(
        map(tuple, w[cols].astype(str).values.tolist())
    )


# ---------------------------------------------------------------------------
# embedding_outliers — distance-to-centroid corpus hygiene
# ---------------------------------------------------------------------------


def test_embedding_outliers_planted_outlier_ranks_first(spark, tmp_path):
    """Two tight clusters + one vector orthogonal to both: the orphan
    must surface at rank 1 with the lowest centroid similarity."""
    from rustic_witcher_spark.queries import OUTLIER_K, q_embedding_outliers

    d = tmp_path / "outfix"
    import random

    rnd = random.Random(5)
    rows = []
    for i in range(30):  # cluster A around e0, cluster B around e1
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        rows.append((i, [x + rnd.gauss(0, 0.02) for x in base], i % 2))
    rows.append((99, [0.0, 0.0, 1.0, 0.0], 7))  # the planted orphan
    spark.createDataFrame(rows, "vec_id long, embedding array<double>, label long").write.mode(
        "overwrite"
    ).parquet(str(d / "embeddings.parquet"))

    got = q_embedding_outliers(spark, str(d)).collect()
    assert got and got[0]["vec_id"] == 99 and got[0]["rank"] == 1
    assert got[0]["csim"] == min(r["csim"] for r in got)
    assert len(got) <= OUTLIER_K
    # ranks are a clean 1..n sequence ordered by (csim, vec_id)
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_embedding_outliers_empty_and_all_null_corpus(spark, tmp_path):
    """No structure -> no outliers (and no crash): empty corpus and
    all-NULL embeddings both yield the typed empty frame."""
    from rustic_witcher_spark.queries import q_embedding_outliers

    d1 = tmp_path / "out_empty"
    spark.createDataFrame([], "vec_id long, embedding array<double>, label long").write.parquet(
        str(d1 / "embeddings.parquet")
    )
    assert q_embedding_outliers(spark, str(d1)).count() == 0

    d2 = tmp_path / "out_null"
    spark.createDataFrame(
        [(1, None, 0), (2, None, 1)], "vec_id long, embedding array<double>, label long"
    ).write.parquet(str(d2 / "embeddings.parquet"))
    assert q_embedding_outliers(spark, str(d2)).count() == 0


def test_contrastive_triplets_block_kernel_identical_to_hof(spark, duck, sf_dir):
    """The registered exclusion-aware block kernel equals its DuckDB
    twin (``sql_contrastive_triplets``) row for row on real data: same
    triplets, jaccards and 6-dp negative sims."""
    from rustic_witcher_spark.queries import q_contrastive_triplets, sql_contrastive_triplets

    a = sorted(map(tuple, q_contrastive_triplets(spark, sf_dir).collect()))
    assert a == sorted(duck.execute(sql_contrastive_triplets()).fetchall()) and len(a) > 0


def test_contrastive_triplets_nan_vector_cannot_win_any_face(spark, tmp_path):
    """Dirty-data alignment of the kernel and its DuckDB twin: a
    NaN-component vector must never be selected as a negative. Before
    the fix the oracle ranked NaN greatest and emitted the poisoned
    vector as EVERY anchor's negative, while the registered kernel
    dropped it."""
    import math

    import duckdb

    from rustic_witcher_spark.queries import q_contrastive_triplets, sql_contrastive_triplets

    d = tmp_path / "nanfix"
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "totally unrelated words nothing shared here at all whatsoever",
    ]
    rows = [(i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),
        (2, [0.8, 0.0, 0.6, 0.0], 0),
        (3, [math.nan, 1.0, 0.0, 0.0], 1),  # poisoned
        (4, None, 1),                        # whole-NULL vector
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    kernel = sorted(map(tuple, q_contrastive_triplets(spark, str(d)).collect()))
    assert kernel and all(r[2] == 2 for r in kernel), kernel  # negative is always vec 2

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    w = con.execute(sql_contrastive_triplets()).fetchdf()
    assert sorted(map(tuple, w[["anchor_id", "positive_id", "negative_id"]].values.tolist())) == [
        (r[0], r[1], r[2]) for r in kernel
    ]


def test_hard_negatives_nan_vector_cannot_win_any_face(spark, tmp_path):
    """Same dirty-vector alignment for hard_negatives: the kernel and
    its DuckDB twin must both ignore a NaN-component candidate instead
    of letting NaN-sorts-greatest crown it."""
    import math

    import duckdb

    from rustic_witcher_spark.operators.similarity import hard_negative_top1_block
    from rustic_witcher_spark.queries import HARDNEG_QUERIES, SQL_HARD_NEGATIVES

    d = tmp_path / "hnfix"
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 1),       # legit other-label negative
        (2, [math.nan, 1.0, 0.0, 0.0], 1),  # poisoned other-label row
        (3, None, 1),                        # whole-NULL vector
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    emb = spark.read.parquet(str(d / "embeddings.parquet"))
    kernel = sorted(map(tuple, hard_negative_top1_block(emb, HARDNEG_QUERIES).collect()))
    by_q = {r[0]: r[2] for r in kernel}
    assert by_q[0] == 1  # NOT the NaN row

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet/*.parquet')")
    w = con.execute(SQL_HARD_NEGATIVES).fetchdf()
    assert sorted(map(tuple, w.astype(object).values.tolist())) == [tuple(r) for r in kernel]


# ---------------------------------------------------------------------------
# feature_hash_embed — hashing-trick text featurizer
# ---------------------------------------------------------------------------


def test_feature_hash_embed_semantics(spark, tmp_path):
    """Meaning pins: identical texts get identical vectors (cosine 1
    with itself by construction); non-empty docs are unit-norm to
    rounding; empty/NULL docs emit the all-zero vector; a doc's vector
    is a function of its token multiset only (order-invariant)."""
    import math

    from rustic_witcher_spark.queries import FH_DIM, feature_hash_vectors

    d = tmp_path / "fhfix"
    texts = [
        (0, "alpha beta gamma alpha"),
        (1, "beta alpha alpha gamma"),   # same multiset, different order
        (2, ""),                          # empty -> zero vector
        (3, None),                        # NULL -> zero vector
        (4, "delta epsilon zeta"),
    ]
    rows = [(i, t, "en", "srcX", len(t) if t else 0) for i, t in texts]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {r["doc_id"]: list(r["fh"]) for r in feature_hash_vectors(spark, str(d)).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert all(len(v) == FH_DIM for v in got.values())
    assert got[0] == got[1]  # order-invariant
    assert got[2] == [0.0] * FH_DIM and got[3] == [0.0] * FH_DIM
    for i in (0, 4):
        assert abs(math.sqrt(sum(x * x for x in got[i])) - 1.0) < 1e-4, got[i]
    # different token sets hash to different vectors
    assert got[0] != got[4]


def test_feature_hash_embed_feeds_the_ann_stack(spark, tmp_path):
    """The bridge contract: hashed vectors are a drop-in embedding
    column for the similarity machinery — near-identical texts rank
    closer than unrelated ones through brute_force_topk."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators.similarity import brute_force_topk
    from rustic_witcher_spark.queries import feature_hash_vectors

    d = tmp_path / "fhann"
    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "completely unrelated legal boilerplate terms conditions apply"),
    ]
    rows = [(i, t, "en", "srcX", len(t)) for i, t in texts]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    emb = feature_hash_vectors(spark, str(d)).select(
        F.col("doc_id").alias("vec_id"), F.col("fh").alias("embedding")
    )
    top = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])] == [1, 2]
