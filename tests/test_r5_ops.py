"""Round-5 operators: quality-aware survivors, incremental dedup,
LSH calibration, threshold sweep, ANN recall eval, frame sampling,
inter-event gap stats.

Same contract as test_r4_ops: (a) semantic check vs an independent
reference, (b) determinism / partition-invariance, (c) plan shape
where the 100 TB story depends on it.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rustic_witcher_spark.operators import multimodal, quality
from rustic_witcher_spark.operators.dedup import (
    incremental_dedup_flags,
    lsh_calibration,
    minhash_lsh_candidates,
    quality_survivors,
)

# ------------------------------------------------------- quality survivors


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_survivors_picks_best_not_first(spark):
    df = _docs(
        spark,
        [
            (1, "shared words 99"),
            (2, "SHARED   WORDS 99"),  # same normalized text as 1
            (3, "shared words clean"),
            (9, "unique doc"),
        ],
    )
    out = quality_survivors(df, "text", "doc_id", quality.alpha_word_fraction(F.col("text")))
    got = {r["doc_id"]: (r["n_dups"], r["quality_score"]) for r in out.collect()}
    # 1 and 2 tie on score (same normalized text) -> lowest id wins
    assert 1 in got and got[1][0] == 2
    assert 2 not in got
    assert got[3][0] == 1 and got[9][0] == 1


def test_quality_survivors_score_orders_within_group(spark):
    # same normalized digest is impossible for different texts, so build
    # the score contrast across groups via n_dups bookkeeping instead:
    # survivors keep every original column.
    df = _docs(spark, [(5, "a b c"), (6, "A  B   C"), (7, "a b 9")])
    out = quality_survivors(df, "text", "doc_id", quality.alpha_word_fraction(F.col("text")))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {5, 7}
    assert rows[5]["n_dups"] == 2
    assert rows[5]["quality_score"] == 1.0
    assert rows[7]["quality_score"] < 1.0


def test_quality_survivors_partition_invariant(spark):
    rows = [(i, f"text {i % 10} filler") for i in range(200)]
    df = _docs(spark, rows)
    score = quality.alpha_word_fraction(F.col("text"))
    a = sorted(r["doc_id"] for r in quality_survivors(df.coalesce(1), "text", "doc_id", score).collect())
    b = sorted(r["doc_id"] for r in quality_survivors(df.repartition(16), "text", "doc_id", score).collect())
    assert a == b and len(a) == 10


# ------------------------------------------------------- incremental dedup


def test_incremental_flags_exact_and_near(spark):
    corpus = [(i, f"corpus document number {i} with several stable words") for i in range(20)]
    batch = [
        (100, "corpus document number 5 with several stable words"),  # exact dup of 5
        (101, "corpus document number 7 with several stable wordz"),  # near dup of 7
        (102, "completely different text about nothing shared at all here"),
    ]
    df = _docs(spark, corpus + batch)
    out = incremental_dedup_flags(df, "text", "doc_id", F.col("doc_id") >= 100, seed=42)
    got = {r["doc_id"]: (r["exact_dup"], r["near_dup"]) for r in out.collect()}
    assert set(got) == {100, 101, 102}
    assert got[100] == (True, True)  # exact implies banding match too
    assert got[101][0] is False and got[101][1] is True
    assert got[102] == (False, False)


def test_incremental_flags_partition_invariant(spark):
    rows = [(i, f"doc {i % 30} words repeated here") for i in range(300)]
    df = _docs(spark, rows)
    new = F.col("doc_id") >= 250
    a = sorted(map(tuple, incremental_dedup_flags(df.coalesce(1), "text", "doc_id", new).collect()))
    b = sorted(map(tuple, incremental_dedup_flags(df.repartition(16), "text", "doc_id", new).collect()))
    assert a == b and len(a) == 50


def test_incremental_near_dup_matches_lsh_candidate_pairs(spark, sf_dir):
    """Incremental ``near_dup`` and the batch candidate generator bucket
    on one band format: a batch doc is flagged exactly when an uncapped
    ``minhash_lsh_candidates`` pair joins it to a corpus doc."""
    path = Path(sf_dir).parent / "sf0.01" / "documents.parquet"
    if not path.exists():
        pytest.skip(f"no {path}")
    docs = spark.read.parquet(str(path)).filter(F.col("text").isNotNull())
    new = lambda i: i % 10 >= 8  # noqa: E731 — the registry's batch split
    flags = incremental_dedup_flags(docs, "text", "doc_id", new(F.col("doc_id")), num_perm=32, bands=8)
    pairs = minhash_lsh_candidates(docs, "text", "doc_id", num_perm=32, bands=8, max_bucket_size=1 << 40)
    want = {
        a if new(a) else b
        for a, b in ((r["id_a"], r["id_b"]) for r in pairs.collect())
        if new(a) != new(b)
    }
    got = {r["doc_id"] for r in flags.collect() if r["near_dup"]}
    assert want and got == want


def test_incremental_flags_materialize_keyed_identical(spark):
    """materialize_keyed only cuts the keyed projection's lineage —
    flags must be bit-identical with it on and off (r13 optimization:
    the five keyed consumers stop re-running the MinHash kernel)."""
    rows = [(i, f"doc {i % 13} body words here") for i in range(80)]
    df = _docs(spark, rows)
    new = F.col("doc_id") >= 60
    a = sorted(map(tuple, incremental_dedup_flags(df, "text", "doc_id", new).collect()))
    b = sorted(
        map(
            tuple,
            incremental_dedup_flags(df, "text", "doc_id", new, materialize_keyed=True).collect(),
        )
    )
    assert a == b and len(a) == 20


def test_incremental_flags_no_corpus_self_pairs(spark):
    # output contains ONLY batch rows — the corpus is never self-joined
    df = _docs(spark, [(i, f"doc {i}") for i in range(10)])
    out = incremental_dedup_flags(df, "text", "doc_id", F.col("doc_id") >= 8)
    assert sorted(r["doc_id"] for r in out.collect()) == [8, 9]


# --------------------------------------------------------- LSH calibration


def test_lsh_calibration_exact_for_identical_docs(spark):
    df = _docs(
        spark,
        [
            (1, "one two three four five six seven"),
            (2, "one two three four five six seven"),
            (3, "totally different words nothing shared whatsoever okay"),
        ],
    )
    out = lsh_calibration(df, "text", "doc_id", seed=42).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r["est_jaccard"] == 1.0 and r["exact_jaccard"] == 1.0 and r["abs_err"] == 0.0


def test_lsh_calibration_error_bounded(spark):
    # est and exact are both in [0,1]; abs_err consistent with them
    rows = [(i, f"shared prefix words {i % 4} tail tokens here now") for i in range(40)]
    out = lsh_calibration(_docs(spark, rows), "text", "doc_id", seed=42).collect()
    assert out, "calibration produced no candidate pairs"
    for r in out:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert abs(r["abs_err"] - round(abs(r["est_jaccard"] - r["exact_jaccard"]), 4)) <= 1e-3


# ----------------------------------------------------------- threshold sweep


def test_threshold_sweep_monotone_and_total(spark):
    rows = [(i, ("clean words only " if i % 2 else f"d1gits {i} here ") * 3) for i in range(100)]
    out = quality.threshold_sweep(_docs(spark, rows), "text", [0.0, 0.3, 0.6, 0.9]).collect()
    by_th = {r["threshold"]: r for r in out}
    assert by_th[0.0]["n_docs"] == 100  # everything scores >= 0
    docs = [by_th[t]["n_docs"] for t in (0.0, 0.3, 0.6, 0.9)]
    toks = [by_th[t]["n_tokens"] for t in (0.0, 0.3, 0.6, 0.9)]
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)


def test_threshold_sweep_single_shuffle_plan(spark):
    df = _docs(spark, [(1, "a b"), (2, "c d")])
    plan = (
        quality.threshold_sweep(df, "text", [0.0, 0.5])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one aggregate exchange + the orderBy's range exchange — no join
    assert "Join" not in plan and "CartesianProduct" not in plan


# ------------------------------------------------------------ frame sampling


def test_frame_sample_counts_and_digests(spark):
    df = spark.createDataFrame(
        [(1, b"\xff\xd8\xff\xe0abc"), (2, b"\x89PNG")], "doc_id long, media binary"
    )
    out = multimodal.frame_sample_stub(
        df, "media", every_ms=500, digest_fn=multimodal.hex_chain_frame_digest
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # n_frames = 1 + len(bytes) % 4
    assert len(by_doc[1]) == 1 + (7 % 4)
    assert len(by_doc[2]) == 1 + (4 % 4)
    f0 = sorted(by_doc[1], key=lambda r: r["frame_index"])[0]
    expect = hashlib.md5((b"\xff\xd8\xff\xe0abc".hex() + "00").encode()).hexdigest().encode()
    assert bytes(f0["frame"]) == expect
    assert f0["frame_ts_ms"] == 0
    assert sorted(r["frame_ts_ms"] for r in by_doc[1]) == [0, 500, 1000, 1500]


def test_frame_sample_default_digest_raw_bytes(spark):
    df = spark.createDataFrame([(1, b"xyz")], "doc_id long, media binary")
    out = multimodal.frame_sample_stub(df, "media").collect()
    assert bytes(out[0]["frame"]) == hashlib.md5(b"xyz" + b"\x00").digest()


# ------------------------------------------------------------- dwell stats


def test_user_dwell_stats_manual(spark, sf_dir):
    from rustic_witcher_spark.queries import q_user_dwell_stats

    out = {r["user_id"]: r for r in q_user_dwell_stats(spark, sf_dir).collect()}
    # independent reference via plain python over the parquet
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_ms(ts) FROM read_parquet('{sf_dir}/events.parquet') ORDER BY user_id, ts, event_id"
    ).fetchall()
    gaps: dict[int, list[int]] = {}
    counts: dict[int, int] = {}
    prev: dict[int, int] = {}
    for uid, ms in rows:
        counts[uid] = counts.get(uid, 0) + 1
        if uid in prev:
            gaps.setdefault(uid, []).append(ms - prev[uid])
        prev[uid] = ms
    for uid, r in out.items():
        assert r["n_events"] == counts[uid]
        g = gaps.get(uid, [])
        assert r["n_gaps"] == len(g)
        if g:
            assert abs(r["avg_gap_ms"] - round(sum(g) / len(g), 2)) < 0.01
            assert r["max_gap_ms"] == max(g)


def test_user_dwell_single_shuffle(spark, sf_dir):
    from rustic_witcher_spark.queries import q_user_dwell_stats

    plan = q_user_dwell_stats(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # the lag window and the groupBy share hashpartitioning(user_id):
    # exactly one shuffle exchange in the plan
    assert plan.count("Exchange hashpartitioning") == 1


# ------------------------------------------------------------- ANN recall


def test_ann_recall_eval_bounds(spark, sf_dir):
    from rustic_witcher_spark.queries import q_ann_recall_eval

    rows = q_ann_recall_eval(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_hits"] <= 5
        assert abs(r["recall"] - round(r["n_hits"] / 5.0, 4)) < 1e-9
