"""North-star operators: dedup, similarity, text analysis, multimodal,
windowed events. Mirrors the reference's tiny-DataFrame unit style plus
scale-shape assertions."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rustic_witcher_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat again and again"),  # near dup
    (4, "completely different text about database engines and query plans"),
    (5, "  The QUICK  brown fox jumps over the lazy dog again and again "),  # dup of 1 modulo norm
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs, "text", "doc_id").collect())
    assert kept == [1, 3, 4]  # 2 and 5 collapse into 1 (lowest id wins)


def test_minhash_finds_near_dups(spark, docs):
    cands = dedup.minhash_lsh_candidates(docs, "text", "doc_id", num_perm=32, bands=16)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cands.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical texts: all bands agree
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0  # normalization catches case/space
    # near-dup 1-3 shares most 3-gram shingles -> high estimate
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.3
    assert (1, 4) not in pairs  # unrelated text never becomes a candidate


def test_jaccard_verification(spark, docs):
    cands = dedup.minhash_lsh_candidates(docs, "text", "doc_id", num_perm=32, bands=16)
    verified = dedup.verify_candidates_jaccard(cands, docs, "text", "doc_id", threshold=0.9)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) not in pairs or pairs[(1, 3)] >= 0.9


def test_simhash_identical_for_dups(spark, docs):
    h = {r["doc_id"]: r["sh"] for r in docs.select("doc_id", dedup.simhash64(F.col("text")).alias("sh")).collect()}
    assert h[1] == h[2] == h[5]
    assert h[1] != h[4]
    # near-dup: small hamming distance
    ham = bin(h[1] ^ h[3]).count("1")
    assert ham <= 12


def test_simhash_near_duplicates_op(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.simhash_near_duplicates(docs, "text", "doc_id").collect()}
    assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs


def test_simhash_banded_equals_bruteforce(spark, docs):
    """The d+1-band pigeonhole blocking must find EXACTLY the pairs the
    O(n²) scan finds — banding is lossless for hamming search."""
    d = 3
    h = {r["doc_id"]: r["sh"] for r in docs.select("doc_id", dedup.simhash64(F.col("text")).alias("sh")).collect()}
    ids = sorted(h)
    brute = {
        (a, b, bin(h[a] ^ h[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(h[a] ^ h[b]).count("1") <= d
    }
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_duplicates(docs, "text", "doc_id", max_hamming=d).collect()
    }
    assert banded == brute and brute  # non-trivial: dups 1/2/5 qualify


def test_ngram_jaccard_scalar(spark):
    df = spark.createDataFrame([("abcdef", "abcdef"), ("abcdef", "zzzzzz"), ("", "")], ["a", "b"])
    vals = [r["j"] for r in df.select(dedup.ngram_jaccard(F.col("a"), F.col("b"), 3).alias("j")).collect()]
    assert vals[0] == 1.0 and vals[1] == 0.0 and vals[2] == 1.0  # empty==empty by convention


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [("It's 42 degrees, really!",), ("",), (None,), ("hello",)], ["t"]
    )
    out = [r["n"] for r in df.select(text.bpe_token_count(F.col("t")).alias("n")).collect()]
    # normalized: "it's 42 degrees, really!" ->
    # [it]['s][ 42][ degrees][,][ really][!] = 7
    assert out == [7, 0, 0, 1]


def test_ivf_recall_on_planted_dup(spark):
    import random

    random.seed(13)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(100)]
    rows.append((999, list(rows[7][1])))  # exact copy of vec 7
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.ivf_topk(df, df.filter(F.col("vec_id") == 7), k=3, n_clusters=4, nprobe=1, iters=1)
    top1 = [r for r in out.collect() if r["rank"] == 1]
    # identical vector -> identical nearest centroid -> guaranteed recall
    assert top1 and top1[0]["neighbor_id"] == 999 and abs(top1[0]["sim"] - 1.0) < 1e-6


def test_ivf_deterministic_across_runs(spark):
    import random

    random.seed(17)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple, similarity.ivf_topk(df, q, k=3, n_clusters=4, iters=1).collect()))
    b = sorted(map(tuple, similarity.ivf_topk(df, q, k=3, n_clusters=4, iters=1).collect()))
    assert a == b and len(a) == 9


def test_ivf_centroid_count_and_refinement(spark):
    import random

    random.seed(19)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c0 = similarity.ivf_centroids(df, 5, iters=0)
    c1 = similarity.ivf_centroids(df, 5, iters=1)
    assert c0.count() <= 5 and c1.count() <= 5
    # refinement moves centroids off the seed vectors
    s0 = {tuple(round(v, 6) for v in r["cvec"]) for r in c0.collect()}
    s1 = {tuple(round(v, 6) for v in r["cvec"]) for r in c1.collect()}
    assert s0 != s1


def test_cosine_near_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0]),  # same direction as 1 -> sim 1.0
        (3, [0.0, 1.0, 0.0]),  # orthogonal
        (4, [1.0, 0.1, 0.0]),  # close to 1
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r["id_a"], r["id_b"]): r["sim"] for r in similarity.cosine_near_dup_pairs(df, 0.9).collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 4) in got and got[(1, 4)] > 0.99
    assert all(k[0] < k[1] for k in got)
    assert not any(3 in k for k in got)
    # a zero vector has no direction: it pairs with nothing, even at
    # threshold 0 (the top-k contract's drop-at-the-boundary rule)
    zero = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])], ["vec_id", "embedding"])
    got0 = {(r["id_a"], r["id_b"]): r["sim"] for r in similarity.cosine_near_dup_pairs(zero, 0.0).collect()}
    assert got0 == {(1, 3): 0.707107}


# ---------------------------------------------------------------- similarity


def test_cosine_expression(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], ["a", "b"])
    vals = [r["c"] for r in df.select(similarity.cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(vals[0]) < 1e-12
    assert abs(vals[1] - 1.0) < 1e-12


def test_brute_force_topk(spark):
    import random

    random.seed(7)
    rows = [(i, [random.random() for _ in range(8)]) for i in range(50)]
    # plant a known near-neighbor of vec 0
    rows.append((99, [v * 2 for v in rows[0][1]]))  # same direction, scaled -> cosine 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3)
    top = sorted(out.collect(), key=lambda r: r["rank"])
    assert top[0]["neighbor_id"] == 99 and abs(top[0]["sim"] - 1.0) < 1e-6
    assert all(r["query_id"] == 0 for r in top)
    # exact: brute force scans everything, ranks are dense 1..k
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_lsh_topk_recall_on_planted_dup(spark):
    import random

    random.seed(11)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(100)]
    rows.append((999, list(rows[5][1])))  # exact copy of vec 5
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.lsh_topk(df, df.filter(F.col("vec_id") == 5), dim=16, k=3, n_planes=8)
    top1 = [r for r in out.collect() if r["rank"] == 1]
    # identical vector has identical signature -> always in the same bucket
    assert top1 and top1[0]["neighbor_id"] == 999


# -------------------------------------------------------------------- text


def test_token_count_and_stats(spark):
    df = spark.createDataFrame([("the quick fox",), ("",), (None,), ("hello, world!!!",)], ["t"])
    out = df.select(
        text.token_count(F.col("t")).alias("n"),
        text.punct_ratio(F.col("t")).alias("p"),
        text.stopword_ratio(F.col("t")).alias("s"),
    ).collect()
    assert out[0]["n"] == 3 and abs(out[0]["s"] - 1 / 3) < 1e-6
    assert out[1]["n"] == 0 and out[1]["p"] == 0.0
    assert out[2]["n"] == 0
    assert out[3]["n"] == 2 and out[3]["p"] > 0.2


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in that house",),
            ("der hund und die katze ist nicht hier",),
            ("le chat est une belle creature que personne",),
            ("xyz qqq zzz",),
        ],
        ["t"],
    )
    out = [r["lang"] for r in df.select(text.lang_id(F.col("t")).alias("lang")).collect()]
    assert out == ["en", "de", "fr", "und"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], ["t"])
    fps = [r["fp"] for r in df.select(dedup.text_digest(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1]


# --------------------------------------------------------------- multimodal

JPEG = b"\xff\xd8\xff\xe0" + b"fakejpegbytes" * 10
PNG = b"\x89PNG\r\n\x1a\n" + b"fakepng" * 5
WAV = b"RIFF" + b"fakewav" * 8


def test_media_metadata_sniffing(spark):
    df = spark.createDataFrame([(1, bytearray(JPEG)), (2, bytearray(PNG)), (3, bytearray(WAV)), (4, bytearray(b"??"))], ["id", "media"])
    out = {r["id"]: (r["media_format"], r["media_type"], r["media_size"]) for r in multimodal.attach_media_metadata(df).collect()}
    assert out[1] == ("jpeg", "image", len(JPEG))
    assert out[2] == ("png", "image", len(PNG))
    assert out[3] == ("wav", "audio", len(WAV))
    assert out[4][0] == "unknown"


def test_feature_extraction_deterministic_across_partitioning(spark):
    df = spark.createDataFrame([(i, bytearray(JPEG + bytes([i]))) for i in range(20)], ["id", "media"])
    one = {r["id"]: r["features"] for r in multimodal.extract_features(df.coalesce(1)).collect()}
    many = {r["id"]: r["features"] for r in multimodal.extract_features(df.repartition(8)).collect()}
    assert one == many
    assert len(one[0]) == 8 and all(0 <= v < 1 for v in one[0])


def test_frame_sampling_explodes_rows(spark):
    df = spark.createDataFrame([(1, bytearray(b"\x00\x00\x00\x18video-bytes-xx"))], ["id", "media"])
    frames = multimodal.frame_sample_stub(df).collect()
    assert len(frames) >= 1
    assert [f["frame_index"] for f in frames] == list(range(len(frames)))
    assert all(f["id"] == 1 and f["frame"] is not None for f in frames)


def test_real_decoder_is_gated():
    with pytest.raises(multimodal.DecoderUnavailable):
        multimodal.real_decode_image(JPEG)


def test_near_dup_methods_agree(spark):
    """The block kernel and the registered DuckDB twin
    (``SQL_EMBEDDING_NEAR_DUPS``, threshold 0.4) emit the same pairs
    with the same 6-dp sims, exactly. The fixture carries a cosine on an
    exact .5 boundary: (1, 0, …) vs (65, 110, 7, 3, 1, 0, …) has
    |b| = 128, so the cosine is 0.5078125, which rounds half away from
    zero to 0.507813 (half-to-even would give 0.507812)."""
    import random

    import duckdb
    import pandas as pd

    from rustic_witcher_spark.queries import SQL_EMBEDDING_NEAR_DUPS

    random.seed(23)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(80)]
    rows += [(1000 + i, [v * 1.001 for v in rows[i][1]]) for i in range(10)]  # planted dups
    rows += [(2000, [1.0] + [0.0] * 15), (2001, [65.0, 110.0, 7.0, 3.0, 1.0] + [0.0] * 11)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    block = {(r["id_a"], r["id_b"]): r["sim"] for r in similarity.cosine_near_dup_pairs(df, 0.4, n_blocks=5).collect()}
    con = duckdb.connect()
    con.register("embeddings", pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    twin = {(a, b): sim for a, b, sim in con.execute(SQL_EMBEDDING_NEAR_DUPS).fetchall()}
    assert block == twin
    assert block[(2000, 2001)] == 0.507813
    assert all(a < b for a, b in block)
    assert all((i, 1000 + i) in block for i in range(10))  # the planted dups are found


def test_near_dup_block_no_collect_in_plan(spark):
    """The default path must not pull the corpus through the driver."""
    import random

    random.seed(31)
    rows = [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # building the plan must not trigger a driver-side toPandas/collect:
    # no Spark job may run during construction
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = similarity.cosine_near_dup_pairs(df, 0.5)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "plan construction ran driver-side jobs"
    assert out.count() >= 0  # and it executes


def test_lsh_degenerate_bucket_capped(spark):
    """10k identical docs must not OOM one task or enumerate O(n²)
    pairs: the per-bucket cap bounds members before the collect, and
    the members kept are the lowest ids (0..63), in both operators."""
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit("the same boilerplate text every time").alias("text")
    )
    want = {(a, b) for a in range(64) for b in range(a + 1, 64)}
    out = dedup.minhash_lsh_candidates(df, "text", "doc_id", num_perm=16, bands=4, max_bucket_size=64)
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == want
    sh = dedup.simhash_near_duplicates(df, "text", "doc_id", max_hamming=3, max_bucket_size=64)
    assert {(r["id_a"], r["id_b"]) for r in sh.collect()} == want


def test_lsh_cap_does_not_change_small_buckets(spark, sf_dir):
    """On real (non-degenerate) data the cap is invisible: default and
    huge-cap runs produce identical candidates."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    a = sorted(map(tuple, dedup.minhash_lsh_candidates(df, "text", "doc_id", num_perm=16, bands=4).collect()))
    b = sorted(
        map(tuple, dedup.minhash_lsh_candidates(df, "text", "doc_id", num_perm=16, bands=4, max_bucket_size=10**9).collect())
    )
    assert a == b


def test_ivf_recall_floor_vs_bruteforce(spark, sf_dir):
    """Quantitative gate for the one approximate operator with no
    oracle: IVF recall@5 vs brute force must clear a floor on the
    embeddings fixture. The fixture vectors are near-uniform (worst case
    for IVF — recall tracks the scanned fraction nprobe/n_clusters;
    real embedding corpora cluster far better): nprobe=3 of 8 lists
    gives 0.62 here, nprobe=4 gives 0.84."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.ivf_topk(emb, q, k=5, n_clusters=8, nprobe=3, iters=1)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, f"IVF recall@5 = {recall:.2f} < 0.6"


def test_ivf_persisted_index_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted-index query path must read ONLY the probed lists:
    cid filter appears as PartitionFilters and results match the
    in-memory IVF with the same parameters."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf_idx")
    similarity.ivf_write_index(emb, idx, n_clusters=8, iters=1)
    q = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivf_query_index(spark, idx, q, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters")[1][:200] if "PartitionFilters" in plan else ""
    assert "cid" in seg, plan[:2000]
    # same answer as the in-memory formulation with identical params
    mem = similarity.ivf_topk(emb, q, k=3, n_clusters=8, nprobe=2, iters=1)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, mem.collect()))


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """The documented 100 TB path for distribution stats: one-pass
    bounded-memory approx_percentile must stay within 5% of exact."""
    from rustic_witcher_spark.sources.parquet import read_events

    ev = read_events(spark, sf_dir)
    row = ev.agg(
        F.expr("percentile(value, 0.9)").alias("exact"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_cli_ann_index_and_query_round_trip(spark, sf_dir, tmp_path, capsys):
    """ann-index builds the cid-partitioned IVF layout; ann-query probes
    it and lands exact top-k parquet — matching the operator API run
    directly on the same inputs."""
    import json

    from rustic_witcher_spark import cli
    from rustic_witcher_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = str(tmp_path / "emb.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "idx")
    assert cli.main([
        "ann-index", "--source", src, "--target", idx, "--n-clusters", "8",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["indexed_vectors"] == emb.count()

    qsrc = str(tmp_path / "q.parquet")
    q = emb.limit(3)
    q.write.parquet(qsrc)
    out = str(tmp_path / "hits")
    assert cli.main([
        "ann-query", "--index", idx, "--queries", qsrc, "--target", out,
        "--k", "3", "--nprobe", "2",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["queries"] == 3 and rep["result_rows"] <= 9
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.ivf_query_index(spark, idx, q, k=3, nprobe=2).collect()
    }
    assert got == want and len(got) > 0


def test_cli_novelty_oneshot_and_incremental(spark, tmp_path, capsys):
    """The novelty CLI's one-shot mode matches the shared operator;
    incremental mode routes through the streaming appender and
    auto-advances the batch cursor."""
    import json

    from rustic_witcher_spark import cli
    from rustic_witcher_spark.operators.dedup import novelty_scores

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"), (1, "alpha beta gamma delta epsilon"),
         (2, "completely different words here now")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "scores")
    assert cli.main(["novelty", "--input", src, "--target", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "one-shot" and rep["scored_docs"] == 3
    got = {r.doc_id: r.novelty for r in spark.read.parquet(out).collect()}
    want = {r.doc_id: r.novelty for r in novelty_scores(docs, "text", "doc_id").collect()}
    assert got == want and got[1] == 0.0

    idx = str(tmp_path / "idx")
    assert cli.main(["novelty", "--input", src, "--index", idx]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "incremental" and rep["batch"] == 0 and rep["ran"]
    # a second run is the NEXT batch (cursor auto-advance), re-scoring
    # the same docs against the now-populated index: nothing is novel
    assert cli.main(["novelty", "--input", src, "--index", idx]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["batch"] == 1 and rep["ran"]
    from pyspark.sql import functions as F

    from rustic_witcher_spark.streaming.novelty import read_novelty_scores

    b1 = read_novelty_scores(spark, idx).filter(F.col("batch") == 1)
    assert all(r.n_novel == 0 for r in b1.collect())


def test_cli_containment_dedup(spark, tmp_path, capsys):
    """The containment CLI flags the doc-in-doc pair the operator
    flags, through the parquet round-trip."""
    import json

    from rustic_witcher_spark import cli

    a = "the quick brown fox jumps over the lazy dog by the river"
    b = "unrelated preamble sentence first " + a + " and then a long unrelated tail of filler words continuing onward for dilution purposes"
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, "nothing in common with either text")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "pairs")
    assert cli.main(["containment-dedup", "--input", src, "--target", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["flagged_pairs"] >= 1
    pairs = {(r.id_a, r.id_b): r for r in spark.read.parquet(out).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)].cont_a_in_b == 1.0
    assert not any(2 in p for p in pairs)
