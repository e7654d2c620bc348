"""Round-10 additions: the list-typed-column gate rejection (the r9
feature_hash_embed lesson — the local gate must fail what the driver
fails), the feature-hash string-serialization convention, and the new
steady-state ANN / incremental-novelty registry entries."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent

_spec = importlib.util.spec_from_file_location(
    "compare_oracle", REPO / "scripts" / "compare_oracle.py"
)
compare_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(compare_oracle)

container_cols = compare_oracle.container_cols


def test_registry_hash_is_pinned():
    """Entry names and order plus every oracle's SQL text, as one value
    (``compare_oracle.registry_hash``). A change that moves it must
    update this pin and record the old and new value in CHANGES.md."""
    assert compare_oracle.registry_hash() == "ce1475661871e6a0 4542027738417091"


# ---------------------------------------------------------------------------
# gate self-tests: list-typed result columns must be REJECTED
# ---------------------------------------------------------------------------


def test_gate_rejects_list_typed_columns():
    """The r9 red's root cause: the driver canonicalizer dies on
    container cells (TypeError: unhashable type: 'list'). The local
    gate must flag the SCHEMA, not normalize through it — a deliberate
    array-returning frame is non-canonicalizable."""
    pdf = pd.DataFrame({"doc_id": [1, 2], "fh": [[0.1, 0.2], [0.3, 0.4]]})
    assert container_cols(pdf) == ["fh"]
    # numpy arrays (what Spark toPandas actually yields) too
    pdf2 = pd.DataFrame({"k": [1], "v": [np.array([1.0, 2.0])]})
    assert container_cols(pdf2) == ["v"]


def test_gate_rejection_scans_past_leading_nulls():
    """A container column can lead with NULLs — a head()-only scan
    would miss it and burn a driver slot anyway."""
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": [None, None, [1.0]]})
    assert container_cols(pdf) == ["v"]


def test_gate_accepts_scalar_frames():
    pdf = pd.DataFrame({"k": ["a", None], "n": [1, 2], "x": [1.5, float("nan")]})
    assert container_cols(pdf) == []


def test_containment_salted_cap_keeps_exact_lowest_ids(spark):
    """The r10 salted two-level posting cap must keep EXACTLY the
    ``max_posting`` lowest-id members per gram — identical semantics to
    the r9 single-window form, just with bounded task size. Pin by
    comparing capped vs uncapped output on a corpus with one
    boilerplate gram owned by many docs."""
    from rustic_witcher_spark.operators import dedup

    # 40 docs all sharing one boilerplate sentence (one hot gram set),
    # plus per-doc unique content so docs aren't wholesale identical
    rows = [(i, f"common boilerplate legal terms apply here uniq{i} tail{i * 7}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.containment_near_duplicates(docs, "text", "doc_id", max_posting=5)
    # every surviving doc id in capped pairs must be among the 5
    # lowest ids (the hot grams' posting lists keep ids 0..4)
    ids = {r["id_a"] for r in capped.collect()} | {r["id_b"] for r in capped.select("id_b").collect()}
    assert ids and ids <= set(range(5)), ids
    # and the capped pair set over the low-id docs matches the uncapped
    # operator restricted to those docs (lowest-id cap ≡ subset filter
    # when every gram's owners are id-ordered the same way)
    low = dedup.containment_near_duplicates(
        docs.filter("doc_id < 5"), "text", "doc_id", max_posting=None
    )
    a = sorted((r["id_a"], r["id_b"], r["n_inter"]) for r in capped.collect())
    b = sorted((r["id_a"], r["id_b"], r["n_inter"]) for r in low.collect())
    assert a == b


def test_pq_index_query_reuses_cached_index(spark):
    """The steady-state contract: the second invocation must NOT
    rebuild the persisted index (the whole point of the entry is
    grading the query shape, not the build). Pin via the codes
    directory's _SUCCESS mtime across two calls, and result equality
    with the composed one-shot face (same geometry/seed/probes)."""
    import os

    from rustic_witcher_spark.queries import _pq_index_dir, q_ivfpq_ann_topk, q_pq_index_query

    sf = "/root/testdata/sf0.001"
    a = q_pq_index_query(spark, sf).collect()
    marker = os.path.join(_pq_index_dir(sf), "codes", "_SUCCESS")
    mt1 = os.path.getmtime(marker)
    b = q_pq_index_query(spark, sf).collect()
    assert os.path.getmtime(marker) == mt1, "index rebuilt on second call"
    key = lambda rows: sorted((r["query_id"], r["neighbor_id"], r["rank"], r["sim"]) for r in rows)
    assert key(a) == key(b)
    # persisted-index path ≡ the composed in-memory ivfpq face
    c = q_ivfpq_ann_topk(spark, sf).collect()
    assert key(a) == key(c)


def test_novelty_incremental_routes_through_streaming_index(spark):
    """Meaning pin: a batch doc whose grams all exist in the standing
    corpus scores novelty 0; a batch doc with entirely fresh content
    scores 1; ties within the batch go to the lower doc_id (the
    processing-order/first-owner semantic of streaming/novelty.py)."""
    import tempfile

    from rustic_witcher_spark.queries import q_novelty_incremental

    rows = [
        # standing corpus: doc_id % 10 < 8
        (0, "alpha beta gamma delta epsilon"),
        (1, "zeta eta theta iota kappa"),
        # batch: doc_id % 10 >= 8
        (8, "alpha beta gamma delta epsilon"),          # all seen -> 0
        (18, "fresh words never appear before now ok"), # all new -> 1
        (28, "fresh words never appear before now ok"), # dup of 18 -> 0
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string").write.mode("overwrite").parquet(
        d + "/documents.parquet"
    )
    out = {r["doc_id"]: r["novelty"] for r in q_novelty_incremental(spark, d).collect()}
    assert out[8] == 0.0
    assert out[18] == 1.0
    assert out[28] == 0.0


def test_embedding_int8_quant_semantics(spark, tmp_path):
    """Calibration meaning pins: scale = per-dim absmax; the absmax
    element always saturates (floor(127 + 0.5) = 127, counted in
    n_sat); an all-zero dimension yields scale 0 / zero error / zero
    saturation instead of a division blow-up; reconstruction error is
    bounded by scale/254 + epsilon (symmetric int8 step/2)."""
    from rustic_witcher_spark.queries import q_embedding_int8_quant

    rows = [
        (0, [2.0, 0.0, -4.0, 0.5]),
        (1, [-1.0, 0.0, 2.0, 0.25]),
        (2, [0.5, 0.0, 1.0, -0.125]),
    ]
    d = tmp_path / "int8"
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.mode(
        "overwrite"
    ).parquet(str(d / "embeddings.parquet"))
    out = {r["dim"]: r for r in q_embedding_int8_quant(spark, str(d)).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0]["scale"] == 2.0 and out[2]["scale"] == 4.0 and out[3]["scale"] == 0.5
    assert out[1]["scale"] == 0.0 and out[1]["mse_nano"] == 0 and out[1]["n_sat"] == 0
    for dim in (0, 2, 3):
        assert out[dim]["n_sat"] >= 1, dim  # the absmax element saturates
        # 5e-7 slack: max_abs_err is reported rounded to 6 dp
        assert out[dim]["max_abs_err"] <= out[dim]["scale"] / 254 + 5e-7


def test_ann_incremental_finds_delta_vectors(spark, tmp_path):
    """The appender contract end-to-end: a vector that arrives in the
    DELTA batch (vec_id % 10 >= 8) must be retrievable by a query —
    encoded against the frozen base codebook and unioned into the
    pruned scan. Build a corpus where the delta holds the query's
    exact duplicate; it must rank first."""
    import numpy as np

    from rustic_witcher_spark.queries import q_ann_incremental

    rng = np.random.RandomState(7)
    vecs = {i: (rng.rand(64) * 2 - 1).tolist() for i in range(20)}
    vecs[18] = vecs[0]  # delta member (18 % 10 >= 8) duplicates query 0
    d = tmp_path / "anninc"
    spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()], "vec_id long, embedding array<double>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    out = q_ann_incremental(spark, str(d)).collect()
    top0 = {r["rank"]: r["neighbor_id"] for r in out if r["query_id"] == 0}
    assert top0, "query 0 returned no neighbors"
    assert top0[1] == 18, top0  # the delta-resident duplicate wins rank 1


def test_media_incremental_flags_batch_against_corpus_only(spark, tmp_path):
    """Batch-vs-index meaning pins: a batch doc whose media bytes
    duplicate a CORPUS doc flags (exact, near); a batch doc duplicating
    only ANOTHER BATCH doc flags (False, False) — the incremental path
    never bands the batch against itself; unique content flags clean;
    NULL text (NULL fingerprint) flags clean."""
    from rustic_witcher_spark.queries import q_media_incremental

    rows = [
        # corpus (doc_id % 10 < 8); texts long enough that the toy
        # dHash can't collide across different content (short strings
        # populate few of the 64 segments and DO collide)
        (2, "shared corpus content here with some longer distinctive words"),
        (3, "other corpus content entirely different phrasing and length!!"),
        # batch (doc_id % 10 >= 8)
        (18, "shared corpus content here with some longer distinctive words"),  # 18%4 == 2%4 → identical bytes
        (9, "batch only duplicate text that matches nothing in the corpus side at all"),
        (29, "batch only duplicate text that matches nothing in the corpus side at all"),  # 29%4 == 9%4
        (8, None),
    ]
    d = tmp_path / "mediainc"
    spark.createDataFrame(rows, "doc_id long, text string").write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    out = {r["doc_id"]: (r["exact_dup"], r["near_dup"]) for r in q_media_incremental(spark, str(d)).collect()}
    assert out[18] == (True, True)
    assert out[8] == (False, False)
    # 9 and 29 share identical media bytes but both live in the batch:
    # the incremental path never bands the batch against itself
    assert out[9] == (False, False) and out[29] == (False, False)


def _clustered_corpus(spark, tmp_path, n_clusters=4, per=10, dim=64, noise=0.2):
    """Tightly clustered vectors — the regime where residual
    quantization pays: within a list the residual energy is tiny."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.rand(n_clusters, dim) * 2 - 1
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + rng.randn(dim) * noise
            rows.append((vid, v.tolist(), c))
            vid += 1
    d = tmp_path / "resclu"
    spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int").write.mode(
        "overwrite"
    ).parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_residual_index_beats_raw_on_clustered_data(spark, tmp_path):
    """The reason residual IVF-PQ exists: same code budget, finer grid
    inside each list. On a clustered corpus, recall@5 vs brute force
    must be at least as good as the raw-vector index — and strictly
    better somewhere (the two indexes must not silently be the same
    path)."""
    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators import pq
    from rustic_witcher_spark.operators.similarity import brute_force_topk

    sf = _clustered_corpus(spark, tmp_path)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") % 17 == 0)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    got = {}
    for mode, residual in (("raw", False), ("res", True)):
        idx = str(tmp_path / f"idx_{mode}")
        pq.pq_write_index(
            emb, idx, n_subspaces=16, n_codes=32, dim=64,
            coarse_clusters=4, iters=1, residual=residual,
        )
        assert pq.index_is_residual(idx) is residual
        hits = pq.pq_query_index(spark, idx, queries, k=3, nprobe=4, n_subspaces=16, dim=64)
        got[mode] = {(r["query_id"], r["neighbor_id"]) for r in hits.collect()}
    recall_raw = len(got["raw"] & truth) / len(truth)
    recall_res = len(got["res"] & truth) / len(truth)
    # measured on this fixed corpus: raw 0.889, residual 1.0 — the
    # residual grid resolves within-cluster ordering raw codes blur
    assert recall_res > recall_raw, (recall_res, recall_raw)
    assert recall_res >= 0.95, recall_res


def test_ann_appender_encodes_residuals_against_residual_base(spark, tmp_path):
    """Streaming composition: appending to a RESIDUAL base index must
    residual-encode the delta (a raw encode against residual codebooks
    would silently garbage the scores). A delta twin of a base vector
    must come back as its rank-1 neighbor through query_with_delta."""
    import numpy as np

    from pyspark.sql import functions as F

    from rustic_witcher_spark.operators import pq
    from rustic_witcher_spark.streaming.ann_stream import ann_index_append_batch, query_with_delta

    sf = _clustered_corpus(spark, tmp_path)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 100)
    idx = str(tmp_path / "resbase")
    pq.pq_write_index(
        base, idx, n_subspaces=16, n_codes=16, dim=64, coarse_clusters=4, iters=1, residual=True
    )
    # delta: one exact twin of vec 3 under a fresh id
    twin = emb.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    delta = str(tmp_path / "resdelta")
    assert ann_index_append_batch(twin, 0, idx, delta)
    q = emb.filter(F.col("vec_id") == 3)
    out = query_with_delta(spark, idx, delta, q, k=3, nprobe=4).collect()
    ranks = {r["rank"]: r["neighbor_id"] for r in out}
    assert ranks[1] == 1003, ranks  # the residual-encoded delta twin wins


def test_registry_returns_no_container_columns(spark):
    """Structural sweep: EVERY registry entry's result schema must be
    canonicalizable by the driver — no ArrayType / MapType / StructType
    top-level columns anywhere. Schema-only (no execution), so the
    whole inventory checks in seconds; the class that shipped
    feature_hash_embed red cannot re-enter."""
    from pyspark.sql import types as T

    from rustic_witcher_spark.queries import build_registry

    from conftest import sweep_entries

    sf_dir = "/root/testdata/sf0.001"
    # schema-only, but entry construction still runs eager index/
    # checkpoint jobs for a few entries — overlap them (guide §2.6)
    results = sweep_entries(
        [(name, lambda fn=fn: fn(spark, sf_dir).schema) for name, (fn, _) in build_registry().items()]
    )
    bad = []
    for name, (schema, exc) in results.items():
        if exc is not None:
            raise exc
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, f"non-canonicalizable result columns: {bad}"

def test_cli_ann_index_residual_round_trip(spark, tmp_path, capsys):
    """ann-index --residual writes the marker; ann-query auto-detects
    the mode and matches pq_query_index run directly; --residual
    without PQ mode is a usage error."""
    from rustic_witcher_spark import cli
    from rustic_witcher_spark.operators import pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "emb.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "idx")
    assert cli.main([
        "ann-index", "--source", src, "--target", idx, "--n-clusters", "8",
        "--pq-subspaces", "16", "--pq-codes", "16", "--residual",
    ]) == 0
    capsys.readouterr()
    assert pq.index_is_residual(idx)
    qsrc = str(tmp_path / "q.parquet")
    q = emb.limit(3)
    q.write.parquet(qsrc)
    out = str(tmp_path / "hits")
    assert cli.main([
        "ann-query", "--index", idx, "--queries", qsrc, "--target", out,
        "--k", "3", "--nprobe", "2",
    ]) == 0
    capsys.readouterr()
    got = {(r.query_id, r.neighbor_id, r.rank) for r in spark.read.parquet(out).collect()}
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq.pq_query_index(spark, idx, q, k=3, nprobe=2).collect()
    }
    assert got == want and got
    assert cli.main(["ann-index", "--source", src, "--target", idx + "2", "--residual"]) == 2


# ---------------------------------------------------------------------------
# late r10: two-stage rerank ANN, interpolated bigram NLL, Zipf fit
# ---------------------------------------------------------------------------


def test_rerank_scores_are_exact_cosines(spark, tmp_path):
    """The two-stage query's final sims must be EXACT cosines of the
    raw vectors (quantization decides the shortlist, never the
    ordering): every (query, neighbor, sim) it returns must appear
    with the identical sim in the brute-force exact scorer."""
    from rustic_witcher_spark.operators import pq
    from rustic_witcher_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "idx")
    pq.pq_write_index(emb, idx, n_subspaces=16, n_codes=16, dim=64,
                      coarse_clusters=4, iters=1, seed=42)
    queries = emb.filter("vec_id < 3")
    got = pq.pq_query_index_rerank(
        spark, idx, queries, emb, k=5, shortlist_k=16, nprobe=2,
        n_subspaces=16, dim=64,
    ).collect()
    assert got, "rerank returned nothing"
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in brute_force_topk(emb, queries, k=80).collect()
    }
    for r in got:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["sim"]
    # per query: ranked strictly by exact sim desc (id asc on ties)
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["sim"], r["neighbor_id"]))
    for sims in by_q.values():
        assert sims == sorted(sims, key=lambda t: (-t[0], t[1]))


def test_rerank_fixes_adc_order_inversions(spark, tmp_path):
    """On a clustered corpus the ADC ordering inverts some near-tie
    pairs that the exact re-rank must restore: rerank top-1 == exact
    top-1 for every query whose true top-1 survives into the
    shortlist (with shortlist_k = corpus size it always does)."""
    from rustic_witcher_spark.operators import pq
    from rustic_witcher_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 64)) * 3
    rows = []
    for i in range(60):
        c = centers[i % 4] + rng.normal(size=64) * 0.05
        rows.append((i, [float(x) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "idx")
    pq.pq_write_index(emb, idx, n_subspaces=16, n_codes=16, dim=64,
                      coarse_clusters=4, iters=1, seed=42)
    queries = emb.filter("vec_id < 4")
    got = pq.pq_query_index_rerank(
        spark, idx, queries, emb, k=1, shortlist_k=60, nprobe=4,
        n_subspaces=16, dim=64,
    ).collect()
    want = {r["query_id"]: r["neighbor_id"]
            for r in brute_force_topk(emb, queries, k=1).collect()}
    assert {r["query_id"]: r["neighbor_id"] for r in got} == want


def test_bigram_nll_penalizes_unusual_word_order(spark):
    """Docs built from the corpus's dominant bigram score LOWER than a
    doc of the same tokens in reversed (corpus-rare) order — the
    word-order signal the unigram score cannot see."""
    from rustic_witcher_spark.operators.lm import bigram_logprob_score

    rows = [(i, "alpha beta gamma") for i in range(9)]
    rows.append((9, "gamma beta alpha"))  # same unigrams, reversed order
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["nll"] for r in bigram_logprob_score(d, "text", "doc_id").collect()}
    assert got[9] > got[0], got


def test_bigram_nll_drops_sub_bigram_docs(spark):
    from rustic_witcher_spark.operators.lm import bigram_logprob_score

    d = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    got = bigram_logprob_score(d, "text", "doc_id").collect()
    assert [r["doc_id"] for r in got] == [0]
    assert got[0]["n_bigrams"] == 1


def test_zipf_fit_recovers_exponent(spark, tmp_path):
    """A corpus whose term counts follow c_r = round(2000 / r) must fit
    slope ~ -1 with near-perfect R**2."""
    import __spark_entry__ as entrymod

    words = [f"w{r:03d}" for r in range(1, 41)]
    toks = []
    for r, wd in enumerate(words, start=1):
        toks.extend([wd] * round(2000 / r))
    rng = np.random.default_rng(3)
    rng.shuffle(toks)
    docs, step = [], 50
    for i in range(0, len(toks), step):
        docs.append((i // step, " ".join(toks[i : i + step]), "en", "s0", 1))
    d = tmp_path / "zipf"
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    row = entrymod.queries()["zipf_fit"](spark, str(d)).collect()[0]
    assert row["n_terms"] == 40
    assert abs(row["slope"] - (-1.0)) < 0.02, row
    assert row["r2"] > 0.999, row


def test_cli_ann_query_rerank_round_trip(spark, tmp_path, capsys):
    """ann-query --rerank matches pq_query_index_rerank run directly;
    --rerank with --delta or on a flat IVF index is a usage error."""
    from rustic_witcher_spark import cli
    from rustic_witcher_spark.operators import pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "emb.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "idx")
    assert cli.main([
        "ann-index", "--source", src, "--target", idx, "--n-clusters", "8",
        "--pq-subspaces", "16", "--pq-codes", "16",
    ]) == 0
    capsys.readouterr()
    qsrc = str(tmp_path / "q.parquet")
    q = emb.limit(3)
    q.write.parquet(qsrc)
    out = str(tmp_path / "hits")
    assert cli.main([
        "ann-query", "--index", idx, "--queries", qsrc, "--target", out,
        "--k", "3", "--nprobe", "2", "--rerank", src, "--shortlist-k", "12",
    ]) == 0
    capsys.readouterr()
    got = {
        (r.query_id, r.neighbor_id, r.rank, r.sim)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank, r.sim)
        for r in pq.pq_query_index_rerank(
            spark, idx, q, emb, k=3, shortlist_k=12, nprobe=2
        ).collect()
    }
    assert got == want and got
    with pytest.raises(SystemExit):
        cli.main([
            "ann-query", "--index", idx, "--queries", qsrc, "--target", out,
            "--rerank", src, "--delta", str(tmp_path / "nodelta"),
        ])
    flat = str(tmp_path / "flat")
    assert cli.main(["ann-index", "--source", src, "--target", flat, "--n-clusters", "8"]) == 0
    capsys.readouterr()
    with pytest.raises(SystemExit):
        cli.main([
            "ann-query", "--index", flat, "--queries", qsrc, "--target", out,
            "--rerank", src,
        ])
    # k > shortlist-k is a usage error (ADVICE r10): the re-rank stage
    # can only return what the shortlist contains — clean SystemExit,
    # not a traceback from pq_query_index_rerank
    with pytest.raises(SystemExit, match="cannot exceed --shortlist-k"):
        cli.main([
            "ann-query", "--index", idx, "--queries", qsrc, "--target", out,
            "--k", "20", "--rerank", src, "--shortlist-k", "12",
        ])


def test_hll_set_ops_merge_is_union_sketch(spark):
    """The algebra pin: the register-max merge of two groups' sketches
    must EQUAL the sketch of the concatenated key set (mergeability is
    the whole claim), and the estimates must be set-consistent:
    est_union >= each single, est_inter <= each single + error=0 here
    because disjoint/overlapping structure is exact at this size."""
    from rustic_witcher_spark.operators import sketches

    rows = (
        [(i, "a") for i in range(1, 31)]            # users 1..30 in a
        + [(i, "b") for i in range(21, 51)]          # users 21..50 in b (overlap 10)
    )
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = sketches.hll_pairwise_set_ops(df, "user_id", "event_type", seed=42).collect()
    assert len(out) == 1
    r = out[0]
    assert r["group_a"] == "a" and r["group_b"] == "b"
    # merged-register estimate == direct sketch of the union key set
    both = spark.createDataFrame(
        [(i, "u") for i in range(1, 51)], "user_id long, event_type string"
    )
    direct = sketches.approx_distinct(both, "user_id", ["event_type"], seed=42).collect()[0]
    assert r["est_union"] == direct["hll_est"]
    assert r["est_union"] >= max(r["est_a"], r["est_b"])
    assert round(r["est_a"] + r["est_b"] - r["est_union"], 4) == r["est_inter"]
    assert 0.0 <= r["jaccard"] <= 1.0


def test_hll_set_ops_drops_null_groups(spark):
    from rustic_witcher_spark.operators import sketches

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "user_id long, event_type string"
    )
    out = sketches.hll_pairwise_set_ops(df, "user_id", "event_type", seed=42).collect()
    assert {(r["group_a"], r["group_b"]) for r in out} == {("a", "b")}


def test_bigram_topv_equals_exact_when_v_covers_vocab(spark):
    """With top_v >= the true vocabulary size nothing maps to OOV, so
    the truncated face must be output-identical to the exact face."""
    from rustic_witcher_spark.operators.lm import bigram_logprob_score, bigram_logprob_score_topv

    rows = [
        (0, "alpha beta gamma"), (1, "beta gamma alpha beta"),
        (2, "gamma gamma alpha"), (3, "alpha beta"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(map(tuple, bigram_logprob_score(d, "text", "doc_id").collect()))
    trunc = sorted(map(tuple, bigram_logprob_score_topv(d, "text", "doc_id", top_v=10).collect()))
    assert exact == trunc


def test_bigram_topv_pools_tail_into_oov(spark):
    """With top_v=1 every non-dominant token pools into OOV: two docs
    whose tails differ only in WHICH rare tokens they use must score
    identically (the pooled model cannot tell them apart)."""
    from rustic_witcher_spark.operators.lm import bigram_logprob_score_topv

    rows = [
        (0, "the rare1 the rare2 the"),
        (1, "the rare3 the rare4 the"),
        (2, "the the the the the"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["nll"] for r in
           bigram_logprob_score_topv(d, "text", "doc_id", top_v=1).collect()}
    assert got[0] == got[1]
    assert got[2] != got[0]


def test_cli_lm_score_round_trip(spark, tmp_path, capsys):
    """lm-score writes per-doc unigram (+ bigram) scores matching the
    library operators; sub-bigram docs keep a NULL bigram_nll instead
    of dropping from the report."""
    from rustic_witcher_spark import cli
    from rustic_witcher_spark.operators.lm import bigram_logprob_score, unigram_logprob_score

    rows = [(0, "alpha beta gamma"), (1, "beta gamma alpha"), (2, "alpha"), (3, None)]
    src = str(tmp_path / "docs.parquet")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(src)
    out = str(tmp_path / "scores")
    assert cli.main([
        "lm-score", "--input", src, "--target", out, "--bigram",
    ]) == 0
    capsys.readouterr()
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    uni = {r["doc_id"]: r["nll"] for r in unigram_logprob_score(docs, "text", "doc_id").collect()}
    bi = {r["doc_id"]: r["nll"] for r in bigram_logprob_score(docs, "text", "doc_id").collect()}
    assert set(got) == set(uni)  # NULL-text doc 3 has no tokens -> absent both
    for i, r in got.items():
        assert r["unigram_nll"] == uni[i]
        assert r["bigram_nll"] == bi.get(i)  # doc 2: one token -> NULL bigram
    assert got[2]["bigram_nll"] is None
    # top-v path smoke: runs and scores the same doc set
    out2 = str(tmp_path / "scores2")
    assert cli.main([
        "lm-score", "--input", src, "--target", out2, "--bigram", "--top-v", "2",
    ]) == 0
    capsys.readouterr()
    assert {r["doc_id"] for r in spark.read.parquet(out2).collect()} == set(uni)


def test_semantic_decontam_flags_cross_set_only(spark, tmp_path):
    """Meaning pins: a training vector identical to an eval vector is
    flagged with max_sim 1.0; train-train duplicates are NOT flagged
    (the comparison is strictly cross-set); eval vectors never appear
    in the output."""
    import __spark_entry__ as entrymod

    def unit(i):
        v = [0.0] * 64
        v[i % 32] = 1.0
        return v

    rows = [
        (0, unit(0), 0),      # eval (0 % 97 == 0)
        (97, unit(0), 0),     # eval dup of itself? no: 97 % 97 == 0 -> eval too
        (1, unit(0), 0),      # train, identical to eval 0 -> flagged, sim 1.0
        (2, unit(1), 0),      # train, orthogonal to eval -> not flagged
        (3, unit(1), 0),      # train dup of train 2 -> still not flagged
    ]
    d = tmp_path / "sd"
    spark.createDataFrame(rows, "vec_id long, embedding array<double>, label long").write.parquet(
        str(d / "embeddings.parquet")
    )
    out = {r["vec_id"]: r for r in
           entrymod.queries()["semantic_decontam"](spark, str(d)).collect()}
    assert 1 in out and out[1]["max_sim"] == 1.0 and out[1]["n_eval_hits"] == 2
    assert 2 not in out and 3 not in out
    assert 0 not in out and 97 not in out


def test_rerank_rejects_k_above_shortlist(spark, tmp_path):
    from rustic_witcher_spark.operators import pq

    emb = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(20)], "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "idx")
    pq.pq_write_index(emb, idx, n_subspaces=16, n_codes=8, dim=64, coarse_clusters=2, iters=1, seed=42)
    with pytest.raises(ValueError, match="shortlist"):
        pq.pq_query_index_rerank(spark, idx, emb.limit(2), emb, k=20, shortlist_k=16)


def test_cli_lm_score_rejects_topv_without_bigram(tmp_path):
    from rustic_witcher_spark import cli

    with pytest.raises(SystemExit):
        cli.main(["lm-score", "--input", "x", "--target", "y", "--top-v", "10"])


def test_bigram_topv_sub_token_never_wins_a_slot(spark):
    """A literal \\x1a token must pool into OOV (defined behavior), not
    claim a top-V slot and inherit the tail's statistics."""
    from rustic_witcher_spark.operators.lm import OOV, bigram_logprob_score_topv

    sub = OOV
    rows = [
        (0, f"{sub} alpha {sub} alpha {sub}"),   # SUB is the most frequent raw token
        (1, "rare1 alpha rare2 alpha rare3"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["nll"] for r in
           bigram_logprob_score_topv(d, "text", "doc_id", top_v=1).collect()}
    # with SUB excluded, 'alpha' holds the only slot in BOTH docs and
    # doc 0's SUBs pool with doc 1's rare tokens -> identical scores
    assert got[0] == got[1]
