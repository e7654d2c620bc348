"""Product quantization (operators/pq.py): codebook training, encode,
and the two ADC faces. The local gate checks Spark-vs-DuckDB oracle
parity (green at sf0.001/0.01/0.1); these tests pin the MEANING —
kernel ≡ DuckDB twin identity, recall floor vs the exact baseline,
determinism, and the dirty-data boundary policy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rustic_witcher_spark.operators import pq
from rustic_witcher_spark.operators.similarity import brute_force_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_codebooks_shape_and_determinism(emb):
    cb = pq.pq_codebooks(emb, n_subspaces=4, n_codes=8, dim=64)
    rows = cb.collect()
    assert {r["m"] for r in rows} == {0, 1, 2, 3}
    assert all(len(r["cvec"]) == 16 for r in rows)
    # ≤ n_codes per subspace (empty clusters may drop), ≥ 1 survivor
    per_m = {m: sum(1 for r in rows if r["m"] == m) for m in range(4)}
    assert all(1 <= c <= 8 for c in per_m.values())
    again = pq.pq_codebooks(emb, n_subspaces=4, n_codes=8, dim=64)
    assert _rows(cb) == _rows(again)


def test_encode_every_vector_gets_full_code_word(emb):
    cb = pq.pq_codebooks(emb, n_subspaces=4, n_codes=8, dim=64)
    codes = pq.pq_encode(emb, cb, n_subspaces=4, dim=64)
    assert codes.count() == emb.count()
    valid = {(r["m"], r["cid"]) for r in cb.collect()}
    for r in codes.limit(50).collect():
        assert len(r["codes"]) == 4
        for m, cid in enumerate(r["codes"]):
            assert (m, cid) in valid


def test_block_kernel_identical_to_hof_twin(emb, duck):
    """The fused encode+ADC kernel and its DuckDB twin
    (``sql_pq_ann_topk``: reconstructed-vector cosine) agree row for
    row at a geometry other than the registered one (4 subspaces x 8
    codes). ADC sums per-subspace partials where the twin dots the
    concatenation; algebraically equal, and 6-dp rounding absorbs the
    float-order ulps."""
    from rustic_witcher_spark.queries import sql_pq_ann_topk

    queries = emb.filter(F.col("vec_id") < 5)
    block = pq.pq_topk(emb, queries, k=5, n_subspaces=4, n_codes=8, dim=64)
    cols = ["query_id", "neighbor_id", "rank", "sim"]
    twin = duck.execute(sql_pq_ann_topk(n_subspaces=4, n_codes=8, dim=64, k=5)).fetchall()
    assert _rows(block.select(*cols)) == sorted(twin) and len(twin) == 25


def test_recall_floor_on_noise_fixture(emb):
    """The synthetic embeddings are near-pure noise (same-label mean
    cosine 0.02), the WORST case for any lossy compression — true top-5
    neighbors sit barely above the noise floor. Measured recall@5 at
    the entry config (16x16) is 0.38; the floor guards against a
    regression that makes ADC scoring nonsense, not against the data's
    own entropy."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, queries, k=5)
    approx = pq.pq_topk(emb, queries, k=5, n_subspaces=16, n_codes=16, dim=64)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.25, f"recall@5 collapsed to {recall:.2f}"


def test_clustered_data_shortlist_and_purity(spark):
    """On data WITH structure (10 well-separated centers + small noise
    — the realistic shape of model embeddings), the invariants that
    matter at 100 TB hold exactly:

    - every ADC top-5 neighbor comes from the query's own cluster
      (within a tight cluster all candidates are near-ties, so top-5
      overlap with the EXACT ranking is the wrong metric — PQ cannot
      and need not rank among near-identical vectors);
    - the production pattern (PQ shortlist -> exact re-rank) is
      lossless: the exact top-5 is fully contained in the ADC top-30
      shortlist (measured 1.0 on this fixture)."""
    import random

    rnd = random.Random(7)
    centers = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    rows = [(i, [x + rnd.gauss(0, 0.1) for x in centers[i % 10]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    queries = df.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(df, queries, k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    top5 = pq.pq_topk(df, queries, k=5, n_subspaces=16, n_codes=16, dim=64).collect()
    same = sum(1 for r in top5 if r["neighbor_id"] % 10 == r["query_id"] % 10)
    assert same / len(top5) >= 0.95, f"cluster purity {same / len(top5):.2f}"
    shortlist = pq.pq_topk(df, queries, k=30, n_subspaces=16, n_codes=16, dim=64)
    sl = {(r["query_id"], r["neighbor_id"]) for r in shortlist.collect()}
    captured = len(truth & sl) / len(truth)
    assert captured >= 0.95, f"exact top-5 only {captured:.2f}-captured in the PQ top-30 shortlist"


def test_null_vectors_dropped_everywhere(spark):
    """NULL embeddings get no codes (NULLS-FIRST vs NULLS-LAST argmin
    would diverge across engines) and NULL queries are dropped at the
    kernel boundary — neither side crashes."""
    df = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [0.5] * 32 + [1.5] * 32), (2, None), (3, [2.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    cb = pq.pq_codebooks(df, n_subspaces=4, n_codes=2, dim=64)
    codes = pq.pq_encode(df, cb, n_subspaces=4, dim=64)
    assert {r["vec_id"] for r in codes.collect()} == {0, 1, 3}
    out = pq.pq_adc_topk_block(codes, cb, df, k=2, n_subspaces=4, dim=64)
    rows = out.collect()
    assert all(r["query_id"] in (0, 1, 3) for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_empty_inputs_yield_empty_with_schema(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    some = spark.createDataFrame([(0, [1.0] * 64), (1, [2.0] * 64)], "vec_id long, embedding array<double>")
    # empty corpus: no codebooks, no codes, empty result
    cb = pq.pq_codebooks(empty, n_subspaces=4, n_codes=2, dim=64)
    assert cb.count() == 0
    codes = pq.pq_encode(empty, cb, n_subspaces=4, dim=64)
    out = pq.pq_adc_topk_block(codes, cb, some, k=2, n_subspaces=4, dim=64)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "sim", "rank"}
    # empty queries against a real corpus
    cb2 = pq.pq_codebooks(some, n_subspaces=4, n_codes=2, dim=64)
    codes2 = pq.pq_encode(some, cb2, n_subspaces=4, dim=64)
    out2 = pq.pq_adc_topk_block(codes2, cb2, empty, k=2, n_subspaces=4, dim=64)
    assert out2.count() == 0


def _gauss_rows(n=30, dim=16, seed=11):
    import random

    rnd = random.Random(seed)
    return [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)]


def test_fused_kernel_identical_to_staged_path(spark, emb):
    """pq_topk fuses encode+ADC into one kernel pass; it must be
    row-identical to the staged pipeline (DataFrame encode -> ADC over
    materialized codes). The fused kernel's assignment arithmetic is
    explicitly left-associated to reproduce the Catalyst unrolled
    expression float-for-float — this test is the tripwire if anyone
    'optimizes' it back to a BLAS matmul that re-associates the sums
    and flips a near-tie assignment.

    The second codebook carries a NaN codeword at (m=0, cid=1), put
    there by hand (the trainers no longer learn from non-finite
    vectors, but a persisted codebook can still hold one). The staged
    min(struct(d, cid)) orders that codeword's NaN distance above
    every number; the fused argmin must too, or every subvector lands
    on the NaN codeword and every sim is masked (0 rows instead of
    12)."""
    gauss = spark.createDataFrame(_gauss_rows(), "vec_id long, embedding array<double>")
    trained = pq.pq_codebooks(gauss, 4, 4, 16).collect()
    assert any((r["m"], r["cid"]) == (0, 1) for r in trained)
    poisoned = spark.createDataFrame(
        [
            (r["m"], r["cid"], [float("nan")] + r["cvec"][1:] if (r["m"], r["cid"]) == (0, 1) else r["cvec"])
            for r in trained
        ],
        pq.CODEBOOK_SCHEMA,
    )
    for corpus, cb, n_queries, k, n_sub, dim, n_rows in (
        (emb, pq.pq_codebooks(emb, 16, 16, 64), 8, 5, 16, 64, 40),
        (gauss, poisoned, 4, 3, 4, 16, 12),
    ):
        queries = corpus.filter(F.col("vec_id") < n_queries)
        codes = pq.pq_encode(corpus, cb, n_sub, dim)
        staged = pq.pq_adc_topk_block(codes, cb, queries, k=k, n_subspaces=n_sub, dim=dim)
        fused = pq.pq_encode_adc_topk_block(corpus, cb, queries, k=k, n_subspaces=n_sub, dim=dim)
        assert len(_rows(staged)) == n_rows
        assert _rows(staged) == _rows(fused)


def test_trainers_drop_non_finite_vectors(spark):
    """A NaN, +inf or NULL training vector is dropped by both k-means
    trainers (seed sample and Lloyd mean alike): they return exactly
    the model they train on the clean rows, with only finite values."""
    import math

    from rustic_witcher_spark.operators.similarity import ivf_centroids

    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(_gauss_rows(), schema)
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(30, [float("nan")] + [1.0] * 15), (31, [float("inf")] + [1.0] * 15), (32, None)], schema
        )
    )
    for train in (lambda df: ivf_centroids(df, 4, iters=1), lambda df: pq.pq_codebooks(df, 4, 4, 16)):
        rows = _rows(train(dirty))
        assert rows == _rows(train(clean))
        assert all(math.isfinite(x) for r in rows for x in r[-1])


def test_hof_face_drops_degenerate_queries(spark):
    """The stored-codes ADC face ranks through the shared top-k
    contract: a zero-vector or NaN-component query has no defined
    cosine and gets no rows — instead of NULL or NaN sims ranked
    first."""
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(_gauss_rows(), schema)
    queries = corpus.filter("vec_id = 0").unionByName(
        spark.createDataFrame([(100, [0.0] * 16), (101, [float("nan")] + [1.0] * 15)], schema)
    )
    cb = pq.pq_codebooks(corpus, 4, 4, 16)
    codes = pq.pq_encode(corpus, cb, 4, 16)
    block = pq.pq_adc_topk_block(codes, cb, queries, k=3, n_subspaces=4, dim=16)
    assert {r["query_id"] for r in block.collect()} == {0}
    assert block.count() == 3


def test_indivisible_dim_raises():
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_codebooks(None, n_subspaces=5, n_codes=2, dim=64)


# ---------------------------------------------------------------------------
# persisted IVF-PQ index
# ---------------------------------------------------------------------------


def test_index_full_probe_equals_flat_pq(spark, emb, tmp_path):
    """With nprobe = n_lists the persisted IVF-PQ path must reproduce
    the one-shot flat PQ result exactly — partition pruning and probe
    masking are physical optimizations, not semantic changes."""
    idx = str(tmp_path / "pqidx")
    pq.pq_write_index(emb, idx, n_subspaces=8, n_codes=16, dim=64, coarse_clusters=8)
    queries = emb.filter(F.col("vec_id") < 5)
    full = pq.pq_query_index(spark, idx, queries, k=5, nprobe=8)
    flat = pq.pq_topk(emb, queries, k=5, n_subspaces=8, n_codes=16, dim=64)
    assert _rows(full) == _rows(flat)


def test_index_probe_prunes_scan_and_masks_per_query(spark, emb, tmp_path):
    """nprobe < n_lists: the codes scan carries a cid partition filter
    (PartitionFilters in the plan — only the probed lists' files open),
    and every returned neighbor sits in a list its OWN query probed."""
    idx = str(tmp_path / "pqidx")
    pq.pq_write_index(emb, idx, n_subspaces=8, n_codes=16, dim=64, coarse_clusters=8)
    queries = emb.filter(F.col("vec_id") < 5)
    out = pq.pq_query_index(spark, idx, queries, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cid" in plan.replace("#", " #").replace("  ", " ") or "cid IN" in plan, plan[:2000]
    rows = out.collect()
    assert rows and all(r["query_id"] != r["neighbor_id"] for r in rows)
    # membership: every neighbor's list is probed by its query
    from rustic_witcher_spark.operators.similarity import ivf_assign

    cent = spark.read.parquet(f"{idx}/_centroids")
    probes = {
        (r["vec_id"], r["cid"])
        for r in ivf_assign(queries, cent, nprobe=2).select("vec_id", "cid").collect()
    }
    lists = {
        r["vec_id"]: r["cid"]
        for r in spark.read.parquet(f"{idx}/codes").select("vec_id", "cid").collect()
    }
    for r in rows:
        assert (r["query_id"], lists[r["neighbor_id"]]) in probes


def test_empty_index_round_trip(spark, tmp_path):
    """A 0-row corpus writes an empty index; querying it returns an
    empty frame with the contract schema instead of raising
    UNABLE_TO_INFER_SCHEMA (the empty-parquet read-back bug class)."""
    idx = str(tmp_path / "pqidx")
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    pq.pq_write_index(empty, idx, n_subspaces=8, n_codes=16, dim=64, coarse_clusters=4)
    some = spark.createDataFrame([(0, [1.0] * 64)], "vec_id long, embedding array<double>")
    out = pq.pq_query_index(spark, idx, some, k=3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "sim", "rank"}


def test_cli_pq_index_and_query_round_trip(spark, tmp_path, capsys):
    """ann-index --pq-subspaces builds the IVF-PQ layout; ann-query
    auto-detects it (codebooks present) and lands ADC top-k parquet
    matching the operator API on the same inputs."""
    import json

    from rustic_witcher_spark import cli

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    src = str(tmp_path / "emb.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "idx")
    assert cli.main([
        "ann-index", "--source", src, "--target", idx,
        "--n-clusters", "8", "--pq-subspaces", "8", "--pq-codes", "16",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["indexed_vectors"] == emb.count() and rep["pq_subspaces"] == 8

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
    got = {(r.query_id, r.neighbor_id, r.rank) for r in spark.read.parquet(out).collect()}
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq.pq_query_index(spark, idx, q, k=3, nprobe=2).collect()
    }
    assert got == want and len(got) > 0


def test_explicit_geometry_matches_inferred_and_skips_the_agg(spark, emb, tmp_path):
    """Caller-supplied (n_subspaces, dim) must produce row-identical
    results to the inferred path — and must not run the geometry
    agg+collect job at all (query loops pass geometry precisely to
    avoid paying a driver round-trip per call)."""
    from rustic_witcher_spark.operators import pq as pq_mod

    idx = str(tmp_path / "pqidx")
    pq.pq_write_index(emb, idx, n_subspaces=8, n_codes=16, dim=64, coarse_clusters=4)
    queries = emb.filter(F.col("vec_id") < 4)
    inferred = pq.pq_query_index(spark, idx, queries, k=5, nprobe=4)

    def boom(*a, **k):
        raise AssertionError("geometry inference job ran despite explicit n_subspaces/dim")

    orig = pq_mod.codebook_geometry
    pq_mod.codebook_geometry = boom
    try:
        explicit = pq.pq_query_index(spark, idx, queries, k=5, nprobe=4, n_subspaces=8, dim=64)
    finally:
        pq_mod.codebook_geometry = orig
    assert _rows(inferred) == _rows(explicit)
