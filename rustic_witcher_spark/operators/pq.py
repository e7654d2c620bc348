"""Product quantization (PQ / IVF-PQ) for embedding search at scale.

Brute-force and IVF ANN (operators/similarity.py) keep full float
vectors: at 100 TB of 64-dim float32 embeddings that is 256 B/vector of
scan per query batch. PQ compresses each vector to ``n_subspaces``
small integer codes (4 B here, 32-64 B for production dims) against a
tiny shared codebook, and scores queries against the CODES via
asymmetric distance computation (ADC): the query stays exact, each
candidate's similarity is looked up per-subspace and summed. The scan
cost per query batch drops by the compression ratio (~64x for
float32[64] -> 4 uint8 codes), which is the difference between an ANN
sweep being scan-bound or memory-resident at the 1000-executor scale.

Everything is deterministic (md5-ordered codebook seeding + Lloyd
refinement, fixed tie-breaks), so a DuckDB oracle replays the exact
train -> encode -> ADC pipeline and the result is value-hash-checked
like any exact query (same contract as ``similarity.ivf_topk``).

Design notes for the 100 TB shape:

- Codebooks are (n_subspaces x n_codes) subvectors — a few KB. They
  broadcast everywhere; training them reads the corpus twice (seed
  sample + one Lloyd pass), both as plain DataFrame aggregations, and
  the trained codebook is cut from lineage once (``similarity._lloyd``)
  so no consumer trains it again.
- Encoding is one corpus pass producing (id, codes array<int>) — this
  is the artifact you persist (``pq_write_index``); re-encoding only
  happens when the codebook is retrained.
- ADC scoring ships the per-query lookup tables (LUT) to executors via
  ONE torrent broadcast and fancy-indexes the code matrix per Arrow
  batch (numpy kernel) — no shuffle of the corpus, |queries| x k rows
  out of each batch, through the shared ``similarity._block_topk``.
  ``pq_topk`` fuses encode and ADC into that pass; the persisted index
  scores stored codes with ``pq_adc_topk_block``.
- The cosine decomposes cleanly over subspaces: dot(q, recon(c)) =
  SUM_m dot(q_m, codeword_{m,code_m}) and |recon(c)|^2 =
  SUM_m |codeword|^2 — so ADC scores EQUAL the reconstructed-vector
  cosine (up to float addition order), which is what the DuckDB twin
  computes explicitly.

Reference parity: the reference engine has no vector search at all —
this module extends the training-data-pipeline surface (SURVEY §2's
"beyond the reference" block) alongside similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rustic_witcher_spark.functions.wordlists import DEFAULT_SEED
from rustic_witcher_spark.operators.similarity import (
    _block_topk,
    _empty_top_k,
    _exact_top_k,
    _lloyd,
    _query_block,
    _round_half_away,
    _seed_sample,
    _trainable,
    dot,
    ivf_assign,
    ivf_centroids,
)
from rustic_witcher_spark.streaming.replay_meta import load_meta, recover, store_meta

# persisted layout of <index>/_codebooks (see pq_write_index)
CODEBOOK_SCHEMA = "m int, cid int, cvec array<double>"


def _sq_dist(a, b):
    """Squared L2 distance as dot(a,a) - 2*dot(a,b) + dot(b,b).

    Written in dot products (each a sequential left fold) rather than a
    zip_with of squared differences so the DuckDB oracle can replay the
    identical float operation order with ``list_dot_product`` — the
    argmin tie-breaks must agree bit-for-bit across engines.
    """
    return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)


def _dot_unrolled(a, b, n: int):
    """Σ a_i·b_i unrolled to literal element_at arithmetic for small
    fixed n (PQ subvectors are 4-16 dims): stays inside whole-stage
    codegen instead of the interpreted HOF fold — measured ~4x on the
    assign fan-out. Left-associated addition = the same float order as
    the sequential fold and DuckDB's list_dot_product, so argmin
    tie-breaks still agree bit-for-bit across all faces."""
    expr = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, n + 1):
        expr = expr + F.element_at(a, i) * F.element_at(b, i)
    return expr


def _subvectors(df: DataFrame, n_subspaces: int, d_sub: int, id_col: str, vec_col: str) -> DataFrame:
    """(id, m, sv): each vector sliced into its n_subspaces pieces.

    NULL vectors are dropped at the boundary (same policy as
    cosine_near_dup_pairs): a NULL has no codes, and Spark's NULLS-FIRST
    vs DuckDB's NULLS-LAST argmin ordering would otherwise diverge.
    """
    slices = F.array(*[F.slice(F.col("__v"), j * d_sub + 1, d_sub) for j in range(n_subspaces)])
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
        .select(id_col, F.posexplode(slices).alias("m", "sv"))
    )


def _assign(sub: DataFrame, codebooks: DataFrame, id_col: str, d_sub: int) -> DataFrame:
    """Nearest codeword per (id, m): broadcast the (tiny) codebook,
    score every candidate, min(struct) argmin with cid tie-break —
    map-side combinable, never a per-row window over the corpus.

    The squared distance d = |sv|² - 2·(sv·cv) + |cv|² is LET-BOUND:
    |sv|² once per subvector (not once per candidate pair) and |cv|²
    once per codeword (a column on the broadcast side) — only the
    cross dot is per-pair. Same float expression in the same order as
    the naive ``_sq_dist`` (and the DuckDB oracle), ~3x fewer
    interpreted fold evaluations; the HOF-capture-is-quadratic lesson
    applied before it bites."""
    sub2 = sub.withColumn("__sv2", _dot_unrolled(F.col("sv"), F.col("sv"), d_sub))
    cb2 = codebooks.withColumn("__cv2", _dot_unrolled(F.col("cvec"), F.col("cvec"), d_sub))
    scored = sub2.join(F.broadcast(cb2), "m").select(
        id_col,
        "m",
        "sv",
        "cid",
        (
            F.col("__sv2")
            - F.lit(2.0) * _dot_unrolled(F.col("sv"), F.col("cvec"), d_sub)
            + F.col("__cv2")
        ).alias("__d"),
    )
    # sv is FUNCTIONALLY DETERMINED by (id, m) — identical on every row
    # of a group — so it rides along as first(sv) instead of inside the
    # min(struct): the argmin comparator stays scalar (double, int)
    # rather than dragging an array compare through 16x the corpus rows
    best = scored.groupBy(id_col, "m").agg(
        F.min(F.struct(F.col("__d"), F.col("cid"))).alias("b"),
        F.first("sv").alias("sv"),
    )
    return best.select(id_col, "m", F.col("b.cid").alias("cid"), "sv")


def pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    iters: int = 1,
) -> DataFrame:
    """Train per-subspace codebooks as (m, cid, cvec) with the trainer
    ``similarity.ivf_centroids`` uses: the initial codewords of EVERY
    subspace are the slices of the same ``n_codes`` ``_seed_sample``
    vectors, then ``iters`` ``_lloyd`` steps refine each subspace
    independently, the assignment being squared L2 per subspace
    (``_assign``). A codeword that wins no subvectors drops out (same
    convention as the IVF oracle — replayed identically by SQL, so the
    faces cannot drift). It trains on the ``_trainable`` rows only,
    and the frame comes back cut from lineage, so callers use it
    directly.
    """
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    d_sub = dim // n_subspaces
    corpus = _trainable(corpus, vec_col)
    seeded = _seed_sample(corpus, n_codes, "pq", seed, id_col, vec_col)
    slices = F.array(*[F.slice(F.col("__v"), j * d_sub + 1, d_sub) for j in range(n_subspaces)])
    cb = seeded.select("cid", F.posexplode(slices).alias("m", "cvec"))
    sub = _subvectors(corpus, n_subspaces, d_sub, id_col, vec_col)
    return _lloyd(cb, lambda c: _assign(sub, c, id_col, d_sub), "sv", iters, "m")


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to (id, codes array<int>) — code j is the
    nearest codeword of subspace j. One corpus pass; the broadcast-join
    fan-out (n_subspaces x n_codes scorings per row) is the standard PQ
    build cost and stays embarrassingly parallel."""
    d_sub = dim // n_subspaces
    sub = _subvectors(corpus, n_subspaces, d_sub, id_col, vec_col)
    assigned = _assign(sub, codebooks, id_col, d_sub)
    return assigned.groupBy(id_col).agg(
        F.transform(F.array_sort(F.collect_list(F.struct("m", "cid"))), lambda s: s["cid"]).alias("codes")
    )


def _collect_codebooks(codebooks: DataFrame):
    """(m, cid, cvec) rows -> {(m, cid): np.float64 vector}; tiny
    (n_subspaces x n_codes) by construction."""
    import numpy as np

    return {(r["m"], r["cid"]): np.asarray(r["cvec"], dtype=np.float64) for r in codebooks.collect()}


def _codeword_tables(cb: dict, n_subspaces: int, d_sub: int):
    """Dense (m, cid) tables of a collected codebook: n2 = |codeword|²
    and cw = the codewords. Unused slots stay NaN and can never be
    referenced — codes only ever point at surviving codewords."""
    import numpy as np

    max_cid = max(c for _, c in cb)
    n2 = np.full((n_subspaces, max_cid + 1), np.nan)
    cw = np.full((n_subspaces, max_cid + 1, d_sub), np.nan)
    for (m, cid), v in cb.items():
        cw[m, cid] = v
        n2[m, cid] = float(np.dot(v, v))
    return n2, cw


def _probe_allowed(q_ids, probe_map: dict | None):
    """allowed[qi, coarse_cid] from {query_id: probed list ids} — tiny
    (|queries| x n_lists); None when there is no probe map."""
    import numpy as np

    if probe_map is None:
        return None
    n_lists = 1 + max((c for cids in probe_map.values() for c in cids), default=0)
    allowed = np.zeros((len(q_ids), n_lists), dtype=bool)
    for qi, qid in enumerate(q_ids):
        for c in probe_map.get(int(qid), ()):
            allowed[qi, c] = True
    return allowed


def _mask_to_probes(sims, allowed, cids):
    """-inf every candidate outside its query's probed lists — the
    compute-side complement of the partition pruning that already
    restricted the SCAN to the union of probed lists."""
    import numpy as np

    in_range = cids < allowed.shape[1]
    mask = np.zeros((allowed.shape[0], len(cids)), dtype=bool)
    mask[:, in_range] = allowed[:, cids[in_range]]
    return np.where(mask, sims, -np.inf)


def pq_adc_topk_block(
    corpus_codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_map: dict | None = None,
    cid_col: str | None = None,
) -> DataFrame:
    """PQ search over stored codes (the persisted-index face): true ADC.

    Driver collects only the codebook (KBs) and the bounded query set;
    per query it precomputes the LUT ip[q][m][code] = dot(q_m, codeword)
    and the shared norm table n2[m][code] = |codeword|^2, and the
    ``similarity._block_topk`` kernel scores a whole Arrow batch of
    codes with two fancy-index sums — never touching float vectors,
    never shuffling the corpus. Over the codes ``pq_encode`` writes it
    returns what the fused ``pq_topk`` returns (pinned by test).

    ``probe_map`` (used by the persisted IVF-PQ path): {query_id:
    iterable of coarse list ids this query probes}; ``cid_col`` names
    the coarse-list column on ``corpus_codes``. Candidates outside a
    query's probed lists are masked out per-batch — the compute-side
    complement of the partition pruning that already restricted the
    SCAN to the union of probed lists.
    """
    import numpy as np

    cb = _collect_codebooks(codebooks)
    q = _query_block(queries, id_col, vec_col)
    if q is None or not cb:
        return _empty_top_k(corpus_codes.sparkSession)
    q_ids, q_mat, q_norm = q
    d_sub = dim // n_subspaces
    n2, cw = _codeword_tables(cb, n_subspaces, d_sub)
    # LUT: ip[qi, m, cid] = dot(q_m, codeword_{m,cid})
    lut = np.einsum("qmd,mcd->qmc", q_mat.reshape(len(q_ids), n_subspaces, d_sub), cw)

    def score(p, pdf):
        q_ids, q_norm, lut, n2, allowed = p
        pdf = pdf[pdf["codes"].notna()]
        if pdf.empty:
            return None
        m_idx = np.arange(lut.shape[1])
        codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
        ip = lut[:, m_idx, codes].sum(axis=2)  # [Q, B]
        cnorm = np.sqrt(n2[m_idx, codes].sum(axis=1))  # [B]
        sims = _round_half_away(ip / (q_norm[:, None] * cnorm[None, :]))
        if allowed is not None:
            sims = _mask_to_probes(sims, allowed, pdf[cid_col].to_numpy(dtype=np.int64))
        return q_ids, pdf[id_col].to_numpy(dtype=np.int64), sims

    payload = (q_ids, q_norm, lut, n2, _probe_allowed(q_ids, probe_map))
    sel_cols = [id_col, "codes"] + ([cid_col] if cid_col else [])
    return _block_topk(corpus_codes.select(*sel_cols), payload, score, k)


def pq_residual_adc_topk_block(
    corpus_codes: DataFrame,
    codebooks: DataFrame,
    centroid_rows: list,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_map: dict | None = None,
    cid_col: str = "cid",
) -> DataFrame:
    """ADC over RESIDUAL codes (v̂ = c_cid + recon(codes)): the scoring
    face of ``pq_write_index(residual=True)``. Everything the score
    needs beyond the plain ADC tables is per-(cid, m, code) and tiny:

        dot(q, v̂)  = t_ip[q, cid]  + Σ_m lut[q, m, code_m]
        |v̂|²       = co_n2[cid]   + 2·Σ_m cross[cid, m, code_m]
                                   + Σ_m n2[m, code_m]

    t_ip (|Q| × lists), cross (lists × m × codes — e.g. 8×16×16
    doubles), and co_n2 are precomputed driver-side from the collected
    centroids+codebook and broadcast with the LUT; the kernel adds two
    fancy-index gathers to the plain ADC sum. Expansion vs the DuckDB twin's
    single dot over the reconstructed vector differs only in float
    grouping — absorbed by the 6-dp half-away rounding, the same
    contract the raw ADC faces have held since r8. Candidate rows MUST
    carry ``cid_col`` (a residual code is meaningless without its
    centroid)."""
    import numpy as np

    cb = _collect_codebooks(codebooks)
    q = _query_block(queries, id_col, vec_col)
    if q is None or not cb or not centroid_rows:
        return _empty_top_k(corpus_codes.sparkSession)
    q_ids, q_mat, q_norm = q
    d_sub = dim // n_subspaces
    n2, cw = _codeword_tables(cb, n_subspaces, d_sub)
    crows = sorted(centroid_rows, key=lambda r: int(r["cid"]))
    max_ccid = max(int(r["cid"]) for r in crows)
    co = np.full((max_ccid + 1, dim), np.nan)
    for r in crows:
        co[int(r["cid"])] = np.asarray(r["cvec"], dtype=np.float64)
    present = ~np.isnan(co[:, 0])
    co_n2 = np.einsum("cd,cd->c", np.nan_to_num(co), np.nan_to_num(co))
    co_n2 = np.where(present, co_n2, np.nan)  # absent cids stay NaN
    # cross[cid, m, code] = dot(centroid subvector m, codeword)
    co_sub = np.nan_to_num(co).reshape(max_ccid + 1, n_subspaces, d_sub)
    cross = np.einsum("cmd,mkd->cmk", co_sub, np.nan_to_num(cw))
    lut = np.einsum("qmd,mcd->qmc", q_mat.reshape(len(q_ids), n_subspaces, d_sub), cw)
    t_ip = q_mat @ np.nan_to_num(co).T  # [Q, lists]

    def score(p, pdf):
        q_ids, q_norm, lut, n2, t_ip, co_n2, cross, allowed = p
        pdf = pdf[pdf["codes"].notna() & pdf[cid_col].notna()]
        if pdf.empty:
            return None
        m_idx = np.arange(lut.shape[1])
        codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
        bc = pdf[cid_col].to_numpy(dtype=np.int64)
        ip = t_ip[:, bc] + lut[:, m_idx, codes].sum(axis=2)  # [Q, B]
        n2tot = (
            co_n2[bc]
            + 2.0 * cross[bc[:, None], m_idx[None, :], codes].sum(axis=1)
            + n2[m_idx, codes].sum(axis=1)
        )  # [B]
        sims = _round_half_away(ip / (q_norm[:, None] * np.sqrt(n2tot)[None, :]))
        if allowed is not None:
            sims = _mask_to_probes(sims, allowed, bc)
        return q_ids, pdf[id_col].to_numpy(dtype=np.int64), sims

    payload = (q_ids, q_norm, lut, n2, t_ip, co_n2, cross, _probe_allowed(q_ids, probe_map))
    return _block_topk(corpus_codes.select(id_col, "codes", cid_col), payload, score, k)


INDEX_META_NAME = "_index_meta.json"


def read_index_meta(path: str) -> dict:
    """Index-level metadata ({} for pre-r10 indexes — absence means a
    plain raw-vector quantization, so old layouts keep working)."""
    return load_meta(path, INDEX_META_NAME, {})


def index_is_residual(path: str) -> bool:
    return bool(read_index_meta(path).get("residual"))


def residual_frame(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid, rv): each vector's nearest coarse centroid and the
    RESIDUAL v − c — what residual IVF-PQ quantizes instead of v
    (Jégou et al. 2011 §III-A: residual energy ≪ vector energy inside
    a list, so the same code budget spends on a much smaller cube).
    The subtraction is ELEMENTWISE (zip_with) — no accumulation, so
    the DuckDB twin's list_transform(i -> v[i] − c[i]) is bit-exact.
    NULL vectors drop at the ivf_assign choke point (r9 convention)."""
    assign = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1).select(id_col, "cid")
    cvt = centroids.select("cid", "cvec")
    return (
        corpus.select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
        .join(assign, id_col)
        .join(F.broadcast(cvt), "cid")
        .select(id_col, "cid", F.zip_with("__v", "cvec", lambda a, b: a - b).alias("rv"))
    )


def pq_write_index(
    corpus: DataFrame,
    path: str,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    coarse_clusters: int = 0,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    residual: bool = False,
) -> None:
    """Materialize a PQ (or IVF-PQ) index.

    Layout: ``<path>/_codebooks`` (the m x k codewords, KBs),
    ``<path>/codes`` (one row per vector: id + codes — ~16-64x smaller
    than the float vectors). With ``coarse_clusters > 0`` the codes are
    additionally PARTITIONED BY a coarse IVF list id (trained via
    ``similarity.ivf_centroids``, persisted under ``<path>/_centroids``)
    — the production IVF-PQ shape at 100 TB: a query batch's probe-list
    selection compiles to parquet partition pruning, and what it scans
    is codes, not vectors. Compaction/replay follow the plain-parquet
    rules (overwrite per run; no partial-write window beyond parquet's
    own _temporary rename).

    ``residual=False`` quantizes raw vectors — the simplest contract.
    ``residual=True`` (r10, requires ``coarse_clusters > 0``) trains
    the codebooks on IVF RESIDUALS (v − nearest coarse centroid) and
    stores residual codes: inside one list the residual energy is far
    smaller than the vector energy, so the same code budget yields a
    finer grid (Jégou et al. 2011) — measurably better recall on
    clustered data (tests/test_r10_ops.py pins it). Layout is
    identical plus an ``_index_meta.json`` {"residual": true} marker;
    readers without the marker treat the index as raw (pre-r10
    layouts keep working).
    """
    if residual:
        if coarse_clusters <= 0:
            raise ValueError("residual=True requires coarse_clusters > 0")
        cent = ivf_centroids(corpus, coarse_clusters, id_col, vec_col, seed=seed, iters=iters)
        cent.write.mode("overwrite").parquet(f"{path}/_centroids")
        res = residual_frame(corpus, cent, id_col, vec_col)
        cb = pq_codebooks(res, n_subspaces, n_codes, dim, id_col, "rv", seed, iters)
        cb.write.mode("overwrite").parquet(f"{path}/_codebooks")
        codes = pq_encode(res, cb, n_subspaces, dim, id_col, "rv")
        codes.join(res.select(id_col, "cid"), id_col).write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(f"{path}/codes")
        store_meta(path, INDEX_META_NAME, {"residual": True})
        return
    cb = pq_codebooks(corpus, n_subspaces, n_codes, dim, id_col, vec_col, seed, iters)
    cb.write.mode("overwrite").parquet(f"{path}/_codebooks")
    codes = pq_encode(corpus, cb, n_subspaces, dim, id_col, vec_col)
    if coarse_clusters > 0:
        cent = ivf_centroids(corpus, coarse_clusters, id_col, vec_col, seed=seed, iters=iters)
        cent.write.mode("overwrite").parquet(f"{path}/_centroids")
        lists = ivf_assign(corpus, cent, id_col, vec_col, nprobe=1).select(id_col, "cid")
        codes.join(lists, id_col).write.mode("overwrite").partitionBy("cid").parquet(f"{path}/codes")
    else:
        codes.write.mode("overwrite").parquet(f"{path}/codes")
    store_meta(path, INDEX_META_NAME, {"residual": False})


def codebook_df(spark, path: str) -> DataFrame:
    """The persisted codebook frame, explicit schema (an empty index
    dir holds only _SUCCESS — inference would raise). No Spark job."""
    return spark.read.schema(CODEBOOK_SCHEMA).parquet(f"{path}/_codebooks")


def codebook_geometry(spark, path: str):
    """(codebook DF, n_subspaces, dim) from a persisted index's frozen
    codebook; (cb, 0, 0) when the codebook is empty. The SINGLE source
    of geometry inference for query and streaming-append paths — the
    max(m)/max(size(cvec)) rule must not fork per caller. The read-back
    carries an explicit schema: an empty index dir (0-row corpus) holds
    only _SUCCESS, and schema inference would raise
    UNABLE_TO_INFER_SCHEMA instead of yielding an empty frame."""
    cb = codebook_df(spark, path)
    geo = cb.agg(F.max("m").alias("mm"), F.max(F.size("cvec")).alias("d")).collect()[0]
    if geo["mm"] is None:
        return cb, 0, 0
    n_subspaces = geo["mm"] + 1
    return cb, n_subspaces, n_subspaces * geo["d"]


def pq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_subspaces: int | None = None,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_codes: list[DataFrame] | None = None,
) -> DataFrame:
    """Query a persisted PQ / IVF-PQ index with the ADC block kernel.
    Geometry (n_subspaces, dim) is inferred from the stored codebook
    unless overridden.

    ``extra_codes``: additional codes DataFrames (same layout:
    id, codes[, cid]) unioned into the scan — the streaming appender's
    not-yet-merged delta. They get the same per-probe cid filter as the
    base codes (a column filter rather than partition pruning, which is
    the right trade for small deltas).

    IVF-PQ (``_centroids`` present): queries are assigned their
    ``nprobe`` nearest coarse lists; the codes scan carries a
    ``cid IN (...)`` partition filter (only the probed lists' files
    open), and the kernel masks each query to ITS OWN probed lists —
    scan pruning and compute pruning from one probe assignment. Flat
    PQ: full codes scan, ADC against every candidate.

    Driver-side collects are bounded: the codebook (KBs) and the
    |queries| x nprobe probe assignment.
    """
    import os

    # Geometry inference costs an agg+collect Spark job — run it ONLY
    # when the caller didn't supply the geometry (query loops pass it).
    if n_subspaces is None or dim is None:
        cb, inferred_m, inferred_dim = codebook_geometry(spark, path)
        if inferred_m == 0:  # empty codebook -> empty index -> empty result
            return _empty_top_k(spark)
        n_subspaces = n_subspaces or inferred_m
        # per-subspace width from the stored codebook, scaled by the
        # CALLER's n_subspaces when one was supplied
        dim = dim or n_subspaces * (inferred_dim // inferred_m)
    else:
        cb = codebook_df(spark, path)
    recover(f"{path}/codes")  # a codes swap `ann_stream.merge_ann_delta` crashed in
    probe_map = None
    cid_col = None
    if os.path.isdir(f"{path}/_centroids"):
        cent = spark.read.parquet(f"{path}/_centroids")
        probes = (
            ivf_assign(queries.filter(F.col(vec_col).isNotNull()), cent, id_col, vec_col, nprobe=nprobe)
            .select(F.col(id_col), F.col("cid"))
            .collect()
        )
        probe_map = {}
        for r in probes:
            probe_map.setdefault(int(r[id_col]), []).append(int(r["cid"]))
        probe_cids = sorted({c for cids in probe_map.values() for c in cids})
        codes = (
            spark.read.schema(f"{id_col} long, codes array<int>, cid int")
            .parquet(f"{path}/codes")
            .filter(F.col("cid").isin(probe_cids))
        )
        cid_col = "cid"
    else:
        codes = spark.read.schema(f"{id_col} long, codes array<int>").parquet(f"{path}/codes")
    for extra in extra_codes or []:
        extra = extra.select(id_col, "codes", *([cid_col] if cid_col else []))
        if cid_col:
            extra = extra.filter(F.col(cid_col).isin(probe_cids))
        codes = codes.select(*extra.columns).unionByName(extra)
    if index_is_residual(path):
        # residual index (always IVF — write enforces coarse_clusters>0):
        # score codes + centroid through the residual ADC kernel
        return pq_residual_adc_topk_block(
            codes, cb, cent.collect(), queries, k, n_subspaces, dim,
            id_col, vec_col, probe_map=probe_map, cid_col=cid_col,
        )
    return pq_adc_topk_block(
        codes, cb, queries, k, n_subspaces, dim, id_col, vec_col, probe_map=probe_map, cid_col=cid_col
    )


def pq_encode_adc_topk_block(
    corpus: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    probe_map: dict | None = None,
) -> DataFrame:
    """Encode + ADC FUSED into one kernel pass over the raw vectors —
    the one-shot search path (no materialized codes): assigns each
    subvector its nearest codeword and immediately LUT-scores it,
    skipping the explode/shuffle/collect_list of a separate encode.

    Bit-parity with the DataFrame encode (and so with the DuckDB
    oracle) is engineered, not hoped for: every assignment dot/norm is
    accumulated with EXPLICIT left-associated elementwise numpy ops in
    subvector-dimension order — the identical IEEE operation sequence
    as the unrolled Catalyst expression and DuckDB's sequential
    list_dot_product — and np.argmin over ascending-cid columns
    reproduces the min(struct(d, cid)) tie-break. (A BLAS matmul here
    could re-associate the sum and flip a near-tie assignment.)

    ``centroids`` + ``probe_map`` fuse the IVF COARSE stage into the
    same pass (the one-shot ivfpq_topk path): each corpus row's coarse
    cid is computed in-kernel — full-dim cosine vs the (tiny) centroid
    table with the SAME left-assoc accumulation, argmax over
    ascending-cid columns reproducing ivf_assign's desc-sim/asc-cid
    tie-break — rows outside the probed-list union are dropped before
    any ADC work, and survivors are masked per-query to ITS OWN lists.
    This replaces three corpus-wide exchanges of the relational
    composition (the encode groupBy, the assign window, the cid join)
    with zero — the persisted path keeps the relational assign because
    it pays it once at index build and gets partition pruning back.
    """
    import numpy as np

    cb = _collect_codebooks(codebooks)
    q = _query_block(queries, id_col, vec_col)
    if q is None or not cb:
        return _empty_top_k(corpus.sparkSession)
    q_ids, q_mat, q_norm = q
    d_sub = dim // n_subspaces
    # per-subspace codeword tables in ASCENDING cid order (argmin ->
    # first minimum -> smallest cid, matching min(struct) ties)
    cw_m, cv2_m = [], []
    for m in range(n_subspaces):
        mat = np.stack([v for _, v in sorted((cid, v) for (mm, cid), v in cb.items() if mm == m)])
        cv2 = mat[:, 0] * mat[:, 0]
        for i in range(1, d_sub):
            cv2 = cv2 + mat[:, i] * mat[:, i]
        cw_m.append(mat)
        cv2_m.append(cv2)
    # ADC lookup tables against the (sorted) per-subspace codewords
    lut_m = [
        np.einsum("qd,cd->qc", q_mat[:, m * d_sub : (m + 1) * d_sub], cw_m[m])
        for m in range(n_subspaces)
    ]
    coarse = None
    if centroids is not None:
        crows = sorted(centroids.collect(), key=lambda r: int(r["cid"]))
        if not crows:  # empty corpus → no lists; unreachable when cb is
            crows = None  # non-empty, but guard the stack() anyway
    if centroids is not None and crows:
        co_cids = np.array([int(r["cid"]) for r in crows], dtype=np.int64)
        co_mat = np.stack([np.asarray(r["cvec"], dtype=np.float64) for r in crows])
        # left-assoc centroid norms in dimension order (ivf_assign's
        # l2_norm fold sequence)
        co_n2 = co_mat[:, 0] * co_mat[:, 0]
        for i in range(1, co_mat.shape[1]):
            co_n2 = co_n2 + co_mat[:, i] * co_mat[:, i]
        co_norm = np.sqrt(co_n2)
        # allowed[qi, col] over the ASCENDING-cid centroid columns;
        # kept_cols = union of every query's probed lists
        allowed = np.zeros((len(q_ids), len(co_cids)), dtype=bool)
        col_of = {int(c): j for j, c in enumerate(co_cids)}
        if probe_map is not None:
            for qi, qid in enumerate(q_ids):
                for c in probe_map.get(int(qid), ()):
                    if c in col_of:
                        allowed[qi, col_of[c]] = True
        else:
            allowed[:, :] = True
        coarse = (co_mat, co_norm, allowed)

    def score(p, pdf):
        q_ids, q_norm, cw_m, cv2_m, lut_m, coarse = p
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        qmask = None  # [Q, B] allowed pairs (coarse probe masking)
        if coarse is not None:
            co_mat, co_norm, allowed = coarse
            # in-kernel coarse assign: cosine vs centroids with the
            # exact left-assoc fold of similarity.cosine, argmax
            # over ascending-cid columns = desc-sim/asc-cid ties
            ip = vecs[:, 0][:, None] * co_mat[:, 0][None, :]
            v2 = vecs[:, 0] * vecs[:, 0]
            for i in range(1, vecs.shape[1]):
                ip = ip + vecs[:, i][:, None] * co_mat[:, i][None, :]
                v2 = v2 + vecs[:, i] * vecs[:, i]
            with np.errstate(divide="ignore", invalid="ignore"):
                csim = ip / (np.sqrt(v2)[:, None] * co_norm[None, :])
            # a zero-norm centroid (collapsed Lloyd mean) yields a
            # NaN column; argmax would keep it only at column 0,
            # while the relational ivf_assign/try_divide path sorts
            # NULL sims last — mask to -inf so both faces pick the
            # best REAL centroid (ADVICE r9; theoretical unless a
            # mean collapses to the exact zero vector)
            csim = np.where(np.isnan(csim), -np.inf, csim)
            col = np.argmax(csim, axis=1)  # first max = smallest cid
            keep_rows = allowed.any(axis=0)[col]
            if not keep_rows.any():
                return None
            c_ids, vecs, col = c_ids[keep_rows], vecs[keep_rows], col[keep_rows]
            qmask = allowed[:, col]  # [Q, B]
        ip_sum = None
        n2_sum = None
        for m in range(len(cw_m)):
            sv = vecs[:, m * d_sub : (m + 1) * d_sub]
            cw = cw_m[m]
            # left-assoc accumulation in dimension order — the
            # exact float sequence of the unrolled Spark expression
            sv2 = sv[:, 0] * sv[:, 0]
            ip = sv[:, 0][:, None] * cw[:, 0][None, :]
            for i in range(1, sv.shape[1]):
                sv2 = sv2 + sv[:, i] * sv[:, i]
                ip = ip + sv[:, i][:, None] * cw[:, i][None, :]
            d = (sv2[:, None] - 2.0 * ip) + cv2_m[m][None, :]
            # first min = smallest cid; a NaN distance (a codeword the
            # Lloyd mean poisoned) orders last, as in the staged
            # min(struct(d, cid)) — np.argmin would return it first
            win = np.argmin(np.where(np.isnan(d), np.inf, d), axis=1)
            part_ip = lut_m[m][:, win]  # [Q, B]
            part_n2 = cv2_m[m][win]  # [B]
            ip_sum = part_ip if ip_sum is None else ip_sum + part_ip
            n2_sum = part_n2 if n2_sum is None else n2_sum + part_n2
        sims = _round_half_away(ip_sum / (q_norm[:, None] * np.sqrt(n2_sum)[None, :]))
        if qmask is not None:
            sims = np.where(qmask, sims, -np.inf)
        return q_ids, c_ids, sims

    live = corpus.filter(F.col(vec_col).isNotNull()).select(
        id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    return _block_topk(live, (q_ids, q_norm, cw_m, cv2_m, lut_m, coarse), score, k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 4,
    n_codes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    iters: int = 1,
) -> DataFrame:
    """Train + fused encode/ADC in one call — the one-shot search
    path (the persisted-index path materializes codes instead).

    ``pq_codebooks`` returns the trained codebook (KBs) cut from
    lineage, so the scoring job reads it instead of replaying the
    Lloyd pass inside its own plan (measured ~2x on the entry)."""
    cb = pq_codebooks(corpus, n_subspaces, n_codes, dim, id_col, vec_col, seed, iters)
    return pq_encode_adc_topk_block(corpus, cb, queries, k, n_subspaces, dim, id_col, vec_col)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    nprobe: int = 2,
    n_subspaces: int = 16,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    iters: int = 1,
) -> DataFrame:
    """Composed IVF-PQ: coarse-quantize the corpus into ``n_clusters``
    inverted lists (similarity.ivf_centroids / ivf_assign — the exact
    skeleton knn_ivf twins), PQ-encode it (pq_codebooks/pq_encode —
    the exact pipeline pq_ann_topk twins), then ADC-score each query
    against ONLY its ``nprobe`` probed lists' codes via the block
    kernel's probe mask. This is the one-shot face of the persisted
    path (pq_write_index(coarse_clusters>0) + pq_query_index): at
    100 TB the list selection compiles to parquet partition pruning
    over the (cid)-partitioned codes; here the same pruning is the
    ``cid IN (probed)`` filter plus the kernel's per-query mask, so
    the scan cost per query batch is nprobe/n_clusters of the codes —
    already 16x smaller than the vectors.

    Both trainings are deterministic and come back cut from lineage
    (``similarity._lloyd`` — otherwise every downstream job replays
    the Lloyd passes); the driver-side collects are the two tiny
    models plus the |queries| x nprobe probe assignment (the QUERY
    side only — tiny).
    The corpus-side coarse assign, the PQ encode, and the probe
    restriction all run INSIDE the fused kernel's single corpus pass
    (pq_encode_adc_topk_block's coarse stage) — the relational
    composition paid three corpus-wide exchanges for the same answer
    (encode groupBy + assign window + cid join; measured 4.2 s → ~2 s
    at sf0.1). The persisted path (pq_write_index / pq_query_index)
    keeps the relational assign: it pays it once at index BUILD and
    buys parquet partition pruning at every query.
    """
    cent = ivf_centroids(corpus, n_clusters, id_col, vec_col, seed=seed, iters=iters)
    cb = pq_codebooks(corpus, n_subspaces, n_codes, dim, id_col, vec_col, seed, iters)
    # probe assignment DRIVER-SIDE: the query set is bounded (it is
    # collected for the LUTs anyway) and the centroids are a few rows —
    # spinning a Spark job (crossJoin + window) for |Q| rows costs a
    # whole job floor per run. Same left-assoc cosine fold and
    # desc-sim/asc-cid tie-break as ivf_assign / the oracle's probe CTE.
    probe_map = _probe_assign_local(
        queries.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col).collect(),
        cent.collect(), nprobe, id_col, vec_col,
    )
    return pq_encode_adc_topk_block(
        corpus, cb, queries, k, n_subspaces, dim, id_col, vec_col,
        centroids=cent, probe_map=probe_map,
    )


def _probe_assign_local(qrows, crows, nprobe: int, id_col: str, vec_col: str) -> dict[int, list[int]]:
    """Driver-side twin of ivf_assign for a COLLECTED query set:
    cosine via the identical left-assoc fold, top-nprobe by
    (sim desc, cid asc) — bit-for-bit the relational assignment."""
    import numpy as np

    if not crows or not qrows:
        # empty corpus trains no centroids (and/or no live queries):
        # nothing to probe — the kernel's empty-codebook early return
        # makes the whole search empty downstream
        return {}
    crows = sorted(crows, key=lambda r: int(r["cid"]))
    cids = [int(r["cid"]) for r in crows]
    cmat = np.stack([np.asarray(r["cvec"], dtype=np.float64) for r in crows])
    cn2 = cmat[:, 0] * cmat[:, 0]
    for i in range(1, cmat.shape[1]):
        cn2 = cn2 + cmat[:, i] * cmat[:, i]
    cnorm = np.sqrt(cn2)
    out: dict[int, list[int]] = {}
    for r in qrows:
        v = np.asarray(r[vec_col], dtype=np.float64)
        ip = v[0] * cmat[:, 0]
        v2 = v[0] * v[0]
        for i in range(1, len(v)):
            ip = ip + v[i] * cmat[:, i]
            v2 = v2 + v[i] * v[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = ip / (np.sqrt(v2) * cnorm)
        # sort by (sim desc, cid asc); NaN ranks above +inf like Spark
        key = np.where(np.isnan(sim), np.inf, sim)
        order = sorted(range(len(cids)), key=lambda j: (-key[j], cids[j]))[:nprobe]
        out[int(r[id_col])] = [cids[j] for j in order]
    return out


def pq_query_index_rerank(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist_k: int = 16,
    nprobe: int = 2,
    n_subspaces: int | None = None,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_codes: list[DataFrame] | None = None,
) -> DataFrame:
    """Two-stage production ANN: ADC shortlist + exact re-rank.

    Stage 1 queries the persisted index (``pq_query_index``) for
    ``shortlist_k`` approximate candidates per query — the codes-only
    scan, 16-64x smaller than the raw vectors. Stage 2 re-scores ONLY
    the shortlist against the raw vectors with the exact cosine and
    keeps the top ``k``. This is the standard deployed ANN shape
    (FAISS's IndexIVFPQ + refine, the "shortlist then re-rank" in
    every production retrieval stack): ADC quantization error decides
    which ~3k candidates you look at, never the final ordering.

    100 TB shape: the shortlist is |q| x shortlist_k ids — KBs — so it
    BROADCASTS into the raw-vector scan as a hash semi-join; the
    corpus is never shuffled and only shortlist rows survive the scan
    (with column stats / bucketing on ``id_col``, only their files
    open). The re-rank itself is |q| x shortlist_k exact cosines —
    Catalyst fold expressions, no Python stage beyond stage 1's ADC
    kernel.

    NULL / zero-norm vectors follow brute_force_topk's convention:
    no embedding -> no similarity -> dropped before ranking.

    ``k`` must not exceed ``shortlist_k`` — a larger k would silently
    truncate to the shortlist and LOOK like a complete top-k.
    """
    if k > shortlist_k:
        raise ValueError(f"k={k} exceeds shortlist_k={shortlist_k}: the re-rank can only return shortlist rows")
    shortlist = pq_query_index(
        spark, path, queries, k=shortlist_k, nprobe=nprobe,
        n_subspaces=n_subspaces, dim=dim, id_col=id_col, vec_col=vec_col,
        extra_codes=extra_codes,
    ).select("query_id", "neighbor_id")
    cand = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).join(F.broadcast(shortlist), "neighbor_id")
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    return _exact_top_k(cand.join(F.broadcast(q), "query_id"), k)
