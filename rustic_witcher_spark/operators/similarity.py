"""Similarity search over embedding columns (north-star extension).

Each operator has one implementation, and the DuckDB twins of the
registry entries that run it pin it row for row. Two kinds:

- Catalyst expressions (zip_with / aggregate folds, double precision,
  deterministic fold order): ``brute_force_topk`` (the exact baseline),
  ``lsh_topk`` (random-hyperplane buckets → exact re-rank inside them,
  so corpus × queries never materializes), the IVF faces and the
  k-means trainers.
- numpy block kernels over Arrow batches: ``cosine_near_dup_pairs``,
  ``hard_negative_top1_block`` and ``exclusion_top1_block``, plus the
  PQ scorers in pq.py, which share ``_block_topk``.

Scores round half away from zero to 6 dp after the float64 math, as
``F.round`` and DuckDB's ``round`` do, so the twins reproduce them
exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rustic_witcher_spark.functions.wordlists import DEFAULT_SEED
from rustic_witcher_spark.operators.materialize import materialize


def dot(a: Column, b: Column) -> Column:
    """Σ a_i · b_i as a sequential left fold (deterministic order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector makes the denominator 0 — ANSI
    # Spark would throw where DuckDB yields NULL; NULL here means "no
    # similarity defined" and every consumer drops it before ranking
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _round_half_away(x, decimals: int = 6):
    """Round like Spark ``F.round`` / DuckDB ``round`` (half AWAY from
    zero) — ``np.round`` is banker's (half-to-even) and disagrees with
    both engines on exact .5 boundary values, which would let a block
    kernel drift from its DuckDB twin on adversarial inputs."""
    import numpy as np

    f = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * f + 0.5), x) / f


# ---------------------------------------------------------------------------
# The top-k contract every search face shares (this module's and pq.py's):
# ranked by sim DESC then the smaller neighbor id, no self-matches, sims
# rounded half-away to 6 dp, and NULL / zero-norm / non-finite vectors
# dropped — a degenerate vector has no direction, so it can neither query
# nor win (left in, its NaN sim ranks ABOVE every real neighbor under
# Spark's NaN-is-greatest ordering — r9 dirty-corpus fuzz). A face owns only
# its candidate generation and how it scores a batch.
# ---------------------------------------------------------------------------

_TOPK_DDL = "query_id long, neighbor_id long, sim double"


def _empty_top_k(spark) -> DataFrame:
    return spark.createDataFrame([], _TOPK_DDL + ", rank int")


def _rank_top_k(scored: DataFrame, k: int) -> DataFrame:
    """Ranks 1..k per query over (query_id, neighbor_id, sim) rows."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _exact_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Exact re-rank of candidate pairs (query_id, neighbor_id, __qv,
    __cv). A zero-norm vector's cosine is 0/0 — NaN here, NULL in the
    DuckDB twins; both mean "no similarity defined", so the row drops
    before ranking."""
    scored = (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("sim"))
        .filter(F.col("sim").isNotNull() & ~F.isnan(F.col("sim")))
    )
    return _rank_top_k(scored, k)


def _query_block(queries: DataFrame, id_col: str, vec_col: str, *extra: str):
    """Collect a block kernel's (bounded) query side under the
    dirty-vector rule: (ids int64, float64 matrix, norms, *extra column
    arrays) over the NULL-free, finite, non-zero-norm queries, or None
    when none survive."""
    import numpy as np

    qpdf = queries.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col, *extra).toPandas()
    if qpdf.empty:
        return None
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf[vec_col]])
    norm = np.linalg.norm(mat, axis=1)
    keep = np.isfinite(norm) & (norm > 0.0)
    if not keep.any():
        return None
    ids = qpdf[id_col].to_numpy(dtype=np.int64)
    return (ids[keep], mat[keep], norm[keep], *(qpdf[c].to_numpy()[keep] for c in extra))


def _cosine_batch(pdf, id_col: str, vec_col: str, q_mat, q_norm, *extra: str):
    """Score one Arrow batch of raw candidate vectors against the query
    block: the candidate side of the dirty-vector rule, then
    dot/(|q|·|c|) rounded half-away to 6 dp — the operation order of
    ``cosine`` and the SQL twins, so float ulps cannot flip a 6-dp
    boundary across faces. Returns (c_ids, sims[Q, B], *extra column
    arrays) over the surviving candidates, or None."""
    import numpy as np

    pdf = pdf[pdf[vec_col].notna()]
    if pdf.empty:
        return None
    c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    c_norm = np.linalg.norm(c_mat, axis=1)
    keep = np.isfinite(c_norm) & (c_norm > 0.0)
    if not keep.any():
        return None
    sims = _round_half_away((q_mat @ c_mat[keep].T) / (q_norm[:, None] * c_norm[keep][None, :]))
    c_ids = pdf[id_col].to_numpy(dtype=np.int64)[keep]
    return (c_ids, sims, *(pdf[c].to_numpy()[keep] for c in extra))


def _best_per_query(q_ids, c_ids, sims, k: int):
    """Per-batch selection: each query's top-k (sim DESC, c_id ASC)
    among the finite, non-self sims. A NaN sim (a poisoned component
    that survived the norm screen) is masked per candidate, never
    allowed to hide a whole batch from a query. Returns (query row
    indices, candidate row indices, sims), query-major."""
    import numpy as np

    sims = np.where((q_ids[:, None] != c_ids[None, :]) & np.isfinite(sims), sims, -np.inf)
    qi_out, ci_out = [], []
    kk = min(k, sims.shape[1])
    for qi in range(len(q_ids)):
        row = sims[qi]
        for ci in np.lexsort((c_ids, -row))[:kk]:
            if np.isfinite(row[ci]):
                qi_out.append(qi)
                ci_out.append(ci)
    qi_out = np.asarray(qi_out, dtype=np.int64)
    ci_out = np.asarray(ci_out, dtype=np.int64)
    return qi_out, ci_out, sims[qi_out, ci_out]


def _broadcast_map(corpus: DataFrame, payload, score, ddl: str) -> DataFrame:
    """Ship ``payload`` to executors ONCE (torrent, per executor — never
    per-task closure capture, which would re-serialize a large query
    block with every task) and map every Arrow batch of ``corpus``
    through ``score(payload, pdf)``, which returns a pandas frame or
    None."""
    b = corpus.sparkSession.sparkContext.broadcast(payload)

    def kernel(batches):
        p = b.value
        for pdf in batches:
            out = score(p, pdf)
            if out is not None and not out.empty:
                yield out

    return corpus.mapInPandas(kernel, ddl)


def _block_topk(corpus: DataFrame, payload, score, k: int) -> DataFrame:
    """The shared numpy block kernel: ``score(payload, pdf)`` turns a
    batch into (q_ids, c_ids, sims[Q, B]) or None; each batch emits its
    per-query top-k (k·|queries| rows — bounded, never the scored cross
    product), and one window over those candidates picks the global
    top-k."""

    def topk(p, pdf):
        import pandas as pd

        scored = score(p, pdf)
        if scored is None:
            return None
        q_ids, c_ids, _ = scored
        qi, ci, sims = _best_per_query(*scored, k)
        return pd.DataFrame({"query_id": q_ids[qi], "neighbor_id": c_ids[ci], "sim": sims})

    return _rank_top_k(_broadcast_map(corpus, payload, topk, _TOPK_DDL), k)


def _top1_per_query(per_batch: DataFrame, keys: tuple, *carry: str) -> DataFrame:
    """Global top-1 from per-batch candidates via a map-side-combinable
    max(struct) — the shuffle carries |queries| rows per partition, never
    a per-query window; -neighbor_id breaks sim ties to the smaller id."""
    best = per_batch.groupBy(*keys).agg(
        F.max(
            F.struct(
                F.col("sim").alias("sim"),
                (-F.col("neighbor_id")).alias("__nn"),
                F.col("neighbor_id").alias("neighbor_id"),
                *[F.col(c).alias(c) for c in carry],
            )
        ).alias("b")
    )
    return best.select(
        *keys,
        F.col("b.neighbor_id").alias("neighbor_id"),
        *[F.col(f"b.{c}").alias(c) for c in carry],
        F.col("b.sim").alias("sim"),
    )


def plane_weight(seed: int, plane: int, coord: int) -> int:
    """Deterministic ±1 hyperplane weight — shared by the Spark
    expression builder and the DuckDB oracle generator."""
    import hashlib

    h = hashlib.md5(f"{seed}|hp|{plane}|{coord}".encode()).hexdigest()
    return 1 if int(h[:8], 16) % 2 == 0 else -1


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Plan shape: broadcast the (small) query set against the corpus —
    a broadcast nested-loop that scans the corpus ONCE regardless of
    query count — then a per-query top-k window. Ties broken by
    neighbor id for determinism.

    Returns (query_id, neighbor_id, sim, rank); self-matches excluded.

    NULL vectors are DROPPED on both sides: a row without an embedding
    has no place in a similarity search — left in, its sim is NaN and
    Spark's NaN-is-greatest ordering ranks it ABOVE every real
    neighbor, silently burning top-k slots (r9 dirty-corpus fuzz).
    """
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    return _exact_top_k(c.crossJoin(F.broadcast(q)), k)


def _np_pack(items):
    """(id, vec) struct list → (ids int64 array, unit-norm float64
    matrix) over the finite, non-zero-norm vectors — the dirty-vector
    rule of ``_cosine_batch``: a degenerate vector pairs with nothing."""
    import numpy as np

    ids = np.fromiter((it["id"] for it in items), dtype=np.int64, count=len(items))
    mat = np.stack([np.asarray(it["v"], dtype=np.float64) for it in items])
    norm = np.linalg.norm(mat, axis=1)
    keep = np.isfinite(norm) & (norm > 0.0)
    return ids[keep], mat[keep] / norm[keep, None]


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, sim) with
    id_a < id_b and cosine ≥ threshold — EXACT and fully distributed.

    Vectors hash into ``n_blocks`` blocks, and every unordered block
    pair becomes one task that NumPy-matmuls its two bounded
    sub-matrices. No driver collect, no broadcast of the corpus;
    executor memory per task is two blocks. Work is inherently O(n²)
    (that is what exact all-pairs means) but spread over B(B+1)/2 tasks
    with O(n·B) shuffle — size ``n_blocks`` ≈ n·vec_bytes / 100 MB so a
    block fits comfortably.

    Sims are rounded half-away to 6 dp after the float64 matmul, so they
    agree with the sequential-fold DuckDB twin (64-element double dots
    carry ~1e-14 error). NULL, zero-norm and non-finite vectors drop at
    the boundary, as in the top-k contract: they pair with nothing.
    """
    import numpy as np

    # a None reaching the NumPy kernel kills the whole stage
    df = df.filter(F.col(vec_col).isNotNull())
    src = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks)).alias("b"),
    )
    # Each row fans out to every unordered block pair containing its
    # block — (min(b,o), max(b,o)) for o in 0..B-1, the diagonal (b,b)
    # emitted exactly once at o==b — BEFORE the single groupBy. One
    # corpus scan, one O(n·B) shuffle, one aggregation; the earlier
    # packed-self-join formulation scanned and packed the corpus twice
    # (no ReusedExchange across the renamed sides).
    pair_keys = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda o: F.struct(
            F.least(F.col("b"), o).alias("i"), F.greatest(F.col("b"), o).alias("j")
        ),
    )
    exploded = src.select("id", "v", "b", F.explode(pair_keys).alias("p")).select(
        "id", "v", "b", F.col("p.i").alias("i"), F.col("p.j").alias("j")
    )
    packed = exploded.groupBy("i", "j").agg(F.collect_list(F.struct("id", "v", "b")).alias("mem"))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                same = row["i"] == row["j"]
                if same:
                    l_ids, l_mat = _np_pack(row["mem"])
                    r_ids, r_mat = l_ids, l_mat
                else:
                    left = [m for m in row["mem"] if m["b"] == row["i"]]
                    right = [m for m in row["mem"] if m["b"] == row["j"]]
                    if not left or not right:
                        continue
                    l_ids, l_mat = _np_pack(left)
                    r_ids, r_mat = _np_pack(right)
                sims = _round_half_away(l_mat @ r_mat.T)
                keep = sims >= threshold
                if same:
                    keep &= l_ids[:, None] < r_ids[None, :]  # each pair once, no self
                r, c = np.nonzero(keep)
                if not len(r):
                    continue
                ia, ib = l_ids[r], r_ids[c]
                yield pd.DataFrame(
                    {"id_a": np.minimum(ia, ib), "id_b": np.maximum(ia, ib), "sim": sims[r, c]}
                )

    return packed.mapInPandas(score, "id_a long, id_b long, sim double")


def hyperplane_signature(vec: Column, dim: int, n_planes: int = 16, seed: int = DEFAULT_SEED) -> Column:
    """Random-hyperplane LSH signature (n_planes sign bits) as a bigint.

    Plane weights are deterministic ±1 per (plane, coordinate), derived
    from the engine hash — no driver-side randomness, identical on every
    executor. P[same bit] = 1 - θ/π, so equal signatures concentrate
    high-cosine pairs.

    Each plane is a ``zip_with`` dot product against a LITERAL weight
    array (constant-folded to one array literal) — not an unrolled
    512-term sum chain, whose ~4000-node expression tree costs seconds
    of driver-side analysis per query build. The sequential aggregate
    fold adds terms in the same left-assoc coordinate order as the
    unrolled chain, so sign tests (and the DuckDB oracle) agree
    bit-for-bit. Memoized per (input, params): Column trees are
    immutable and reusable, and this one costs ~1s of py4j calls.
    """
    from rustic_witcher_spark.operators.dedup import _memo_column

    return _memo_column(
        (str(vec), "hyperplane", dim, n_planes, seed),
        lambda: _hyperplane_signature_build(vec, dim, n_planes, seed),
    )


def _hyperplane_signature_build(vec: Column, dim: int, n_planes: int, seed: int) -> Column:
    bits = []
    for p in range(n_planes):
        # one py4j call for the whole weight vector — F.array(*lits)
        # would cost dim round-trips per plane at DataFrame-build time
        w = F.lit([float(plane_weight(seed, p, i)) for i in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, y: x.cast("double") * y), F.lit(0.0), lambda acc, v: acc + v
        )
        bits.append(F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def random_projection(vec: Column, in_dim: int, out_dim: int, seed: int = DEFAULT_SEED) -> Column:
    """Deterministic sparse-sign random projection (Achlioptas-style):
    out_j = Σ_i w_ji·v_i / √out_dim with w ∈ {±1} derived from the
    engine hash — the cheap JL dimensionality reduction for 100 TB
    embedding columns (shrink 768-d to 64-d before LSH/storage).

    Pure expressions: one zip_with dot per output coordinate against a
    constant-folded literal weight array (same construction as
    ``hyperplane_signature``, which is this projection's sign bit).
    Deterministic per (seed, plane, coord) ⇒ identical on every
    executor and in the DuckDB oracle.
    """
    import math

    from rustic_witcher_spark.operators.dedup import _memo_column

    def build() -> Column:
        scale = 1.0 / math.sqrt(out_dim)
        outs = []
        for p in range(out_dim):
            w = F.lit([float(plane_weight(seed, p, i)) for i in range(in_dim)])
            proj = F.aggregate(
                F.zip_with(vec, w, lambda x, y: x.cast("double") * y), F.lit(0.0), lambda acc, v: acc + v
            )
            outs.append(F.round(proj * scale, 6))
        return F.array(*outs)

    return _memo_column((str(vec), "randproj", in_dim, out_dim, seed), build)


def sql_random_projection(vec_expr: str, in_dim: int, out_dim: int, seed: int = DEFAULT_SEED) -> str:
    """DuckDB twin: list_dot_product against the same literal weights."""
    import math

    scale = 1.0 / math.sqrt(out_dim)
    outs = []
    for p in range(out_dim):
        w = "[" + ", ".join(f"{float(plane_weight(seed, p, i))}" for i in range(in_dim)) + "]"
        outs.append(f"round(list_dot_product(({vec_expr})::DOUBLE[], {w}::DOUBLE[]) * {scale!r}, 6)")
    return "[" + ", ".join(outs) + "]"


def _trainable(corpus: DataFrame, vec_col: str) -> DataFrame:
    """The rows a k-means trainer learns from: ``dot(v, v) < inf`` drops
    NULL, NaN, ±inf and overflowing vectors (Spark and DuckDB both order
    NaN above every value, so the SQL twins' copy of the predicate
    agrees). One such vector picked as a seed or averaged into a Lloyd
    mean poisons its codeword for every consumer. Zero vectors stay: PQ
    trains by L2, and a zero residual (a singleton IVF list) is a real
    point. The NULL test is spelled out although the comparison implies
    it: ``ivf_assign`` filters on it too, and with the same conjuncts the
    trainer's corpus reads plan alike (one Spark job fewer in SemDeDup's
    build)."""
    return corpus.filter(F.col(vec_col).isNotNull() & (dot(F.col(vec_col), F.col(vec_col)) < F.lit(float("inf"))))


def _seed_sample(corpus: DataFrame, k: int, salt: str, seed: int, id_col: str, vec_col: str) -> DataFrame:
    """(cid, __v): the ``k`` k-means seeds shared by every trainer — the
    corpus vectors first in md5(``seed|salt|id``) order, numbered 1..k.
    No driver randomness, so the sample is stable across runs,
    partitionings and cluster sizes, and the SQL twins replay it."""
    seeds = (
        corpus.withColumn("__r", F.md5(F.concat(F.lit(f"{seed}|{salt}|"), F.col(id_col).cast("string"))))
        .orderBy("__r", id_col)
        .limit(k)
    )
    # Unpartitioned window → Spark logs "No Partition Defined for Window"
    # in bench runs. Intentional and benign: it runs over exactly k rows
    # post-limit, never over the corpus.
    w = Window.orderBy("__r", id_col)
    return seeds.select(F.row_number().over(w).alias("cid"), F.col(vec_col).cast("array<double>").alias("__v"))


def _lloyd(cent: DataFrame, assign, vec: str, iters: int, *keys: str) -> DataFrame:
    """``iters`` Lloyd steps over the model ``cent`` (*keys, cid, cvec),
    each a pure DataFrame pass: ``assign(cent)`` labels every training
    row (*keys, cid, ``vec``) → per-(keys, cid, pos) mean → rebuild in
    pos order. A codeword that wins no rows drops out (the SQL twins
    replay that). The trained model — a few KB — leaves through
    ``materialize``, the one lineage cut: without it every consumer
    (an index write, each assignment, a driver collect) replays the
    whole seed + Lloyd pipeline."""
    for _ in range(iters):
        cent = (
            assign(cent)
            .select(*keys, "cid", F.posexplode(F.col(vec).cast("array<double>")).alias("pos", "v"))
            .groupBy(*keys, "cid", "pos")
            .agg(F.avg("v").alias("mv"))
            .groupBy(*keys, "cid")
            .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s["mv"]).alias("cvec"))
        )
    return materialize(cent, eager=False)


def ivf_centroids(
    corpus: DataFrame,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = DEFAULT_SEED,
    iters: int = 0,
) -> DataFrame:
    """Deterministic IVF centroids as (cid, cvec): the ``_seed_sample``
    seeds refined by ``iters`` ``_lloyd`` steps whose assignment is
    cosine (``ivf_assign``, k-way broadcast scoring). The frame comes
    back cut from lineage (``_lloyd``), so callers use it directly.
    It trains on the ``_trainable`` rows only, as the oracle skeleton
    ``_sql_ivf_cent1_ctes`` does.
    """
    corpus = _trainable(corpus, vec_col)
    cent = _seed_sample(corpus, n_clusters, "ivf", seed, id_col, vec_col).withColumnRenamed("__v", "cvec")
    return _lloyd(cent, lambda c: ivf_assign(corpus, c, id_col, vec_col), vec_col, iters)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Attach the ``nprobe`` nearest centroid ids to every vector.

    Centroids are tiny → broadcast; scoring is a k-way fan-out of the
    corpus scan (the standard IVF build cost), then a per-vector top-n
    window. Ties break on cid for determinism.

    NULL vectors are DROPPED (the single choke point every IVF
    consumer — ivf_topk, semdedup, the persisted index writers — goes
    through): a NULL vector scores NaN against every centroid, and
    Spark's NaN-is-greatest ordering would assign it a real list and
    let it burn top-k slots downstream (r9 dirty-corpus fuzz).
    """
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        "*", cosine(F.col(vec_col), F.col("cvec")).alias("__csim")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__csim").desc(), F.col("cid").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .drop("cvec", "__csim", "__rn")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 2,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via IVF: corpus vectors live in their nearest
    centroid's inverted list; each query probes its ``nprobe`` nearest
    lists and re-ranks exactly inside them.

    At 100 TB: the corpus is assigned ONCE (ideally persisted
    partitioned by cid at ingest); a query batch touches only
    nprobe/n_clusters of the data — the cluster-pruning analogue of
    partition pruning. Recall is tunable via nprobe; exact duplicates
    are always recalled (identical vector → identical nearest list).
    """
    cent = ivf_centroids(corpus, n_clusters, id_col, vec_col, iters=iters)
    inv = ivf_assign(corpus, cent, id_col, vec_col, nprobe=1).select(
        F.col("cid"), F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    probes = ivf_assign(queries, cent, id_col, vec_col, nprobe=nprobe).select(
        F.col("cid"), F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    return _exact_top_k(inv.join(probes.hint("broadcast"), "cid"), k)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    n_clusters: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF inverted lists as parquet PARTITIONED BY the
    centroid id, plus the centroids themselves under ``<path>/_centroids``.

    This is the production shape of IVF at 100 TB: the expensive part
    (centroid fit + corpus assignment) runs once at ingest; the
    partition layout turns every query's nprobe list selection into
    parquet PARTITION PRUNING — the scan literally never opens the
    other lists' files (asserted in tests via PartitionFilters).
    """
    cent = ivf_centroids(corpus, n_clusters, id_col, vec_col, iters=iters)
    cent.write.mode("overwrite").parquet(f"{path}/_centroids")
    inv = ivf_assign(corpus, cent, id_col, vec_col, nprobe=1)
    inv.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/lists")


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index: probe-list selection compiles to a
    partition filter on ``cid``; only nprobe/n_clusters of the index is
    read. Exact re-rank inside the probed lists."""
    cent = spark.read.parquet(f"{path}/_centroids")
    probes = (
        ivf_assign(queries, cent, id_col, vec_col, nprobe=nprobe)
        .select(F.col("cid"), F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
        # materialize once: both the driver-side cid collect (for the
        # partition filter) and the join below reuse this result instead
        # of re-running the centroid scoring
        .localCheckpoint(eager=True)
    )
    probe_cids = [r["cid"] for r in probes.select("cid").distinct().collect()]
    inv = (
        spark.read.parquet(f"{path}/lists")
        .filter(F.col("cid").isin(probe_cids))  # -> PartitionFilters on cid
        .select("cid", F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    )
    return _exact_top_k(inv.join(probes.hint("broadcast"), "cid"), k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane
    signature, exact cosine re-rank within buckets.

    At 100 TB: ONE shuffle on the signature (or none if the corpus is
    pre-bucketed by signature at ingest); bucket fan-out replaces the
    corpus-wide scan per query. Recall is tunable via n_planes (fewer
    planes → bigger buckets → higher recall, more compute).

    NULL vectors are DROPPED on both sides (the brute_force_topk
    convention): left in, a NULL vector signs every plane test false,
    lands in bucket 0 with real vectors, and emits NaN sims that rank
    first under Spark's NaN-is-greatest ordering.
    """
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    sig = lambda df, idn, vn: df.select(  # noqa: E731
        F.col(id_col).alias(idn), F.col(vec_col).alias(vn), hyperplane_signature(F.col(vec_col), dim, n_planes).alias("__sig")
    )
    c = sig(corpus, "neighbor_id", "__cv")
    q = sig(queries, "query_id", "__qv")
    return _exact_top_k(c.join(q.hint("broadcast"), "__sig"), k)


def hard_negative_top1_block(
    df: DataFrame,
    n_queries: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Top-1 other-label cosine neighbor per query (the
    ``hard_negatives`` entry): a vectorized matmul per Arrow batch,
    where per-pair Catalyst lambdas (interpreted multiply-adds) lose by
    orders of magnitude on large query sets.

    Plan shape: the query block (ids, labels, float64 matrix) broadcasts
    once; mapInPandas emits ONE candidate row per (query, input batch)
    — the per-batch best under the other-label mask — and a map-side
    max(struct) reduces batches to the global top-1, so the shuffle
    carries |queries| rows per partition.

    Dirty-data policy: the shared top-k contract, plus NULL-label rows
    dropped on both sides; the DuckDB twin ``SQL_HARD_NEGATIVES``
    replays both drops (pinned by test)."""
    import numpy as np

    queries = df.filter(F.col(id_col) < n_queries).filter(F.col(label_col).isNotNull())
    q = _query_block(queries, id_col, vec_col, label_col)
    out_ddl = "query_id long, query_label int, neighbor_id long, neighbor_label int, sim double"
    if q is None:
        return df.sparkSession.createDataFrame([], out_ddl)
    q_ids, q_mat, q_norm, q_labels = q

    def score(p, pdf):
        import pandas as pd

        q_ids, q_mat, q_norm, q_labels = p
        scored = _cosine_batch(pdf[pdf[label_col].notna()], id_col, vec_col, q_mat, q_norm, label_col)
        if scored is None:
            return None
        c_ids, sims, c_labels = scored
        c_labels = c_labels.astype(np.int64)
        sims = np.where(q_labels[:, None] != c_labels[None, :], sims, -np.inf)
        qi, ci, best = _best_per_query(q_ids, c_ids, sims, 1)
        return pd.DataFrame(
            {"query_id": q_ids[qi], "query_label": q_labels[qi], "neighbor_id": c_ids[ci],
             "neighbor_label": c_labels[ci], "sim": best}
        )

    payload = (q_ids, q_mat, q_norm, q_labels.astype(np.int64))
    per_batch = _broadcast_map(df.select(id_col, vec_col, label_col), payload, score, out_ddl)
    return _top1_per_query(per_batch, ("query_id", "query_label"), "neighbor_label").orderBy("query_id")


def exclusion_top1_block(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_id_col: str = "anchor_id",
    anchor_vec_col: str = "__qv",
    excl_col: str = "__ex",
) -> DataFrame:
    """Top-1 cosine neighbor per anchor EXCLUDING a per-anchor id set
    (and the anchor itself) — the vectorized negative-mining leg for
    `contrastive_triplets`, where the exclusion is the anchor's
    near-dup partner set rather than a label mismatch.

    Same block-kernel shape as :func:`hard_negative_top1_block`. The
    anchor set is bounded by the corpus' near-dup rate — the same
    collect budget the entry documents; exclusion masking costs one
    np.isin per anchor per batch over its (small) partner list.

    The DuckDB twin replicates the kernel's NULL/NaN drops via explicit
    sim filters.
    """
    import numpy as np

    a = _query_block(anchors, anchor_id_col, anchor_vec_col, excl_col)
    out_ddl = "anchor_id long, neighbor_id long, sim double"
    if a is None:
        return corpus.sparkSession.createDataFrame([], out_ddl)
    a_ids, a_mat, a_norm, a_ex = a
    # exclusion = partners ∪ {self}: a degenerate near-dup of oneself
    # can never be the negative
    a_excl = [
        np.append(np.asarray(ex if ex is not None else [], dtype=np.int64), aid)
        for ex, aid in zip(a_ex, a_ids)
    ]

    def score(p, pdf):
        import pandas as pd

        a_ids, a_mat, a_norm, a_excl = p
        scored = _cosine_batch(pdf, id_col, vec_col, a_mat, a_norm)
        if scored is None:
            return None
        c_ids, sims = scored
        excluded = np.stack([np.isin(c_ids, ex) for ex in a_excl])
        qi, ci, best = _best_per_query(a_ids, c_ids, np.where(excluded, -np.inf, sims), 1)
        return pd.DataFrame({"anchor_id": a_ids[qi], "neighbor_id": c_ids[ci], "sim": best})

    payload = (a_ids, a_mat, a_norm, a_excl)
    per_batch = _broadcast_map(corpus.select(id_col, vec_col), payload, score, out_ddl)
    return _top1_per_query(per_batch, ("anchor_id",))
