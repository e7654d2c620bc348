"""Training-shard sink: deterministic shard layout + integrity manifest.

`operators/packing.training_shards` assigns (shard, rank); this sink
materializes that layout the way a training job consumes it — one
parquet directory per shard (``shard=N/`` partitions) — and writes a
MANIFEST recording, per shard, the row count and an order-insensitive
content digest. The manifest is what makes a 100 TB corpus drop
auditable: a training job (or a later pipeline run) can cheaply verify
that every shard arrived complete and unmodified without trusting file
listings.

Digest design: per-row 60-bit md5-derived hash of the id column
(`functions.hashing.hash64`, the engine's standard deterministic
primitive) reduced mod the Mersenne prime 2^61-1, combined per shard
by SUM accumulated in DECIMAL(38,0) and reduced mod the prime at the
end — summation is commutative/associative, so the digest is
independent of row order and partitioning (re-partitioned re-reads
verify clean), while any missing, duplicated, or swapped-in row moves
the sum. The decimal accumulator matters: a long SUM of 2^61-scale
values overflows after ~4 rows, and Spark's ANSI mode (the 4.x
default) turns that into a job-killing exception; decimal(38,0) holds
~10^17 rows of headroom. This is a transport-
integrity check against silent data loss, not a cryptographic MAC — an
adversary who can already write the shard files could forge it; use
object-store checksums + access control for tamper resistance.

The manifest is one JSON object of |shards| entries — driver-side by
construction (n_shards is a config constant, never data-scaled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rustic_witcher_spark.functions.hashing import hash64
from rustic_witcher_spark.operators.packing import training_shards
from rustic_witcher_spark.streaming.replay_meta import load_meta, recover, stage, store_meta, swap_in

MANIFEST_NAME = "_shard_manifest.json"
_DIGEST_MOD = (1 << 61) - 1  # Mersenne prime M61


def _shard_stats(sharded: DataFrame, id_col: str, seed: int) -> DataFrame:
    digest = hash64(F.col(id_col).cast("string"), seed, "shard-digest") % _DIGEST_MOD
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(digest.cast("decimal(38,0)")) % _DIGEST_MOD).cast("long").alias("digest"),
    )


def write_training_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    path: str,
    seed: int = 42,
) -> dict:
    """Shard ``df`` deterministically, write ``shard=N/`` parquet
    partitions under ``path``, and write + return the manifest.

    Shards and manifest are written together into a staged dir that
    `replay_meta.swap_in` promotes to ``path``: a crash at any point
    leaves the previous shards with their own manifest, never shards
    without one.

    The upstream lineage (which may carry an expensive dedup/quality
    pipeline, as in ``cli curate``) executes exactly ONCE — the
    partitioned write. The manifest stats aggregate runs over a
    READ-BACK of the written files instead of re-deriving the lineage:
    that second job scans only the freshly written parquet (column-
    pruned to the id column + shard partition value), and doubles as a
    write-path check — the digest records what actually landed on
    disk, not what the plan was supposed to produce."""
    sharded = training_shards(df, id_col, n_shards, seed=seed)
    staged = stage(path)
    sharded.write.mode("overwrite").partitionBy("shard").parquet(staged)
    # explicit schema: a 0-row input writes only _SUCCESS, and a
    # schema-inference read-back would die with UNABLE_TO_INFER_SCHEMA
    # instead of yielding the empty manifest an empty corpus deserves
    written = sharded.sparkSession.read.schema(sharded.schema).parquet(staged)
    stats = {
        int(r["shard"]): {"n_rows": int(r["n_rows"]), "digest": int(r["digest"])}
        for r in _shard_stats(written, id_col, seed).collect()
    }
    manifest = {
        "n_shards": n_shards,
        "id_col": id_col,
        "seed": seed,
        "total_rows": sum(s["n_rows"] for s in stats.values()),
        "shards": {str(k): stats[k] for k in sorted(stats)},
    }
    store_meta(staged, MANIFEST_NAME, manifest)
    swap_in(path)
    return manifest


def verify_training_shards(spark: SparkSession, path: str) -> list[str]:
    """Re-read the shard directory and check every manifest entry.

    Returns a list of human-readable violations (empty = verified).
    The digest recompute is one aggregate over the re-read — order-
    and partitioning-insensitive by design, so a re-read through any
    split strategy verifies."""
    recover(path)
    manifest = load_meta(path, MANIFEST_NAME, {})
    if not manifest:
        return [f"no manifest: {MANIFEST_NAME} is missing from {path}"]
    if manifest["shards"]:
        df = spark.read.parquet(path)
    else:
        # empty-manifest dir holds only _SUCCESS — schema inference would
        # raise; an empty frame with the two columns _shard_stats touches
        # verifies vacuously (id is cast to string inside the digest)
        df = spark.createDataFrame([], f"`{manifest['id_col']}` string, shard int")
    got = {
        int(r["shard"]): (int(r["n_rows"]), int(r["digest"]))
        for r in _shard_stats(df, manifest["id_col"], manifest["seed"]).collect()
    }
    problems: list[str] = []
    for k, want in manifest["shards"].items():
        k = int(k)
        if k not in got:
            problems.append(f"shard {k}: missing entirely")
            continue
        n, dig = got[k]
        if n != want["n_rows"]:
            problems.append(f"shard {k}: n_rows {n} != manifest {want['n_rows']}")
        if dig != want["digest"]:
            problems.append(f"shard {k}: digest mismatch")
    extra = set(got) - {int(k) for k in manifest["shards"]}
    problems.extend(f"shard {k}: not in manifest" for k in sorted(extra))
    return problems
